"""Watermark-LATENESS replay audit of the watermarked streaming family
(round 14, VERDICT r13 item 4).

The ordered split-replay audit varies micro-batch boundaries and the
scramble axis varies delivery order — but neither ever delivers a row
PAST the watermark. This tool probes that third axis: for each
watermarked streaming query, one fixture table is replayed via
``split_late_segments`` — three on-time segments in event-time order,
then one final segment holding a LATE BURST (the table's earliest rows,
withheld until after the watermark has advanced to the on-time maximum
minus the 24 h delay). Two documented contracts are asserted:

  * mode "drop" — the late rows' event times sit below the final
    watermark, so Spark's watermarked stateful operators (windowed aggs,
    stream-stream joins, dropDuplicatesWithinWatermark) must drop them on
    input: the result must equal the SAME query run over the feed with
    the late rows deleted ("they never existed"). NOTE the empirically
    pinned filter rule (tests/test_lateness.py): batch N drops a row iff
    its WINDOW END (event time + window length / session gap) is below
    the watermark reported for batch N-1 — one batch BEHIND the eviction
    watermark. The bursts here sit months-to-years below even that
    lagged threshold, so the lag cannot blur the contract. Removing the earliest
    rows keeps every table max, so the final watermark — and with it the
    outer joins' eviction-gated emission set — is identical on both
    sides of the comparison.
  * mode "keep" — the late rows are displaced but still INSIDE the
    horizon (the documents table's synthetic ingest span is ~500 s,
    far under the 24 h delay), so nothing may be dropped: the result
    must equal the query over the full table.

Expected sides are computed by re-running the registered query function
itself under a monkeypatched single-file reader, NOT the DuckDB oracle —
so emission gating that depends on the final watermark (left/full outer
interval joins) is compared against the exact same gating.

Cut placement: for update-mode windowed aggregates (stream_q4, the
sliding-window twin) a group whose rows straddle a segment boundary
emits a superseded partial into the drain, which these queries do not
compact (single emission per group is guaranteed only when no 10 s/30 s
window straddles a cut). The tool therefore nudges each interior cut of
the events feed to the first position whose event-time gap to the
previous row exceeds 60 s — larger than every window length used — so
no window can straddle a batch boundary by construction. Orders/lineitem
cuts stay at thirds: the join operators' multi-batch exactness is
already pinned by the ordered split audit.

stream_dedup_within_watermark compares DISTINCT sets (re-admission
across on-time watermark advances is its documented bounded-state
contract, audited separately); everything else compares exact rows with
the driver's canonicalizer.

Usage: python tools/lateness_audit.py [sf_dir] [query ...]
Exit 1 on any failure. Run whenever a watermarked streaming query
changes. Round-14 baseline: 12/12 OK at sf0.001.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.check_correctness import _norm_rows  # noqa: E402
from tools.split_replay_audit import ORDER_COLS  # noqa: E402

# (query, table to make late, SQL predicate selecting the late burst,
#  mode, compare) — predicates select each table's EARLIEST slice, well
# below max - 24 h for the "drop" cases; doc_id < 20 for the "keep" case
# (ingest span « horizon).
CASES: list[tuple[str, str, str, str, str]] = [
    ("stream_q4_products_per_user_10s", "events", "ts < TIMESTAMP '2024-01-03'", "drop", "exact"),
    ("stream_sliding_window_event_counts", "events", "ts < TIMESTAMP '2024-01-03'", "drop", "exact"),
    ("stream_dedup_within_watermark", "events", "ts < TIMESTAMP '2024-01-03'", "drop", "distinct"),
    ("stream_q5_paid_orders", "orders", "o_orderdate < TIMESTAMP '1995-04-01'", "drop", "exact"),
    ("stream_q5_paid_orders", "lineitem", "l_shipdate < TIMESTAMP '1995-04-01'", "drop", "exact"),
    ("stream_join_left_interval_unpaid", "orders", "o_orderdate < TIMESTAMP '1995-04-01'", "drop", "exact"),
    ("stream_join_left_interval_unpaid", "lineitem", "l_shipdate < TIMESTAMP '1995-04-01'", "drop", "exact"),
    ("stream_join_full_outer_interval", "orders", "o_orderdate < TIMESTAMP '1995-04-01'", "drop", "exact"),
    ("stream_join_full_outer_interval", "lineitem", "l_shipdate < TIMESTAMP '1995-04-01'", "drop", "exact"),
    ("stream_q5_daily_revenue", "orders", "o_orderdate < TIMESTAMP '1995-04-01'", "drop", "exact"),
    ("stream_q5_daily_revenue", "lineitem", "l_shipdate < TIMESTAMP '1995-04-01'", "drop", "exact"),
    ("stream_pipeline_quality_filter", "documents", "doc_id < 20", "keep", "exact"),
]

# windows used by the update-mode aggs; cuts on events must not land
# inside one (see module docstring)
MAX_WINDOW_S = 60


def _gap_safe_cuts(df, tcol: str, n: int) -> tuple[int, ...]:
    """Nudge the interior thirds-cuts of an event-time-ordered feed to the
    first index whose gap to the previous row exceeds MAX_WINDOW_S."""
    times = [r[0].timestamp() for r in df.select(tcol).orderBy(tcol).collect()]
    cuts = []
    for target in (n // 3, 2 * n // 3):
        i = target
        while i < n and times[i] - times[i - 1] <= MAX_WINDOW_S:
            i += 1
        if i >= n:  # fall back: search downward
            i = target
            while i > 1 and times[i] - times[i - 1] <= MAX_WINDOW_S:
                i -= 1
        cuts.append(i)
    return tuple(sorted(set(cuts)))


def make_lateness_reader(tmp_root: str, late_table: str, late_sql: str, reduced: bool):
    """A read_stream_table replacement. For ``late_table``: serve either
    the late-burst split feed (reduced=False) or the table minus the late
    rows as one file (reduced=True — the "drop" expectation). Other
    tables pass through to the real single-file reader."""
    from pyspark.sql import functions as F

    from kafka_streams_playground_spark.sources.parquet import load_table
    from kafka_streams_playground_spark.streaming.replay import (
        read_stream_table,
        replay_segments,
        split_late_segments,
    )

    def reader(spark, sf_dir: str, name: str):
        if name != late_table:
            return read_stream_table(spark, sf_dir, name)
        df = load_table(spark, sf_dir, name)
        pred = F.expr(late_sql)
        d = os.path.join(tmp_root, f"{name}_{uuid.uuid4().hex[:8]}")
        on_time = df.filter(~pred)
        if reduced:
            return replay_segments([on_time], d)
        n = on_time.count()
        if name == "events":
            cuts = _gap_safe_cuts(on_time, ORDER_COLS[name][0], n)
        else:
            cuts = tuple(sorted({n // 3, 2 * n // 3} - {0, n}))
        return replay_segments(split_late_segments(df, ORDER_COLS[name], cuts, pred), d)

    return reader


def main() -> int:
    from kafka_streams_playground_spark import streaming
    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.session import get_spark

    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])

    spark = get_spark("lateness-audit")
    tmp_root = tempfile.mkdtemp(prefix="ksp_lateaudit_")
    real_reader = streaming.queries.read_stream_table

    failures = []
    for qname, table, late_sql, mode, compare in CASES:
        if only and qname not in only:
            continue
        spec = REGISTRY[qname]
        label = f"{qname}[late:{table}]"
        spark.catalog.clearCache()
        t0 = time.time()
        try:
            # expected: "drop" = late rows never existed; "keep" = full table
            streaming.queries.read_stream_table = (
                make_lateness_reader(tmp_root, table, late_sql, reduced=True)
                if mode == "drop"
                else real_reader
            )
            edf = spec.fn(spark, sf_dir)
            e_cols = list(edf.columns)
            e_rows = [tuple(t) for t in edf.toPandas().itertuples(index=False, name=None)]
            # actual: late burst delivered after the watermark advanced
            streaming.queries.read_stream_table = make_lateness_reader(
                tmp_root, table, late_sql, reduced=False
            )
            adf = spec.fn(spark, sf_dir)
            a_cols = list(adf.columns)
            a_rows = [tuple(t) for t in adf.toPandas().itertuples(index=False, name=None)]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {label}: error: {e}")
            failures.append(label)
            continue
        finally:
            streaming.queries.read_stream_table = real_reader
        na, ne = _norm_rows(a_cols, a_rows), _norm_rows(e_cols, e_rows)
        if compare == "distinct":
            ok = sorted(a_cols) == sorted(e_cols) and set(na) == set(ne)
        else:
            ok = sorted(a_cols) == sorted(e_cols) and na == ne
        if ok:
            print(f"OK    {label}: {mode} contract holds, {len(a_rows)} rows [{time.time()-t0:.1f}s]")
        else:
            only_a = [r for r in na if r not in set(ne)][:2]
            only_e = [r for r in ne if r not in set(na)][:2]
            print(
                f"FAIL  {label}: {mode} contract violated — actual {len(a_rows)} rows "
                f"vs expected {len(e_rows)}; actual-only {only_a}; expected-only {only_e}"
            )
            failures.append(label)

    shutil.rmtree(tmp_root, ignore_errors=True)
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
