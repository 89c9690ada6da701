"""Multi-batch replay audit of EVERY registered streaming query (round 13).

The driver and the local replica both replay each fixture table as ONE
parquet file, so every `stream_*` query executes as a single micro-batch —
which is exactly the blind spot that hid the `stream_ivm_incremental_
join_view` double count (an update-mode drain was summed raw; one batch ⇒
one emission per group ⇒ the bug never fired). The targeted split sweeps
in tests/test_split_boundaries.py probe hand-picked shapes; this tool
generalizes the method to the WHOLE streaming surface:

  * `read_stream_table` is monkeypatched to serve each fixture table as a
    3-segment `replay_segments` directory ordered by the table's event-
    time contract (a time-ordered topic) — so every registered stream
    query executes across three real micro-batches with two interior
    watermark advances;
  * each query then runs unchanged and is compared against its OWN DuckDB
    oracle with the same type-strict canonicalizer the replica uses.

A query that is exact only under single-batch replay fails here; a pass
means its drain post-processing (final-state reduce, changelog contract,
sketch merge) genuinely commutes with micro-batching under ordered
delivery.

Usage: python tools/split_replay_audit.py [--scramble] [sf_dir] [query ...]
``--scramble`` restricts to the ORDER_FREE subset and replays it in
md5-scrambled delivery order (out-of-order topic) instead of the
event-time contract. Exit 1 on any failure. Not part of the per-round
artifacts; run on demand whenever a streaming query changes (all ~56
queries take ~10-20 min at sf0.001). Round-13 baseline: ordered 55 OK +
1 documented skip; scrambled 32/32 OK; the 17 queries changed that
round also re-audited green at sf0.01. Round 14: the documented
divergence is no longer skipped — it runs under the weaker contract
(columns match, DISTINCT(emitted) == oracle set, emitted ⊇ oracle) so a
crash or schema regression is still caught; the scramble hash carries a
NULL sentinel per column (both ADVICE r13).
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

# Delivery contract per table: a topic ordered by event time, ties broken
# by key so the split assignment is deterministic. Tables without an event
# time replay in key order (watermark-free state must accept any order).
ORDER_COLS: dict[str, list[str]] = {
    "events": ["ts", "event_id"],
    "orders": ["o_orderdate", "o_orderkey"],
    "lineitem": ["l_shipdate", "l_orderkey", "l_linenumber"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],  # raw column name; queries rename downstream
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "nation": ["n_nationkey"],
    "region": ["r_regionkey"],
}
N_SEGMENTS = 3

# Queries whose state folds are ORDER-FREE (commutative merges: sketches,
# counters, max_by changelogs keyed by an explicit version, order-free
# reservoir clocks): with --scramble they replay in md5-scrambled order
# across the 3 segments — out-of-order delivery must not change the
# result. Watermarked / sequence-dependent queries (sessions, joins,
# EWMA, funnel, as-of, CUSUM) are excluded: ordered delivery is their
# documented contract and late-row dropping is semantics, not a bug.
ORDER_FREE: tuple[str, ...] = (
    "stream_s2_latest_event_per_user",
    "stream_s2_compacted_tombstones",
    "stream_q3_products_by_first_letter",
    "stream_q1_expensive_orders",
    "stream_q2_order_projection",
    "stream_domain_quality_stats",
    "stream_kmv_distinct_by_type",
    "stream_hll_distinct_by_type",
    "stream_ts_rollup_hll_hour",
    "stream_curation_source_cap",
    "stream_sample_weighted_reservoir",
    "stream_stats_source_overlap_kmv",
    "stream_stats_benford_first_digit",
    "stream_stats_countmin_user_traffic",
    "stream_privacy_k_anonymity",
    "stream_embedding_covariance",
    "stream_stats_ols_by_nation",
    "stream_stats_welch_ttest_halves",
    "stream_drift_chi2_event_type_halves",
    "stream_stats_simpson_user_concentration",
    "stream_drift_ks_value_halves",
    "stream_stats_bootstrap_ci_mean",
    "stream_stats_histogram_quantiles",
    "stream_ivm_incremental_join_view",
    "stream_text_token_stats",
    "stream_decontaminate_corpus",
    "stream_chunk_documents_overlap",
    "stream_events_value_outliers",
    "stream_pipeline_quality_filter",
    "stream_text_line_filter",
    "stream_retrieval_rrf_fusion",
    "stream_dsir_importance_weights",
)

# Documented expected divergences: the exact oracle is only claimed for
# the single-batch replay, because the operator's multi-batch behavior is
# ITSELF the contract under test elsewhere. These still EXECUTE under
# split replay and are held to the weaker documented contract (columns
# match, DISTINCT(emitted) == oracle set, emitted ⊇ oracle) — r14.
EXPECTED_DIVERGENT: dict[str, str] = {
    "stream_dedup_within_watermark": (
        "dropDuplicatesWithinWatermark is at-most-once per key PER WATERMARK "
        "HORIZON by contract — state expiry re-admits a key once the "
        "watermark passes, so under multi-batch replay with mid-stream "
        "watermark advances the emitted set is a SUPERSET of DISTINCT keys "
        "(bounded-state dedup is the operator's whole point; global "
        "distinctness would need unbounded state). The DISTINCT oracle is "
        "claimed only for the single-batch replay; the expiry behavior is "
        "pinned by test_dedup_within_watermark_bounds_state."
    ),
}


def make_split_reader(tmp_root: str, scramble: bool = False):
    """A read_stream_table replacement serving 3-segment split feeds.

    With ``scramble``, delivery order is an md5 hash of the whole row —
    an adversarial out-of-order topic — instead of the table's event-time
    contract; only ORDER_FREE queries are expected to survive it."""
    from pyspark.sql import functions as F

    from kafka_streams_playground_spark.sources.parquet import load_table
    from kafka_streams_playground_spark.streaming.replay import replay_segments, split_segments

    def split_read_stream_table(spark, sf_dir: str, name: str):
        df = load_table(spark, sf_dir, name)  # ts already normalized
        n = df.count()
        d = os.path.join(tmp_root, f"{name}_{uuid.uuid4().hex[:8]}")
        cuts = tuple(sorted({n // 3, 2 * n // 3} - {0, n}))
        if scramble:
            # NULL sentinel per column: concat_ws silently skips NULLs, so
            # rows differing only in NULL placement would hash identically
            # and make segment assignment nondeterministic (ADVICE r13).
            feed = df.withColumn(
                "_scr",
                F.md5(
                    F.concat_ws(
                        "\x1f",
                        *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in df.columns],
                    )
                ),
            )
            return replay_segments(split_segments(feed, ["_scr"], cuts), d).drop("_scr")
        return replay_segments(split_segments(df, ORDER_COLS[name], cuts), d)

    return split_read_stream_table


def main() -> int:
    import duckdb

    from kafka_streams_playground_spark import streaming
    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.session import get_spark
    from kafka_streams_playground_spark.sources.parquet import TABLES

    args = sys.argv[1:]
    scramble = "--scramble" in args
    if scramble:
        args.remove("--scramble")
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])

    spark = get_spark("split-replay-audit")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    tmp_root = tempfile.mkdtemp(prefix="ksp_splitaudit_")
    streaming.queries.read_stream_table = make_split_reader(tmp_root, scramble)

    failures = []
    names = [n for n in REGISTRY if n.startswith("stream_")]
    if scramble:
        names = [n for n in names if n in ORDER_FREE]
    if only:
        names = [n for n in names if n in only]
    for name in names:
        spec = REGISTRY[name]
        spark.catalog.clearCache()
        t0 = time.time()
        try:
            sdf = spec.fn(spark, sf_dir)
            s_cols = sorted(sdf.columns)
            spdf = sdf.toPandas()
            s_rows = [tuple(t) for t in spdf.itertuples(index=False, name=None)]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error under split replay: {e}")
            failures.append(name)
            continue
        if name in EXPECTED_DIVERGENT:
            # Still execute and assert the WEAKER documented contract
            # (ADVICE r13): runs without error (above), columns match the
            # oracle's, emitted rows ⊇ oracle rows, and DISTINCT(emitted)
            # == oracle set — divergence is extra re-admissions only,
            # never a missing or novel key.
            ddf = con.execute(spec.oracle).df()
            d_rows = [tuple(t) for t in ddf.itertuples(index=False, name=None)]
            ns = set(_norm_rows(list(sdf.columns), s_rows))
            nd = set(_norm_rows(list(ddf.columns), d_rows))
            ok = s_cols == sorted(ddf.columns) and ns == nd and len(s_rows) >= len(d_rows)
            if ok:
                print(
                    f"weak  {name}: {len(s_rows)} rows ⊇ {len(d_rows)} oracle keys, "
                    f"DISTINCT equal — {EXPECTED_DIVERGENT[name][:60]}… "
                    f"[{time.time()-t0:.1f}s]"
                )
            else:
                print(
                    f"FAIL  {name}: weak contract violated — cols_ok="
                    f"{s_cols == sorted(ddf.columns)} distinct_equal={ns == nd} "
                    f"rows {len(s_rows)} vs oracle {len(d_rows)}"
                )
                failures.append(name)
            continue
        if spec.oracle is None:
            print(f"rows  {name}: {len(s_rows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        ddf = con.execute(spec.oracle).df()
        d_rows = [tuple(t) for t in ddf.itertuples(index=False, name=None)]
        ok = s_cols == sorted(ddf.columns) and len(s_rows) == len(d_rows)
        if ok:
            # ORIGINAL column order on both sides: _norm_rows permutes each
            # into sorted-name order, so the two reorderings align (passing
            # an already-sorted list would leave that side unpermuted)
            ns = _norm_rows(list(sdf.columns), s_rows)
            nd = _norm_rows(list(ddf.columns), d_rows)
            ok = ns == nd
            if not ok:
                diff = [i for i, (a, b) in enumerate(zip(ns, nd)) if a != b][:2]
                print(f"FAIL  {name}: value mismatch under split replay at {diff}")
                for i in diff:
                    print(f"      spark : {ns[i]}")
                    print(f"      duckdb: {nd[i]}")
        else:
            print(
                f"FAIL  {name}: shape spark=({len(s_rows)} rows, {s_cols}) "
                f"duckdb=({len(d_rows)} rows, {sorted(ddf.columns)})"
            )
        if ok:
            print(f"OK    {name}: {len(s_rows)} rows [{time.time()-t0:.1f}s]")
        else:
            failures.append(name)

    shutil.rmtree(tmp_root, ignore_errors=True)
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
