"""Micro-batch SPLIT-POINT adversarial sweeps (VERDICT r11 item 3).

tests/test_boundaries.py probes VALUE thresholds (fixtures sitting on
exact gap / bin / quantile edges); these sweeps probe the orthogonal
streaming blind spot: WHERE the replay splits micro-batches relative to a
session gap, a watermark edge, an equal-ts tie, or the flush sentinel.
The delivery contract under test:

- Session windows (0-second watermark, APPEND + flush sentinel): the
  drained result must be invariant under EVERY split of the
  (ts, key)-ordered feed — a time-ordered topic's possible batchings.
  The dangerous instants, each given its own fixture row so some split
  isolates it: a merge partner at EXACTLY last+gap arriving after the
  watermark has advanced to the session's end (Spark evicts only at
  wm > end, probed empirically round 12 — pinned here so a regression
  or a future watermark-delay change trips loudly); equal-ts rows of
  different keys straddling a split (late-drop is ts < wm, strict);
  the sentinel alone in the final micro-batch (Kafka punctuation
  arriving after a quiet period).
- The day-grid trend substrate and the KTable latest-per-key fold
  (update mode, NO watermark): must be invariant under every split of an
  ARBITRARY-order feed — out-of-order delivery included — because
  nothing is ever dropped and the final-state reduce picks each key's
  last emission (max-n_rows / max-version).
- Append-mode tumbling windows: boundary-exact events (first instant of
  a window, equal-ts straddles, a batch ending exactly on a window
  edge) drain exactly once.
- The watermarked stream-stream bin join under ALIGNED splits at a
  0-second delay — the sweep that caught this round's real defect (bin
  0 promoted to epoch 0, Spark's initial watermark value: origin-bin
  pairs silently dropped; fixed to (bin+1)*width).

Every sweep compares against the BATCH twin of the same rows, so the
equality chains to the DuckDB oracles the batch queries carry.
"""

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

# Opt-in audit sweep (see pytest.ini): the split/lateness replays are
# the round-close adversarial axes, not part of the default (driver-
# window-sized) verification run.
pytestmark = pytest.mark.slowaudit

from kafka_streams_playground_spark.plans import REGISTRY  # noqa: F401  (registration)
from kafka_streams_playground_spark.plans.temporal import day_grid
from kafka_streams_playground_spark.streaming.queries import (
    _append_session_windows,
    day_grid_reduce,
)
from kafka_streams_playground_spark.streaming.replay import replay_segments, split_segments

GAP = 600


def _session_fixture(spark):
    """Four real events engineered so the (ts, user_id)-ordered feed
    (+ sentinel at index 4) has a dangerous instant at every interior
    split point:

      idx 0  (2, t0)        user 2's session opens
      idx 1  (1, t1)        equal-ts tie, OTHER key — drives wm to t1,
                            which is EXACTLY user 2's session end (t0+gap)
      idx 2  (2, t1)        user 2's merge partner at EXACTLY last+gap,
                            arriving at ts == wm when split at 2
      idx 3  (2, t1+2g+1)   strict > gap: user 2's second session
      idx 4  sentinel       (appended by the engine at max+gap+1)

    Expected sessions: user 1 × (1 event); user 2 × (2 events, the
    exact-gap merge) and (1 event)."""
    t0 = datetime(2024, 1, 1, 0, 0, 0)
    t1 = t0 + timedelta(seconds=GAP)
    rows = [
        (2, t0, 1.25),
        (1, t1, 2.00),
        (2, t1, 0.75),
        (2, t1 + timedelta(seconds=2 * GAP + 1), 10.00),
    ]
    return spark.createDataFrame(rows, "user_id long, ts timestamp, value double")


SESSION_AGGS = lambda: [  # noqa: E731 — fresh Column objects per drain
    F.min("ts").alias("min_ts"),
    F.max("ts").alias("max_ts"),
    F.count(F.lit(1)).alias("n_events"),
    (F.floor(F.sum("value") * 100 + 0.5) / 100).alias("sum_value"),
]


def _record_parquet_reads(monkeypatch) -> list:
    """Record every path a batch ``spark.read.parquet`` call is given."""
    from pyspark.sql.readwriter import DataFrameReader

    paths, real = [], DataFrameReader.parquet

    def parquet(self, *args, **kwargs):
        paths.extend(args)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(DataFrameReader, "parquet", parquet)
    return paths


def _drain_sessions(spark, df, split):
    out = _append_session_windows(
        df, "user_id", GAP, SESSION_AGGS(), split_at=split
    )
    return sorted(
        (r["user_id"], r["min_ts"], r["max_ts"], r["n_events"], r["sum_value"])
        for r in out.collect()
    )


def test_session_split_sweep_every_boundary(spark, monkeypatch):
    """EVERY interior split point of the sentinel-bearing feed (5 rows →
    splits at 1..4), plus the all-singleton split (one event per
    micro-batch — the trigger-per-record worst case), must drain to the
    no-split result, which itself must be the hand-computed session set
    (exact-gap MERGE per the r11 boundary rule). Split (2,) is the
    eviction-at-equality probe: wm == user 2's session end when the
    merge partner arrives. Split (4,) is the sentinel-alone probe."""
    df = _session_fixture(spark)
    t0 = datetime(2024, 1, 1, 0, 0, 0)
    t1 = t0 + timedelta(seconds=GAP)
    t2 = t1 + timedelta(seconds=2 * GAP + 1)
    want = sorted(
        [
            (1, t1, t1, 1, 2.00),
            (2, t0, t1, 2, 2.00),  # exact-gap merge: 1.25 + 0.75
            (2, t2, t2, 1, 10.00),
        ]
    )
    reads = _record_parquet_reads(monkeypatch)
    assert _drain_sessions(spark, df, None) == want
    for split in [(1,), (2,), (3,), (4,), (1, 2, 3, 4)]:
        assert _drain_sessions(spark, df, split) == want, f"split={split}"
    # the replay streams with the schema it already holds: no batch read
    # of its own temp files (each would be one schema-inference job)
    assert not [p for p in reads if "ksp_session_stream_" in p]


def test_session_split_sweep_on_fixture_events(spark, sf_dir):
    """The same sweep against REAL fixture data: the sf0.001 events table
    drained with splits at the quartile row indices must equal the
    batch gaps-and-islands twin (the oracle-checked plan), closing the
    loop from adversarial replay to the DuckDB-verified answer."""
    from kafka_streams_playground_spark.plans.temporal import SESSION_GAP_S

    events = REGISTRY["session_windows_per_user"].fn(spark, sf_dir)
    want = sorted(
        tuple(r) for r in events.drop("session_no").collect()
    )
    from kafka_streams_playground_spark.sources.parquet import load_table

    proj = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    n = proj.count()
    quartiles = tuple(sorted({n // 4, n // 2, (3 * n) // 4}))
    drained = _append_session_windows(
        proj,
        "user_id",
        SESSION_GAP_S,
        [
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
            F.count(F.lit(1)).alias("n_events"),
            (F.floor(F.sum("value") * 100 + 0.5) / 100).alias("sum_value"),
        ],
        split_at=quartiles,
    ).select(
        "user_id",
        F.unix_timestamp("min_ts").alias("session_start"),
        F.unix_timestamp("max_ts").alias("session_end"),
        "n_events",
        "sum_value",
    )
    got = sorted(tuple(r) for r in drained.collect())
    assert got == want and len(got) > 0


def _day_grid_fixture(spark):
    """Six events around the day-0/day-1 boundary with an explicit
    ``arrival`` column modeling OUT-OF-ORDER topic delivery: the day-0
    cell's final row arrives LAST (after every day-1 row), and two rows
    sit at exactly the 86400 s edge (first instant of day 1)."""
    d0 = datetime(1970, 1, 1, 23, 0, 0)  # day 0 (epoch day arithmetic)
    edge = datetime(1970, 1, 2, 0, 0, 0)  # exactly 86400 s — first of day 1
    rows = [
        ("click", d0, 1.25, 0),
        ("view", d0, 2.00, 1),
        ("click", edge, 0.75, 2),  # day-1 cell opens at the exact edge
        ("view", edge, 4.50, 3),
        ("click", edge + timedelta(hours=5), 0.50, 4),
        ("click", d0, 10.00, 5),  # day-0 cell continues AFTER day-1 rows
    ]
    return spark.createDataFrame(
        rows, "event_type string, ts timestamp, value double, arrival int"
    )


def test_day_grid_split_sweep_out_of_order(spark, tmp_path):
    """The trend twins' substrate under EVERY split of an out-of-order
    feed: for all interior split points (singles) and the all-singleton
    split of the arrival-ordered feed, day_grid_reduce must equal the
    batch day_grid of the same rows — nothing dropped (no watermark),
    max-n_rows reduce picks each cell's final state even when a cell's
    last update lands in the last micro-batch."""
    feed = _day_grid_fixture(spark)
    batch = feed.drop("arrival")
    want = sorted(
        (r["event_type"], r["day"], r["v"]) for r in day_grid(batch).collect()
    )
    assert len(want) == 4  # 2 types × 2 days, edge rows in day 1
    n = feed.count()
    sweeps = [(i,) for i in range(1, n)] + [tuple(range(1, n))]
    for k, split in enumerate(sweeps):
        d = str(tmp_path / f"s{k}")
        sdf = replay_segments(split_segments(feed, ["arrival"], split), d).drop("arrival")
        got = sorted(
            (r["event_type"], r["day"], r["v"])
            for r in day_grid_reduce(sdf).collect()
        )
        assert got == want, f"split={split}"


def test_split_segments_rejects_non_interior_indices(spark):
    df = spark.createDataFrame([(1,), (2,)], "x int")
    with pytest.raises(ValueError):
        split_segments(df, ["x"], (0,))
    with pytest.raises(ValueError):
        split_segments(df, ["x"], (2,))


def test_replay_segments_replay_in_order(spark, tmp_path):
    """Segment i must arrive as micro-batch i (mtime ordering): a
    changelog-style latest-per-key over a 3-segment feed whose LAST
    segment holds the final value must end on that value."""
    from kafka_streams_playground_spark.streaming.replay import (
        latest_update_state,
        run_to_completion,
    )

    df = spark.createDataFrame(
        [("k", "v1", 1), ("k", "v2", 2), ("k", "v3", 3)], "key string, val string, seq int"
    )
    d = str(tmp_path / "ord")
    sdf = replay_segments(split_segments(df, ["seq"], (1, 2)), d)
    g = sdf.groupBy("key").agg(
        F.max_by("val", "seq").alias("val"), F.count(F.lit(1)).alias("n")
    )
    drained = run_to_completion(g, output_mode="update")
    assert drained.count() == 3  # one emission per micro-batch: order held
    final = latest_update_state(drained, "key", F.col("n")).collect()
    assert [(r["key"], r["val"]) for r in final] == [("k", "v3")]


def test_ktable_latest_per_key_split_sweep_out_of_order(spark, tmp_path):
    """The KTable latest-per-key fold (S2) under EVERY split of an
    OUT-OF-ORDER changelog: max_by(version) keyed state must converge to
    the same table whichever micro-batch carries which update — including
    a stale (lower-version) update arriving AFTER the newest one in a
    later batch (must NOT override), a key whose final update lands in
    the last micro-batch, and an equal-ts version tie broken by the seq
    struct component. No watermark: nothing is ever dropped, so
    split-invariance must hold for ARBITRARY delivery order."""
    from kafka_streams_playground_spark.streaming.ktable import latest_per_key_stream
    from kafka_streams_playground_spark.streaming.replay import (
        latest_update_state,
        run_to_completion,
    )

    # (key, val, ts, seq, arrival): version = struct(ts, seq)
    rows = [
        ("u1", "a", 10, 1, 0),
        ("u2", "x", 10, 2, 1),
        ("u1", "c", 30, 3, 2),  # u1's newest arrives EARLY...
        ("u1", "b", 20, 4, 3),  # ...then a stale update (must not override)
        ("u2", "y", 10, 5, 4),  # equal-ts tie: seq 5 beats seq 2
        ("u3", "q", 40, 6, 5),  # new key opens in the final segment
    ]
    schema = "key string, val string, ts long, seq long, arrival int"
    feed = spark.createDataFrame(rows, schema)
    want = [("u1", "c", 30, 3), ("u2", "y", 10, 5), ("u3", "q", 40, 6)]
    n = len(rows)
    sweeps = [(i,) for i in range(1, n)] + [tuple(range(1, n))]
    for k, split in enumerate(sweeps):
        d = str(tmp_path / f"kt{k}")
        sdf = replay_segments(split_segments(feed, ["arrival"], split), d).drop("arrival")
        table = latest_per_key_stream(
            sdf, ["key"], ["val", "ts", "seq"], F.struct("ts", "seq")
        )
        drained = run_to_completion(table, output_mode="update")
        # state's version only grows, so the max-seq emission per key IS
        # the final state (the latest_update_state contract)
        got = sorted(
            (r["key"], r["val"], r["ts"], r["seq"])
            for r in latest_update_state(drained, "key", F.col("seq")).collect()
        )
        assert got == want, f"split={split}"


def test_tumbling_append_split_sweep_window_edges(spark, tmp_path):
    """Epoch-aligned tumbling windows (A4) in APPEND mode under every
    split of a ts-ordered feed whose events SIT on window boundaries:
    an event at exactly t=10 (first instant of the second window), an
    equal-ts pair straddling a split, and a window whose last event is a
    batch's last row (watermark lands exactly on the NEXT window's
    start). A sentinel event two windows past the end flushes the tail
    (the session sweep's pattern); real windows must drain exactly once
    and equal the batch tumbling counts."""
    from datetime import datetime, timedelta

    from kafka_streams_playground_spark.operators.aggregations import tumbling_count
    from kafka_streams_playground_spark.streaming.replay import run_to_completion

    t0 = datetime(2024, 1, 1, 0, 0, 0)

    def at(s):
        return t0 + timedelta(seconds=s)

    real = [(1, at(0)), (2, at(9)), (1, at(10)), (2, at(10)), (1, at(19)), (1, at(25))]
    # windows [0,10): u1=1 u2=1; [10,20): u1=2 u2=1; [20,30): u1=1
    want = sorted([(0, 1, 1), (0, 2, 1), (10, 1, 2), (10, 2, 1), (20, 1, 1)])
    sentinel = [(99, at(45))]  # two windows past the last event: flushes all
    feed = spark.createDataFrame(real + sentinel, "user_id long, ts timestamp")
    n = len(real) + 1
    sweeps = [(i,) for i in range(1, n)] + [tuple(range(1, n))]
    for k, split in enumerate(sweeps):
        d = str(tmp_path / f"tw{k}")
        sdf = replay_segments(split_segments(feed, ["ts", "user_id"], split), d)
        sdf = sdf.withWatermark("ts", "0 seconds")
        counts = tumbling_count(sdf, "ts", "10 seconds", F.col("user_id"))
        drained = run_to_completion(counts, output_mode="append")
        got = sorted(
            (r["window"].start.second + 60 * r["window"].start.minute, r["user_id"], r["cnt"])
            for r in drained.collect()
            if r["user_id"] != 99
        )
        assert got == want, f"split={split}"


def test_stream_stream_bin_join_split_sweep_eviction_edges(spark, monkeypatch):
    """The watermarked stream-stream bin join (J3 ext.) under ALIGNED
    ts-ordered splits of BOTH interval feeds with a 0-SECOND watermark —
    the harshest eviction schedule: after each micro-batch the global
    watermark (min across both sides) lands EXACTLY on the latest bin
    timestamp, so a pair whose two halves straddle a split only survives
    because state eviction and late-drop are both STRICT (< wm, not <=).
    The fixture plants the dangerous instants: intervals in the EPOCH-0
    bin (this sweep's round-12 catch: bin_ts = bin*width put bin 0 on
    epoch 0 — Spark's INITIAL watermark value — and the join silently
    dropped every pair whose only shared bin was bin 0 while the batch
    twin kept them; the engine now promotes (bin+1)*width), an interval
    ending exactly on a bin edge, a point interval exactly on the edge,
    a burst straddling the edge by ±1 s, and same-bin halves split into
    different batches. Every aligned split combination must drain to the
    batch binned-join pair set (all 16 combinations probed when the fix
    landed; a representative 6 run here for time). Sides lagging each
    other by more than the watermark delay drop pairs BY DESIGN —
    Spark's documented stream-stream join contract; the delivery
    contract under test is interleaved time-ordered topics."""
    from kafka_streams_playground_spark.plans.temporal import explode_to_bins
    from kafka_streams_playground_spark.streaming.queries import (
        _replay_interval_bin_join,
    )

    B = 21600  # OVERLAP_BIN_S
    sessions = spark.createDataFrame(
        [
            (1, 1, 0, B),          # ends exactly on the bin edge (bins 0,1)
            (2, 1, B, B),          # point interval exactly on the edge (bin 1)
            (1, 2, 2 * B, 2 * B + 5000),
        ],
        "user_id long, session_no int, s_start long, s_end long",
    )
    bursts = spark.createDataFrame(
        [
            ("view", 1, 0, 100),            # bin 0 only
            ("click", 1, B - 1, B + 1),     # straddles the edge (bins 0,1)
            ("click", 2, 2 * B + 1, 3 * B),
        ],
        "event_type string, burst_no int, b_start long, b_end long",
    )
    # batch twin: same binning contract, same predicate, same dedup
    sb = explode_to_bins(sessions, "s_start", "s_end", "bin")
    bb = explode_to_bins(bursts, "b_start", "b_end", "bin")
    want = sorted(
        tuple(r)
        for r in sb.join(bb, "bin")
        .filter(
            (F.col("s_start") <= F.col("b_end"))
            & (F.col("b_start") <= F.col("s_end"))
        )
        .select(
            "user_id", "session_no", "event_type", "burst_no",
            "s_start", "s_end", "b_start", "b_end",
            (
                F.least(F.col("s_end"), F.col("b_end"))
                - F.greatest(F.col("s_start"), F.col("b_start"))
            ).alias("overlap_s"),
        )
        .dropDuplicates(["user_id", "session_no", "event_type", "burst_no"])
        .collect()
    )
    assert len(want) >= 3  # edge pairs actually overlap
    reads = _record_parquet_reads(monkeypatch)
    combos = [
        ((), ()),          # single batch per side — the epoch-0 repro itself
        ((1,), (1,)),      # aligned early split: same-bin halves straddle
        ((2,), (1,)),      # skewed split points within the delay
        ((2,), ()),        # one side split, the other whole
        ((), (2,)),
        ((1, 2), (1, 2)),  # all-singleton: trigger-per-interval worst case
    ]
    for s_split, b_split in combos:
        got = sorted(
            tuple(r)
            for r in _replay_interval_bin_join(
                sessions,
                bursts,
                split_at={"sessions": s_split, "bursts": b_split},
                watermark="0 seconds",
            ).collect()
        )
        assert got == want, f"splits={s_split}/{b_split}"
    assert not [p for p in reads if "ksp_interval_stream_" in p]


def _asof_fixture(spark):
    """user 1's history with an EQUAL-TS click/purchase collision (the
    instant the fixtures never produce — checked: zero same-user same-ts
    click/purchase pairs at every SF): click 1 @ t0, purchase 2 @ t1,
    click 3 @ t1 (same instant, larger id), purchase 4 @ t2. The batch
    oracle pairs BOTH purchases with click 3 (c.ts <= p.ts, max (ts, id)
    wins)."""
    t0 = datetime(2024, 1, 1, 0, 0, 0)
    t1 = t0 + timedelta(seconds=60)
    t2 = t0 + timedelta(seconds=120)
    rows = [
        (1, 1, "click", t0, 0),
        (2, 1, "purchase", t1, 2),  # contract order: same-ts click FIRST
        (3, 1, "click", t1, 1),
        (4, 1, "purchase", t2, 3),
    ]
    return spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp, arrival int"
    )


def _drain_asof(spark, feed, order_cols, split, tmp):
    from kafka_streams_playground_spark.streaming.replay import run_to_completion
    from kafka_streams_playground_spark.streaming.stateful import asof_join_per_key

    sdf = replay_segments(split_segments(feed, order_cols, split), tmp).drop("arrival")
    out = run_to_completion(asof_join_per_key(sdf), output_mode="append")
    return sorted((r["event_id"], r["last_click_id"]) for r in out.collect())


def test_asof_stream_split_sweep_contract_order(spark, tmp_path):
    """Under the operator's sharpened delivery contract — (ts, side)
    order, equal-ts clicks BEFORE the purchases they qualify for — every
    split of the feed (including the one isolating each event) must
    reproduce the batch oracle's pairing: both purchases pair with the
    equal-ts click 3."""
    feed = _asof_fixture(spark)
    want = [(2, 3), (4, 3)]
    n = 4
    sweeps = [()] + [(i,) for i in range(1, n)] + [tuple(range(1, n))]
    for k, split in enumerate(sweeps):
        got = _drain_asof(
            spark, feed, ["arrival"], split, str(tmp_path / f"a{k}")
        )
        assert got == want, f"split={split}"


def test_asof_stream_equal_ts_straddle_is_the_contract_boundary(spark, tmp_path):
    """The OTHER side of the boundary, asserted explicitly: replayed in
    plain (ts, event_id) order — purchase 2 BEFORE its equal-ts click 3
    — a split exactly between them forces the purchase to pair with the
    older click 1 (append emission cannot retro-pair), diverging from
    the batch oracle's (2, 3). This is the documented edge of the
    O(1)-state contract (streaming/stateful.py::_asof_last_click), not a
    fixable defect: pinning the exact divergent pairing makes the
    semantic loud if the operator's behavior ever shifts. The same feed
    UNSPLIT stays batch-equal (within one micro-batch the join is
    set-based)."""
    feed = _asof_fixture(spark)
    # (ts, event_id) order = arrival order with purchase 2 before click 3
    order = ["ts", "event_id"]
    assert _drain_asof(spark, feed, order, (), str(tmp_path / "whole")) == [
        (2, 3),
        (4, 3),
    ]
    got = _drain_asof(spark, feed, order, (2,), str(tmp_path / "straddle"))
    assert got == [(2, 1), (4, 3)]  # the divergent pairing, pinned


def test_ewma_split_sweep_day_boundaries_and_midday_correction(spark, tmp_path):
    """The O(taps)-state streaming EWMA under splits: (a) splits at DAY
    boundaries (the documented contract) drain to exactly the pure-python
    q8 fold per observed day; (b) a MID-DAY split emits the partial-day
    row and then a same-day CORRECTION row (the fold merges the
    continuation into its last tap), so the raw drain has duplicate
    (user, day) rows — pinned — and the max-cents reduce (cents only
    grows within a day) recovers the batch answer exactly. The reduce is
    the documented recovery for day-straddling replays; the single-batch
    fixture replay never needs it."""
    from kafka_streams_playground_spark.streaming.replay import (
        latest_update_state,
        run_to_completion,
    )
    from kafka_streams_playground_spark.streaming.stateful import ewma_per_key

    D = 86400
    t = lambda e: datetime.utcfromtimestamp(e)  # noqa: E731
    rows = [  # (event_id, user_id, ts, value): two days, multi-event days
        (1, 1, t(10 * D + 100), 1.00),
        (2, 1, t(10 * D + 200), 2.00),
        (3, 1, t(11 * D + 50), 4.00),
        (4, 1, t(11 * D + 60), 0.50),
    ]
    feed = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )

    # pure-python q8 fold over the full days
    def q8(series):
        hist, out = [], {}
        for day, cents in series:
            hist.append((day, cents))
            hist = hist[-8:]
            out[day] = (cents, sum(cv << (7 - k) for k, (_, cv) in enumerate(reversed(hist))))
        return out

    want_full = q8([(10, 300), (11, 450)])
    want_rows = sorted(
        (1, d * D, c, e) for d, (c, e) in want_full.items()
    )

    def drain(split):
        dirp = str(tmp_path / f"e{split}")
        sdf = replay_segments(split_segments(feed, ["ts", "event_id"], split), dirp)
        return run_to_completion(ewma_per_key(sdf), output_mode="append")

    # (a) day-boundary split (after row 2) and no split: exact batch rows
    for split in [(), (2,)]:
        got = sorted(
            (r["user_id"], r["day_epoch"], r["cents"], r["ewma_cents_q8"])
            for r in drain(split).collect()
        )
        assert got == want_rows, f"split={split}"
    # (b) mid-day splits: raw drain re-emits the straddled day...
    for split in [(1,), (3,), (1, 2, 3)]:
        drained = drain(split)
        raw = drained.collect()
        assert len(raw) > 2, f"split={split} expected a correction re-emission"
        got = sorted(
            (r["user_id"], r["day_epoch"], r["cents"], r["ewma_cents_q8"])
            for r in latest_update_state(
                drained, ["user_id", "day_epoch"], F.col("cents")
            ).collect()
        )
        # ...and the max-cents reduce recovers the batch fold exactly
        assert got == want_rows, f"split={split}"


def test_running_count_split_sweep_equal_ts_straddle(spark, tmp_path):
    """The per-record changelog counter (the reference's fold, A3/A5)
    under every split of the (ts, event_id)-ordered feed, including an
    equal-ts pair straddling a split: the emitted changelog must be
    exactly the batch row_number assignment — per-batch sorting plus
    carried state composes to the global (ts, event_id) order when the
    delivery order is the sort order, whichever side of a boundary the
    tied rows land on."""
    from kafka_streams_playground_spark.streaming.replay import run_to_completion
    from kafka_streams_playground_spark.streaming.stateful import running_count_per_key

    t0 = datetime(2024, 1, 1)
    rows = [
        (1, 10, t0),
        (1, 11, t0 + timedelta(seconds=5)),  # equal-ts pair: ids 11, 12
        (1, 12, t0 + timedelta(seconds=5)),
        (2, 13, t0 + timedelta(seconds=5)),
        (1, 14, t0 + timedelta(seconds=9)),
    ]
    feed = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")
    want = sorted([(1, 10, 1), (1, 11, 2), (1, 12, 3), (1, 14, 4), (2, 13, 1)])
    n = len(rows)
    for split in [()] + [(i,) for i in range(1, n)] + [tuple(range(1, n))]:
        dirp = str(tmp_path / f"rc{split}")
        sdf = replay_segments(split_segments(feed, ["ts", "event_id"], split), dirp)
        out = run_to_completion(running_count_per_key(sdf), output_mode="append")
        got = sorted(
            (r["user_id"], r["event_id"], r["running_cnt"]) for r in out.collect()
        )
        assert got == want, f"split={split}"


def test_funnel_split_sweep_and_equal_ts_boundary(spark, tmp_path):
    """The O(1)-state streaming funnel under splits. (a) Under the
    sharpened delivery contract (ts-ordered, equal-ts stage pairs not
    split with the LATER stage first), every split drains to per-batch
    funnel rows whose max-reached_stage row per user equals the batch
    min-chain — reached_stage is monotone across batches and each stage
    timestamp is stable once set under ts-ordered delivery, so the
    reduce is exact. (b) The violating straddle — a click tying the
    first view's timestamp but replayed into the EARLIER batch — is
    discarded before the view arrives (no retro-qualification under
    append emission) and the funnel stalls at the view stage: pinned
    explicitly as the same O(1)-contract boundary the as-of operator
    documents."""
    from kafka_streams_playground_spark.streaming.replay import (
        latest_update_state,
        run_to_completion,
    )
    from kafka_streams_playground_spark.streaming.stateful import funnel_per_key

    t0 = datetime(2024, 1, 1)
    rows = [  # (event_id, user_id, event_type, ts): click 4 TIES view 9's ts
        (4, 1, "click", t0 + timedelta(seconds=5)),
        (9, 1, "view", t0 + timedelta(seconds=5)),
        (12, 1, "purchase", t0 + timedelta(seconds=8)),
        (13, 2, "view", t0 + timedelta(seconds=6)),
    ]
    feed = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    e5 = int((t0 + timedelta(seconds=5)).timestamp())
    e6 = int((t0 + timedelta(seconds=6)).timestamp())
    e8 = int((t0 + timedelta(seconds=8)).timestamp())
    want = sorted([(1, e5, e5, e8, 3), (2, e6, None, None, 1)])

    def drain(order, split, tag):
        d = str(tmp_path / tag)
        sdf = replay_segments(split_segments(feed, order, split), d)
        out = run_to_completion(funnel_per_key(sdf), output_mode="append")
        final = latest_update_state(out, "user_id", F.col("reached_stage"))
        return sorted(
            (r["user_id"], r["view_epoch"], r["click_epoch"], r["purchase_epoch"], r["reached_stage"])
            for r in final.collect()
        )

    # (a) contract order: the equal-ts pair replays view-first (the
    # causal stage order), expressed as an explicit rank column:
    # view=0, click=1, purchase=2
    feed = feed.withColumn(
        "stage_rank",
        F.when(F.col("event_type") == "view", 0)
        .when(F.col("event_type") == "click", 1)
        .otherwise(2),
    )
    n = 4
    for split in [()] + [(i,) for i in range(1, n)] + [tuple(range(1, n))]:
        got = drain(["ts", "stage_rank"], split, f"f{split}")
        assert got == want, f"split={split}"
    # (b) violating order: click-before-view at the tied instant, split
    # exactly between them — the click is gone, the funnel stalls at the
    # view stage (no qualifying click remains)
    got = drain(["ts", "event_id"], (1,), "fviol")
    assert got == sorted([(1, e5, None, None, 1), (2, e6, None, None, 1)])


def test_split_segments_partition_exactly_under_ties(spark, tmp_path):
    """order_cols with TIES (here: every row the same key) must still
    partition the feed exactly — each row in exactly one segment — even
    though the per-segment writes are separate executions: the helper
    checkpoints the row numbering once, so an arbitrary tie-break cannot
    drift between writes."""
    rows = [("k", i) for i in range(8)]
    df = spark.createDataFrame(rows, "key string, payload int")
    d = str(tmp_path / "ties")
    replay_segments(split_segments(df, ["key"], (3, 5)), d)  # ties on every row
    back = spark.read.parquet(f"{d}/seg*")
    got = sorted(r["payload"] for r in back.collect())
    assert got == list(range(8))  # no row lost, no row duplicated
    sizes = sorted(
        spark.read.parquet(f"{d}/seg{i:04d}").count() for i in range(3)
    )
    assert sizes == [2, 3, 3]


# ---------------------------------------------------------------------------
# Round-13 sweeps (VERDICT r12 item 4): the two stateful SINKS whose
# micro-batch-boundary behavior was previously asserted only at the
# fixture's single-file (= single micro-batch) granularity.
# ---------------------------------------------------------------------------


def test_ivm_delta_fold_split_sweep_group_straddles_batches(spark, tmp_path):
    """``stream_ivm_incremental_join_view``'s streaming fold under a
    micro-batch boundary BETWEEN the delta rows of one group (VERDICT r12
    item 4). This sweep is the reason ``ivm_delta_fold`` carries a
    ``latest_update_state`` reduce: the update-mode memory sink keeps one
    CUMULATIVE row per (group, emitting micro-batch), so the pre-r13 code
    (a direct sum over the raw drain) double-counted any group whose
    delta rows straddle a split — masked until now by the single-file
    fixture replay. The raw-drain multiplicity is asserted below so the
    sweep can never silently degrade back to one micro-batch."""
    from kafka_streams_playground_spark.streaming.queries import (
        ivm_delta_fold,
        ivm_merge_views,
    )
    from kafka_streams_playground_spark.streaming.replay import run_to_completion

    a = spark.createDataFrame(
        [(1, "O"), (2, "F")], "o_orderkey long, o_orderstatus string"
    )
    # group ("O","N") gets three delta rows; ("F","R") one. arrival is the
    # delivery order; splits (1,) and (2,) land INSIDE the ("O","N") run.
    rows = [
        (0, 1, "N", 3, 100),
        (1, 1, "N", 6, 250),
        (2, 1, "N", 9, 50),
        (3, 2, "R", 3, 700),
    ]
    feed = spark.createDataFrame(
        rows,
        "arrival long, b_orderkey long, l_returnflag string, "
        "l_linenumber int, cents long",
    )
    v_old = spark.createDataFrame(
        [("O", "N", 2, 30), ("F", "R", 1, 20)],
        "o_orderstatus string, l_returnflag string, n_rows long, sum_cents long",
    )
    want = sorted([("F", "R", 2, 720), ("O", "N", 5, 430)])
    for i, split in enumerate([(), (1,), (2,), (3,), (1, 2, 3)]):
        d = str(tmp_path / f"ivm{i}")
        sdf = replay_segments(split_segments(feed, ["arrival"], split), d).drop("arrival")
        got = ivm_merge_views(v_old, ivm_delta_fold(spark, a, sdf))
        assert (
            sorted(tuple(r) for r in got.collect()) == want
        ), f"split={split}"
    # teeth: under split (2,) the straddled group really does emit twice —
    # the hazard the final-state reduce exists to absorb.
    d = str(tmp_path / "ivm_raw")
    sdf = replay_segments(split_segments(feed, ["arrival"], (2,)), d).drop("arrival")
    raw = run_to_completion(
        sdf.join(a, sdf.b_orderkey == a.o_orderkey)
        .groupBy("o_orderstatus", "l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("cents").alias("sum_cents")),
        output_mode="update",
    )
    emissions = raw.filter(
        (F.col("o_orderstatus") == "O") & (F.col("l_returnflag") == "N")
    ).count()
    assert emissions == 2


def _drain_upsert_sink(spark, feed, split, tmp, order_cols=("seq", "k")):
    """Seed the stored snapshot, replay ``feed`` (split per ``split`` in
    ``order_cols`` delivery order) through the foreachBatch upsert sink,
    return the final pointed-at table as {key: cents} — the
    stream_cdc_merge_upsert machinery with a controllable micro-batch
    boundary."""
    import tempfile

    from kafka_streams_playground_spark.sources.sinks import (
        read_table_version,
        upsert_foreach_batch_writer,
    )

    target = tempfile.mkdtemp(prefix="ksp_cdc_", dir=tmp)
    feed_dir = tempfile.mkdtemp(prefix="ksp_feed_", dir=tmp)
    ckpt = tempfile.mkdtemp(prefix="ksp_ck_", dir=tmp)
    writer = upsert_foreach_batch_writer(target, ["k"], "seq", tombstone_col="cents")
    base = spark.createDataFrame(
        [("k1", 10, 0), ("k2", 20, 0), ("k3", 30, 0)],
        "k string, cents long, seq long",
    )
    writer(base, 10**9)
    q = (
        replay_segments(split_segments(feed, list(order_cols), split), feed_dir)
        # the delivery-order column (if any) is harness-only; the sink
        # sees the CDC triple exactly as stream_cdc_merge_upsert ships it
        .select("k", "cents", "seq")
        .writeStream.foreachBatch(writer)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination()
    return {r["k"]: r["cents"] for r in read_table_version(spark, target).collect()}


def test_cdc_upsert_sink_split_sweep_tombstone_boundaries(spark, tmp_path):
    """``stream_cdc_merge_upsert``'s sink under a micro-batch boundary at
    every interior point of a seq-ordered CDC feed (VERDICT r12 item 4) —
    in particular BETWEEN a key's upsert and its tombstone (k2: update
    then delete), and between a tombstone and the key's re-insert (k3:
    delete then resurrect). Delivery contract: a CDC topic is ordered, so
    arrival order == seq order; under that contract the final pointed-at
    table must equal latest-seq-per-key resolution (tombstone = absent)
    whatever the batching — the version-pointer commit order holds."""
    rows = [
        ("k2", 21, 1),  # update seeded k2
        ("k4", 40, 1),  # fresh insert
        ("k2", None, 2),  # tombstone k2 AFTER its update
        ("k3", None, 2),  # tombstone seeded k3
        ("k3", 31, 3),  # resurrect k3 AFTER its tombstone
        ("k4", 41, 3),  # second update of k4
    ]
    feed = spark.createDataFrame(rows, "k string, cents long, seq long")
    want = {"k1": 10, "k3": 31, "k4": 41}  # k2 deleted, k3 resurrected
    n = len(rows)
    splits = [()] + [(i,) for i in range(1, n)] + [tuple(range(1, n))]
    for split in splits:
        got = _drain_upsert_sink(spark, feed, split, str(tmp_path))
        assert got == want, f"split={split}"


def test_cdc_upsert_sink_cross_batch_order_is_the_authority(spark, tmp_path):
    """Pin the documented ACROSS-batch contract: the incoming batch wins
    over the stored row regardless of seq (Kafka compacted-topic
    semantics — arrival/offset order is the authority; seq only breaks
    ties WITHIN a batch). The same two rows therefore resolve differently
    depending on whether a split separates them: one batch → greatest
    seq wins; split between them → the later BATCH (older seq) wins.
    A producer that emits out of order across batches is violating the
    CDC delivery contract; this pins what the sink does if one does."""
    # arrival models the topic offset: the seq-2 row arrives FIRST
    feed = spark.createDataFrame(
        [(0, "k9", 50, 2), (1, "k9", 49, 1)],
        "arrival long, k string, cents long, seq long",
    )
    # unsplit: both rows land in one micro-batch — seq resolves, 50 wins
    got = _drain_upsert_sink(
        spark, feed, (), str(tmp_path), order_cols=("arrival",)
    )
    assert got["k9"] == 50
    # split between them: the second BATCH's seq-1 row overwrites the
    # stored seq-2 row — arrival order is the cross-batch authority
    got = _drain_upsert_sink(
        spark, feed, (1,), str(tmp_path), order_cols=("arrival",)
    )
    assert got["k9"] == 49
