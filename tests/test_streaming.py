"""Streaming-semantics tests (SURVEY.md §2.9): multi-micro-batch state,
update-mode changelog emission, and watermark late-data handling — the
behaviors the batch oracle cannot see."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from kafka_streams_playground_spark.streaming.ktable import latest_per_key_stream
from kafka_streams_playground_spark.streaming.replay import replay_segments, run_to_completion


def test_ktable_state_across_microbatches(spark, tmp_path):
    """latest_per_key_stream must carry keyed state across micro-batches and
    emit a changelog row per update (KTable semantics, KafkaStreamsApp.scala
    :156-157 + toStream :150)."""
    schema = "user string, val string, version int"
    batches = [
        [("u1", "v1", 1), ("u2", "x1", 1)],
        [("u1", "v2", 2)],  # update for u1 arrives in a later batch
    ]
    sdf = replay_segments([spark.createDataFrame(b, schema) for b in batches], str(tmp_path))
    latest = latest_per_key_stream(
        sdf, keys=["user"], value_cols=["val"], version_col=F.col("version")
    )
    out = run_to_completion(latest, output_mode="update")
    # the drain leaves no memory-sink view behind, and its result still collects
    assert not [t.name for t in spark.catalog.listTables() if t.name.startswith("mem_")]
    rows = [(r["user"], r["val"]) for r in out.collect()]
    # changelog: u1→v1 and u2→x1 from batch 1, then the u1→v2 update
    assert ("u1", "v2") in rows and ("u2", "x1") in rows
    # final state per key = last emission per key
    final = {}
    for u, v in rows:
        final[u] = v
    assert final == {"u1": "v2", "u2": "x1"}


@pytest.mark.slowaudit  # engine-semantics probe (20-50 s), opt-in (pytest.ini)
def test_watermark_finalizes_windows_exactly_once(spark, tmp_path):
    """Append-mode windowed agg: once the watermark finalizes a window it is
    emitted exactly once, and later-arriving rows for it are dropped, not
    re-emitted — the documented semantic delta vs the reference's 24 h grace
    (SURVEY §7.4-3). (Spark's watermark lags one micro-batch for input
    filtering, so the drop is only guaranteed for rows arriving after the
    finalizing batch — hence two late batches here.)"""
    from datetime import datetime

    schema = "user string, ts timestamp"
    batches = [
        [("u1", datetime(2024, 1, 1, 0, 0, 5))],
        [("u1", datetime(2024, 1, 1, 2, 0, 0))],  # advances watermark far past w1
        [("u1", datetime(2024, 1, 1, 2, 0, 1))],  # watermark now committed at ~01:50
        [("u1", datetime(2024, 1, 1, 0, 0, 7))],  # very late → must be dropped
    ]
    sdf = replay_segments([spark.createDataFrame(b, schema) for b in batches], str(tmp_path))
    win = (
        sdf.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 seconds"), "user")
        .count()
    )
    out = run_to_completion(win, output_mode="append")
    rows = [(r["window"]["start"].isoformat(), r["count"]) for r in out.collect()]
    first_window = [c for s, c in rows if s == "2024-01-01T00:00:00"]
    # finalized exactly once, with only the pre-finalization row
    assert first_window == [1]


def test_streaming_matches_batch_q4(spark, sf_dir):
    """End-to-end: the streaming Q4 twin drains to the batch Q4 result."""
    from kafka_streams_playground_spark.plans import REGISTRY

    batch = {tuple(r) for r in REGISTRY["q4_products_per_user_10s"].fn(spark, sf_dir).collect()}
    stream = {
        tuple(r)
        for r in REGISTRY["stream_q4_products_per_user_10s"].fn(spark, sf_dir).collect()
    }
    assert batch == stream


def test_running_count_state_across_microbatches(spark, tmp_path):
    """The custom stateful operator (applyInPandasWithState) must carry its
    per-key counter across micro-batches — the per-record changelog cadence
    of the reference's fold (KafkaStreamsApp.scala:146-152)."""
    from datetime import datetime

    from kafka_streams_playground_spark.streaming.stateful import running_count_per_key

    schema = "event_id long, ts timestamp, user_id long"
    t = datetime(2024, 1, 1)
    batches = [
        [(1, t, 7), (2, t, 8)],
        [(3, t, 7), (4, t, 7)],  # u7's counter must resume at 2
    ]
    sdf = replay_segments([spark.createDataFrame(b, schema) for b in batches], str(tmp_path))
    out = run_to_completion(running_count_per_key(sdf), output_mode="append")
    got = {r["event_id"]: r["running_cnt"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 2, 4: 3}


@pytest.mark.slowaudit  # engine-semantics probe (20-50 s), opt-in (pytest.ini)
def test_stream_stream_left_outer_join_emits_unmatched(spark, tmp_path):
    """Watermarked stream-stream LEFT OUTER join: matched rows emit
    immediately; an unmatched left row is held in state and emitted with
    null right columns only once the watermark passes its join horizon —
    the eviction semantics that bound state at scale (SCALE.md §2)."""
    from datetime import datetime

    lschema = "order_id string, lts timestamp"
    rschema = "pay_id string, order_ref string, rts timestamp"
    t0 = datetime(2024, 1, 1, 0, 0, 0)
    # Both sides must advance: state eviction uses the GLOBAL watermark
    # (min over all inputs), so far-future rows ride both streams.
    left_rows = [
        [("o1", t0), ("o2", t0)],
        [("o_late1", datetime(2024, 1, 1, 3, 0, 0))],
        [("o_late2", datetime(2024, 1, 1, 6, 0, 0))],
    ]
    right_rows = [
        [("p1", "o1", datetime(2024, 1, 1, 0, 1, 0))],
        # far-future payment rows advance the right watermark so o2's
        # horizon (lts + 5 min) is passed and the null-match emits
        [("px", "zz", datetime(2024, 1, 1, 3, 0, 0))],
        [("py", "zz", datetime(2024, 1, 1, 6, 0, 0))],
    ]
    left = replay_segments(
        [spark.createDataFrame(b, lschema) for b in left_rows], str(tmp_path / "l")
    ).withWatermark("lts", "0 seconds")
    right = replay_segments(
        [spark.createDataFrame(b, rschema) for b in right_rows], str(tmp_path / "r")
    ).withWatermark("rts", "0 seconds")
    joined = left.join(
        right,
        F.expr(
            "order_id = order_ref AND rts BETWEEN lts AND lts + INTERVAL 5 MINUTES"
        ),
        "leftOuter",
    )
    out = run_to_completion(joined, output_mode="append")
    rows = {r["order_id"]: r["pay_id"] for r in out.collect()}
    assert rows.get("o1") == "p1"          # matched within the window
    assert "o2" in rows and rows["o2"] is None  # evicted → emitted with nulls


def test_dedup_within_watermark_bounds_state(spark, tmp_path):
    """``dropDuplicatesWithinWatermark``: duplicates arriving inside the
    watermark horizon are suppressed across micro-batches, while the state
    store holds only in-horizon keys (the unbounded-corpus form of
    stream_dedup_exact, SCALE.md §6). A duplicate in a later batch (but
    within the horizon) must NOT re-emit; the advancing watermark lets the
    first-seen row through exactly once."""
    import datetime as dt

    schema = "k string, ts timestamp"
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    batches = [
        [("a", t0), ("b", t0 + dt.timedelta(seconds=5))],
        # duplicate 'a' within the 10 min horizon + one new key
        [("a", t0 + dt.timedelta(seconds=30)), ("c", t0 + dt.timedelta(seconds=40))],
    ]
    sdf = replay_segments([spark.createDataFrame(b, schema) for b in batches], str(tmp_path))
    deduped = sdf.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(["k"])
    out = run_to_completion(deduped, output_mode="append")
    keys = sorted(r["k"] for r in out.collect())
    assert keys == ["a", "b", "c"]


def test_asof_state_across_microbatches(spark, tmp_path):
    """The streaming as-of join must carry the last-click state across
    micro-batches: a purchase in batch 2 must see the click from batch 1,
    and a newer batch-2 click must supersede it for later purchases."""
    from datetime import datetime

    from kafka_streams_playground_spark.streaming.stateful import asof_join_per_key

    schema = "event_id long, ts timestamp, user_id long, event_type string"
    t = datetime(2024, 1, 1, 0, 0)

    def at(s):
        return datetime(2024, 1, 1, 0, 0, s)

    batches = [
        [(1, at(0), 7, "click"), (2, at(5), 8, "purchase")],
        [
            (3, at(10), 7, "purchase"),  # sees click 1 from batch 1
            (4, at(20), 7, "click"),
            (5, at(30), 7, "purchase"),  # sees click 4 from same batch
        ],
    ]
    sdf = replay_segments([spark.createDataFrame(b, schema) for b in batches], str(tmp_path))
    out = run_to_completion(asof_join_per_key(sdf), output_mode="append")
    got = {r["event_id"]: (r["last_click_id"], r["last_click_epoch"]) for r in out.collect()}
    t0 = int(at(0).timestamp())
    t20 = int(at(20).timestamp())
    assert got[2] == (None, None)  # user 8 never clicked
    assert got[3] == (1, t0)       # cross-batch state carry
    assert got[5] == (4, t20)      # newer click supersedes


def test_ewma_state_across_microbatches(spark, tmp_path):
    """The streaming EWMA must carry the last-8-days state across
    micro-batches: a day arriving in batch 2 decays the days emitted from
    batch 1 (taps 2^7, 2^6, ...), and a same-day continuation folds into
    the existing day instead of opening a new tap."""
    from datetime import datetime

    from kafka_streams_playground_spark.streaming.stateful import ewma_per_key

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"

    def day(n):  # n days after epoch-ish anchor, at noon
        return datetime(2024, 1, 1 + n, 12, 0)

    batches = [
        [(1, day(0), 7, "purchase", 1.0), (2, day(1), 7, "purchase", 2.0)],
        [
            (3, day(1), 7, "purchase", 0.5),   # same-day continuation of day 1
            (4, day(2), 7, "purchase", 4.0),   # new day: decays days 0 and 1
        ],
    ]
    sdf = replay_segments([spark.createDataFrame(b, schema) for b in batches], str(tmp_path))
    out = run_to_completion(ewma_per_key(sdf), output_mode="append")
    rows = sorted(out.collect(), key=lambda r: (r["day_epoch"], r["ewma_cents_q8"]))
    # batch 1: day0 = 100c -> 100*128; day1 = 200c -> 200*128 + 100*64
    # batch 2 re-emits day1 folded to 250c, then day2 = 400c over (100, 250, 400)
    got = [(r["cents"], r["ewma_cents_q8"]) for r in rows]
    assert (100, 100 * 128) in got
    assert (200, 200 * 128 + 100 * 64) in got
    assert (250, 250 * 128 + 100 * 64) in got          # same-day fold re-emission
    assert (400, 400 * 128 + 250 * 64 + 100 * 32) in got


@pytest.mark.slowaudit  # engine-semantics probe (20-50 s), opt-in (pytest.ini)
def test_stream_stream_full_outer_join_emits_both_sides(spark, tmp_path):
    """Watermarked stream-stream FULL OUTER join (the remaining member of
    the §2.3 outer-join matrix; interval_join exposes it via how=
    "fullOuter"): matched rows emit immediately; an unmatched LEFT row
    null-pads once the watermark passes its horizon; an unmatched RIGHT
    row null-pads on its own state eviction. (The right side's exact
    eviction instant depends on Spark-internal state-watermark margins —
    rows that can never match any key may bypass state entirely — so this
    unit pins the guaranteed outcomes, not an instant-exact oracle; the
    left-outer twin carries the value-exact eviction oracle.)"""
    from datetime import datetime

    lschema = "order_id string, lts timestamp"
    rschema = "pay_id string, order_ref string, rts timestamp"
    t0 = datetime(2024, 1, 1, 0, 0, 0)
    left_rows = [
        [("o1", t0), ("o2", t0)],
        [("o_late1", datetime(2024, 1, 1, 3, 0, 0))],
        [("o_late2", datetime(2024, 1, 1, 6, 0, 0))],
    ]
    right_rows = [
        # p1 matches o1; p_orphan references a key with no left row
        [("p1", "o1", datetime(2024, 1, 1, 0, 1, 0)),
         ("p_orphan", "nope", datetime(2024, 1, 1, 0, 1, 0))],
        [("px", "zz", datetime(2024, 1, 1, 3, 0, 0))],
        [("py", "zz", datetime(2024, 1, 1, 6, 0, 0))],
    ]
    left = replay_segments(
        [spark.createDataFrame(b, lschema) for b in left_rows], str(tmp_path / "l")
    ).withWatermark("lts", "0 seconds")
    right = replay_segments(
        [spark.createDataFrame(b, rschema) for b in right_rows], str(tmp_path / "r")
    ).withWatermark("rts", "0 seconds")
    joined = left.join(
        right,
        F.expr(
            "order_id = order_ref AND rts BETWEEN lts AND lts + INTERVAL 5 MINUTES"
        ),
        "fullOuter",
    )
    out = run_to_completion(joined, output_mode="append")
    rows = out.collect()
    by_order = {r["order_id"]: r for r in rows if r["order_id"] is not None}
    right_padded = {r["pay_id"] for r in rows if r["order_id"] is None}
    assert by_order["o1"]["pay_id"] == "p1"       # matched
    assert by_order["o2"]["pay_id"] is None       # left evicted → null-padded
    assert "p_orphan" in right_padded             # unmatched right emits too
    # matched pair must not ALSO appear null-padded (no double emission)
    assert "p1" not in right_padded


def test_cusum_state_across_microbatches(spark, tmp_path):
    """The streaming CUSUM must carry the chart statistic across
    micro-batches: the vectorized prefix-identity fold composed over
    batch boundaries must equal the plain sequential recurrence
    s_t = max(0, s_{t-1} + inc_t) over the full event sequence —
    including a boundary where s is strictly positive (the carry case)
    and a mid-sequence reset to 0."""
    from datetime import datetime, timedelta

    from kafka_streams_playground_spark.streaming.stateful import cusum_per_key
    from kafka_streams_playground_spark.plans.temporal import CUSUM_H_CENTS

    schema = (
        "event_id long, event_type string, ts timestamp, cents long, "
        "n long, inc long"
    )
    t0 = datetime(2024, 1, 1)
    # hand-picked increments: rise (+5, +7), dip below zero (-20 → reset),
    # rise again across the batch boundary (+9 | +4, +1)
    incs = [5, 7, -20, 9, 4, 1]
    rows = [
        (i + 1, "t", t0 + timedelta(seconds=i), 100 + i, 1, inc)
        for i, inc in enumerate(incs)
    ]
    batches = [rows[:4], rows[4:]]
    sdf = replay_segments([spark.createDataFrame(b, schema) for b in batches], str(tmp_path))
    out = run_to_completion(cusum_per_key(sdf), output_mode="append")
    got = {r["event_id"]: r["cusum_xn"] for r in out.collect()}
    s, want = 0, {}
    for i, inc in enumerate(incs):
        s = max(0, s + inc)
        want[i + 1] = s
    assert got == want, (got, want)
    # alarm rule sanity on the same rows (n=1 → threshold = H)
    alarms = {r["event_id"]: r["alarm"] for r in out.collect()}
    assert all(a == int(want[e] > CUSUM_H_CENTS) for e, a in alarms.items())


def test_kmv_sketch_state_across_microbatches(spark, tmp_path):
    """The streaming KMV state must fold associatively across
    micro-batches: after replaying hashes split over three batches (with
    cross-batch duplicates), the final emission per key equals the
    bottom-K of the full distinct union."""

    from kafka_streams_playground_spark.plans.relational import KMV_K
    from kafka_streams_playground_spark.streaming.stateful import kmv_sketch_per_key

    schema = "event_type string, hv long"
    b1 = [("a", h) for h in (5, 3, 9, 3)] + [("b", 100)]
    b2 = [("a", h) for h in (1, 9, 7)]          # 9 duplicates batch 1
    b3 = [("a", 2), ("b", 50), ("b", 100)]      # 100 duplicates batch 1
    batches = [b1, b2, b3]
    sdf = replay_segments([spark.createDataFrame(b, schema) for b in batches], str(tmp_path))
    out = run_to_completion(kmv_sketch_per_key(sdf), output_mode="update")
    rows = out.collect()
    # update mode emits once per key per batch; the LAST row per key is
    # the final state (rows arrive in batch order within the sink)
    final = {}
    for r in rows:
        final[r["event_type"]] = (r["k_n"], r["kth"])
    a_union = sorted({5, 3, 9, 1, 7, 2})[:KMV_K]
    b_union = sorted({100, 50})[:KMV_K]
    assert final["a"] == (len(a_union), a_union[-1])
    assert final["b"] == (len(b_union), b_union[-1])


def test_ols_running_fold_across_microbatches_equals_batch(spark, tmp_path):
    """stream_stats_ols_by_nation's mergeability claim, pinned for real:
    the running sufficient-statistics aggregate folded across SEPARATE
    micro-batches, drained and assembled from the last emission per group,
    must equal the one-shot batch normal-equation fit over the union —
    exact decimal sums make micro-batch boundaries invisible."""
    from kafka_streams_playground_spark.plans.northstar_stats import (
        ols_assemble,
        ols_sufficient_stats,
    )

    schema = "n_name string, xr long, yr long"
    b1 = [("A", 1, 120), ("A", 2, 230), ("B", 5, 400)]
    b2 = [("A", 3, 290), ("B", 7, 660), ("B", 2, 180), ("A", 1, 130)]
    sdf = replay_segments([spark.createDataFrame(b, schema) for b in (b1, b2)], str(tmp_path))

    def pts(df):
        return df.select(
            "n_name",
            F.col("xr").cast("decimal(38,0)").alias("x"),
            F.col("yr").cast("decimal(38,0)").alias("y"),
        )

    drained = run_to_completion(ols_sufficient_stats(pts(sdf)), output_mode="update")
    # at least one group must have emitted in BOTH micro-batches, or the
    # test isn't exercising cross-batch state at all
    assert drained.count() > drained.select("n_name").distinct().count()
    from pyspark.sql import Window as W

    last = (
        drained.withColumn(
            "rn", F.row_number().over(W.partitionBy("n_name").orderBy(F.col("n").desc()))
        )
        .filter("rn = 1")
        .drop("rn")
    )
    got = {r["n_name"]: (r["n_points"], r["slope_e6"], r["intercept_e6"])
           for r in ols_assemble(last).collect()}

    both = spark.createDataFrame(b1 + b2, schema)
    want = {r["n_name"]: (r["n_points"], r["slope_e6"], r["intercept_e6"])
            for r in ols_assemble(ols_sufficient_stats(pts(both))).collect()}
    assert got == want and set(got) == {"A", "B"}


def test_checkpoint_restart_carries_keyed_state(spark, tmp_path):
    """Structured Streaming's fault-tolerance contract, pinned: stop a
    checkpointed keyed aggregation, add data, restart the SAME plan on the
    SAME checkpoint — the restarted query must resume the state store (the
    post-restart emission reflects ALL rows ever seen, not a recount of
    the new file alone) and must not re-emit already-committed batches.
    This is what makes day-long ingest state durable across driver loss;
    the engine's durable-sink path (sources/sinks.py) rides the same
    checkpoint machinery. The first run is pinned to 32 partitions on the
    HDFS-backed provider; the restart under the session defaults (the
    cores, RocksDB) must keep both, while a fresh checkpoint takes the
    defaults and writes RocksDB changelog files."""
    import os
    import shutil

    from kafka_streams_playground_spark.session import configure_runtime

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    fresh = str(tmp_path / "fresh")
    schema = "user string, v int"
    spark.createDataFrame([("u1", 1), ("u1", 1), ("u2", 1)], schema).coalesce(
        1
    ).write.mode("overwrite").parquet(src)

    def start(sink_rows, location=ckpt):
        # memory sink refuses checkpoint recovery; foreachBatch is the
        # restartable sink surface (the one sources/sinks.py builds on)
        sdf = spark.readStream.schema(schema).parquet(src)
        agg = sdf.groupBy("user").agg(F.count(F.lit(1)).alias("cnt"))
        return (
            agg.writeStream.foreachBatch(
                lambda df, bid: sink_rows.extend(df.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", location)
            .start()
        )

    def state_files(location, suffix):
        return [
            f
            for _, _, files in os.walk(f"{location}/state")
            for f in files
            if f.endswith(suffix)
        ]

    key = "spark.sql.shuffle.partitions"
    provider = "spark.sql.streaming.stateStore.providerClass"
    old = {k: spark.conf.get(k) for k in (key, provider)}
    try:
        spark.conf.set(key, "32")
        spark.conf.set(
            provider,
            "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
        )
        run1: list = []
        q = start(run1)
        q.processAllAvailable()
        q.stop()
        first = {r["user"]: r["cnt"] for r in run1}
        assert first == {"u1": 2, "u2": 1}

        # a new file lands while the query is DOWN
        spark.createDataFrame([("u1", 1)], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

        # restart under the session defaults: the checkpoint keeps the 32
        # state partitions and the provider it was started with
        spark.conf.unset(key)
        spark.conf.unset(provider)
        configure_runtime(spark)
        run2: list = []
        q2 = start(run2)
        q2.processAllAvailable()
        q2.stop()
        emitted = {r["user"]: r["cnt"] for r in run2}
        # state resumed: u1's count continues from 2 -> 3; u2 unchanged and
        # (update mode) NOT re-emitted after restart
        assert emitted == {"u1": 3}, emitted
        assert q2.lastProgress["stateOperators"][0]["numShufflePartitions"] == 32
        assert state_files(ckpt, ".delta")
        assert not state_files(ckpt, ".changelog")

        q3 = start([], fresh)
        q3.processAllAvailable()
        q3.stop()
        assert state_files(fresh, ".changelog")
        assert not state_files(fresh, ".delta")
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(fresh, ignore_errors=True)


def test_upsert_sink_materializes_latest_per_key(spark, sf_dir, tmp_path):
    """Replaying the events stream through the upsert sink must leave a
    table equal to batch latest-per-key — the KTable→table materialization
    contract — and re-running a batch id must be idempotent."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from kafka_streams_playground_spark.sources.parquet import load_table
    from kafka_streams_playground_spark.sources.sinks import (
        upsert_foreach_batch_writer,
    )
    from kafka_streams_playground_spark.streaming.replay import read_stream_table

    target = str(tmp_path / "ktable")
    writer = upsert_foreach_batch_writer(target, ["user_id"], "ts")
    stream = read_stream_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    q = (
        stream.writeStream.foreachBatch(writer)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    current = open(f"{target}/_current", "rb").read()[2:].decode()  # writeUTF: 2-byte len
    got = spark.read.parquet(f"{target}/{current}")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc())
    want = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_id", "ts", "value")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    assert got.count() == want.count()
    g = {r["user_id"]: r["ts"] for r in got.collect()}
    x = {r["user_id"]: r["ts"] for r in want.collect()}
    assert g == x

    # idempotence: re-applying a batch rewrites the same version in place —
    # the table stays latest-per-key with unchanged cardinality
    full = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    writer(full, 0)
    writer(full, 0)
    current2 = open(f"{target}/_current", "rb").read()[2:].decode()
    got2 = spark.read.parquet(f"{target}/{current2}")
    assert got2.count() == want.count()


def test_upsert_sink_runs_each_batch_once(spark, tmp_path):
    """The upsert sink must read its micro-batch once: a second read runs
    the stateful aggregation feeding it again. A counting UDF on the
    aggregation's output sees every emitted row exactly once."""
    from kafka_streams_playground_spark.sources.sinks import (
        upsert_foreach_batch_writer,
    )

    src = str(tmp_path / "src")
    schema = "user string, v int"
    seen = spark.sparkContext.accumulator(0)

    def tally(user):
        seen.add(1)
        return user

    counted = F.udf(tally, "string")
    writer = upsert_foreach_batch_writer(str(tmp_path / "t"), ["user"], "cnt")
    q = None
    try:
        for rows in ([("u1", 1), ("u2", 1)], [("u1", 1), ("u3", 1)]):
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            if q is None:
                agg = (
                    spark.readStream.schema(schema)
                    .parquet(src)
                    .groupBy("user")
                    .agg(F.count(F.lit(1)).alias("cnt"))
                    .select(counted("user").alias("user"), "cnt")
                )
                q = (
                    agg.writeStream.foreachBatch(writer)
                    .outputMode("update")
                    .option("checkpointLocation", str(tmp_path / "ckpt"))
                    .start()
                )
            q.processAllAvailable()
    finally:
        if q is not None:
            q.stop()
    # update mode emits each touched key once per batch: 2 + 2 rows
    assert seen.value == 4


def test_stream_source_cap_equals_batch_kept_set(spark, sf_dir):
    """The streaming per-source top-K store must drain exactly the batch
    cap's kept prefix — same (source, doc_id, logit, rank) quadruples."""
    from kafka_streams_playground_spark.plans import REGISTRY

    got = sorted(
        (r["source"], r["doc_id"], r["logit_e6"], r["quality_rank"])
        for r in REGISTRY["stream_curation_source_cap"].fn(spark, sf_dir).collect()
    )
    want = sorted(
        (r["source"], r["doc_id"], r["logit_e6"], r["quality_rank"])
        for r in REGISTRY["curation_source_cap"].fn(spark, sf_dir).collect()
        if r["kept"] == 1
    )
    assert got == want and len(got) > 0


def test_stream_hll_matches_batch_registers(spark, sf_dir):
    """The drained streaming HLL state must be bit-equal to the batch
    sketch's per-type rows (register merge is associative, so the
    micro-batch fold and the one-shot batch agg share a fixed point)."""
    from kafka_streams_playground_spark.plans import REGISTRY

    from kafka_streams_playground_spark.plans.relational import (
        HLL_ALPHA_M2_E6,
        HLL_LC_EST,
        HLL_LC_THRESH,
    )

    got = sorted(
        (r["event_type"], r["mmax"], r["s_scaled"], r["n_zero_regs"], r["est_distinct"])
        for r in REGISTRY["stream_hll_distinct_by_type"].fn(spark, sf_dir).collect()
    )
    batch = sorted(
        (r["scope"], r["mmax"], r["s_scaled"], r["n_zero_regs"], r["est_distinct"])
        for r in REGISTRY["agg_hll_merge_by_type"].fn(spark, sf_dir).collect()
        if r["scope"] != "__all__"
    )
    assert len(got) == len(batch) > 0
    for (gk, gmx, gs, gz, gest), (bk, bmx, bs, bz, best) in zip(got, batch):
        # registers are bit-equal; the batch side layers the linear-
        # counting correction on the same registers, the stream side
        # emits the raw estimator (its monitor consumers correct lazily).
        assert (gk, gmx, gs, gz) == (bk, bmx, bs, bz)
        raw = (HLL_ALPHA_M2_E6 * (1 << gmx)) // (gs * 1000000)
        assert gest == raw
        want = (
            HLL_LC_EST[gz - 1] if gz > 0 and raw <= HLL_LC_THRESH else raw
        )
        assert best == want


def test_stream_cdc_merge_upsert_matches_batch(spark, sf_dir):
    """The streamed MERGE sink (tombstone deletes + upserts through
    upsert_foreach_batch_writer) must land exactly the table the batch
    full-outer MERGE computes, lineage column included."""
    from kafka_streams_playground_spark.plans import REGISTRY

    got = sorted(
        tuple(r)
        for r in REGISTRY["stream_cdc_merge_upsert"].fn(spark, sf_dir).collect()
    )
    want = sorted(
        tuple(r) for r in REGISTRY["cdc_merge_upsert"].fn(spark, sf_dir).collect()
    )
    assert got == want and len(got) > 0
    # all three merge actions are exercised
    assert {t[2] for t in got} == {"kept", "updated", "inserted"}


def test_stream_ivm_join_view_matches_batch(spark, sf_dir):
    """Single-side delta-join maintenance through real streaming state:
    v_old + drained(A ⋈ ΔB) must equal the monolithic recompute (which is
    what the shared batch oracle checks), and the delta must be non-empty
    so the streamed term actually contributes."""
    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.sources.parquet import load_table

    got = {
        (r["o_orderstatus"], r["l_returnflag"]): (r["n_rows"], r["sum_cents"])
        for r in REGISTRY["stream_ivm_incremental_join_view"].fn(spark, sf_dir).collect()
    }
    want = {
        (r["o_orderstatus"], r["l_returnflag"]): (r["n_rows"], r["sum_cents"])
        for r in REGISTRY["ivm_incremental_join_view"].fn(spark, sf_dir).collect()
    }
    assert got == want and len(got) > 0
    n_delta = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_linenumber") % 3 == 0)
        .count()
    )
    assert n_delta > 0


def test_stream_rrf_fusion_matches_batch(spark, sf_dir):
    """Streamed index-stat state + complete-mode cosine leaderboard must
    fuse to exactly the batch RRF ranking."""
    from kafka_streams_playground_spark.plans import REGISTRY

    got = [
        tuple(r)
        for r in REGISTRY["stream_retrieval_rrf_fusion"].fn(spark, sf_dir).collect()
    ]
    want = [
        tuple(r) for r in REGISTRY["retrieval_rrf_fusion"].fn(spark, sf_dir).collect()
    ]
    assert got == want and len(got) > 0


def test_weighted_reservoir_state_across_microbatches(spark, tmp_path):
    """The reservoir must MERGE across micro-batches (top-k of state ∪
    batch): replay two batches whose union's top-k differs from either
    batch's own, and check the drained final emission equals the top-k
    over the union computed by a hashlib mirror of the clock."""
    import hashlib
    import math

    from kafka_streams_playground_spark.plans.northstar_curation import (
        AES_K,
        AES_U_DEN,
    )
    from kafka_streams_playground_spark.streaming.replay import run_to_completion
    from kafka_streams_playground_spark.streaming.stateful import (
        weighted_reservoir_per_key,
    )

    schema = "doc_id long, lang string, n_chars long"
    rows = [(i, "xx", 50 + 7 * (i % 9)) for i in range(60)]
    batches = [rows[:30], rows[30:]]
    sdf = replay_segments([spark.createDataFrame(b, schema) for b in batches], str(tmp_path))
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("aes:"), F.col("doc_id").cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")
    scored = sdf.select(
        "lang",
        "doc_id",
        "n_chars",
        F.floor(F.log((h + 0.5) / AES_U_DEN) / F.col("n_chars") * 1000000000 + F.lit(0.5))
        .cast("long")
        .alias("clock9"),
    )
    out = run_to_completion(weighted_reservoir_per_key(scored), output_mode="update")
    # final state = last emission per (lang, rank)
    final = {}
    for r in out.collect():
        final[(r["lang"], r["rank"])] = (r["doc_id"], r["clock9"])

    def clock(doc_id: int, n_chars: int) -> int:
        hv = int(hashlib.md5(f"aes:{doc_id}".encode()).hexdigest()[:8], 16)
        return math.floor(math.log((hv + 0.5) / AES_U_DEN) / n_chars * 1e9 + 0.5)

    want = sorted(
        ((clock(d, n), d, n) for d, _, n in rows), key=lambda t: (-t[0], t[1])
    )[:AES_K]
    got = [final[("xx", i + 1)] for i in range(len(want))]
    assert got == [(d, c) for c, d, _ in want]
    # the merged top-k straddles both micro-batches (the merge mattered)
    ids = {d for d, _ in got}
    assert ids & {r[0] for r in rows[:30]} and ids & {r[0] for r in rows[30:]}


def test_stream_countmin_matches_batch(spark, sf_dir):
    """Per-event counter increments drained from streaming state must equal
    the batch sketch built from per-user counts (sums commute)."""
    from kafka_streams_playground_spark.plans import REGISTRY

    got = sorted(
        tuple(r)
        for r in REGISTRY["stream_stats_countmin_user_traffic"].fn(spark, sf_dir).collect()
    )
    want = sorted(
        tuple(r)
        for r in REGISTRY["stats_countmin_user_traffic"].fn(spark, sf_dir).collect()
    )
    assert got == want and len(got) > 0


def test_stream_privacy_audit_matches_batch(spark, sf_dir):
    """The live equivalence-class census must roll up to exactly the batch
    k-anonymity report."""
    from kafka_streams_playground_spark.plans import REGISTRY

    got = sorted(
        tuple(r)
        for r in REGISTRY["stream_privacy_k_anonymity"].fn(spark, sf_dir).collect()
    )
    want = sorted(
        tuple(r)
        for r in REGISTRY["privacy_k_anonymity_audit"].fn(spark, sf_dir).collect()
    )
    assert got == want and len(got) > 0


def test_stream_source_overlap_sketch_merges_across_batches(spark, tmp_path):
    """kmv_sketch_rows_per_source: the keyed bottom-K state folded over TWO
    micro-batches must equal the bottom-K of the union (associativity),
    and the final emission per source is exactly that sketch."""
    import hashlib

    from kafka_streams_playground_spark.plans.northstar_stats import SRC_KMV_K
    from kafka_streams_playground_spark.streaming.replay import run_to_completion
    from kafka_streams_playground_spark.streaming.stateful import (
        kmv_sketch_rows_per_source,
    )

    schema = "source string, hv long"

    def hv(i: int) -> int:
        return int(hashlib.md5(f"x{i}".encode()).hexdigest()[:8], 16)

    # 300 + 300 hashes per source (with overlap) → union > K = 256
    b1 = [("sA", hv(i)) for i in range(300)] + [("sB", hv(i)) for i in range(200, 500)]
    b2 = [("sA", hv(i)) for i in range(150, 450)] + [("sB", hv(i)) for i in range(400, 700)]
    batches = [b1, b2]
    sdf = replay_segments([spark.createDataFrame(b, schema) for b in batches], str(tmp_path))
    out = run_to_completion(kmv_sketch_rows_per_source(sdf), output_mode="update")
    # update mode re-emits the full sketch per batch; keep the LAST
    # emission per source = the union sketch. Dedup via set-of-pairs per
    # source after filtering to the final (largest) emission set: the
    # second batch's emission is a superset-refinement — reconstruct by
    # taking the bottom-K of all emitted hvs per source, which equals the
    # final emission because sketches only ever shrink element-wise.
    got = {}
    for r in out.collect():
        got.setdefault(r["src"], set()).add(r["hv"])
    for src, batches in (("sA", (range(300), range(150, 450))),
                         ("sB", (range(200, 500), range(400, 700)))):
        union = {hv(i) for rng in batches for i in rng}
        want = set(sorted(union)[:SRC_KMV_K])
        assert want <= got[src]
        # and the final sketch (bottom-K of everything emitted) is exact
        assert set(sorted(got[src])[:SRC_KMV_K]) == want


def test_stream_interval_overlap_join_matches_batch(spark, sf_dir):
    """The watermarked bin-keyed stream-stream interval join must emit
    exactly the batch grid-binned join's pair set (which itself is
    value-checked against the naive quadratic range join) — completeness
    AND no inventions through the streaming state path."""
    from kafka_streams_playground_spark.plans import REGISTRY

    got = sorted(
        tuple(r)
        for r in REGISTRY["stream_join_interval_overlap_bins"].fn(spark, sf_dir).collect()
    )
    want = sorted(
        tuple(r)
        for r in REGISTRY["join_interval_overlap_bins"].fn(spark, sf_dir).collect()
    )
    assert got == want and len(got) > 0


def test_stream_centroid_outliers_matches_batch(spark, sf_dir):
    """Score-at-ingest centroid distances: stateless scoring + post-drain
    top-k must equal the batch audit row-for-row."""
    from kafka_streams_playground_spark.plans import REGISTRY

    got = sorted(
        tuple(r)
        for r in REGISTRY["stream_embedding_centroid_outliers"].fn(spark, sf_dir).collect()
    )
    want = sorted(
        tuple(r)
        for r in REGISTRY["embedding_centroid_outliers"].fn(spark, sf_dir).collect()
    )
    assert got == want and len(got) > 0


def test_stream_welch_matches_batch(spark, sf_dir):
    """Accumulate-at-ingest Welch: the six keyed-state sums drain to the
    batch sufficient statistics, so the t² epilogue matches exactly."""
    from kafka_streams_playground_spark.plans import REGISTRY

    got = sorted(
        tuple(r)
        for r in REGISTRY["stream_stats_welch_ttest_halves"].fn(spark, sf_dir).collect()
    )
    want = sorted(
        tuple(r)
        for r in REGISTRY["stats_welch_ttest_halves"].fn(spark, sf_dir).collect()
    )
    assert got == want and len(got) > 0


@pytest.mark.slowaudit  # engine-semantics probe (20-50 s), opt-in (pytest.ini)
def test_stream_interval_join_state_across_microbatches(spark, tmp_path):
    """The bin-keyed stream-stream interval join must pair intervals that
    arrive in DIFFERENT micro-batches on the two sides — the keyed join
    state carries across batches (single-batch drain equality cannot see
    this). Each expected pair has its session and burst in opposite
    batches."""
    from kafka_streams_playground_spark.plans.temporal import OVERLAP_BIN_S

    s_schema = "user_id long, session_no long, s_start long, s_end long"
    b_schema = "event_type string, burst_no long, b_start long, b_end long"
    # Timestamps sit well above epoch 0: a bin at ts=0 is evictable by the
    # INITIAL watermark (0) before the other side's batch arrives — the
    # eviction contract, not a bug (a row for a watermark-passed bin would
    # itself be too late to join).
    s_batches = [[(1, 1, 200000, 207000)], [(2, 1, 250000, 260000)]]
    b_batches = [[("x", 1, 255000, 258000)], [("y", 1, 201000, 203000)]]

    def bins(batches, schema, start, end, bcol, tcol):
        sdf = replay_segments(
            [spark.createDataFrame(b, schema) for b in batches], str(tmp_path / bcol)
        )
        return sdf.select(
            "*",
            F.explode(
                F.sequence(
                    F.expr(f"{start} div {OVERLAP_BIN_S}"),
                    F.expr(f"{end} div {OVERLAP_BIN_S}"),
                )
            ).alias(bcol),
        ).withColumn(
            tcol, F.timestamp_seconds(F.col(bcol) * OVERLAP_BIN_S)
        ).withWatermark(tcol, "24 hours")

    sb = bins(s_batches, s_schema, "s_start", "s_end", "sbin", "sbin_ts")
    bb = bins(b_batches, b_schema, "b_start", "b_end", "bbin", "bbin_ts")
    joined = sb.join(bb, F.col("sbin_ts") == F.col("bbin_ts")).filter(
        (F.col("s_start") <= F.col("b_end")) & (F.col("b_start") <= F.col("s_end"))
    )
    out = run_to_completion(
        joined.select("user_id", "session_no", "event_type", "burst_no"),
        output_mode="append",
    )
    pairs = {tuple(r) for r in out.collect()}
    # session from batch 1 x burst from batch 2, and vice versa
    assert pairs == {(1, 1, "y", 1), (2, 1, "x", 1)}


def test_stream_welch_sums_accumulate_across_microbatches(spark, tmp_path):
    """The six Welch sufficient sums are keyed streaming state: with the
    events split across two micro-batches, the FINAL update-mode emission
    must carry the sums over BOTH batches (associative accumulation), and
    the epilogue over that state must equal the whole-data statistic."""
    from kafka_streams_playground_spark.plans.northstar_stats import (
        welch_epilogue,
        welch_sufficient_sums,
    )

    schema = "event_id long, event_type string, value double"
    vals = [float(i % 7) + 0.25 * (i % 3) for i in range(20)]
    batches = [
        [(i, "t", vals[i]) for i in range(10)],
        [(i, "t", vals[i]) for i in range(10, 20)],
    ]
    sdf = replay_segments([spark.createDataFrame(b, schema) for b in batches], str(tmp_path))
    e = sdf.select(
        "event_type",
        (F.col("event_id") % 2).alias("half"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("c"),
    )
    # the SHARED aggregate (q sums DECIMAL(38,0)-widened inside the fold)
    drained = run_to_completion(welch_sufficient_sums(e), output_mode="update")
    # the SHARED final-state reduce (max monotone counter per key)
    from kafka_streams_playground_spark.streaming.replay import latest_update_state

    final = latest_update_state(drained, "event_type", F.col("n0") + F.col("n1"))
    import math

    cents = [math.floor(v * 100 + 0.5) for v in vals]
    a = [c for i, c in enumerate(cents) if i % 2 == 0]
    b = [c for i, c in enumerate(cents) if i % 2 == 1]
    r = final.collect()[0]
    assert (r["n0"], r["s0"], r["q0"]) == (len(a), sum(a), sum(x * x for x in a))
    assert (r["n1"], r["s1"], r["q1"]) == (len(b), sum(b), sum(x * x for x in b))
    # the epilogue over the accumulated state is well-formed
    ep = welch_epilogue(final.localCheckpoint(eager=True)).collect()
    assert len(ep) == 1 and ep[0]["t2_milli"] >= 0


def test_stream_chi2_matches_batch(spark, sf_dir):
    """Accumulate-at-ingest categorical drift: the keyed contingency rows
    drain to the batch counts (max-(n_a+n_b) reduce), so the shared
    margins/per-cell/global epilogue matches exactly."""
    from kafka_streams_playground_spark.plans import REGISTRY

    got = sorted(
        tuple(r)
        for r in REGISTRY["stream_drift_chi2_event_type_halves"]
        .fn(spark, sf_dir)
        .collect()
    )
    want = sorted(
        tuple(r)
        for r in REGISTRY["drift_chi2_event_type_halves"].fn(spark, sf_dir).collect()
    )
    assert got == want and len(got) > 0


def test_stream_trend_panel_twins_match_batch(spark, sf_dir):
    """The three trend-panel twins (VERDICT r10 item 5) equal their batch
    forms row for row: all three reduce to the per-(type, day) cent-sum
    grid, accumulated at ingest by the shared _day_grid_update_state
    substrate and fed through the SAME epilogue the batch query uses —
    so drained state == batch grid implies result equality, which this
    pins end to end."""
    from kafka_streams_playground_spark.plans import REGISTRY

    for name in (
        "ts_mann_kendall_trend",
        "ts_theil_sen_daily_trend",
        "ts_spearman_daily_trend",
    ):
        got = sorted(
            tuple(r) for r in REGISTRY[f"stream_{name}"].fn(spark, sf_dir).collect()
        )
        want = sorted(tuple(r) for r in REGISTRY[name].fn(spark, sf_dir).collect())
        assert got == want and len(got) > 0, name


def test_session_gap_boundary_semantics_match_batch_and_stream(spark):
    """The sessionizer boundary semantics pinned at the exact threshold —
    the ROUND-11 FIX this test exposed: Spark's session_window (and Kafka
    Streams' inclusive inactivity gap) MERGE two events exactly GAP
    seconds apart, while the batch islands rule used >= gap and split
    them. The fixtures never land on the exact boundary (sub-second
    timestamps vs a 6 h gap), so every fixture-level equality test passed
    with the mismatch latent. Both engines now use strict > to open: the
    interval relations must agree at gap-1 (merge), gap (MERGE — the case
    that used to disagree), and gap+1 (split)."""
    from datetime import datetime, timedelta

    from kafka_streams_playground_spark.plans import REGISTRY  # noqa: F401
    from kafka_streams_playground_spark.plans.temporal import interval_islands
    from kafka_streams_playground_spark.streaming.queries import (
        _session_window_intervals,
    )

    gap = 600
    t0 = datetime(2024, 3, 1, 12, 0, 0)
    rows = [
        # u1: EXACTLY gap apart -> ONE merged session in both engines
        (1, t0),
        (1, t0 + timedelta(seconds=gap)),
        # u2: gap-1 apart -> one session
        (2, t0),
        (2, t0 + timedelta(seconds=gap - 1)),
        # u3: gap+1 apart -> two sessions
        (3, t0),
        (3, t0 + timedelta(seconds=gap + 1)),
    ]
    events = spark.createDataFrame(rows, "user_id long, ts timestamp").withColumn(
        "event_id", F.monotonically_increasing_id()
    )
    want = sorted(
        (r["user_id"], r["session_no"], r["i_start"], r["i_end"])
        for r in interval_islands(events, "user_id", "session_no", gap).collect()
    )
    got = sorted(
        (r["user_id"], r["session_no"], r["i_start"], r["i_end"])
        for r in _session_window_intervals(
            spark, events, "user_id", gap, "session_no"
        ).collect()
    )
    assert got == want
    per_user = {u: sum(1 for g in got if g[0] == u) for u in (1, 2, 3)}
    assert per_user == {1: 1, 2: 1, 3: 2}


def test_append_session_windows_empty_input(spark):
    """_append_session_windows on an EMPTY relation must drain to zero
    rows instead of crashing on the all-NULL sentinel (int(None) /
    null-ts session_window) — the guard the production path needs when
    a filtered feed goes quiet."""
    from kafka_streams_playground_spark.streaming.queries import (
        _append_session_windows,
    )

    empty = spark.createDataFrame([], "user_id long, ts timestamp")
    out = _append_session_windows(
        empty, "user_id", 600, [F.count(F.lit(1)).alias("n_events")]
    )
    assert out.count() == 0


def test_append_session_windows_unorderable_payload_column(spark):
    """The flush sentinel must be buildable when the projection carries a
    NON-ORDERABLE payload column (ADVICE r11): the old sentinel took
    F.max over EVERY column, which crashes on a map-typed payload; the
    fixed sentinel aggregates only (key, ts) and fills payloads with
    typed NULLs — which also makes explicit that sentinel payload values
    never reach the output. Pins both the no-crash and the unchanged
    session result."""
    from datetime import datetime

    from kafka_streams_playground_spark.plans import REGISTRY  # noqa: F401
    from kafka_streams_playground_spark.streaming.queries import (
        _append_session_windows,
    )

    rows = [
        (1, datetime(2024, 1, 1, 0, 0, 0), {"k": "a"}),
        (1, datetime(2024, 1, 1, 0, 5, 0), {"k": "b"}),
        (1, datetime(2024, 1, 1, 2, 0, 0), {"k": "c"}),  # > 600 s gap: new session
        (2, datetime(2024, 1, 1, 1, 0, 0), {"k": "d"}),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, attrs map<string,string>"
    )
    out = _append_session_windows(
        df,
        "user_id",
        600,
        [F.count(F.lit(1)).alias("n_events")],
    )
    got = sorted((r["user_id"], r["n_events"]) for r in out.collect())
    assert got == [(1, 1), (1, 2), (2, 1)]


def test_day_grid_state_split_independent_across_microbatches(spark, tmp_path):
    """The trend twins' shared substrate under a REAL multi-micro-batch
    split (the fixture replay drains in one batch; replay_segments forces
    three): a (type, day) cell whose events arrive in DIFFERENT
    micro-batches must accumulate in the state store, the update-mode
    sink then holds one row per (cell, emitting batch), and the
    max-row-count reduce (latest_update_state) must pick each cell's
    FINAL state — so the reduced grid equals the batch day_grid of the
    union, which is the exact premise the three trend twins' shared
    oracles rest on."""
    from datetime import datetime

    from kafka_streams_playground_spark.plans.temporal import day_grid
    from kafka_streams_playground_spark.streaming.replay import latest_update_state

    schema = "event_type string, ts timestamp, value double"
    d0, d1 = datetime(2024, 1, 1, 8), datetime(2024, 1, 2, 8)
    batches = [
        [("click", d0, 1.25), ("view", d0, 2.00)],
        # same (click, day-0) cell continues in a later batch; day-1 opens
        [("click", d0, 0.75), ("click", d1, 10.00)],
        [("view", d1, 4.50), ("click", d1, 0.50)],
    ]
    sdf = replay_segments([spark.createDataFrame(b, schema) for b in batches], str(tmp_path))
    g = (
        sdf.select(
            "event_type",
            F.expr("unix_timestamp(ts) div 86400").alias("day"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cents").alias("v"), F.count(F.lit(1)).alias("n_rows"))
    )
    drained = run_to_completion(g, output_mode="update")
    # the split produced re-emissions: more sink rows than final cells
    assert drained.count() > 4
    got = {
        (r["event_type"], r["day"], r["v"])
        for r in latest_update_state(
            drained, ["event_type", "day"], F.col("n_rows")
        ).collect()
    }
    union = spark.createDataFrame([r for b in batches for r in b], schema)
    want = {(r["event_type"], r["day"], r["v"]) for r in day_grid(union).collect()}
    assert got == want and len(want) == 4


def test_stream_session_window_overlap_matches_batch_islands_join(spark, sf_dir):
    """The full streaming pipeline (session_window sessionization feeding
    the bin join) equals the batch islands + binned-join result row for
    row — the drain-equality contract its shared quadratic oracle rests
    on."""
    from kafka_streams_playground_spark.plans import REGISTRY

    got = sorted(
        tuple(r)
        for r in REGISTRY["stream_session_window_interval_overlap"]
        .fn(spark, sf_dir)
        .collect()
    )
    want = sorted(
        tuple(r)
        for r in REGISTRY["join_interval_overlap_bins"].fn(spark, sf_dir).collect()
    )
    assert got == want and len(got) > 0


def test_stream_session_windows_append_emits_each_session_once(spark, sf_dir):
    """stream_session_windows_per_user's converted APPEND + flush-sentinel
    drain (VERDICT r10 item 4) pinned on both halves of the contract:
    (a) EMIT-ONCE — the drained sink holds exactly one row per session
    (no complete-mode re-emission, no sentinel leak), keyed by
    (user_id, session_start) which gaps-and-islands makes unique per
    user; (b) DRAIN EQUALITY — the appended rows equal the batch
    sessionization twin row for row (the oracle contract)."""
    from kafka_streams_playground_spark.plans import REGISTRY

    got_rows = REGISTRY["stream_session_windows_per_user"].fn(spark, sf_dir).collect()
    keys = [(r["user_id"], r["session_start"]) for r in got_rows]
    assert len(keys) == len(set(keys))  # emit-once: no session appears twice
    got = sorted(tuple(r) for r in got_rows)
    want = sorted(
        tuple(r)
        for r in REGISTRY["session_windows_per_user"]
        .fn(spark, sf_dir)
        .drop("session_no")
        .collect()
    )
    assert got == want and len(got) > 0


@pytest.mark.slowaudit  # engine-semantics probe (20-50 s), opt-in (pytest.ini)
def test_session_window_intervals_merge_across_microbatches(spark, tmp_path):
    """The semantics stream_session_window_interval_overlap's stage 1
    claims, pinned under a REAL multi-micro-batch split (the helper's own
    replay drains availableNow in one batch; here replay_segments forces
    separate batches in time order, like an ordered topic): a
    session whose events arrive in DIFFERENT micro-batches must merge in
    the session_window state store; a trailing flush-sentinel batch must
    close every real session (append mode withholds them otherwise)
    without leaking its own; and i_start/i_end = unix(window.start) /
    unix(window.end) − gap must equal the batch gaps-and-islands bounds."""
    from datetime import datetime, timedelta

    from kafka_streams_playground_spark.plans.temporal import interval_islands

    gap = 600  # 10 min gap for a compact fixture
    t0 = datetime(2024, 1, 1, 0, 0, 0)
    schema = "user_id long, ts timestamp"
    sentinel_ts = t0 + timedelta(seconds=5000 + gap + 1)
    batches = [
        # batch 1: u1 session A opens; u2 singleton (the tail-session case)
        [(1, t0), (2, t0 + timedelta(seconds=100))],
        # batch 2: u1 session A CONTINUES (gap 300 < 600 — must merge with
        # batch-1 state); u1 session B opens
        [(1, t0 + timedelta(seconds=300)), (1, t0 + timedelta(seconds=5000))],
        # batch 3: the flush sentinel — drives the watermark past every
        # real window end so append mode emits them; its own session stays
        # open and must NOT leak
        [(1, sentinel_ts)],
    ]
    sdf = replay_segments([spark.createDataFrame(b, schema) for b in batches], str(tmp_path))
    sess = (
        sdf.withWatermark("ts", "0 seconds")
        .groupBy("user_id", F.session_window("ts", f"{gap} seconds"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    drained = run_to_completion(sess, output_mode="append")
    import calendar

    # timegm, not .timestamp(): the naive datetimes are UTC wall-clock in
    # the Spark session, and .timestamp() would re-interpret them in the
    # host's local zone
    mx_epoch = calendar.timegm((t0 + timedelta(seconds=5000)).utctimetuple())
    got = {
        (r["user_id"], r["i_start"], r["i_end"])
        for r in drained.select(
            "user_id",
            F.unix_timestamp("session_window.start").alias("i_start"),
            (F.unix_timestamp("session_window.end") - gap).alias("i_end"),
        )
        .filter(F.col("i_start") <= F.lit(mx_epoch))
        .collect()
    }
    real = spark.createDataFrame(
        [r for b in batches[:2] for r in b], schema
    ).withColumn("event_id", F.monotonically_increasing_id())
    want = {
        (r["user_id"], r["i_start"], r["i_end"])
        for r in interval_islands(real, "user_id", "session_no", gap).collect()
    }
    assert got == want
    assert len(got) == 3  # A merged across batches, B separate, u2 singleton


def test_stream_simpson_matches_batch(spark, sf_dir):
    """Accumulate-at-ingest Simpson concentration: the keyed (type, user)
    counters drain to the batch counts (composite-key max-count reduce),
    so the shared rollup/index epilogue matches exactly."""
    from kafka_streams_playground_spark.plans import REGISTRY

    got = sorted(
        tuple(r)
        for r in REGISTRY["stream_stats_simpson_user_concentration"]
        .fn(spark, sf_dir)
        .collect()
    )
    want = sorted(
        tuple(r)
        for r in REGISTRY["stats_simpson_user_concentration"].fn(spark, sf_dir).collect()
    )
    assert got == want and len(got) > 0


def test_latest_update_snapshot_keeps_whole_last_emission(spark):
    """latest_update_snapshot (round 13) keeps EVERY row of each key's
    max-counter emission — the multi-row analogue of latest_update_state
    for snapshot-emitting operators (top-K stores, reservoirs, sketch
    contents): superseded snapshots drop, the final snapshot survives
    whole, and keys with a single emission pass through untouched."""
    from pyspark.sql import functions as F

    from kafka_streams_playground_spark.streaming.replay import (
        latest_update_snapshot,
    )

    rows = [
        # key "a": first snapshot (n_seen=2, two rows), then final (n_seen=5)
        ("a", 1, 2),
        ("a", 2, 2),
        ("a", 1, 5),
        ("a", 3, 5),
        ("a", 9, 5),
        # key "b": single emission
        ("b", 7, 1),
    ]
    drained = spark.createDataFrame(rows, "k string, item long, n_seen long")
    got = sorted(
        (r["k"], r["item"])
        for r in latest_update_snapshot(drained, "k", F.col("n_seen")).collect()
    )
    assert got == [("a", 1), ("a", 3), ("a", 9), ("b", 7)]
