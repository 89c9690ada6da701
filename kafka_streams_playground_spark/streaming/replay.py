"""Fixture replay as streams + run-to-completion harness.

The reference's topics are unbounded; the fixtures are finite parquet. A
file-stream source (``spark.readStream.schema(...).parquet``) replays a
fixture table through the *streaming* execution path — real micro-batches,
state stores, watermarks — and ``trigger(availableNow=True)`` drains it to
completion so tests/oracle checks see the final state (FIXTURES.md §C).

Each fixture table is a single parquet file, so availableNow drains in one
micro-batch — making update-mode output equal to the complete final state,
which is what the DuckDB oracle checks. (With Kafka sources the same
pipelines run continuously; nothing below depends on batch finiteness.)

Any other finite relation replayed as ordered micro-batches goes through
ONE writer, :func:`replay_segments` (a list of DataFrames → one file and
one micro-batch each, in list order). :func:`split_segments` carves one
relation at chosen row indices of a delivery order, and
:func:`split_late_segments` withholds a late burst into a final segment.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_streams_playground_spark.sources.parquet import nanos_ts_to_micros, table_schema


def read_stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Replay a fixture table as a streaming DataFrame (S1 analogue).

    The schema comes from the schema catalog (``sources.parquet``), so a
    table whose file version was already seen starts no inference job; the
    events table's TIMESTAMP(NANOS) column is normalized to TimestampType
    exactly as in the batch loader.
    """
    schema = table_schema(spark, os.path.join(sf_dir, f"{name}.parquet"))
    # The file-stream source wants a directory; glob-filter to this table.
    sdf = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )
    return nanos_ts_to_micros(sdf, schema)


def split_segments(
    df: DataFrame, order_cols: list[str], cuts: tuple[int, ...]
) -> list[DataFrame]:
    """Carve a finite feed into micro-batch segments at the given row
    indices of the ``order_cols`` ordering, for :func:`replay_segments`.

    Lets a test place a micro-batch boundary EXACTLY at a session gap, a
    watermark edge, an equal-ts tie, or between a window's last event and
    the flush sentinel — the streaming analogue of
    tests/test_boundaries.py's value sweeps. ``order_cols`` models the
    delivery contract (a time-ordered topic when it leads with the
    event-time column; any other order models out-of-order delivery for
    watermark-free state). With no cuts the feed is one segment, as is,
    and no job runs.

    Harness-only scale note: segments are carved by a row_number over ONE
    global sort (single-partition window — fine for the fixture-scale
    sweeps this exists for, never on the production path)."""
    from pyspark.sql import Window as _W

    cuts = sorted(set(cuts))
    if not cuts:
        return [df]
    if "_rn" in df.columns:
        # the numbering column below would silently overwrite (and then
        # drop) a real input column of the same name, corrupting the
        # replayed segments (ADVICE r12)
        raise ValueError("input already has a '_rn' column; rename it first")
    n = df.count()
    if any(c <= 0 or c >= n for c in cuts):
        raise ValueError(f"split indices must be interior (0 < i < {n}): {cuts}")
    bounds = [0, *cuts, n]
    rn = F.row_number().over(_W.orderBy(*[F.col(c) for c in order_cols])) - 1
    # checkpoint the numbering ONCE: each segment is written by its own
    # execution, and if order_cols has TIES a re-evaluated row_number
    # could assign tied rows differently per write (a row in two
    # segments, or in none). Materializing pins one assignment, so every
    # row lands in exactly one segment whatever the tie-break.
    numbered = df.withColumn("_rn", rn).localCheckpoint(eager=True)
    return [
        numbered.filter((F.col("_rn") >= lo) & (F.col("_rn") < hi)).drop("_rn")
        for lo, hi in zip(bounds, bounds[1:])
    ]


def split_late_segments(
    df: DataFrame, order_cols: list[str], cuts: tuple[int, ...], late_pred
) -> list[DataFrame]:
    """LATENESS-ADVERSARIAL segments (VERDICT r13 item 4): rows matching
    ``late_pred`` (a boolean Column) are WITHHELD from their natural
    position and delivered as one FINAL extra segment — i.e. after every
    on-time segment has been processed and the watermark has advanced off
    the on-time maximum. This models a late-data burst: if the late rows'
    event times sit below ``max(on-time event time) - watermark delay``,
    every watermarked stateful operator must drop them (the documented
    Spark contract); if they sit inside the horizon, they must be folded
    as if on time. ``cuts`` carve the ON-TIME rows (indices are positions
    within the on-time subset's ``order_cols`` ordering).

    Raises if ``late_pred`` selects no rows (the test would silently
    assert nothing) or selects everything (no on-time segment would
    advance the watermark)."""
    on_time = df.filter(~late_pred)
    late = df.filter(late_pred)
    if late.count() == 0:
        raise ValueError("late_pred selects no rows; the lateness axis is vacuous")
    if on_time.count() == 0:
        raise ValueError("late_pred selects every row; no on-time segment remains")
    return split_segments(on_time, order_cols, cuts) + [late]


def replay_segments(segments: list[DataFrame], dir_path: str) -> DataFrame:
    """Replay finite relations as ordered micro-batches: segment i is
    written as one parquet file under ``dir_path/seg<i>`` and arrives as
    micro-batch i of the returned stream (one file per trigger). Segment
    files get strictly increasing mtimes, so FileStreamSource's
    oldest-first order replays them deterministically whatever the write
    latency. The stream's schema is the first segment's, so no file is
    read back to infer it."""
    for i, seg in enumerate(segments):
        seg_dir = os.path.join(dir_path, f"seg{i:04d}")
        seg.coalesce(1).write.parquet(seg_dir)
        for fn in os.listdir(seg_dir):
            if fn.endswith(".parquet"):
                os.utime(os.path.join(seg_dir, fn), (1_000_000 + i, 1_000_000 + i))
    first = segments[0]
    return (
        first.sparkSession.readStream.schema(first.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(dir_path, "seg*"))
    )


def latest_update_state(drained: DataFrame, key, counter) -> DataFrame:
    """Reduce an update-mode memory-sink drain to the FINAL state row per
    key (a column name or list of names). The sink keeps one row per
    (key, emitting micro-batch); for aggregates whose ``counter`` column
    expression is strictly monotone in rows seen (counts, count sums),
    the max-counter row per key IS the last emission — so the result
    equals the batch aggregate under ANY micro-batch split, not just
    single-file fixtures (ADVICE r9). Bounded: |keys| × micro-batches
    rows."""
    from pyspark.sql import Window

    keys = [key] if isinstance(key, str) else list(key)
    w = Window.partitionBy(*keys).orderBy(counter.desc())
    return (
        drained.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )


def latest_update_snapshot(drained: DataFrame, key, counter) -> DataFrame:
    """Reduce an update-mode memory-sink drain to the final SNAPSHOT per
    key — the multi-row analogue of :func:`latest_update_state` for
    operators that re-emit a key's whole current set each micro-batch
    (top-K stores, sketch-content changelogs, reservoirs): keep every row
    whose ``counter`` equals the key's maximum. ``counter`` must be
    strictly monotone in rows folded per key (the stateful operators emit
    ``n_seen`` for exactly this), so the kept rows are precisely the last
    emission. Bounded: operates on the |keys| × micro-batches × snapshot
    drain relation only."""
    from pyspark.sql import Window

    keys = [key] if isinstance(key, str) else list(key)
    w = Window.partitionBy(*keys)
    return (
        drained.withColumn("_mx", F.max(counter).over(w))
        .filter(counter == F.col("_mx"))
        .drop("_mx")
    )


def run_to_completion(sdf: DataFrame, output_mode: str = "update") -> DataFrame:
    """Drain a streaming DataFrame with availableNow into a memory sink and
    return the sink contents as a batch DataFrame.

    The memory sink is driver-resident — strictly a test/oracle harness; the
    production path is the Kafka/file sink writers. Checkpoints go to a fresh
    temp dir (exactly-once within the run, like the reference's at-least-once
    default this is not a durability statement, SURVEY §2.9). Neither the
    checkpoint nor the sink's temp view outlives the call: the returned
    DataFrame holds the sink's plan itself, so repeated drains leak no
    /tmp directories and no session views.
    """
    spark = sdf.sparkSession
    name = f"mem_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="ksp_ckpt_")
    try:
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()
        return spark.table(name)
    finally:
        # The memory-sink result is already materialized; the checkpoint's
        # state store has no value past the drain.
        spark.catalog.dropTempView(name)
        shutil.rmtree(ckpt, ignore_errors=True)
