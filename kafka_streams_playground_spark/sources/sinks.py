"""Batch/stream sink writers (SURVEY.md §2.1 S4-S5 beyond Kafka).

The reference writes only to Kafka topics (``KafkaStreamsApp.scala:110,
:188``). A pipeline at 100 TB lands results in columnar storage; these
helpers encode the layout decisions that matter there:

* ``partitionBy`` on low-cardinality routing columns (lang, date, source)
  → partition pruning for downstream readers;
* ``maxRecordsPerFile`` caps file size so a skewed partition doesn't become
  one unsplittable multi-GB file;
* sorting within partitions (``sortWithinPartitions``) before write gives
  downstream scans clustered row-groups (min-max pruning on the sort key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter


def write_parquet(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = (),
    sort_cols: tuple[str, ...] = (),
    max_records_per_file: int | None = 5_000_000,
    mode: str = "overwrite",
) -> None:
    """Write a batch result as (optionally partitioned, clustered) parquet."""
    out = df.sortWithinPartitions(*sort_cols) if sort_cols else df
    writer = out.write.mode(mode)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.parquet(path)


def write_parquet_stream(
    sdf: DataFrame,
    path: str,
    checkpoint_location: str,
    partition_cols: tuple[str, ...] = (),
    output_mode: str = "append",
) -> DataStreamWriter:
    """Build a streaming parquet sink (exactly-once via checkpoint + file
    manifest — stronger than the reference's at-least-once Kafka default).
    Caller invokes ``.start()``."""
    writer = (
        sdf.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint_location)
        .outputMode(output_mode)
    )
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    return writer


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: tuple[str, ...],
    n_buckets: int = 32,
    sort_cols: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> None:
    """Write a bucketed (hash-clustered) managed table — the layout that
    makes repeated big-to-big equi-joins and aggregations on the bucket key
    SHUFFLE-FREE for every downstream reader.

    ``bucketBy(n, cols)`` pre-hash-partitions rows into ``n`` files per
    write-task group and records the bucket spec in the catalog; a join of
    two tables bucketed on the same key with the same bucket count satisfies
    both sides' hash-partitioning requirement, so Catalyst plans
    SortMergeJoin with ZERO Exchange nodes (asserted by
    ``tests/test_plans.py::test_bucketed_join_has_no_shuffle``). At 100 TB
    this converts every repeated fact-fact join from two full-data shuffles
    into a metadata lookup — bucketing is Spark's answer to the reference's
    co-partitioned topics (Kafka Streams requires equal partition counts for
    stream-stream joins; ``KafkaStreamsApp.scala:173`` repartitions for
    exactly that reason).

    ``sortBy`` additionally orders within buckets, so bucket-key point reads
    get min-max row-group pruning and merge joins skip the sort.
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def compact_parquet(
    spark,
    src_path: str,
    dst_path: str,
    target_rows_per_file: int = 1_000_000,
) -> int:
    """Small-file compaction: rewrite a parquet layout into
    ceil(rows / target) right-sized files. Returns the output file count.

    The operational 100 TB sink concern: streaming sinks and fine-grained
    partition writes accumulate many small files, and at scale the
    NameNode/listing and per-file open costs dominate reads long before
    data volume does (the classic small-files problem). Compaction is a
    metadata-light rewrite: one scan, one round-robin repartition to the
    target file count (``repartition(n)`` without columns — no hash key,
    so perfectly even output files), one write. Run it per partition
    directory in production so only hot partitions rewrite; file-count
    math is driven by a row count the scan does anyway.

    ``dst_path`` must differ from ``src_path``: the source read is lazy, so
    an in-place ``mode('overwrite')`` rewrite would delete input files
    mid-scan and lose data (ADVICE r4). Compact-then-swap is the safe
    production pattern."""
    import os

    if os.path.abspath(dst_path) == os.path.abspath(src_path):
        raise ValueError(
            "compact_parquet: dst_path must differ from src_path (lazy "
            "source read + overwrite would delete inputs mid-scan); "
            "write to a sibling dir and swap"
        )
    df = spark.read.parquet(src_path)
    n_rows = df.count()
    n_files = max(1, -(-n_rows // target_rows_per_file))
    df.repartition(n_files).write.mode("overwrite").parquet(dst_path)
    return n_files


def idempotent_foreach_batch_writer(path: str):
    """Build a ``foreachBatch`` function that lands each micro-batch as
    parquet under ``{path}/batch_id=<id>/`` and SKIPS batch ids that have
    already committed — the standard exactly-once recipe for sinks without
    native transactional support (Structured Streaming replays a failed
    micro-batch with the SAME batchId after recovery; an idempotent writer
    turns at-least-once replay into effectively-once output; cf. the
    foreachBatch idempotence guidance in the Spark docs).

    Commit protocol: the batch directory is written with a ``_SUCCESS``-
    style marker file (``_committed``) created only AFTER the parquet write
    completes; on replay, a present marker short-circuits the write. The
    batch-id partition layout doubles as lineage — downstream readers can
    subtract a bad deploy's batch range without touching other data (the
    columnar analogue of a Kafka offset-range reprocess).

    At 100 TB the same protocol holds: the marker check/create go through
    the Hadoop FileSystem API resolved from the path's scheme (ADVICE r5 —
    a driver-local ``os.path`` check would silently re-write forever on
    ``s3a://``/``abfs://`` paths), so it is one object-store HEAD per
    micro-batch on any supported filesystem, and per-batch directories
    keep replaying partitions isolated from committed ones."""

    def _write(df: DataFrame, batch_id: int) -> None:
        spark = df.sparkSession
        bdir = f"{path.rstrip('/')}/batch_id={batch_id}"
        jvm = spark._jvm
        marker = jvm.org.apache.hadoop.fs.Path(bdir + "/_committed")
        fs = marker.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(marker):
            return  # replayed batch: already landed, exactly-once preserved
        df.write.mode("overwrite").parquet(bdir)
        fs.create(marker, True).close()

    return _write


Z_BITS = 16  # per-dimension resolution of the Morton curve


def zorder_key(cols, mins, maxs, bits: int = Z_BITS):
    """Morton (Z-curve) interleave of the given numeric columns, each
    min-max normalized to ``bits`` bits — pure Catalyst bit arithmetic
    (shifts/masks, codegen'd; no UDF). Returns a BIGINT sort key whose
    ordering tiles the multi-dimensional space, so files written in key
    ranges get LOW-OVERLAP bounding boxes on EVERY participating column.

    ``mins``/``maxs`` are the per-column bounds (two scalars per column —
    an O(1) driver-side agg, the same class as a broadcast payload)."""
    from pyspark.sql import functions as F

    d = len(cols)
    quantized = []
    for c, lo, hi in zip(cols, mins, maxs):
        span = float(hi) - float(lo)
        if span <= 0:
            quantized.append(F.lit(0).cast("long"))
            continue
        q = F.floor(
            (F.col(c).cast("double") - float(lo)) / span * ((1 << bits) - 1) + 0.5
        ).cast("long")
        quantized.append(F.greatest(F.lit(0), F.least(F.lit((1 << bits) - 1), q)))
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, q in enumerate(quantized):
            bit = F.shiftright(q, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * d + i))
    return z


def write_zorder_table(
    df: DataFrame, path: str, cols, n_files: int, bits: int = Z_BITS
) -> None:
    """Write ``df`` as parquet clustered on the Z-curve of ``cols`` —
    the multi-dimensional data-skipping layout (Delta/Iceberg OPTIMIZE
    ZORDER re-expressed on vanilla parquet). Range-partition by the Morton
    key into ``n_files`` write tasks and sort within each, so every output
    file covers one key range = one tile of the space: a range predicate
    on ANY clustered column intersects O(boundary) tiles instead of every
    file, and parquet footer min/max stats skip the rest at scan time.

    Scale stance: the column bounds are one O(1) aggregate; the write is
    ONE range shuffle (sampled boundaries, the global-sort exchange) +
    in-task sort — exactly a global orderBy's cost. Use for the
    fact-table layouts whose hot predicates span two or three columns
    where single-column sort or partitioning can serve only one
    (bounding-box quality asserted in tests/test_plans.py)."""
    from pyspark.sql import functions as F

    bounds = df.agg(
        *[F.min(c).alias(f"lo_{i}") for i, c in enumerate(cols)],
        *[F.max(c).alias(f"hi_{i}") for i, c in enumerate(cols)],
    ).collect()[0]
    mins = [bounds[f"lo_{i}"] for i in range(len(cols))]
    maxs = [bounds[f"hi_{i}"] for i in range(len(cols))]
    zed = df.withColumn("__z", zorder_key(cols, mins, maxs, bits))
    (
        zed.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def upsert_foreach_batch_writer(
    path: str, key_cols, seq_col: str, tombstone_col: str | None = None
):
    """Build a ``foreachBatch`` MERGE/upsert function: each micro-batch is
    applied to the keyed parquet target as latest-per-key wins — the
    changelog→TABLE sink (Kafka Streams' KTable materialization; Delta's
    ``foreachBatch`` + ``MERGE INTO`` streaming-upsert recipe). Within a
    batch the row with the greatest ``seq_col`` (ties: arbitrary but
    per-key single-row) wins; across batches the incoming batch wins over
    the stored row — upsert semantics, not append. With ``tombstone_col``
    set, an incoming row whose value in that column is NULL is a DELETE
    for its key — Kafka's compacted-topic tombstone convention (the S2
    KTable semantics, operators/tables.py) carried through to the sink:
    the key is removed from the stored table and the tombstone row is
    not inserted, which together with update/insert makes the sink a
    full CDC MERGE target (the ``cdc_merge_upsert`` I/U/D triple).

    One pass: the stored version (tagged 0) unioned with the batch (tagged
    1), one ``row_number`` over the keys ordered by tag then ``seq_col``
    descending, row 1 kept, winning tombstones dropped. The batch is read
    once, so a stateful query feeding the sink runs its state stage once.

    Commit protocol: the merged table is written to a ``_v<batch_id>``
    staging directory and a ``_current`` pointer file is atomically
    rewritten to name it — readers resolve the pointer, so a crash
    mid-write never exposes a torn table and a REPLAYED batch id simply
    rewrites the same version (idempotent, exactly-once output). All
    filesystem ops go through the Hadoop FileSystem API (object-store
    safe, the idempotent-writer precedent above).

    Scale stance: plain parquet has no transactional row-level merge, so
    the merge REWRITES the table — honest for a test-scale sink; at 100 TB
    the identical foreachBatch body issues a Delta/Iceberg ``MERGE INTO``
    (file-pruned, the ``cdc_merge_upsert`` join shape) and everything else
    here — dedup-within-batch, key semantics, idempotent versioning —
    carries over unchanged."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    keys = list(key_cols)

    def _write(df: DataFrame, batch_id: int) -> None:
        spark = df.sparkSession
        base = path.rstrip("/")
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        pointer = jvm.org.apache.hadoop.fs.Path(base + "/_current")
        fs = pointer.getFileSystem(hconf)
        vdir = f"_v{batch_id}"
        rows = df.withColumn("_new", F.lit(1))
        if fs.exists(pointer):
            stream = fs.open(pointer)
            try:
                current = stream.readUTF()
            finally:
                stream.close()
            if current == vdir:
                return  # replayed batch: its version is already live —
                # merging would read and overwrite the same files
            prev = spark.read.parquet(f"{base}/{current}")
            rows = prev.withColumn("_new", F.lit(0)).unionByName(rows)
        # stored rows lose to ANY incoming row with the same key; within the
        # batch the greatest seq_col wins
        w = Window.partitionBy(*keys).orderBy(
            F.col("_new").desc(), F.col(seq_col).desc()
        )
        merged = (
            rows.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_new")
        )
        if tombstone_col is not None:
            merged = merged.filter(F.col(tombstone_col).isNotNull())
        merged.write.mode("overwrite").parquet(f"{base}/{vdir}")
        out = fs.create(pointer, True)
        try:
            out.writeUTF(vdir)
        finally:
            out.close()

    return _write


def list_table_versions(spark, path: str) -> list[int]:
    """Committed version ids of an ``upsert_foreach_batch_writer`` table,
    ascending. The ``_v<id>`` staging dirs ARE the version log (the sink
    never deletes them); a dir counts as committed only once its parquet
    job finished (``_SUCCESS`` marker), so a crash mid-write — torn files
    with no marker — is invisible here exactly as it is to the pointer."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    base = path.rstrip("/")
    p = jvm.org.apache.hadoop.fs.Path(base)
    fs = p.getFileSystem(hconf)
    if not fs.exists(p):
        return []
    out = []
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if (
            st.isDirectory()
            and name.startswith("_v")
            and name[2:].isdigit()
            and fs.exists(jvm.org.apache.hadoop.fs.Path(f"{base}/{name}/_SUCCESS"))
        ):
            out.append(int(name[2:]))
    return sorted(out)


def read_table_version(spark, path: str, version: int | None = None) -> DataFrame:
    """Time-travel read of an ``upsert_foreach_batch_writer`` table:
    ``version=None`` resolves the atomic ``_current`` pointer (the live
    table); ``version=N`` reads the committed ``_vN`` snapshot — every
    past MERGE result stays addressable because the commit protocol
    writes each version to its own directory and only moves the pointer
    (the poor-man's Delta transaction log: version dirs = log entries,
    pointer = HEAD). Readers never see torn state: they either resolve a
    fully-committed dir or fail loudly on an unknown version."""
    base = path.rstrip("/")
    if version is not None:
        if version not in list_table_versions(spark, path):
            raise ValueError(f"version {version} not committed under {path}")
        return spark.read.parquet(f"{base}/_v{version}")
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    pointer = jvm.org.apache.hadoop.fs.Path(base + "/_current")
    fs = pointer.getFileSystem(hconf)
    if not fs.exists(pointer):
        raise ValueError(f"no _current pointer under {path}")
    stream = fs.open(pointer)
    try:
        current = stream.readUTF()
    finally:
        stream.close()
    return spark.read.parquet(f"{base}/{current}")


def expire_table_versions(spark, path: str, keep_last: int) -> list[int]:
    """VACUUM for the ``upsert_foreach_batch_writer`` table: delete all but
    the newest ``keep_last`` committed version directories and return the
    version ids removed — the retention job every versioned table needs so
    the time-travel log doesn't grow without bound (Delta VACUUM / Iceberg
    ``expireSnapshots``). The live version (the ``_current`` pointer's
    target) is never deleted even if retention would name it — a pointer
    must always resolve; readers of retained versions are unaffected
    because each version owns its directory and deletion goes oldest-first
    through the same Hadoop FileSystem API as the writer (object-store
    safe). Metadata-only: the data files are dropped, never rewritten."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    base = path.rstrip("/")
    pointer = jvm.org.apache.hadoop.fs.Path(base + "/_current")
    fs = pointer.getFileSystem(hconf)
    live = None
    if fs.exists(pointer):
        stream = fs.open(pointer)
        try:
            live = stream.readUTF()
        finally:
            stream.close()
    versions = list_table_versions(spark, path)
    removed = []
    for v in versions[:-keep_last] if keep_last < len(versions) else []:
        vdir = f"_v{v}"
        if vdir == live:
            continue  # never break the pointer
        fs.delete(jvm.org.apache.hadoop.fs.Path(f"{base}/{vdir}"), True)
        removed.append(v)
    return removed
