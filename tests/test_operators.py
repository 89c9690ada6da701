"""Unit tests for operator modules on tiny inline DataFrames (SURVEY.md §5.2-4)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from kafka_streams_playground_spark.operators import stateless as ops
from kafka_streams_playground_spark.operators.aggregations import count_by, tumbling_count
from kafka_streams_playground_spark.operators.joins import (
    enrich_join,
    global_lookup_join,
    interval_join,
)
from kafka_streams_playground_spark.operators.tables import latest_per_key
from kafka_streams_playground_spark.sources.json_serde import deserialize_json, serialize_json

ORDER_SCHEMA = StructType(
    [
        StructField("orderId", StringType()),
        StructField("user", StringType()),
        StructField("products", ArrayType(StringType())),
        StructField("amount", DoubleType()),
    ]
)


def _orders(spark):
    """The reference's Order domain type (KafkaStreamsApp.scala:92)."""
    return spark.createDataFrame(
        [
            ("o1", "alice", ["guitar", "amp"], 1500.0),
            ("o2", "bob", ["strings"], 40.0),
            ("o3", "Ann", ["drum"], 2000.0),
        ],
        schema=ORDER_SCHEMA,
    )


def test_p1_filter(spark):
    out = ops.filter_records(_orders(spark), F.col("amount") >= 1000)
    assert {r["orderId"] for r in out.collect()} == {"o1", "o3"}


def test_p2_p3_project_explode(spark):
    out = ops.explode_list(ops.project(_orders(spark), "user", "products"),
                           "products", "product", "user")
    rows = {(r["user"], r["product"]) for r in out.collect()}
    assert ("alice", "guitar") in rows and ("bob", "strings") in rows
    assert len(rows) == 4


def test_p5_p6_p7_rekey_compute_firstletter(spark):
    df = ops.select_key(_orders(spark), F.col("orderId"), key_name="key")
    df = ops.with_computed(df, "amount", F.col("amount") * 0.5)
    out = df.select("key", "amount", ops.first_letter_key("user").alias("letter"))
    got = {(r["key"], r["amount"], r["letter"]) for r in out.collect()}
    assert got == {("o1", 750.0, "a"), ("o2", 20.0, "b"), ("o3", 1000.0, "a")}


def test_a1_a4_counts(spark):
    by_letter = count_by(_orders(spark), ops.first_letter_key("user").alias("letter"))
    assert {(r["letter"], r["cnt"]) for r in by_letter.collect()} == {("a", 2), ("b", 1)}

    events = spark.createDataFrame(
        [("u1", "2024-01-01 00:00:01"), ("u1", "2024-01-01 00:00:09"),
         ("u1", "2024-01-01 00:00:11"), ("u2", "2024-01-01 00:00:59")],
        "user string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    win = tumbling_count(events, "ts", "10 seconds", F.col("user"))
    got = {(r["user"], r["window"]["start"].second, r["cnt"]) for r in win.collect()}
    assert got == {("u1", 0, 2), ("u1", 10, 1), ("u2", 50, 1)}


def test_j1_j2_joins(spark):
    orders = _orders(spark)
    profiles = spark.createDataFrame(
        [("alice", "gold"), ("bob", "silver")], "user string, profile string"
    )
    discounts = spark.createDataFrame(
        [("gold", 0.5), ("silver", 0.9)], "profile string, mult double"
    )
    j1 = enrich_join(orders, profiles, on="user")  # inner: Ann dropped
    assert j1.count() == 2
    j2 = global_lookup_join(j1, discounts, key_extractor="profile", dim_key="profile")
    got = {(r["orderId"], r["amount"] * r["mult"]) for r in j2.collect()}
    assert got == {("o1", 750.0), ("o2", 36.0)}


def test_j3_interval_join(spark):
    orders = spark.createDataFrame(
        [("o1", "2024-01-01 00:00:00"), ("o2", "2024-01-01 01:00:00")],
        "order_id string, ots string",
    ).withColumn("ots", F.col("ots").cast("timestamp"))
    payments = spark.createDataFrame(
        [("o1", "PAID", "2024-01-01 00:03:00"),   # within +5 min → match
         ("o1", "PAID", "2024-01-01 00:07:00"),   # outside window
         ("o2", "PENDING", "2024-01-01 01:01:00")],  # status filtered
        "pid string, status string, pts string",
    ).withColumn("pts", F.col("pts").cast("timestamp"))
    out = interval_join(
        orders, payments, "order_id", "pid", "ots", "pts",
        lower="5 minutes", upper="5 minutes",
        extra_condition=F.col("status") == "PAID",
    )
    assert [r["order_id"] for r in out.collect()] == ["o1"]


def test_s2_latest_per_key(spark):
    changelog = spark.createDataFrame(
        [("u1", "v1", 1), ("u1", "v2", 2), ("u2", "x", 1)],
        "user string, val string, version int",
    )
    latest = latest_per_key(changelog, ["user"], [F.col("version").desc()])
    assert {(r["user"], r["val"]) for r in latest.collect()} == {("u1", "v2"), ("u2", "x")}


def test_s6_s7_json_serde_roundtrip_and_drop(spark):
    raw = spark.createDataFrame(
        [('{"orderId":"o1","user":"u","products":["p"],"amount":5.0}',),
         ("not json at all{{{",)],
        "value string",
    )
    parsed = deserialize_json(raw, ORDER_SCHEMA)
    rows = parsed.collect()  # malformed record dropped (KafkaStreamsApp.scala:64-70)
    assert len(rows) == 1 and rows[0]["orderId"] == "o1"
    out = serialize_json(parsed, "orderId", "amount").select("value").collect()
    assert out[0]["value"] == '{"orderId":"o1","amount":5.0}'


def test_s6_s7_serde_identity_on_adversarial_strings(spark):
    """Escaping pin for the serde pair (r13, the json_roundtrip_events
    substrate): serialize → deserialize must be the IDENTITY on string
    payloads containing every escaping hazard class — quotes,
    backslashes, newlines/tabs, embedded JSON, unicode incl. the Turkish
    İ and astral-plane emoji, and the empty string. The oracle-checked
    round-trip query only sees the fixture's tame props values; this
    unit pins the codec on the inputs that actually break serdes."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    nasty = [
        'quote " inside',
        "back\\slash and \\\" both",
        "newline\nand\ttab",
        '{"embedded": "json", "n": [1, 2]}',
        "unicode İstanbul ς σ ß 💾  ",
        "",
        "trailing backslash \\",
        "null byte-ish \\u0000 literal",
    ]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(nasty)], "id long, payload string"
    )
    schema = StructType(
        [StructField("id", LongType()), StructField("payload", StringType())]
    )
    back = deserialize_json(serialize_json(df, "id", "payload"), schema)
    got = {r["id"]: r["payload"] for r in back.collect()}
    assert got == {i: s for i, s in enumerate(nasty)}


def test_sql_front_door(spark, sf_dir):
    """register_views exposes the fixtures to raw Spark SQL with the same
    normalized schemas the DataFrame loaders produce."""
    from kafka_streams_playground_spark.sources.parquet import register_views

    register_views(spark, sf_dir, "orders", "customer")
    out = spark.sql(
        """
        SELECT c_mktsegment, COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
        """
    ).collect()
    assert len(out) == 5  # five market segments
    assert all(r["n"] > 0 and r["total"] > 0 for r in out)


def _jobs_started(spark, fn) -> int:
    """How many Spark jobs ``fn()`` starts, counted by job group."""
    import uuid

    sc, group = spark.sparkContext, f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_schema_catalog_infers_once_per_file_version(spark, tmp_path):
    """load_table infers a file's schema once: a second load of the
    unchanged file starts no Spark job, a rewrite at the same path is
    inferred again, and a TIMESTAMP(NANOS) ``ts`` still arrives as a
    timestamp through the batch and the streaming reader."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafka_streams_playground_spark.sources.parquet import load_table
    from kafka_streams_playground_spark.streaming.replay import read_stream_table

    path = str(tmp_path / "events.parquet")
    ts = pa.array([1_700_000_000_123_456_789, 1_700_000_001_000_000_999], pa.timestamp("ns"))
    pq.write_table(pa.table({"k": [1, 2], "ts": ts}), path)

    assert _jobs_started(spark, lambda: load_table(spark, str(tmp_path), "events")) >= 1
    assert _jobs_started(spark, lambda: load_table(spark, str(tmp_path), "events")) == 0
    df = load_table(spark, str(tmp_path), "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert dict(read_stream_table(spark, str(tmp_path), "events").dtypes)["ts"] == "timestamp"
    # ns → µs floor-truncation, read back as UTC epoch micros
    got = sorted(r[0] for r in df.select(F.unix_micros("ts")).collect())
    assert got == [1_700_000_000_123_456, 1_700_000_001_000_000]

    pq.write_table(pa.table({"k": [1, 2], "ts": ts, "v": ["a", "b"]}), path)
    df = load_table(spark, str(tmp_path), "events")
    assert df.columns == ["k", "ts", "v"]
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert sorted(r["v"] for r in df.collect()) == ["a", "b"]


def test_parquet_sink_partitioned_roundtrip(spark, sf_dir, tmp_path):
    """Partitioned parquet sink: lang-partitioned write must round-trip and
    produce prunable lang=... directories."""
    import os

    from kafka_streams_playground_spark.sources.parquet import load_table
    from kafka_streams_playground_spark.sources.sinks import write_parquet

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    dest = str(tmp_path / "docs_by_lang")
    write_parquet(docs, dest, partition_cols=("lang",), sort_cols=("doc_id",))
    dirs = {d for d in os.listdir(dest) if d.startswith("lang=")}
    assert len(dirs) >= 3
    back = spark.read.parquet(dest)
    assert back.count() == docs.count()
    # partition pruning: a lang filter must appear as a PartitionFilter on
    # the scan (no fallback — this is the property under test)
    one = back.filter(F.col("lang") == "en")
    plan = _explain_str(one)
    assert "PartitionFilters" in plan and "lang" in plan.split("PartitionFilters", 1)[1][:120], plan


def _explain_str(df):
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_salted_agg_equals_plain(spark, sf_dir):
    """Two-level salted aggregation must produce exactly the plain groupBy
    result (decomposable combine fns), whatever the salt distribution."""
    from kafka_streams_playground_spark.operators.aggregations import salted_agg
    from kafka_streams_playground_spark.sources.parquet import load_table

    events = load_table(spark, sf_dir, "events")
    plain = {
        (r["user_id"],): (r["cnt"], round(r["total"], 6), r["mx"])
        for r in events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("value").alias("total"),
            F.max("value").alias("mx"),
        )
        .collect()
    }
    salted = {
        (r["user_id"],): (r["cnt"], round(r["total"], 6), r["mx"])
        for r in salted_agg(
            events,
            ["user_id"],
            {
                "cnt": ("count", F.count(F.lit(1))),
                "total": ("sum", F.sum("value")),
                "mx": ("max", F.max("value")),
            },
        ).collect()
    }
    assert salted == plain


def test_compact_parquet_merges_small_files(spark, tmp_path):
    """Compaction must collapse a many-small-files layout into the computed
    file count without changing the data."""
    import os

    from kafka_streams_playground_spark.sources.sinks import compact_parquet

    src = str(tmp_path / "small")
    dst = str(tmp_path / "compacted")
    df = spark.range(10_000).withColumnRenamed("id", "v")
    df.repartition(40).write.parquet(src)  # 40 tiny files
    assert len([f for f in os.listdir(src) if f.endswith(".parquet")]) == 40
    n = compact_parquet(spark, src, dst, target_rows_per_file=5_000)
    assert n == 2
    files = [f for f in os.listdir(dst) if f.endswith(".parquet")]
    assert len(files) == 2
    back = spark.read.parquet(dst)
    assert back.count() == 10_000
    assert {r["v"] for r in back.collect()} == set(range(10_000))


def test_compact_parquet_refuses_in_place_overwrite(spark, tmp_path):
    """dst == src must raise (lazy source read + overwrite would delete the
    inputs mid-scan, ADVICE r4) — and the source must remain untouched."""
    import os

    import pytest as _pytest

    from kafka_streams_playground_spark.sources.sinks import compact_parquet

    src = str(tmp_path / "inplace")
    spark.range(100).write.parquet(src)
    with _pytest.raises(ValueError, match="dst_path must differ"):
        compact_parquet(spark, src, src)
    # trailing-slash / relative aliasing must not sneak past the guard
    with _pytest.raises(ValueError, match="dst_path must differ"):
        compact_parquet(spark, src, src + "/")
    assert spark.read.parquet(src).count() == 100


def test_idempotent_foreach_batch_skips_replayed_batch(spark, sf_dir, tmp_path):
    """Exactly-once sink protocol: re-delivering the same batchId must not
    duplicate rows; a new batchId must append its own directory."""
    import os

    from kafka_streams_playground_spark.sources.sinks import (
        idempotent_foreach_batch_writer,
    )

    out = str(tmp_path / "sink")
    w = idempotent_foreach_batch_writer(out)
    df1 = spark.range(5).withColumnRenamed("id", "v")
    w(df1, 0)
    n0 = spark.read.parquet(out).count()
    # simulate post-failure replay of batch 0 with different (stale) data —
    # the committed marker must short-circuit, keeping the original rows
    w(spark.range(99).withColumnRenamed("id", "v"), 0)
    assert spark.read.parquet(out).count() == n0 == 5
    # a genuinely new batch lands alongside
    w(spark.range(3).withColumnRenamed("id", "v"), 1)
    got = spark.read.parquet(out)
    assert got.count() == 8
    assert os.path.exists(os.path.join(out, "batch_id=0", "_committed"))
    assert os.path.exists(os.path.join(out, "batch_id=1", "_committed"))


def test_upsert_sink_time_travel_reads_past_versions(spark, tmp_path):
    """Every committed MERGE version stays addressable: version 1 shows the
    pre-update state, version 2 the post-update state, the pointer resolves
    to the latest, and unknown versions fail loudly."""
    import pytest

    from kafka_streams_playground_spark.sources.sinks import (
        list_table_versions,
        read_table_version,
        upsert_foreach_batch_writer,
    )

    path = str(tmp_path / "tt")
    write = upsert_foreach_batch_writer(path, key_cols=("k",), seq_col="seq")
    b1 = spark.createDataFrame([(1, 10, 100), (2, 10, 200)], "k int, seq int, v int")
    b2 = spark.createDataFrame([(2, 20, 999), (3, 20, 300)], "k int, seq int, v int")
    write(b1, 1)
    write(b2, 2)
    assert list_table_versions(spark, path) == [1, 2]
    v1 = {r["k"]: r["v"] for r in read_table_version(spark, path, 1).collect()}
    v2 = {r["k"]: r["v"] for r in read_table_version(spark, path, 2).collect()}
    cur = {r["k"]: r["v"] for r in read_table_version(spark, path).collect()}
    assert v1 == {1: 100, 2: 200}
    assert v2 == {1: 100, 2: 999, 3: 300}
    assert cur == v2
    with pytest.raises(ValueError):
        read_table_version(spark, path, 99)


def test_upsert_sink_tombstone_deletes_key(spark, tmp_path):
    """With tombstone_col set, a NULL-valued incoming row deletes its key
    from the stored table (and inserts nothing); within a batch the
    latest-per-key rule arbitrates between a tombstone and an upsert by
    seq, so a delete followed by a later re-insert survives as the row."""
    from kafka_streams_playground_spark.sources.sinks import (
        read_table_version,
        upsert_foreach_batch_writer,
    )

    path = str(tmp_path / "tomb")
    write = upsert_foreach_batch_writer(
        path, key_cols=("k",), seq_col="seq", tombstone_col="v"
    )
    b1 = spark.createDataFrame(
        [(1, 10, 100), (2, 10, 200), (3, 10, 300)], "k int, seq int, v int"
    )
    write(b1, 1)
    # batch 2: delete k=1; update k=2; tombstone-then-reinsert k=3 (the
    # seq-20 re-insert beats the seq-15 tombstone); delete-nonexistent k=4
    b2 = spark.createDataFrame(
        [(1, 20, None), (2, 20, 222), (3, 15, None), (3, 20, 333), (4, 20, None)],
        "k int, seq int, v int",
    )
    write(b2, 2)
    cur = {r["k"]: r["v"] for r in read_table_version(spark, path).collect()}
    assert cur == {2: 222, 3: 333}
    # version 1 is untouched history
    v1 = {r["k"]: r["v"] for r in read_table_version(spark, path, 1).collect()}
    assert v1 == {1: 100, 2: 200, 3: 300}


def test_expire_table_versions_retains_live_and_newest(spark, tmp_path):
    """VACUUM: old versions are deleted oldest-first, the newest keep_last
    survive, the pointer target is never deleted, and time-travel reads of
    retained versions still work while expired ones fail loudly."""
    import pytest

    from kafka_streams_playground_spark.sources.sinks import (
        expire_table_versions,
        list_table_versions,
        read_table_version,
        upsert_foreach_batch_writer,
    )

    path = str(tmp_path / "vac")
    write = upsert_foreach_batch_writer(path, key_cols=("k",), seq_col="seq")
    for i in range(1, 5):
        write(spark.createDataFrame([(1, i, i * 10)], "k int, seq int, v int"), i)
    assert list_table_versions(spark, path) == [1, 2, 3, 4]
    removed = expire_table_versions(spark, path, keep_last=2)
    assert removed == [1, 2]
    assert list_table_versions(spark, path) == [3, 4]
    assert {r["k"]: r["v"] for r in read_table_version(spark, path).collect()} == {1: 40}
    assert {r["k"]: r["v"] for r in read_table_version(spark, path, 3).collect()} == {1: 30}
    with pytest.raises(ValueError):
        read_table_version(spark, path, 1)
    # keep_last larger than history: no-op
    assert expire_table_versions(spark, path, keep_last=10) == []
    with pytest.raises(ValueError):
        expire_table_versions(spark, path, keep_last=0)
