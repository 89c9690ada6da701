"""Parquet scans over the driver fixtures (batch source).

The reference's only connector is Kafka (``KafkaStreamsApp.scala:77-84``);
parquet is our batch-harness source (``TESTDATA.md``). Scans stay fully
declarative so Catalyst gets predicate pushdown + column pruning for free —
at 100 TB the difference between a pruned columnar scan and a full scan *is*
the query time.

Schema catalog: the reference knows each topic's schema once, from its serdes
(``KafkaStreamsApp.scala``). Here a parquet file's schema is inferred once per
file version and then handed to every scan of that file, batch
(:func:`load_table`) or streaming (``streaming.replay.read_stream_table``).
Spark infers a parquet schema with a footer-reading job, so without the
catalog every table load ran one job. A version is the absolute path plus the
file's inode, mtime (ns) and size, plus the two confs that change what Spark
infers (``legacy.parquet.nanosAsLong``, ``parquet.inferTimestampNTZ.enabled``):
a file rewritten in place is a new version and is inferred again. The catalog
holds schemas only, never DataFrames, so two loads of one table stay two
independent scans (a self-join gets distinct attribute ids); caching, pruning
and pushdown are untouched. At scale this is the role a metastore plays: a
schema per file version, read without touching the data.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
_SCHEMAS: dict[tuple, StructType] = {}


def table_schema(spark: SparkSession, path: str) -> StructType:
    """The schema Spark infers for the parquet file at ``path``, inferred
    once per file version and conf pair (module docstring)."""
    path = os.path.abspath(path)
    st = os.stat(path)
    confs = tuple(spark.conf.get(c) for c in _SCHEMA_CONFS)
    key = (path, st.st_ino, st.st_mtime_ns, st.st_size, *confs)
    schema = _SCHEMAS.get(key)
    if schema is None:
        # Threads that miss on one key at once each infer the same schema;
        # the last store wins and nothing else depends on who stored it.
        schema = _SCHEMAS[key] = spark.read.parquet(path).schema
    return schema


def nanos_ts_to_micros(df: DataFrame, schema: StructType) -> DataFrame:
    """``events.ts`` is parquet TIMESTAMP(NANOS) — unsupported by Spark's
    reader — so it arrives as epoch-nanos long (``nanosAsLong`` conf,
    session.py) and is normalized to a microsecond TimestampType
    (floor-truncated, same as DuckDB's TIMESTAMP_NS → TIMESTAMP cast)."""
    if "ts" in schema.names and isinstance(schema["ts"].dataType, LongType):
        # Integer division — float division would lose precision at 1e18 ns.
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table (``{sf_dir}/{name}.parquet``) with its catalog
    schema; ``events.ts`` is normalized by :func:`nanos_ts_to_micros`."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = table_schema(spark, path)
    return nanos_ts_to_micros(spark.read.schema(schema).parquet(path), schema)


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Scan several fixture tables; defaults to all of :data:`TABLES`."""
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register fixture tables as temp views — the SQL front door: after
    this, ``spark.sql("SELECT ... FROM lineitem JOIN orders ...")`` works
    directly (the reference has no SQL surface at all; Catalyst gives us one
    for free). Views share the loaders' scan normalization, so SQL and
    DataFrame queries see identical schemas."""
    for n in names or TABLES:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
