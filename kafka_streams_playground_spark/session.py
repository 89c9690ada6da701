"""SparkSession factory and runtime configuration.

The reference configures its runtime via ``StreamsConfig`` properties
(``KafkaStreamsApp.scala:192-195``: application id, bootstrap servers, default
key serde). Our equivalent is the SparkSession builder plus a small set of
runtime confs that every query needs regardless of who built the session
(the driver harness builds its own session, so runtime-settable confs are
also applied per-query via :func:`configure_runtime`).

Scale notes (100 TB / 1000-executor design):
* AQE on — runtime coalescing, skew-join splitting, dynamic join strategy.
* ``spark.sql.session.timeZone=UTC`` — fixtures store naive timestamps; UTC
  makes ``unix_timestamp``/window bucketing agree with the DuckDB oracle.
* Shuffle partition count defaults to the session's cores
  (``defaultParallelism``, or ``$SPARK_GRAFT_SHUFFLE``). Stateful streams keep
  it as their state-partition count, which AQE never coalesces, so every
  extra partition is a state commit per micro-batch.
* State lives in RocksDB with changelog checkpointing (the reference's
  changelog-backed RocksDB stores), and stream-stream joins use join state
  format 3: one store per partition instead of four. Each micro-batch then
  writes one changelog file per partition. Format 3 runs only on RocksDB, so
  the three confs are one group: a provider the caller set leaves all three
  alone, and a non-RocksDB provider unsets a join format of 3.

Only the confs the oracle's answers depend on are forced. Every other conf
here is a default: a value the caller set (``spark.conf.set`` / ``--conf``)
wins. A checkpoint keeps the partition count, state provider and join format
it was started with, whatever the session's defaults are on restart.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Forced on every session, also one the caller built: the DuckDB oracle
# compares against answers that depend on them.
_ORACLE_CONF = {
    "spark.sql.session.timeZone": "UTC",
    # The events fixture stores TIMESTAMP(NANOS), which Spark's parquet reader
    # rejects; read as epoch-nanos long and normalize in sources.parquet.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Read naive parquet timestamps as TIMESTAMP (session-tz UTC), not NTZ:
    # watermarks/windows require TimestampType, and UTC keeps epoch math
    # identical to the DuckDB oracle.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}

# Defaults: applied only to keys the session has no value for.
_DEFAULT_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for pandas UDF / mapInPandas paths (north-star operators).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}

_STATE_STORE_PROVIDER = "spark.sql.streaming.stateStore.providerClass"
_ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
_JOIN_FORMAT = "spark.sql.streaming.join.stateFormatVersion"
# Defaults only while the session has no provider: join format 3 fails on
# the HDFS-backed provider (STATE_STORE_MULTIPLE_COLUMN_FAMILIES).
_STATE_STORE_CONF = {
    _STATE_STORE_PROVIDER: _ROCKSDB,
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
    _JOIN_FORMAT: "3",
}


def configure_runtime(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an existing session (idempotent).

    Spark's unset shuffle-partition default (200) would cost ~200 state-store
    commits per streaming micro-batch, so an unset count becomes the cores.
    """
    for k, v in _ORACLE_CONF.items():
        spark.conf.set(k, v)
    conf = spark._jsparkSession.conf()
    defaults = {
        **_DEFAULT_CONF,
        "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE")
        or str(spark.sparkContext.defaultParallelism),
    }
    if not conf.contains(_STATE_STORE_PROVIDER):
        defaults.update(_STATE_STORE_CONF)
    elif spark.conf.get(_STATE_STORE_PROVIDER) != _ROCKSDB and spark.conf.get(_JOIN_FORMAT) == "3":
        # Left by the defaults before the caller set another provider, or set
        # by the caller: either way format 3 cannot run on that provider.
        spark.conf.unset(_JOIN_FORMAT)
    for k, v in defaults.items():
        if not conf.contains(k):
            spark.conf.set(k, v)
    return spark


def get_spark(
    app_name: str = "kafka-streams-playground-spark",
    master: str | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or ``local[*]``.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # \r stage-progress spam corrupts harnesses that tail-capture stdout.
        # Static conf: it takes effect only on sessions built here.
        .config("spark.ui.showConsoleProgress", "false")
    )
    return configure_runtime(builder.getOrCreate())
