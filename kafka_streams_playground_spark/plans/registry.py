"""Central query registry.

Every implemented operator from SURVEY.md §2 is exposed as a named query:
a Spark callable ``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible)
an equivalent ANSI-SQL oracle string for DuckDB. ``__spark_entry__.py`` simply
re-exports this registry in the driver's contract shape.

Registration order: ``plans/__init__`` imports the batch modules before
``streaming.queries``, so a streaming twin reads its batch oracle from
``REGISTRY`` when it is decorated. A registered entry is never rewritten.

Conventions that keep the driver's order-insensitive value-hash compare
honest (the driver sorts columns by name before hashing):

* every computed/aggregate column is aliased identically in Spark and SQL;
* no raw timestamp outputs — epoch seconds as BIGINT (dodges tz/precision
  representation differences between engines);
* double aggregates are ``round(x, 2)`` in both engines (double summation
  order differs across engines; rounding collapses the ~1e-9 relative noise).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from kafka_streams_playground_spark.session import configure_runtime

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default=())


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Register a query. The wrapped fn gets a runtime-configured session
    (UTC session tz, AQE) regardless of who built the SparkSession."""

    def deco(fn: QueryFn) -> QueryFn:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            configure_runtime(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = name
        wrapped.__doc__ = fn.__doc__
        REGISTRY[name] = QuerySpec(
            name=name, fn=wrapped, oracle=oracle, doc=(fn.__doc__ or ""), tags=tuple(tags)
        )
        return wrapped

    return deco
