"""Extra relational coverage beyond the reference's five topologies.

The reference has no sorts/limits, set ops, ranking windows, or distinct aggs
(SURVEY.md §2.5-2.7) — Kafka Streams simply lacks them. A user switching to
this engine gets them from Spark; each is registered here with an oracle so
the coverage is *checked*, not just claimed.
"""

from __future__ import annotations

import math as _math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_streams_playground_spark.operators.tables import latest_per_key
from kafka_streams_playground_spark.plans.registry import query
from kafka_streams_playground_spark.sources.parquet import load_table


@query(
    "agg_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)       AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)  AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           ROUND(AVG(l_quantity), 2)       AS avg_qty,
           ROUND(AVG(l_extendedprice), 2)  AS avg_price,
           COUNT(*)                        AS count_order
    FROM lineitem
    WHERE l_shipdate::TIMESTAMP <= TIMESTAMP '2001-09-01'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("extension", "agg", "bench"),
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: the canonical scan→filter→partial-agg
    →shuffle→final-agg plan. At 100 TB the map-side partial aggregate reduces
    the shuffle to #groups × #tasks rows — the whole point of expressing this
    declaratively (SURVEY §2.4 notes the reference is single-phase)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "agg_revenue_by_nation",
    oracle="""
    SELECT n_name AS nation,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           COUNT(DISTINCT o_custkey) AS n_customers
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey  = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY 1
    """,
    tags=("extension", "agg", "join", "bench"),
)
def agg_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-join rollup: fact ⋈ dims → grouped revenue + distinct count.
    ``nation`` (25 rows) is broadcast; customer/orders co-shuffle on their
    keys. COUNT(DISTINCT) plans as the two-phase expand+agg — no driver-side
    distinct."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
    )
    return joined.groupBy(F.col("n_name").alias("nation")).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        F.countDistinct("o_custkey").alias("n_customers"),
    )


@query(
    "s2_latest_event_per_user",
    oracle="""
    SELECT user_id, event_id, event_type, value,
           CAST(floor(epoch(ts::TIMESTAMP)) AS BIGINT) AS ts_epoch
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
    tags=("reference", "S2", "windowfn"),
)
def s2_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 KTable semantics (KafkaStreamsApp.scala:156-157): the compacted
    latest-value-per-key table, materialized batch-style from the events
    changelog (SURVEY §4.3-1). One shuffle on the key; deterministic tiebreak
    on event_id."""
    events = load_table(spark, sf_dir, "events")
    latest = latest_per_key(
        events, ["user_id"], [F.col("ts").desc(), F.col("event_id").desc()]
    )
    return latest.select(
        "user_id", "event_id", "event_type", "value", F.unix_timestamp("ts").alias("ts_epoch")
    )


@query(
    "wf_top3_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
        FROM orders
    ) WHERE rnk <= 3
    """,
    tags=("extension", "windowfn"),
)
def wf_top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window function (absent from the reference, SURVEY §2.5):
    top-3 orders per customer. Spark plans a single hash-partition exchange
    on the partition key + in-partition sort; no global sort."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
    )


@query(
    "topk_customers_by_revenue",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS revenue_cents
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name
    ORDER BY revenue_cents DESC, c_custkey ASC
    LIMIT 10
    """,
    tags=("extension", "sort", "limit"),
)
def topk_customers_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k (absent from the reference, SURVEY §2.6). Spark executes
    order+limit as TakeOrderedAndProject — per-partition top-k then a k-row
    merge on the driver; nothing resembling a global sort at 100 TB.
    Revenue folds as floored integer cents (the repo's exact-integer
    convention, ADVICE r4): the sum is order-free, so the streaming twin's
    incremental aggregation state cannot drift from this oracle on a
    half-cent rounding boundary the way a ROUND(SUM(double)) could."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    rev = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"])
        .groupBy("c_custkey", "c_name")
        .agg(F.sum(cents).alias("revenue_cents"))
    )
    return rev.orderBy(F.col("revenue_cents").desc(), F.col("c_custkey").asc()).limit(10)


@query(
    "setop_active_or_negative_customers",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_totalprice >= 400000
    UNION
    SELECT c_custkey AS custkey FROM customer WHERE c_acctbal < 0
    """,
    tags=("extension", "setop"),
)
def setop_active_or_negative_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operation (absent from the reference, SURVEY §2.7): UNION DISTINCT
    of two key sets — union + one hash-distinct exchange."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    a = orders.filter(F.col("o_totalprice") >= 400000).select(
        F.col("o_custkey").alias("custkey")
    )
    b = cust.filter(F.col("c_acctbal") < 0).select(F.col("c_custkey").alias("custkey"))
    return a.union(b).distinct()


@query(
    "json_props_extract",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           COUNT(*) AS cnt,
           ROUND(AVG(value), 2) AS avg_value
    FROM events
    GROUP BY 1
    """,
    tags=("extension", "json", "scalar"),
)
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field access on the events ``props`` column (the engine's
    schemaless-JSON surface, SURVEY §2.8 — the reference handles JSON only at
    serde level, KafkaStreamsApp.scala:60-73). ``get_json_object`` is a
    codegen'd JVM expression, not a UDF."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.withColumn(
            "k", F.get_json_object(F.col("props"), "$.k").cast("bigint")
        )
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.avg("value"), 2).alias("avg_value"))
    )


@query(
    "json_roundtrip_events",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
           CAST(floor(epoch(ts::TIMESTAMP)) AS BIGINT) AS ts_epoch,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
    FROM events
    WHERE event_id % 97 <> 0
    """,
    tags=("extension", "json", "serde", "S6", "S7"),
)
def json_roundtrip_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The S6/S7 wire-format pair exercised END-TO-END with an identity
    oracle (round 13 — upgrades both serde operators from plumbing-only
    units to oracle-passing): typed events serialize to the reference's
    schemaless JSON (``asJson.noSpaces``, KafkaStreamsApp.scala:61 → S7
    ``to_json``), a deterministic ~1 % slice (event_id % 97 == 0) is then
    CORRUPTED on the wire, and S6 ``deserialize_json`` must decode the
    rest and drop exactly the malformed slice (the reference's
    log-and-drop ``decode[A]``, :64-70). The embedded ``props`` JSON
    string survives the round trip inside the envelope and is re-parsed
    at the end, so escaping/nesting is covered too. The oracle is the
    identity SELECT minus the corrupted slice — any serde asymmetry
    (type mangling, escaping, wrong drop set) breaks the value hash.

    Everything is Catalyst expressions (``to_json``/``from_json``/
    ``get_json_object`` — codegen'd, no Python): one map-only pass, no
    shuffle; at 100 TB this is scan-bound, exactly what a wire-format
    stage should be. Integers only cross the wire (cents/epoch grids) —
    float repr round-trips are an engine-portability hazard the registry
    convention already bans."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from kafka_streams_playground_spark.sources.json_serde import (
        deserialize_json,
        serialize_json,
    )

    typed = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
        F.unix_timestamp("ts").alias("ts_epoch"),
        "props",
    )
    wire = serialize_json(
        typed, "event_id", "user_id", "event_type", "cents", "ts_epoch", "props"
    ).select(
        # corrupt the deterministic slice AFTER serialization: a truncated
        # brace-open prefix makes the record unparseable, not just lossy
        F.when(
            F.col("event_id") % 97 == 0, F.concat(F.lit("{oops"), F.col("value"))
        )
        .otherwise(F.col("value"))
        .alias("value")
    )
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("cents", LongType()),
            StructField("ts_epoch", LongType()),
            StructField("props", StringType()),
        ]
    )
    decoded = deserialize_json(wire, schema)
    return decoded.select(
        "event_id",
        "user_id",
        "event_type",
        "cents",
        "ts_epoch",
        F.get_json_object(F.col("props"), "$.k").cast("bigint").alias("prop_k"),
    )


@query(
    "join_semi_urgent_customers",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
    )
    """,
    tags=("extension", "join", "semi"),
)
def join_semi_urgent_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS): customers with at least one urgent order.
    Semi join keeps only left columns and short-circuits on first match —
    the build side carries just the key, so at 100 TB the shuffle moves
    (custkey) pairs, never order payloads."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_custkey")
    return cust.join(urgent, cust["c_custkey"] == urgent["o_custkey"], "left_semi")


@query(
    "join_anti_parts_never_shipped",
    oracle="""
    SELECT p_partkey, p_name, p_retailprice
    FROM part
    WHERE NOT EXISTS (
      SELECT 1 FROM lineitem WHERE l_partkey = p_partkey AND l_quantity >= 45
    )
    """,
    tags=("extension", "join", "anti"),
)
def join_anti_parts_never_shipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS): parts that never ship in bulk (no
    lineitem with quantity ≥ 45). The right side's filter + distinct-key
    reduction happens before the probe; same single-shuffle shape as the
    semi join."""
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name", "p_retailprice")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 45).select(
        "l_partkey"
    )
    return part.join(li, part["p_partkey"] == li["l_partkey"], "left_anti")


@query(
    "join_left_order_lineitem_counts",
    oracle="""
    SELECT o.o_orderkey, o.o_orderstatus,
           COUNT(l.l_orderkey) AS n_lines,
           ROUND(COALESCE(SUM(l.l_extendedprice), 0), 2) AS line_total
    FROM orders o
    LEFT JOIN lineitem l
      ON o.o_orderkey = l.l_orderkey AND l.l_quantity >= 25
    GROUP BY 1, 2
    """,
    tags=("extension", "join", "outer"),
)
def join_left_order_lineitem_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join with an ON-clause predicate (kept on the join, not a
    post-filter — outer-join semantics make the difference observable:
    orders with no qualifying line survive with count 0). COUNT over the
    nullable right key and COALESCE'd SUM exercise null-aware aggregation."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    joined = orders.join(
        li,
        (orders["o_orderkey"] == li["l_orderkey"]) & (li["l_quantity"] >= 25),
        "left",
    )
    return joined.groupBy("o_orderkey", "o_orderstatus").agg(
        F.count("l_orderkey").alias("n_lines"),
        F.round(F.coalesce(F.sum("l_extendedprice"), F.lit(0.0)), 2).alias("line_total"),
    )


@query(
    "agg_rollup_nation_segment",
    oracle="""
    SELECT n_name AS nation, c_mktsegment AS segment,
           COUNT(*) AS n_customers,
           ROUND(SUM(c_acctbal), 2) AS total_balance
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY ROLLUP (n_name, c_mktsegment)
    """,
    tags=("extension", "agg", "rollup"),
)
def agg_rollup_nation_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy aggregate (nation → segment → grand total). Spark
    plans this as a single Expand + hash aggregate — each input row fans out
    to its grouping sets map-side, one shuffle total; subtotal rows carry
    NULL group keys identically in both engines."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = cust.join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
    return joined.rollup(
        F.col("n_name").alias("nation"), F.col("c_mktsegment").alias("segment")
    ).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("c_acctbal"), 2).alias("total_balance"),
    )


@query(
    "agg_price_percentiles",
    oracle="""
    SELECT c_mktsegment AS segment,
           FLOOR(quantile_cont(o_totalprice, 0.5) * 100 + 0.5) / 100 AS median_price,
           FLOOR(quantile_cont(o_totalprice, 0.95) * 100 + 0.5) / 100 AS p95_price,
           COUNT(*) AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY 1
    """,
    tags=("extension", "agg", "percentile"),
)
def agg_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark ``percentile`` ==
    DuckDB ``quantile_cont``: both sort the group and linearly interpolate,
    so doubles agree). Exact percentiles buffer each group's values — the
    documented scale path is ``approx_percentile`` (t-digest sketch,
    map-side combinable) once groups stop fitting; the exact form stays the
    small-group/oracle baseline."""
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
    # floor(x*100+0.5)/100: cross-engine-deterministic cent rounding (ROUND
    # tie behavior differs between engines; see q5_paid_orders)
    return j.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        (F.floor(F.expr("percentile(o_totalprice, 0.5)") * 100 + 0.5) / 100).alias(
            "median_price"
        ),
        (F.floor(F.expr("percentile(o_totalprice, 0.95)") * 100 + 0.5) / 100).alias(
            "p95_price"
        ),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "agg_pivot_status_by_segment",
    oracle="""
    SELECT c_mktsegment AS segment,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS status_F,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS status_O,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS status_P
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY 1
    """,
    tags=("extension", "agg", "pivot"),
)
def agg_pivot_status_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order-status counts spread across columns per market segment.
    The value list is declared explicitly (``pivot(col, values)``) — with it,
    Spark plans a single pass (no extra distinct-values job) and the output
    schema is static, which is the only sane form at 100 TB."""
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderstatus")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
    piv = (
        j.groupBy(F.col("c_mktsegment").alias("segment"))
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "segment",
        F.coalesce(F.col("F"), F.lit(0)).alias("status_F"),
        F.coalesce(F.col("O"), F.lit(0)).alias("status_O"),
        F.coalesce(F.col("P"), F.lit(0)).alias("status_P"),
    )


@query(
    "setop_intersect_urgent_returned",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    INTERSECT
    SELECT o_custkey FROM orders o
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_returnflag = 'R'
    """,
    tags=("extension", "setop"),
)
def setop_intersect_urgent_returned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (SURVEY §2.7 — absent from the reference): customers with an
    urgent order AND a returned lineitem. Catalyst rewrites INTERSECT to a
    left-semi join over distinct inputs, so physically this is the same
    shuffled-hash/semi plan as a hand-written semi join — one shuffle per
    side on the key, partial-distinct map-side first."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    returned = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .filter(F.col("l_returnflag") == "R")
        .select(F.col("o_custkey").alias("custkey"))
    )
    return urgent.intersect(returned)


@query(
    "setop_except_never_urgent",
    oracle="""
    SELECT c_custkey AS custkey FROM customer
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
    tags=("extension", "setop"),
)
def setop_except_never_urgent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (set difference): customers with no urgent order ever. Planned
    as a left-anti join over distinct inputs — the complement of the
    INTERSECT plan above; both distincts are map-side partial first."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey")
    )
    urgent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("custkey"))
    )
    return cust.subtract(urgent)


@query(
    "wf_running_customer_spend",
    oracle="""
    SELECT o_custkey, o_orderkey,
           FLOOR(SUM(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS UNBOUNDED PRECEDING
           ) * 100 + 0.5) / 100 AS running_spend,
           ROW_NUMBER() OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) AS order_seq
    FROM orders
    """,
    tags=("extension", "window", "frame"),
)
def wf_running_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit frame spec (SURVEY §2.5 — absent from the reference):
    per-customer running spend, ``ROWS UNBOUNDED PRECEDING`` over a
    deterministic (date, orderkey) order. Both engines accumulate doubles
    sequentially in frame order, so the cent-floor agrees bit-for-bit.
    Scale note: window partitions shuffle by o_custkey and sort within —
    one exchange, no driver state; skew is per-customer order counts,
    bounded in TPC-H-shaped data."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    running = F.sum("o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, 0))
    return orders.select(
        "o_custkey",
        "o_orderkey",
        (F.floor(running * 100 + 0.5) / 100).alias("running_spend"),
        F.row_number().over(w).alias("order_seq"),
    )


@query(
    "agg_cube_status_priority",
    oracle="""
    SELECT o_orderstatus AS status, o_orderpriority AS priority,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("extension", "agg", "cube"),
)
def agg_cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregate — all 2^k grouping sets in one pass (completes the
    grouping-sets family next to ROLLUP above). Same physical shape as
    rollup: one Expand (4× fan-out here) feeding a single partial+final
    hash aggregate — one shuffle regardless of how many sets, which is why
    cube beats 4 unioned GROUP BYs at 100 TB (one scan, one exchange)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_orderpriority", "o_totalprice"
    )
    return orders.cube(
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("priority"),
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


PRICE_BANDS = [
    ("budget", 0.0, 50_000.0),
    ("mid", 50_000.0, 150_000.0),
    ("premium", 150_000.0, 300_000.0),
    ("luxury", 300_000.0, 1e18),
]


@query(
    "join_range_price_band",
    oracle=f"""
    SELECT band, COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders
    JOIN (VALUES {", ".join(f"('{n}', {lo}, {hi})" for n, lo, hi in PRICE_BANDS)})
         b(band, lo, hi)
      ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY band
    """,
    tags=("extension", "join", "range"),
)
def join_range_price_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure non-equi (range/theta) join — no equi key at all: each order
    lands in the price band whose [lo, hi) interval contains it. The band
    dim is tiny and explicitly broadcast, so Spark plans
    BroadcastNestedLoopJoin — the ONLY sane physical strategy for a
    keyless theta join at scale (the fact table never shuffles; each task
    probes 4 in-memory rows). With a large band table this becomes a
    bucketed range join via banding the fact side; here the dim is 4 rows."""
    orders = load_table(spark, sf_dir, "orders").select("o_totalprice")
    bands = spark.createDataFrame(PRICE_BANDS, ["band", "lo", "hi"])
    joined = orders.join(
        F.broadcast(bands),
        (orders["o_totalprice"] >= bands["lo"]) & (orders["o_totalprice"] < bands["hi"]),
    )
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


KMV_K = 256  # sketch size; stderr ~ 1/sqrt(K) ≈ 6%


@query(
    "agg_kmv_distinct_sketch",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT (('0x' || substr(md5(o_custkey::VARCHAR), 1, 8)))::BIGINT AS hv
      FROM orders
    ),
    k AS (SELECT hv FROM h ORDER BY hv LIMIT {KMV_K}),
    s AS (SELECT COUNT(*) AS k_n, MAX(hv) AS kth FROM k)
    SELECT k_n,
           CASE WHEN k_n < {KMV_K} THEN CAST(k_n AS BIGINT)
                ELSE CAST(FLOOR(({KMV_K} - 1) * {2**32}.0 / kth) AS BIGINT)
           END AS est_distinct
    FROM s
    """,
    tags=("extension", "agg", "sketch"),
)
def agg_kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch: hash every key to 32
    bits, keep the K smallest distinct hashes; if the K-th smallest is h,
    the keys are ~uniform in [0, 2^32) and distinct ≈ (K-1)·2^32/h. Unlike
    Spark's BUILT-IN HLL (``approx_count_distinct``, engine-private
    register layout, so it can never hash-match an oracle), KMV is pure
    md5 + integer arithmetic — bit-identical cross-engine, so the SKETCH itself is
    oracle-checked, not just bounded. Scale shape: map-side partial
    distinct on 8-byte hashes, then TakeOrderedAndProject (per-partition
    bottom-K, K-row driver merge) — the sketch state is K longs no matter
    how many keys; mergeable across partitions/streams by keeping the K
    smallest of the union (the standard distributed-sketch contract).
    Accuracy vs exact count is asserted in tests/test_plans.py."""
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    h = orders.select(
        F.conv(F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 8), 16, 10)
        .cast("long")
        .alias("hv")
    ).distinct()
    k = h.orderBy("hv").limit(KMV_K)
    s = k.agg(F.count(F.lit(1)).alias("k_n"), F.max("hv").alias("kth"))
    return s.select(
        "k_n",
        F.when(F.col("k_n") < KMV_K, F.col("k_n").cast("long"))
        .otherwise(
            F.floor((KMV_K - 1) * float(2**32) / F.col("kth")).cast("long")
        )
        .alias("est_distinct"),
    )


@query(
    "merge_order_ship_activity",
    oracle="""
    SELECT o_orderkey AS order_key, 'ordered' AS kind,
           CAST(floor(epoch(o_orderdate::TIMESTAMP)) AS BIGINT) AS at_epoch
    FROM orders
    UNION ALL
    SELECT l_orderkey AS order_key, 'shipped' AS kind,
           CAST(floor(epoch(l_shipdate::TIMESTAMP)) AS BIGINT) AS at_epoch
    FROM lineitem
    """,
    tags=("extension", "setop", "merge"),
)
def merge_order_ship_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``KStream.merge`` semantics (offered by the reference's DSL, unused in
    KafkaStreamsApp.scala — SURVEY §2.7): interleave two keyed streams into
    one activity stream, no dedup, no repartition. Spark ``unionAll`` is a
    pure plan concatenation — zero shuffle; each side keeps its own scan,
    pruned to three columns."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("order_key"),
        F.lit("ordered").alias("kind"),
        F.unix_timestamp("o_orderdate").alias("at_epoch"),
    )
    ships = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("order_key"),
        F.lit("shipped").alias("kind"),
        F.unix_timestamp("l_shipdate").alias("at_epoch"),
    )
    return orders.unionAll(ships)


@query(
    "agg_salted_skew",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
           MAX(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS max_cents
    FROM events GROUP BY event_type
    """,
    tags=("extension", "agg", "skew", "salted"),
)
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-hardened aggregation via :func:`..operators.aggregations.salted_agg`
    (SCALE.md §4): ``event_type`` has single-digit cardinality, so a naive
    groupBy gives each final-agg task an N/5-row group — the straggler shape
    a hot key produces at 100 TB. Salting splits every group into 16 salt
    sub-groups (first shuffle: (type, salt), 16× the parallelism), then
    combines the 16 partials per type (second shuffle: ~80 tiny rows).

    Values are folded as exact integer cents (``floor(value*100+0.5)``)
    BEFORE summation, so the sum is associative-exact and identical under
    any partial-agg regrouping — the salted two-phase sum, Spark's partial
    aggregates, and DuckDB's single-phase sum all produce the same BIGINT
    (a double sum would drift by summation order)."""
    from kafka_streams_playground_spark.operators.aggregations import salted_agg

    events = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    return salted_agg(
        events,
        keys=["event_type"],
        aggs={
            "n_events": ("count", F.count(F.lit(1))),
            "sum_cents": ("sum", F.sum("cents")),
            "max_cents": ("max", F.max("cents")),
        },
        n_salts=16,
    )


@query(
    "join_ktable_ktable_latest",
    oracle="""
    WITH cur AS (
      SELECT user_id, event_id, event_type, value FROM (
        SELECT user_id, event_id, event_type, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
      ) WHERE rn = 1
    ),
    lastclick AS (
      SELECT user_id, event_id AS click_id,
             CAST(floor(epoch(ts::TIMESTAMP)) AS BIGINT) AS click_epoch
      FROM (
        SELECT user_id, event_id, ts,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE event_type = 'click'
      ) WHERE rn = 1
    )
    SELECT cur.user_id, cur.event_id, cur.event_type, cur.value,
           lastclick.click_id, lastclick.click_epoch
    FROM cur JOIN lastclick ON cur.user_id = lastclick.user_id
    """,
    tags=("extension", "S2", "join", "ktable"),
)
def join_ktable_ktable_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KTable ⋈ KTable — the Kafka Streams join family
    (``KTable.join(KTable)``) the reference never exercises (SURVEY §2.3
    covers only its three stream-side families): two latest-per-key
    changelog tables equi-joined on their shared key, producing the joined
    *current state* (current event per user ⋈ user's latest click).

    Both sides materialize with ONE hash exchange each on user_id and the
    join reuses that partitioning — at 100 TB this is the
    co-partitioned-changelog join Kafka Streams executes as two RocksDB
    lookups; streaming form = two ``latest_per_key_stream`` states feeding a
    stream-stream equi join."""
    events = load_table(spark, sf_dir, "events")
    cur = latest_per_key(
        events, ["user_id"], [F.col("ts").desc(), F.col("event_id").desc()]
    ).select("user_id", "event_id", "event_type", "value")
    clicks = events.filter(F.col("event_type") == "click")
    last_click = latest_per_key(
        clicks, ["user_id"], [F.col("ts").desc(), F.col("event_id").desc()]
    ).select(
        F.col("user_id").alias("c_user_id"),
        F.col("event_id").alias("click_id"),
        F.unix_timestamp("ts").alias("click_epoch"),
    )
    return cur.join(last_click, cur["user_id"] == last_click["c_user_id"]).select(
        "user_id", "event_id", "event_type", "value", "click_id", "click_epoch"
    )


@query(
    "q_shipping_priority_top10",
    oracle="""
    SELECT l.l_orderkey AS order_key,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100
                               + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents,
           CAST(floor(epoch(o.o_orderdate::TIMESTAMP)) AS BIGINT) AS order_epoch
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING' AND l.l_shipdate > o.o_orderdate
    GROUP BY 1, 3
    ORDER BY revenue_cents DESC, order_key ASC
    LIMIT 10
    """,
    tags=("extension", "topk", "join", "bench"),
)
def q_shipping_priority_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped shipping priority: customer-segment filter →
    three-way join → revenue aggregate → global top-10. The classic
    "which unshipped orders are worth the most" analytics query, and the
    canonical multi-join + agg + top-k plan:

    * the segment filter prunes customers BEFORE the join (Catalyst pushes
      it into the scan), so the orders join sees ~1/5 of customers;
    * revenue folds as exact per-row floored cents → the SUM is
      order-independent and cross-engine exact (no double-summation drift);
    * the top-10 plans as TakeOrderedAndProject — per-partition heaps of 10
      rows merged on the driver, never a global sort (the same plan as
      topk_customers_by_revenue; asserted there by tests/test_plans.py).
    At 100 TB: two co-shuffled joins on the key columns plus one
    partial-aggregated shuffle on (orderkey, date); ordering cost is O(N)
    heap maintenance, not O(N log N) sort."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    j = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"])
        .join(li, li["l_orderkey"] == orders["o_orderkey"])
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
    )
    rev = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    ).cast("long")
    return (
        j.groupBy(
            F.col("l_orderkey").alias("order_key"),
            F.unix_timestamp("o_orderdate").alias("order_epoch"),
        )
        .agg(F.sum(rev).alias("revenue_cents"))
        .select("order_key", "revenue_cents", "order_epoch")
        .orderBy(F.col("revenue_cents").desc(), F.col("order_key").asc())
        .limit(10)
    )


N_JOIN_SALTS = 16


@query(
    "join_salted_skew_above_avg",
    oracle="""
    WITH s AS (
      SELECT event_type, COUNT(*) AS cnt,
             CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                 AS sum_cents
      FROM events GROUP BY 1
    )
    SELECT e.event_id, e.event_type,
           CAST(FLOOR(e.value * 100 + 0.5) AS BIGINT) AS value_cents,
           CAST(CAST(FLOOR(e.value * 100 + 0.5) AS BIGINT) * s.cnt
                > s.sum_cents AS INT) AS above_avg
    FROM events e JOIN s USING (event_type)
    """,
    tags=("extension", "join", "skew", "salted"),
)
def join_salted_skew_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-hardened JOIN via salting — the join-side twin of
    ``agg_salted_skew``: events join their per-type statistics on
    ``event_type`` (5 distinct values ⇒ a naive shuffle join lands N/5 rows
    on 5 tasks, the straggler shape a hot key produces at 100 TB).
    Salting: the big side gets a deterministic salt (``event_id mod 16``),
    the small side is REPLICATED ×16 (explode over the salt range), and the
    join runs on (type, salt) — 80 evenly-sized co-partitions instead of 5
    hot ones. Semantically invisible: every (row, dim) match still happens
    exactly once, which the plain-join oracle checks.

    The ``shuffle_hash`` hint keeps the demo honest (Catalyst would rightly
    broadcast a 5-row dim; the pattern exists for dims too big to broadcast
    — mitigating rule when AQE's runtime skew-split can't apply, e.g.
    deliberate co-partitioning for a downstream stage). The above-average
    flag compares ``value_cents * cnt > sum_cents`` — integer arithmetic,
    no division, cross-engine exact."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("value_cents"),
    )
    dim = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("value_cents").alias("sum_cents")
    )
    dim_rep = dim.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(N_JOIN_SALTS - 1)))
    )
    salted = events.withColumn("salt", F.pmod("event_id", F.lit(N_JOIN_SALTS)))
    j = salted.join(dim_rep.hint("shuffle_hash"), ["event_type", "salt"])
    return j.select(
        "event_id",
        "event_type",
        "value_cents",
        (F.col("value_cents") * F.col("cnt") > F.col("sum_cents")).cast("int").alias(
            "above_avg"
        ),
    )


# Bloom pre-filter: M bits (a config like IVF's K — independent of data
# size), 2 hash functions. At 64k bits / ~3k urgent orders the false-positive
# rate is ~0.2%; the exact join removes false positives, so the bloom only
# decides how much of the big side rides the shuffle.
BLOOM_BITS = 65536
BLOOM_WORDS = BLOOM_BITS // 64


def _bloom_hashes(key, salts=(1, 2)):
    # xxhash64, not md5: the bloom is ENGINE-INTERNAL (the oracle checks only
    # the final join result, so the bits need no cross-engine twin) and the
    # probe runs once per big-side row — the cheap codegen'd hash is the
    # difference between a ~0.1 s and a ~2.4 s probe pass at sf0.1.
    return [F.pmod(F.xxhash64(F.lit(s), key), F.lit(BLOOM_BITS)) for s in salts]


def bloom_prefilter(big: DataFrame, small: DataFrame, big_key: str, small_key: str) -> DataFrame:
    """Pre-filter ``big`` map-side with a bloom built from ``small``'s keys.

    Build: each small-side key sets 2 xxhash64-derived bits in a
    BLOOM_BITS-bit (65,536) array; the per-word OR-fold aggregates to
    BLOOM_WORDS (1,024) longs (one tiny shuffle), collected to the driver —
    O(BLOOM_BITS) state, a CONFIG like IVF's K, independent of data size —
    and inlined as a literal array (at 100 TB, ship it as a broadcast
    variable instead; same dataflow). Probe: pure codegen'd integer ops
    inside the big side's scan stage; rows failing the bloom never enter
    the downstream join shuffle. No false negatives by construction."""
    bit = F.explode(F.array(*_bloom_hashes(F.col(small_key)))).alias("bit")
    words = (
        small.select(bit)
        # dynamic shift amounts need expr(): F.shiftleft takes only a
        # Python-int shift
        .select(
            (F.col("bit") / 64).cast("int").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit % 64 AS INT))").alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )
    word_map = {r["word"]: r["bits"] for r in words.collect()}
    # ONE py4j literal call for the whole array: per-element F.lit() would
    # cost BLOOM_WORDS driver round trips (~3 s of pure plan-construction
    # overhead at 1024 words).
    bloom = F.lit([word_map.get(i, 0) for i in range(BLOOM_WORDS)]).cast("array<bigint>")

    h1, h2 = _bloom_hashes(F.col(big_key))
    big2 = big.withColumn("h1", h1).withColumn("h2", h2)

    def probe(name: str):
        word = F.element_at(bloom, (F.col(name) / 64).cast("int") + 1)
        mask = F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({name} % 64 AS INT))")
        return word.bitwiseAND(mask) != 0

    return big2.filter(probe("h1") & probe("h2")).drop("h1", "h2")


@query(
    "join_bloom_prefiltered_urgent_items",
    oracle="""
    SELECT l.l_orderkey AS order_key, COUNT(*) AS n_items,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY 1
    """,
    tags=("extension", "join", "bloom", "bench"),
)
def join_bloom_prefiltered_urgent_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join pruning, hand-rolled and deterministic:
    line items of URGENT orders, where the big (lineitem) side is
    pre-filtered MAP-SIDE by a bloom filter built from the small side's
    join keys before any shuffle — the technique Spark's
    ``runtime.bloomFilter`` rewrite and Parquet row-group dictionary
    pushdown both implement, made explicit so the mechanics are testable.

    The build/probe mechanics live in :func:`bloom_prefilter` (see its
    docstring); the exact join then removes the ~0.2% false positives, so
    the result equals the plain join — which the oracle checks (the bloom
    itself is engine-internal and needs no oracle twin). At this
    selectivity ~80% of lineitem rows are discarded in the scan stage; at
    100 TB this is the difference between shuffling 100 TB and shuffling
    the matching ~20%."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    pruned = bloom_prefilter(li, urgent, "l_orderkey", "o_orderkey")
    return (
        pruned.join(urgent, pruned["l_orderkey"] == urgent["o_orderkey"])
        .groupBy(F.col("l_orderkey").alias("order_key"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(
                F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
            ).alias("sum_cents"),
        )
    )


@query(
    "s2_compacted_tombstones",
    oracle="""
    SELECT user_id, event_id, event_type, value FROM (
      SELECT user_id, event_id, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1 AND event_type <> 'error'
    """,
    tags=("extension", "S2", "ktable", "tombstone"),
)
def s2_compacted_tombstones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KTable compaction WITH tombstone deletes — the full semantics of the
    reference's ``cleanup.policy=compact`` topics (KafkaStreamsApp.scala
    :31-41): a compacted topic keeps the latest record per key, and a
    tombstone (null-value record; here the ``error`` event class stands in)
    REMOVES the key from the materialized table rather than becoming its
    value. ``builder.table`` over such a topic yields exactly this state:
    latest-per-key, minus keys whose latest record is a tombstone.

    Spark shape: the same single hash-exchange ``latest_per_key``
    materialization as ``s2_latest_event_per_user`` plus one post-window
    filter — the tombstone drop costs nothing extra (no second shuffle);
    the streaming twin keeps one row of keyed state per user and the
    filter applies on emission, mirroring RocksDB delete-on-tombstone."""
    from kafka_streams_playground_spark.operators.tables import latest_per_key

    events = load_table(spark, sf_dir, "events")
    cur = latest_per_key(
        events, ["user_id"], [F.col("ts").desc(), F.col("event_id").desc()]
    )
    return cur.filter(F.col("event_type") != "error").select(
        "user_id", "event_id", "event_type", "value"
    )


@query(
    "agg_grouping_sets_mixed",
    oracle="""
    SELECT n_name, c_mktsegment,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS acctbal_cents,
           CAST(GROUPING(n_name) * 2 + GROUPING(c_mktsegment) AS BIGINT)
               AS grouping_set_id
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY GROUPING SETS ((n_name, c_mktsegment), (c_mktsegment), ())
    """,
    tags=("extension", "agg", "groupingsets", "sql"),
)
def agg_grouping_sets_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the general form ROLLUP and CUBE specialize
    (SURVEY §2.4 notes the reference has no grouping sets at all): one pass
    produces (nation × segment), per-segment, and grand-total rows, with
    ``GROUPING()`` disambiguating which set a row belongs to (a NULL key
    value vs a rolled-up key are different things).

    Expressed through the engine's SQL FRONT DOOR (``register_views`` +
    ``spark.sql`` — the same text a DuckDB/Trino user would write runs
    unchanged), showing the registered-query surface is not DataFrame-only.
    Catalyst plans grouping sets as one Expand (×3 here) + one
    partial-aggregated shuffle — rows expand map-side to their grouping
    sets BEFORE the partial agg, so the shuffle still carries per-group
    partials. Money folds as exact floored cents (order-free, HUGEINT-cast
    in the oracle)."""
    from kafka_streams_playground_spark.sources.parquet import register_views

    register_views(spark, sf_dir, "customer", "nation")
    return spark.sql(
        """
        SELECT n_name, c_mktsegment,
               COUNT(*) AS n_customers,
               CAST(SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS acctbal_cents,
               CAST(GROUPING(n_name) * 2 + GROUPING(c_mktsegment) AS BIGINT)
                   AS grouping_set_id
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY GROUPING SETS ((n_name, c_mktsegment), (c_mktsegment), ())
        """
    )


@query(
    "q_local_supplier_volume",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100
                               + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents,
           COUNT(*) AS n_lineitems
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
                   AND s.s_nationkey = c.c_nationkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN region r   ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate::TIMESTAMP >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate::TIMESTAMP <  TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    """,
    tags=("extension", "join", "multiway", "bench"),
)
def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped local-supplier volume: revenue by nation where the
    customer and the line's supplier share a nation, restricted to one
    region and one order year — the canonical 6-way join the optimizer has
    to get RIGHT at 100 TB, which is exactly why it's declared, not
    hand-wired.

    Plan shape Catalyst produces (and AQE re-checks at runtime): region ⋈
    nation folds to a 5-row broadcast filter; supplier (always ≪ lineitem —
    TPC-H scales it at 1/6000th) broadcasts into the lineitem scan; the
    date filter on orders pushes to its parquet scan BEFORE the
    customer⋈orders shuffle, so the only big exchanges are orders⋈lineitem
    on orderkey — co-partitioned with the downstream group-by's first
    shuffle — and the final per-nation rollup is 25 rows after map-side
    partials. Revenue folds as floored integer cents per row (order-free,
    cross-engine exact — the q_shipping_priority_top10 convention)."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    ).select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nat = nation.join(
        F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"]
    ).select("n_nationkey", "n_name")
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    ).cast("long")
    j = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"])
        .join(li, li["l_orderkey"] == orders["o_orderkey"])
        .join(
            F.broadcast(supp),
            (supp["s_suppkey"] == li["l_suppkey"])
            & (supp["s_nationkey"] == cust["c_nationkey"]),
        )
        .join(F.broadcast(nat), nat["n_nationkey"] == supp["s_nationkey"])
    )
    return j.groupBy(F.col("n_name").alias("nation")).agg(
        F.sum(cents).alias("revenue_cents"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


@query(
    "wf_ntile_price_quartiles",
    oracle="""
    WITH t AS (
      SELECT o_orderpriority,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             NTILE(4) OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice ASC, o_orderkey ASC) AS quartile
      FROM orders
    )
    SELECT o_orderpriority, quartile,
           COUNT(*) AS n_orders,
           MIN(cents) AS min_cents,
           MAX(cents) AS max_cents
    FROM t GROUP BY o_orderpriority, quartile
    """,
    tags=("extension", "window", "ntile"),
)
def wf_ntile_price_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE bucketing (§2.5's remaining ranking-window form): per-priority
    price quartiles with per-bucket count and cent bounds — the
    distribution-summary window a pricing dashboard derives. NTILE needs a
    TOTAL order to be deterministic; ties on o_totalprice are broken by
    o_orderkey in BOTH engines, so bucket boundaries match exactly. Scale
    shape: one shuffle on the partition key, per-partition sort, then a
    map-side-partial rollup to |priorities|×4 rows; at 100 TB a skewed
    partition key would sort big partitions, but priorities are ~uniform
    by construction (and percentile_approx is the sketch-based escape
    hatch agg_price_percentiles already demonstrates)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    t = orders.select(
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        F.ntile(4).over(w).alias("quartile"),
    )
    return t.groupBy("o_orderpriority", "quartile").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("cents").alias("min_cents"),
        F.max("cents").alias("max_cents"),
    )


@query(
    "agg_unpivot_status_counts",
    oracle="""
    WITH w AS (
      SELECT c_mktsegment AS segment,
             COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS status_F,
             COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS status_O,
             COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS status_P
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1
    )
    SELECT segment, status, n FROM (
      SELECT segment, 'F' AS status, status_F AS n FROM w
      UNION ALL SELECT segment, 'O', status_O FROM w
      UNION ALL SELECT segment, 'P', status_P FROM w
    )
    """,
    tags=("extension", "agg", "unpivot", "bench"),
)
def agg_unpivot_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt) — the inverse of ``agg_pivot_status_by_segment``:
    the wide per-segment status-count matrix folds back to long
    (segment, status, n) rows via ``stack``. Wide→long is how pivoted
    report tables re-enter relational pipelines (and how sparse feature
    matrices are exploded for aggregation); Spark's ``stack(n, k1, v1,
    ...)`` is a generator expression — map-side only, no shuffle beyond
    the pivot's own aggregate, output rows = segments × declared metrics
    (static schema, the only sane unpivot form at scale — zero-count
    cells survive as explicit rows, which the downstream long-format
    aggregate needs)."""
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderstatus")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
    wide = (
        j.groupBy(F.col("c_mktsegment").alias("segment"))
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "segment",
            F.coalesce(F.col("F"), F.lit(0)).cast("bigint").alias("status_F"),
            F.coalesce(F.col("O"), F.lit(0)).cast("bigint").alias("status_O"),
            F.coalesce(F.col("P"), F.lit(0)).cast("bigint").alias("status_P"),
        )
    )
    return wide.select(
        "segment",
        F.expr(
            "stack(3, 'F', status_F, 'O', status_O, 'P', status_P) AS (status, n)"
        ),
    )


# TPC-H Q8 ("national market share") adapted to the fixture schema: within
# one customer region and one part type, the share of yearly revenue
# supplied by one nation. Revenue folds as floored integer cents (the
# q_shipping_priority stance); the share itself is an exact parts-per-
# million integer (num*1e6 div den — no float division anywhere).
Q8_REGION = "ASIA"
Q8_PART_TYPE = "PROMO"
Q8_NATION = "NATION_3"


@query(
    "q_market_share_promo_asia",
    oracle=f"""
    WITH base AS (
      SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
             CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5)
                  AS BIGINT) AS rev_cents,
             sn.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN part p ON l.l_partkey = p.p_partkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      JOIN region r ON cn.n_regionkey = r.r_regionkey
      WHERE r.r_name = '{Q8_REGION}' AND p.p_type = '{Q8_PART_TYPE}'
    )
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = '{Q8_NATION}'
                         THEN rev_cents ELSE 0 END) AS BIGINT)
               AS nation_rev_cents,
           CAST(SUM(rev_cents) AS BIGINT) AS total_rev_cents,
           CAST(SUM(CASE WHEN supp_nation = '{Q8_NATION}'
                         THEN rev_cents ELSE 0 END) * 1000000
                // SUM(rev_cents) AS BIGINT) AS share_ppm
    FROM base GROUP BY o_year
    """,
    tags=("extension", "tpch", "join", "bench"),
)
def q_market_share_promo_asia(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape — national market share: within ASIA customers and
    PROMO parts, NATION_3's share of yearly supplier revenue. The widest
    join tree in the registry (lineitem ⋈ orders ⋈ part ⋈ supplier ⋈
    nation ⋈ customer ⋈ nation ⋈ region — 8 relations), which is exactly
    the class of query Catalyst's join reordering + broadcast planning
    exists for.

    Spark shape: every dimension (part, supplier, nation ×2, customer,
    region) is filter-pruned BEFORE its join and broadcast by AQE at this
    scale (only the lineitem⋈orders fact-fact edge shuffles, on the
    orderkey both sides already share); the p_type and r_name predicates
    push into the dimension scans (row-group pruning). Revenue folds as
    floored integer cents map-side-partially; the share is exact integer
    ppm — no float division. At 100 TB: fact-fact stays a co-shuffle
    (bucket both on orderkey to erase it — sinks.write_bucketed_table),
    customer outgrows broadcast first and flips to a shuffled hash join on
    custkey; everything else is classic small-dim broadcast."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == Q8_PART_TYPE)
        .select("p_partkey")
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    reg = (
        load_table(spark, sf_dir, "region")
        .filter(F.col("r_name") == Q8_REGION)
        .select("r_regionkey")
    )
    cust_region = (
        cust.join(F.broadcast(nat.select("n_nationkey", "n_regionkey")),
                  cust["c_nationkey"] == nat["n_nationkey"])
        .join(F.broadcast(reg), F.col("n_regionkey") == reg["r_regionkey"])
        .select("c_custkey")
    )
    supp_nat = supp.join(
        F.broadcast(nat.select(F.col("n_nationkey").alias("sn_key"),
                               F.col("n_name").alias("supp_nation"))),
        supp["s_nationkey"] == F.col("sn_key"),
    ).select("s_suppkey", "supp_nation")
    rev_cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    ).cast("bigint")
    base = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(F.broadcast(supp_nat), li["l_suppkey"] == F.col("s_suppkey"))
        # Explicit hint: cust_region is a two-join derived relation, so both
        # the planner's estimate and AQE's runtime rewrite leave it on a
        # SortMergeJoin (r14 final-plan audit: SMJ on o_custkey survived AQE;
        # the hint removes two exchanges + two sorts, −0.4 s at sf0.1). The
        # region slice of customer is dimension-sized until customer itself
        # outgrows broadcast — then drop the hint and this flips to the
        # shuffled join documented below (same flip note as PageRank's rank
        # vector).
        .join(F.broadcast(cust_region), orders["o_custkey"] == F.col("c_custkey"), "inner")
        .select(
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            rev_cents.alias("rev_cents"),
            "supp_nation",
        )
    )
    nation_rev = F.sum(
        F.when(F.col("supp_nation") == Q8_NATION, F.col("rev_cents")).otherwise(0)
    )
    return base.groupBy("o_year").agg(
        nation_rev.alias("nation_rev_cents"),
        F.sum("rev_cents").alias("total_rev_cents"),
        # DECIMAL(38,0) numerator: yearly revenue sums pass ~9.2e12 cents
        # around SF 5k, where an int64 ×1e6 wraps silently (non-ANSI)
        # while DuckDB's HUGEINT stays exact — the decimal path keeps both
        # engines' arithmetic aligned at every scale (ADVICE r5)
        F.expr(
            f"cast(cast(sum(case when supp_nation = '{Q8_NATION}' then "
            "rev_cents else 0 end) as decimal(38,0)) * 1000000 "
            "div sum(rev_cents) as bigint)"
        ).alias("share_ppm"),
    )


# TPC-H Q10 ("returned item reporting") adapted: top customers by revenue
# lost to returns in one quarter. Classic funnel of fact filters into a
# customer-grain aggregate with a bounded top-k.
Q10_FROM = "1995-01-01"
Q10_TO = "1995-04-01"
Q10_TOP = 20


@query(
    "q_returned_item_top_customers",
    oracle=f"""
    SELECT c.c_custkey AS custkey, c.c_name AS name, n.n_name AS nation,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100
                               + 0.5) AS BIGINT)) AS BIGINT) AS lost_rev_cents,
           COUNT(*) AS n_returned_items
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '{Q10_FROM}'
      AND o.o_orderdate < TIMESTAMP '{Q10_TO}'
    GROUP BY 1, 2, 3
    ORDER BY lost_rev_cents DESC, custkey ASC
    LIMIT {Q10_TOP}
    """,
    tags=("extension", "tpch", "join", "topk", "bench"),
)
def q_returned_item_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape — returned-item reporting: the Q10_TOP (= 20) customers
    who returned the most revenue in one quarter, with their nation — the
    churn-risk report. Completes the recognizable TPC-H set next to the
    Q1/Q3/Q5/Q8 shapes.

    Spark shape: the return flag and both date bounds push into their
    fact scans (plan-pinned below); the orders⋈lineitem fact edge
    co-shuffles on orderkey, the customer join keys on custkey after the
    aggregate has ALREADY collapsed to customer grain (aggregate-then-
    join: the heavy fact rows never carry the name/nation payload), the
    nation dim broadcasts, and the top-20 is TakeOrderedAndProject
    (per-partition heaps + a 20-row driver merge, never a global sort).
    Revenue folds as floored integer cents map-side-partially — exact
    across engines and partition counts."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("rev_cents"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    fact = (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            orders.filter(
                (F.col("o_orderdate") >= F.lit(Q10_FROM).cast("timestamp"))
                & (F.col("o_orderdate") < F.lit(Q10_TO).cast("timestamp"))
            ),
            li["l_orderkey"] == orders["o_orderkey"],
        )
        .groupBy("o_custkey")
        .agg(
            F.sum("rev_cents").alias("lost_rev_cents"),
            F.count(F.lit(1)).alias("n_returned_items"),
        )
    )
    out = (
        fact.join(cust, fact["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"])
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.col("n_name").alias("nation"),
            "lost_rev_cents",
            "n_returned_items",
        )
    )
    return out.orderBy(F.col("lost_rev_cents").desc(), F.col("custkey").asc()).limit(
        Q10_TOP
    )


# TPC-H Q7 ("volume shipping"): bilateral trade volume between two nations
# by year — supplier in one, customer in the other, either direction.
Q7_NATION_A = "NATION_1"
Q7_NATION_B = "NATION_2"
Q7_FROM = "1996-01-01"
Q7_TO = "1998-01-01"


@query(
    "q_volume_shipping_pair",
    oracle=f"""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100
                               + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation cn ON c.c_nationkey = cn.n_nationkey
    WHERE ((sn.n_name = '{Q7_NATION_A}' AND cn.n_name = '{Q7_NATION_B}')
        OR (sn.n_name = '{Q7_NATION_B}' AND cn.n_name = '{Q7_NATION_A}'))
      AND l.l_shipdate >= TIMESTAMP '{Q7_FROM}'
      AND l.l_shipdate < TIMESTAMP '{Q7_TO}'
    GROUP BY 1, 2, 3
    """,
    tags=("extension", "tpch", "join", "bench"),
)
def q_volume_shipping_pair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape — volume shipping: yearly bilateral revenue between
    two nations, supplier on one side and customer on the other, both
    directions reported separately (the trade-balance report).

    Spark shape: the shipdate band pushes into the lineitem scan; supplier
    and customer each pre-join their nation dim FILTERED to the two-nation
    set (broadcast — the filter prunes 23/25 nations before any fact row
    is touched), so the disjunctive either-direction predicate runs over
    already-tiny sides and the final pair filter is a cheap post-join
    check; the lineitem⋈orders fact edge co-shuffles on orderkey; revenue
    folds as floored integer cents with map-side partials into at most
    2 pairs × |years| output rows."""
    both = (Q7_NATION_A, Q7_NATION_B)
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        "l_shipdate",
        F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("rev_cents"),
    ).filter(
        (F.col("l_shipdate") >= F.lit(Q7_FROM).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(Q7_TO).cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    supp_nat = (
        load_table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(
            F.broadcast(nat.filter(F.col("n_name").isin(*both))),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust_nat = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(
            F.broadcast(
                nat.filter(F.col("n_name").isin(*both)).select(
                    F.col("n_nationkey").alias("cn_key"),
                    F.col("n_name").alias("cust_nation"),
                )
            ),
            F.col("c_nationkey") == F.col("cn_key"),
        )
        .select("c_custkey", "cust_nation")
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(supp_nat), li["l_suppkey"] == F.col("s_suppkey"))
        .join(cust_nat, orders["o_custkey"] == F.col("c_custkey"))
        .filter(
            (
                (F.col("supp_nation") == Q7_NATION_A)
                & (F.col("cust_nation") == Q7_NATION_B)
            )
            | (
                (F.col("supp_nation") == Q7_NATION_B)
                & (F.col("cust_nation") == Q7_NATION_A)
            )
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(F.sum("rev_cents").alias("revenue_cents"))
    )


# TPC-H Q9 shape ("product type profit"): supply cost adapted to
# p_retailprice × Q9_COST_FRAC since the fixture set has no partsupp table
# (documented adaptation; the dataflow — part-filtered fact join, per-line
# profit, nation × year rollup — is Q9's).
Q9_PART_TYPE = "ECONOMY"
Q9_COST_FRAC = 0.4


@query(
    "q_product_type_profit",
    oracle=f"""
    SELECT sn.n_name AS nation, CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100
                               + 0.5) AS BIGINT)
                    - CAST(FLOOR(p.p_retailprice * {Q9_COST_FRAC} * l.l_quantity
                                 * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS profit_cents
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE p.p_type = '{Q9_PART_TYPE}'
    GROUP BY 1, 2
    """,
    tags=("extension", "tpch", "join", "bench"),
)
def q_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape — product-type profit: per supplier nation and order
    year, the profit (revenue minus supply cost) on one part type. The
    fixture set carries no partsupp table, so supply cost is adapted to
    ``p_retailprice × {Q9_COST_FRAC} × quantity`` (stated in the oracle
    too — the join/rollup dataflow is exactly Q9's).

    Spark shape: the p_type filter prunes the part dim BEFORE its join
    (broadcast), cutting ~5/6 of fact rows at the first hash probe;
    supplier⋈nation pre-collapses to a broadcast (suppkey → nation) map;
    the lineitem⋈orders fact edge co-shuffles on orderkey; profit is a
    difference of two floored-integer-cents terms computed PER LINE (so
    the sum is order-free and cross-engine exact) with map-side partials
    into |nations| × |years| rows."""
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == Q9_PART_TYPE)
        .select("p_partkey", "p_retailprice")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount",
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    supp_nat = (
        load_table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    rev = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    ).cast("bigint")
    cost = F.floor(
        F.col("p_retailprice") * Q9_COST_FRAC * F.col("l_quantity") * 100 + F.lit(0.5)
    ).cast("bigint")
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(F.broadcast(supp_nat), li["l_suppkey"] == F.col("s_suppkey"))
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("nation", F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(F.sum(rev - cost).alias("profit_cents"))
    )


# TPC-H Q12 shape ("shipping modes and order priority"): the fixture
# lineitem has no shipmode/commitdate, so the "late" predicate is adapted
# to shipdate > orderdate + Q12_LATE_DAYS and the grouping key to
# l_returnflag (documented; the join + conditional-priority-count rollup
# is Q12's).
Q12_LATE_DAYS = 90
Q12_YEAR_FROM = "1996-01-01"
Q12_YEAR_TO = "1997-01-01"


@query(
    "q_late_shipment_priority",
    oracle=f"""
    SELECT l.l_returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '{Q12_YEAR_FROM}'
      AND l.l_shipdate < TIMESTAMP '{Q12_YEAR_TO}'
      AND l.l_shipdate > o.o_orderdate + INTERVAL '{Q12_LATE_DAYS} days'
    GROUP BY 1
    """,
    tags=("extension", "tpch", "join", "bench"),
)
def q_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape — late shipments by priority class: for lines
    shipped more than {Q12_LATE_DAYS} days after their order date within
    one year, count critical-priority vs other orders per return-flag
    group (the logistics SLA report; shipmode/commitdate don't exist in
    the fixture schema, so the late predicate and grouping key are the
    documented adaptations of Q12's).

    Spark shape: the shipdate year band pushes into the lineitem scan;
    the orders⋈lineitem edge co-shuffles on orderkey with the
    date-difference predicate evaluated at the join (non-equi residual on
    a co-partitioned equi-join — never a range join); the conditional
    counts are map-side-partial CASE sums into 3 output rows."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_shipdate"
    ).filter(
        (F.col("l_shipdate") >= F.lit(Q12_YEAR_FROM).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(Q12_YEAR_TO).cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            orders,
            (li["l_orderkey"] == orders["o_orderkey"])
            & (
                li["l_shipdate"]
                > F.col("o_orderdate") + F.expr(f"INTERVAL {Q12_LATE_DAYS} DAYS")
            ),
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(hi.cast("bigint")).alias("high_line_count"),
            F.sum((~hi).cast("bigint")).alias("low_line_count"),
        )
    )


# TPC-H Q16 shape ("parts/supplier relationship"): the part-supplier
# relation comes from the distinct (partkey, suppkey) pairs observed in
# lineitem (no partsupp table in the fixture set); "customer complaints"
# suppliers are adapted to negative account balance.
Q16_EXCL_BRAND = "Brand#1"
Q16_SIZES = (1, 5, 9, 13, 17, 21, 25, 29)


@query(
    "q_supplier_cnt_by_part",
    oracle=f"""
    SELECT p.p_brand, p.p_type, CAST(p.p_size AS BIGINT) AS p_size,
           CAST(COUNT(DISTINCT ps.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
    JOIN part p ON p.p_partkey = ps.l_partkey
    WHERE p.p_brand <> '{Q16_EXCL_BRAND}'
      AND p.p_size IN ({", ".join(str(s) for s in Q16_SIZES)})
      AND ps.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY 1, 2, 3
    """,
    tags=("extension", "tpch", "join", "distinct", "bench"),
)
def q_supplier_cnt_by_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape — supplier count per part classification: how many
    distinct (non-excluded) suppliers can furnish parts of each
    (brand, type, size) cell, skipping one brand and restricting to a size
    set. The part-supplier relation is the distinct (partkey, suppkey)
    pairs observed in lineitem and the complaints exclusion is adapted to
    negative account balance (no partsupp table in the fixture set —
    documented; the distinct-pair + NOT-IN + COUNT(DISTINCT) dataflow is
    Q16's).

    Spark shape: the brand/size filters prune the part dim before its
    broadcast join; the excluded-supplier set is a broadcast
    left-anti join (NOT IN over a dim-bounded set — never a shuffle);
    the distinct pair projection and the COUNT(DISTINCT suppkey) rollup
    share one partkey-side shuffle with partial aggregation (Spark plans
    count-distinct as a two-phase expand+agg, map-side partials both
    phases)."""
    pairs = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    part = (
        load_table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != Q16_EXCL_BRAND)
            & F.col("p_size").isin(*Q16_SIZES)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bad_supp = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        pairs.join(bad_supp, pairs["l_suppkey"] == bad_supp["s_suppkey"], "left_anti")
        .join(F.broadcast(part), F.col("l_partkey") == part["p_partkey"])
        .groupBy("p_brand", "p_type", F.col("p_size").cast("bigint").alias("p_size"))
        .agg(F.count_distinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
    )


# TPC-H Q22 shape ("global sales opportunity"): rich-but-dormant customers.
# The per-country phone prefix is adapted to c_custkey % Q22_BUCKETS; the
# "above average positive balance" comparison is an exact integer
# cross-multiply (bal_cents × n_pos > sum_pos_cents) so no float mean ever
# crosses engines.
Q22_BUCKETS = 5
Q22_SINCE = "1999-01-01"  # dormant = no order on/after this date (every
# fixture customer has SOME order, so Q22's never-ordered predicate is
# adapted to lapsed-since; the anti-join dataflow is unchanged)


@query(
    "q_dormant_rich_customers",
    oracle=f"""
    WITH pos AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_pos,
             CAST(SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
                 AS sum_cents
      FROM customer WHERE c_acctbal > 0
    )
    SELECT CAST(c.c_custkey % {Q22_BUCKETS} AS BIGINT) AS cust_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_custs,
           CAST(SUM(CAST(FLOOR(c.c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS total_bal_cents
    FROM customer c CROSS JOIN pos
    WHERE CAST(FLOOR(c.c_acctbal * 100 + 0.5) AS BIGINT) * pos.n_pos
              > pos.sum_cents
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '{Q22_SINCE}')
    GROUP BY 1
    """,
    tags=("extension", "tpch", "antijoin", "bench"),
)
def q_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape — global sales opportunity: customers whose balance
    beats the mean POSITIVE balance but who have placed no order since
    {Q22_SINCE} (every fixture customer has some order, so Q22's
    never-ordered test is adapted to lapsed-since — documented), bucketed (custkey mod {Q22_BUCKETS} stands in for the phone-prefix
    country code — documented adaptation; the scalar-aggregate compare +
    anti-join + bucket rollup dataflow is Q22's).

    Spark shape: the positive-balance mean is a 1-row broadcast scalar
    (cross join of an aggregate — never a correlated re-scan), and the
    above-mean test is an exact integer cross-multiply, so the comparison
    is bit-identical across engines and no float mean is ever computed;
    the never-ordered test is a left-anti join shuffled on custkey (the
    orders side projects to the bare key — at 100 TB the anti join
    co-partitions both sides on custkey and the bucket rollup is
    map-side-partial into {Q22_BUCKETS} rows)."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("bigint").alias(
            "bal_cents"
        ),
        F.col("c_acctbal"),
    )
    pos = cust.filter(F.col("c_acctbal") > 0).agg(
        F.count(F.lit(1)).alias("n_pos"),
        F.sum("bal_cents").alias("sum_cents"),
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit(Q22_SINCE).cast("timestamp"))
        .select("o_custkey")
    )
    return (
        cust.crossJoin(F.broadcast(pos))
        .filter(F.col("bal_cents") * F.col("n_pos") > F.col("sum_cents"))
        .join(orders, cust["c_custkey"] == orders["o_custkey"], "left_anti")
        .groupBy((F.col("c_custkey") % Q22_BUCKETS).cast("bigint").alias("cust_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.sum("bal_cents").alias("total_bal_cents"),
        )
    )


@query(
    "agg_kmv_merge_by_type",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT event_type,
             (('0x' || substr(md5(user_id::VARCHAR), 1, 8)))::BIGINT AS hv
      FROM events
    ),
    r AS (
      SELECT event_type, hv,
             row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
      FROM h
    ),
    sk AS (SELECT event_type, hv FROM r WHERE rn <= {KMV_K}),
    pt AS (
      SELECT event_type AS scope, COUNT(*) AS k_n, MAX(hv) AS kth
      FROM sk GROUP BY 1
    ),
    ak AS (
      SELECT hv FROM (SELECT DISTINCT hv FROM sk) ORDER BY hv LIMIT {KMV_K}
    ),
    pa AS (SELECT '__all__' AS scope, COUNT(*) AS k_n, MAX(hv) AS kth FROM ak),
    u AS (SELECT * FROM pt UNION ALL SELECT * FROM pa)
    SELECT scope, CAST(k_n AS BIGINT) AS k_n,
           CASE WHEN k_n < {KMV_K} THEN CAST(k_n AS BIGINT)
                ELSE CAST(FLOOR(({KMV_K} - 1) * {2**32}.0 / kth) AS BIGINT)
           END AS est_distinct
    FROM u
    """,
    tags=("extension", "agg", "sketch", "bench"),
)
def agg_kmv_merge_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable KMV sketches: one distinct-user sketch PER event type plus
    the MERGED all-types sketch — the property that makes sketches the
    distributed cardinality answer: the K smallest of the union of
    per-partition bottom-Ks IS the bottom-K of the union (any global
    K-minimum is necessarily inside its own partition's K minimums), so
    partial sketches combine without revisiting data. This is the
    operator a 100 TB pipeline runs per source/day and folds upward for
    rollup cardinalities (`agg_kmv_distinct_sketch` is the single-scope
    form; this is its merge tier).

    Spark shape: the per-type bottom-K is a TWO-PHASE rank — a salted
    (type, hv mod 64) window prunes to 64·K candidates per type in
    parallel, then the per-type window ranks only that bounded set (the
    zipf/pack_sequences recipe: no window ever sorts a type's full
    distinct-hash population on one task); the merged sketch re-sorts the
    |types|·K union with TakeOrderedAndProject. All arithmetic is md5 +
    integers — the sketches themselves are oracle-checked bit-for-bit,
    which the built-in HLL (engine-specific registers) can never be;
    ``agg_hll_merge_by_type`` hand-rolls the registers from the same md5
    recipe to give HLL the same property."""
    events = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    h = events.select(
        "event_type",
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        .alias("hv"),
    ).distinct()
    salted = h.withColumn("salt", F.pmod("hv", F.lit(64)))
    w1 = Window.partitionBy("event_type", "salt").orderBy("hv")
    cand = (
        salted.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= KMV_K)
        .select("event_type", "hv")
    )
    w2 = Window.partitionBy("event_type").orderBy("hv")
    sk = (
        cand.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= KMV_K)
        .select("event_type", "hv")
    )
    pt = sk.groupBy(F.col("event_type").alias("scope")).agg(
        F.count(F.lit(1)).alias("k_n"), F.max("hv").alias("kth")
    )
    ak = sk.select("hv").distinct().orderBy("hv").limit(KMV_K)
    pa = ak.agg(
        F.lit("__all__").alias("scope"),
        F.count(F.lit(1)).alias("k_n"),
        F.max("hv").alias("kth"),
    )
    est = (
        F.when(F.col("k_n") < KMV_K, F.col("k_n").cast("long"))
        .otherwise(F.floor((KMV_K - 1) * float(2**32) / F.col("kth")).cast("long"))
        .alias("est_distinct")
    )
    return pt.unionByName(pa).select("scope", F.col("k_n").cast("long").alias("k_n"), est)


@query(
    "wf_rank_family_order_totals",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           RANK() OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk,
           FLOOR(PERCENT_RANK() OVER w * 1000000 + 0.5) / 1000000 AS pct_rank,
           FLOOR(CUME_DIST() OVER w * 1000000 + 0.5) / 1000000 AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC)
    """,
    tags=("extension", "window_fn", "bench"),
)
def wf_rank_family_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full SQL ranking-function family in one pass — RANK (gapped),
    DENSE_RANK (gapless), PERCENT_RANK, CUME_DIST — over order totals per
    priority class, completing §2.5 next to row_number/ntile/lag/lead
    (duplicate totals exist, so RANK ≠ DENSE_RANK ≠ row_number is actually
    exercised; with ties the four values are deterministic regardless of
    within-tie row order, so no tiebreak column is needed and the oracle
    hash-compare is exact — PERCENT_RANK and CUME_DIST are ratios of the
    same integers in both engines, quantized to the 1e-6 grid per
    convention).

    Spark shape: one hash exchange on the partition key, one in-partition
    sort serving all four functions (same window spec → single Window
    operator); per-partition row counts are bounded by the priority-class
    share of orders — the ranking is embarrassingly parallel across
    classes at any scale."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    w = Window.partitionBy("o_orderpriority").orderBy(F.col("o_totalprice").desc())
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        (F.floor(F.percent_rank().over(w) * 1000000 + F.lit(0.5)) / 1000000).alias(
            "pct_rank"
        ),
        (F.floor(F.cume_dist().over(w) * 1000000 + F.lit(0.5)) / 1000000).alias(
            "cume"
        ),
    )


@query(
    "wf_moving_avg_user_value",
    oracle="""
    SELECT user_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch,
           event_id,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) OVER w AS BIGINT)
               AS mov_sum_cents,
           COUNT(*) OVER w AS n_frame,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) OVER w
                // COUNT(*) OVER w AS BIGINT) AS mov_avg_cents
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
    """,
    tags=("extension", "window", "frame"),
)
def wf_moving_avg_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOUNDED-rows frame spec (SURVEY §2.5) — the 4-row moving average of
    per-user event value, the smoothing window every monitoring dashboard
    computes. Completes the frame family: the other windows here use
    UNBOUNDED PRECEDING (running folds); this one exercises the sliding
    ROWS frame, where Spark keeps a 4-row buffer per partition instead of
    an accumulator. Cents on the exact BIGINT grid, average by integer
    division — bit-equal across engines; the frame is ordered by the
    FULL-precision timestamp (sub-second) plus event_id, matching the
    oracle's ORDER BY ts, event_id — ordering by a second-truncated epoch
    would silently disagree whenever two same-user events share a floor
    second (ADVICE r6); ts_epoch is an output column only. One user_id
    shuffle + one sort; at 100 TB identical to every other single-window
    plan here (skew = the hottest user)."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        F.unix_timestamp("ts").alias("ts_epoch"),
        "event_id",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_id"))
        .rowsBetween(-3, W.currentRow)
    )
    return ev.select(
        "user_id",
        "ts_epoch",
        "event_id",
        F.sum("cents").over(w).alias("mov_sum_cents"),
        F.count(F.lit(1)).over(w).alias("n_frame"),
    ).withColumn(
        "mov_avg_cents", F.expr("CAST(mov_sum_cents div n_frame AS BIGINT)")
    )


@query(
    "cdc_snapshot_diff",
    oracle="""
    WITH old AS (
      SELECT event_id, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events WHERE event_id % 7 <> 0
    ),
    new AS (
      SELECT event_id,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
               + CASE WHEN event_id % 11 = 0 THEN 100 ELSE 0 END AS cents
      FROM events WHERE event_id % 5 <> 0
    )
    SELECT COALESCE(o.event_id, n.event_id) AS event_id,
           CASE WHEN o.event_id IS NULL THEN 'added'
                WHEN n.event_id IS NULL THEN 'removed'
                ELSE 'changed' END AS change,
           o.cents AS old_cents, n.cents AS new_cents
    FROM old o FULL OUTER JOIN new n ON o.event_id = n.event_id
    WHERE o.event_id IS NULL OR n.event_id IS NULL OR o.cents <> n.cents
    """,
    tags=("extension", "cdc", "diff"),
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff — the CDC/data-versioning operator: given yesterday's
    and today's keyed snapshots, emit the added / removed / changed rows
    (the delta a downstream incremental consumer replays, and the audit a
    dataset release publishes). Snapshots are deterministic rule-derived
    slices of the events table (old drops event_id%7==0, new drops %5==0
    and bumps %11==0 values), so both engines derive identical versions.

    Spark shape: ONE co-shuffled full-outer join on the key — both sides
    hash on event_id (or pre-bucket both snapshots by key, making nightly
    diffs shuffle-free: sinks.write_bucketed_table) — then a null/value
    classify projection; unchanged rows are filtered at the join output so
    the delta, not the corpus, is what leaves the stage. At 100 TB this is
    the standard table-format diff primitive (what Delta/Iceberg
    changelogs materialize), and per-column change attribution is the
    same compare widened to a struct."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents")
    )
    old = ev.filter(F.col("event_id") % 7 != 0).select(
        F.col("event_id").alias("o_id"), F.col("cents").alias("old_cents")
    )
    new = ev.filter(F.col("event_id") % 5 != 0).select(
        F.col("event_id").alias("n_id"),
        (
            F.col("cents")
            + F.when(F.col("event_id") % 11 == 0, F.lit(100)).otherwise(F.lit(0))
        ).alias("new_cents"),
    )
    j = old.join(new, old["o_id"] == new["n_id"], "full_outer")
    return (
        j.filter(
            F.col("o_id").isNull()
            | F.col("n_id").isNull()
            | (F.col("old_cents") != F.col("new_cents"))
        )
        .select(
            F.coalesce("o_id", "n_id").alias("event_id"),
            F.when(F.col("o_id").isNull(), F.lit("added"))
            .when(F.col("n_id").isNull(), F.lit("removed"))
            .otherwise(F.lit("changed"))
            .alias("change"),
            "old_cents",
            "new_cents",
        )
    )


JCARD_K = 256


@query(
    "stats_join_cardinality_kmv",
    oracle=f"""
    WITH ha AS (
      SELECT DISTINCT (('0x' || substr(md5(o_custkey::VARCHAR), 1, 8)))::BIGINT AS hv
      FROM orders
    ),
    hb AS (
      SELECT DISTINCT (('0x' || substr(md5(user_id::VARCHAR), 1, 8)))::BIGINT AS hv
      FROM events
    ),
    u AS (SELECT hv FROM (SELECT hv FROM ha UNION SELECT hv FROM hb)
          ORDER BY hv LIMIT {JCARD_K}),
    s AS (SELECT COUNT(*) AS k_n, MAX(hv) AS kth FROM u),
    ue AS (
      SELECT k_n,
             CASE WHEN k_n < {JCARD_K} THEN CAST(k_n AS BIGINT)
                  ELSE CAST(FLOOR(({JCARD_K} - 1) * {2**32}.0 / kth) AS BIGINT)
             END AS union_est
      FROM s
    ),
    b AS (
      SELECT COUNT(*) AS n_both FROM u
      WHERE hv IN (SELECT hv FROM ha) AND hv IN (SELECT hv FROM hb)
    ),
    t AS (
      SELECT (SELECT COUNT(*) FROM ha WHERE hv IN (SELECT hv FROM hb))
                 AS true_common_keys,
             (SELECT COUNT(*) FROM (SELECT hv FROM ha UNION SELECT hv FROM hb))
                 AS true_union_keys
    )
    SELECT ue.k_n, ue.union_est, b.n_both,
           CAST(b.n_both * ue.union_est // {JCARD_K} AS BIGINT)
               AS est_common_keys,
           t.true_common_keys, t.true_union_keys
    FROM ue, b, t
    """,
    tags=("extension", "stats", "sketch", "optimizer", "bench"),
)
def stats_join_cardinality_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based JOIN CARDINALITY estimation — the optimizer statistic a
    CBO consults before picking join order/strategy, computed WITHOUT
    touching the other table's raw keys: each side keeps a KMV bottom-K of
    its distinct key hashes (K longs per table, maintained incrementally
    at ingest), the union's bottom-K estimates |A ∪ B|, and the fraction
    of those K values present in BOTH sketches estimates the key-set
    Jaccard (Beyer et al., SIGMOD'07) — est common keys = n_both x
    union_est / K. Like agg_kmv_distinct_sketch, the whole estimator is
    md5 + integer arithmetic, so the SKETCH ITSELF is oracle-checked
    bit-for-bit, and the true common/union counts ride along so the query
    self-reports its accuracy (also asserted in tests). Scale shape: two
    map-side distinct-hash passes + TakeOrderedAndProject bottom-Ks; the
    only full-width work is the truth columns, which a production CBO
    would not compute — the estimate costs O(K) state per table."""
    result, caches = _jcard_relation(spark, sf_dir)
    # one-row report; materialize, then release the per-query sketch caches
    # (ADVICE r6 cache-pressure hygiene)
    result = result.localCheckpoint(eager=True)
    for df in caches:
        df.unpersist()
    return result


def _jcard_relation(spark: SparkSession, sf_dir: str):
    """Pre-materialization join-cardinality relation + its sketch caches —
    split out so the plan-shape test can inspect the REAL plan (the query
    fn localCheckpoints the 1-row report to release the caches)."""
    K = JCARD_K

    def hashes(table: str, col: str) -> DataFrame:
        return (
            load_table(spark, sf_dir, table)
            .select(
                F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 8), 16, 10)
                .cast("long")
                .alias("hv")
            )
            .distinct()
        )

    ha = hashes("orders", "o_custkey").persist()
    hb = hashes("events", "user_id").persist()
    u = ha.union(hb).distinct().orderBy("hv").limit(K).persist()
    s = u.agg(F.count(F.lit(1)).alias("k_n"), F.max("hv").alias("kth"))
    ue = s.select(
        "k_n",
        F.when(F.col("k_n") < K, F.col("k_n").cast("long"))
        .otherwise(F.floor((K - 1) * float(2**32) / F.col("kth")).cast("long"))
        .alias("union_est"),
    )
    b = (
        u.join(ha, "hv", "left_semi")
        .join(hb, "hv", "left_semi")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    t = (
        ha.join(hb, "hv", "left_semi")
        .agg(F.count(F.lit(1)).alias("true_common_keys"))
        .crossJoin(
            F.broadcast(
                ha.union(hb)
                .distinct()
                .agg(F.count(F.lit(1)).alias("true_union_keys"))
            )
        )
    )
    result = (
        ue.crossJoin(F.broadcast(b))
        .crossJoin(F.broadcast(t))
        .select(
            "k_n",
            "union_est",
            "n_both",
            F.expr(f"CAST(n_both * union_est div {K} AS BIGINT)").alias(
                "est_common_keys"
            ),
            "true_common_keys",
            "true_union_keys",
        )
    )
    return result, (ha, hb, u)


@query(
    "cdc_merge_upsert",
    oracle="""
    WITH base AS (
      SELECT event_id, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events WHERE event_id % 7 <> 0
    ),
    chg AS (
      SELECT event_id,
             CASE WHEN event_id % 7 = 0 THEN 'I'
                  WHEN event_id % 11 = 0 THEN 'U'
                  ELSE 'D' END AS op,
             CASE WHEN event_id % 7 = 0
                  THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                  WHEN event_id % 11 = 0
                  THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT) + 100
                  ELSE NULL END AS new_cents
      FROM events
      WHERE event_id % 7 = 0 OR event_id % 11 = 0 OR event_id % 13 = 0
    )
    SELECT COALESCE(b.event_id, c.event_id) AS event_id,
           CASE WHEN c.op IS NULL THEN b.cents ELSE c.new_cents END AS cents,
           CASE WHEN c.op IS NULL THEN 'kept'
                WHEN c.op = 'U' THEN 'updated'
                ELSE 'inserted' END AS merge_action
    FROM base b FULL OUTER JOIN chg c ON b.event_id = c.event_id
    WHERE c.op IS NULL                                   -- untouched target row
       OR (c.op = 'I' AND b.event_id IS NULL)            -- insert: not matched
       OR (c.op = 'U' AND b.event_id IS NOT NULL)        -- update: matched
    """,
    tags=("extension", "cdc", "merge", "bench"),
)
def cdc_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (upsert) — the lakehouse write primitive that applies a
    CDC change batch to a keyed snapshot: WHEN MATCHED AND op='U' THEN
    UPDATE, WHEN MATCHED AND op='D' THEN DELETE, WHEN NOT MATCHED AND
    op='I' THEN INSERT. Completes the CDC family: ``cdc_snapshot_diff``
    derives the delta; this applies one. Base and change batch are
    deterministic rule-slices of events (base = id%7≠0; inserts = the
    id%7=0 complement, updates bump id%11=0 by 100 cents, deletes remove
    id%13=0 — precedence I>U>D gives each key exactly one op), so both
    engines derive identical inputs. Unmatched U and all D rows drop from
    the output — matching Delta/Iceberg MERGE's matched-clause gating.

    Spark shape: ONE co-shuffled full-outer join on the key + a conditional
    resolve projection — exactly how Delta implements MERGE (join target
    with source, rewrite matched files). At 100 TB both sides bucket on
    the key (sinks.write_bucketed_table) making nightly merges
    shuffle-free on the target side; the resolve logic is unchanged.
    Output = the merged snapshot with per-row merge_action lineage."""
    ev = cdc_cents(load_table(spark, sf_dir, "events"))
    base = ev.filter(F.col("event_id") % 7 != 0).select(
        F.col("event_id").alias("b_id"), F.col("cents").alias("b_cents")
    )
    chg = ev.filter(cdc_is_change()).select(
        F.col("event_id").alias("c_id"),
        F.when(F.col("event_id") % 7 == 0, F.lit("I"))
        .when(F.col("event_id") % 11 == 0, F.lit("U"))
        .otherwise(F.lit("D"))
        .alias("op"),
        cdc_new_cents().alias("new_cents"),
    )
    j = base.join(chg, base["b_id"] == chg["c_id"], "full_outer")
    keep = (
        F.col("op").isNull()
        | ((F.col("op") == "I") & F.col("b_id").isNull())
        | ((F.col("op") == "U") & F.col("b_id").isNotNull())
    )
    return j.filter(keep).select(
        F.coalesce("b_id", "c_id").alias("event_id"),
        F.when(F.col("op").isNull(), F.col("b_cents"))
        .otherwise(F.col("new_cents"))
        .alias("cents"),
        F.when(F.col("op").isNull(), F.lit("kept"))
        .when(F.col("op") == "U", F.lit("updated"))
        .otherwise(F.lit("inserted"))
        .alias("merge_action"),
    )


def cdc_cents(events: DataFrame) -> DataFrame:
    """(event_id, cents): the keyed rows the CDC merge works on."""
    return events.select(
        "event_id", F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents")
    )


def cdc_is_change() -> Column:
    """The change batch: inserts (id % 7), updates (id % 11), deletes (id % 13)."""
    return (
        (F.col("event_id") % 7 == 0)
        | (F.col("event_id") % 11 == 0)
        | (F.col("event_id") % 13 == 0)
    )


def cdc_new_cents() -> Column:
    """A change row's new value: inserts keep cents, updates add 100, deletes are NULL."""
    return (
        F.when(F.col("event_id") % 7 == 0, F.col("cents"))
        .when(F.col("event_id") % 11 == 0, F.col("cents") + 100)
        .otherwise(F.lit(None).cast("long"))
    )


@query(
    "ivm_incremental_user_agg",
    oracle="""
    WITH merged AS (
      SELECT event_id, user_id,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
               + CASE WHEN event_id % 7 <> 0 AND event_id % 11 = 0
                      THEN 100 ELSE 0 END AS cents
      FROM events
      WHERE event_id % 7 = 0                            -- inserted
         OR (event_id % 7 <> 0 AND event_id % 11 = 0)   -- updated
         OR (event_id % 7 <> 0 AND event_id % 11 <> 0
             AND event_id % 13 <> 0)                    -- kept
    )
    SELECT user_id, COUNT(*) AS n_rows, CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM merged GROUP BY user_id
    """,
    tags=("extension", "cdc", "ivm", "agg", "bench"),
)
def ivm_incremental_user_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance — keep a materialized per-user
    (count, sum) aggregate current under the CDC change batch WITHOUT
    recomputing it from the snapshot: the base aggregate merges with
    per-key DELTA contributions (+1/+cents per insert, new−old per update,
    −1/−cents per delete) — the classic self-maintainable-view algebra
    every streaming materialized view (Delta Live Tables, Materialize,
    Flink SQL) executes. The change rules are ``cdc_merge_upsert``'s, so
    the CDC family now covers derive (diff) → apply (merge) → maintain
    (this). THE ORACLE RECOMPUTES FROM THE MERGED SNAPSHOT — a value-hash
    match proves the incremental path equals the full recompute, which is
    the IVM correctness property itself.

    Spark shape: the base aggregate and the delta aggregate are each one
    user-keyed shuffle with map-side partials; updates/deletes fetch old
    values via a key-co-shuffled join against the BASE SLICE (at 100 TB
    the base aggregate is the stored view and the old-value lookup is the
    MERGE join's matched side — same dataflow, the delta side being
    day-sized, not corpus-sized); the final merge is a full-outer join of
    two aggregate relations with integer adds and a zero-count filter.
    Exact BIGINT cents throughout — no float drift between the
    incremental and recompute paths, which is what makes IVM auditable."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    base = ev.filter(F.col("event_id") % 7 != 0)
    agg_base = base.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n0"), F.sum("cents").alias("s0")
    )
    ins = ev.filter(F.col("event_id") % 7 == 0).select(
        "user_id", F.lit(1).alias("dn"), F.col("cents").alias("ds")
    )
    upd = (
        ev.filter((F.col("event_id") % 7 != 0) & (F.col("event_id") % 11 == 0))
        .select("event_id")
        .join(base, "event_id")  # old value lookup (the MERGE matched side)
        .select(
            "user_id",
            F.lit(0).alias("dn"),
            ((F.col("cents") + 100) - F.col("cents")).alias("ds"),
        )
    )
    dele = (
        ev.filter(
            (F.col("event_id") % 7 != 0)
            & (F.col("event_id") % 11 != 0)
            & (F.col("event_id") % 13 == 0)
        )
        .select("event_id")
        .join(base, "event_id")
        .select("user_id", F.lit(-1).alias("dn"), (-F.col("cents")).alias("ds"))
    )
    delta = (
        ins.unionAll(upd)
        .unionAll(dele)
        .groupBy("user_id")
        .agg(F.sum("dn").alias("dn"), F.sum("ds").alias("ds"))
    )
    merged = agg_base.join(delta, "user_id", "full_outer").select(
        "user_id",
        (F.coalesce("n0", F.lit(0)) + F.coalesce("dn", F.lit(0))).alias("n_rows"),
        (F.coalesce("s0", F.lit(0)) + F.coalesce("ds", F.lit(0))).alias("sum_cents"),
    )
    return merged.filter(F.col("n_rows") > 0)


@query(
    "ivm_incremental_join_view",
    oracle="""
    WITH a AS (
      SELECT o_orderkey, o_orderstatus FROM orders
    ),
    b AS (
      SELECT l_orderkey, l_returnflag,
             CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
      FROM lineitem
    )
    SELECT a.o_orderstatus, b.l_returnflag,
           COUNT(*) AS n_rows, CAST(SUM(b.cents) AS BIGINT) AS sum_cents
    FROM a JOIN b ON b.l_orderkey = a.o_orderkey
    GROUP BY 1, 2
    """,
    tags=("extension", "cdc", "ivm", "join", "bench"),
)
def ivm_incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a materialized JOIN view under inserts
    on BOTH base relations — the delta-join algebra Δ(A⋈B) = ΔA⋈B_old ∪
    A_old⋈ΔB ∪ ΔA⋈ΔB (Blakeley et al. 1986, the foundational IVM
    result), applied to the per-(orderstatus, returnflag) revenue rollup
    of orders⋈lineitem. Old state / delta slices cut on NON-join keys
    (custkey for orders, linenumber for lineitem — join-key-correlated
    slices would empty the cross terms and prove nothing; the unit test
    pins all four terms non-empty). The view merge adds FOUR aggregate relations —
    old view + three delta terms — and THE ORACLE RECOMPUTES FROM THE
    FULL JOIN, so the value-hash match is the algebra's correctness
    proof: the three-term union exactly reconstitutes the monolith.

    Spark shape: the old view is one co-shuffled join + aggregate (at
    100 TB it's the STORED view — never recomputed; here it must be
    built once so the maintained result is derivable from fixtures).
    Each delta term joins a DAY-SIZED delta against the other side's old
    state — the delta side broadcasts, the big side is scanned but
    (bucketed on the join key) never shuffled, and ΔA⋈ΔB is
    broadcast-broadcast trivia. The four aggregate relations are
    grouped-key-sized, so the final merge is a groupBy-sum over
    dashboard rows. This is why IVM wins at scale: per-batch cost is
    O(|delta| + |view|), never O(|base|)."""
    a = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_custkey"
    )
    b = ivm_lineitem(load_table(spark, sf_dir, "lineitem"))
    # Slice on NON-join keys (custkey / linenumber): join-key slicing
    # would correlate the deltas and silently empty the cross terms.
    a_old = a.filter(F.col("o_custkey") % 7 != 0).drop("o_custkey")
    a_del = a.filter(F.col("o_custkey") % 7 == 0).drop("o_custkey")
    b_old = b.filter(F.col("l_linenumber") % 3 != 0).drop("l_linenumber")
    b_del = b.filter(F.col("l_linenumber") % 3 == 0).drop("l_linenumber")

    def view(ax: DataFrame, bx: DataFrame, bcast: str | None) -> DataFrame:
        if bcast == "a":
            ax = F.broadcast(ax)
        elif bcast == "b":
            bx = F.broadcast(bx)
        return ivm_view(ax, bx)

    v_old = view(a_old, b_old, None)
    d1 = view(a_del, b_old, "a")  # ΔA ⋈ B_old
    d2 = view(a_old, b_del, "b")  # A_old ⋈ ΔB
    d3 = view(a_del, b_del, "a")  # ΔA ⋈ ΔB
    return ivm_merge(v_old, d1, d2, d3)


def ivm_lineitem(lineitem: DataFrame) -> DataFrame:
    """B's view columns: (b_orderkey, l_returnflag, l_linenumber, cents)."""
    return lineitem.select(
        F.col("l_orderkey").alias("b_orderkey"),
        "l_returnflag",
        "l_linenumber",
        F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long").alias("cents"),
    )


def ivm_view(ax: DataFrame, bx: DataFrame) -> DataFrame:
    """The join view A ⋈ B aggregated per (o_orderstatus, l_returnflag)."""
    return (
        ax.join(bx, ax.o_orderkey == bx.b_orderkey)
        .groupBy("o_orderstatus", "l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("cents").alias("sum_cents"))
    )


def ivm_merge(*views: DataFrame) -> DataFrame:
    """Merge view deltas: a groupBy-sum over dashboard-sized aggregate rows."""
    merged = views[0]
    for v in views[1:]:
        merged = merged.unionByName(v)
    return merged.groupBy("o_orderstatus", "l_returnflag").agg(
        F.sum("n_rows").alias("n_rows"),
        F.sum("sum_cents").alias("sum_cents"),
    )


# ---------------------------------------------------------------------------
# HLL register sketch (hand-rolled, oracle-exact)
# ---------------------------------------------------------------------------

HLL_B = 6  # register-index bits
HLL_M = 1 << HLL_B  # 64 registers; stderr ~ 1.04/sqrt(m) ~ 13%
HLL_WBITS = 32 - HLL_B  # 26 remainder bits -> rho in 1..27
# floor(alpha_m * m^2 * 1e6) with alpha_m = 0.7213/(1 + 1.079/m) (Flajolet
# et al. 2007); baked as an integer so both engines share one constant.
HLL_ALPHA_M2_E6 = 2905460551
# Small-range (linear-counting) correction, Flajolet et al. 2007 §4: when
# the raw estimate E <= 2.5m and V = #zero registers > 0, the better
# estimator is m*ln(m/V). ln needs a float, so the 64 possible values are
# precomputed ONCE here on the driver and baked into both engines as an
# integer lookup table — the estimate stays on the integer grid and the
# correction is bit-identical across Spark and the oracle.
HLL_LC_THRESH = 5 * HLL_M // 2  # 160 = 2.5m, the published regime boundary
HLL_LC_EST = tuple(
    int(_math.floor(HLL_M * _math.log(HLL_M / v) + 0.5)) for v in range(1, HLL_M + 1)
)
_HLL_LC_SQL = "[" + ", ".join(str(x) for x in HLL_LC_EST) + "]"
_HLL_LC_SPARK = "array(" + ", ".join(f"{x}L" for x in HLL_LC_EST) + ")"


@query(
    "agg_hll_merge_by_type",
    oracle=f"""
    WITH h AS (
      SELECT event_type,
             (('0x' || substr(md5(user_id::VARCHAR), 1, 8)))::BIGINT AS hv
      FROM events
    ),
    rho AS (
      SELECT event_type, hv // {2**HLL_WBITS} AS reg,
             CASE WHEN hv % {2**HLL_WBITS} = 0 THEN {HLL_WBITS + 1}
                  ELSE {HLL_WBITS + 1} - length(bin(hv % {2**HLL_WBITS}))
             END AS rho
      FROM h
    ),
    pt AS (SELECT event_type AS scope, reg, MAX(rho) AS m FROM rho GROUP BY 1, 2),
    pa AS (SELECT '__all__' AS scope, reg, MAX(m) AS m FROM pt GROUP BY 1, 2),
    r AS (SELECT * FROM pt UNION ALL SELECT * FROM pa),
    spine AS (
      SELECT s.scope, gs.g AS reg
      FROM (SELECT DISTINCT scope FROM r) s, generate_series(0, {HLL_M - 1}) gs(g)
    ),
    dense AS (
      SELECT spine.scope, spine.reg, COALESCE(r.m, 0) AS m
      FROM spine LEFT JOIN r ON r.scope = spine.scope AND r.reg = spine.reg
    ),
    mm AS (SELECT scope, MAX(m) AS mmax FROM dense GROUP BY 1),
    s AS (
      SELECT d.scope, mm.mmax,
             SUM(1::BIGINT << (mm.mmax - d.m)) AS s_scaled,
             SUM(CASE WHEN d.m = 0 THEN 1 ELSE 0 END) AS n_zero_regs
      FROM dense d JOIN mm ON d.scope = mm.scope
      GROUP BY 1, 2
    ),
    ex AS (
      SELECT COALESCE(event_type, '__all__') AS scope,
             COUNT(DISTINCT user_id) AS exact_distinct
      FROM events GROUP BY ROLLUP(event_type)
    ),
    est0 AS (
      SELECT scope, mmax, s_scaled, n_zero_regs,
             CAST(({HLL_ALPHA_M2_E6} * (1::BIGINT << mmax))
                  // (s_scaled * 1000000) AS BIGINT) AS raw_est
      FROM s
    )
    SELECT e.scope, CAST(e.mmax AS BIGINT) AS mmax,
           CAST(e.s_scaled AS BIGINT) AS s_scaled,
           CAST(e.n_zero_regs AS BIGINT) AS n_zero_regs,
           CAST(CASE WHEN e.n_zero_regs > 0 AND e.raw_est <= {HLL_LC_THRESH}
                     THEN list_extract({_HLL_LC_SQL},
                                       CAST(e.n_zero_regs AS INT))
                     ELSE e.raw_est END AS BIGINT) AS est_distinct,
           CAST(ex.exact_distinct AS BIGINT) AS exact_distinct
    FROM est0 e JOIN ex ON e.scope = ex.scope
    """,
    tags=("extension", "agg", "sketch", "bench"),
)
def agg_hll_merge_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hand-rolled HyperLogLog (Flajolet et al. 2007): per-event-type
    distinct-user register sketches plus the MERGED all-types sketch via
    register-wise MAX — the other half of the mergeable-cardinality story
    next to ``agg_kmv_merge_by_type``. Spark's built-in HLL
    (``approx_count_distinct``) has engine-private register layout, so it
    can never hash-match an oracle; THIS sketch derives its 64 registers
    from the same md5 recipe as the KMV family (register = top 6 hash
    bits, rho = leading-zero count of the low 26 bits + 1, via
    ``length(conv(w, 10, 2))`` — codegen'd string ops, no floats), so the
    registers AND the estimate are oracle-checked bit-for-bit. The
    estimate stays on an integer grid: with Mmax the scope's largest
    register, sum(2^-M_j) = S/2^Mmax for the bigint
    S = sum(shiftleft(1, Mmax - M_j)), and est = alpha*m^2*2^Mmax/S
    rounds as one integer division against the baked alpha*m^2*1e6.

    Why HLL at 100 TB when KMV exists: the KMV sketch needs a DISTINCT
    plus bottom-K sort per scope; HLL registers need NO dedup at all —
    duplicate keys hit the same (register, rho), so max-aggregation
    absorbs them map-side, and the shuffled state is exactly
    |scopes| x 64 rows of (reg, max_rho) partials whatever the key
    volume. Union of sketches = element-wise register max (pa CTE /
    ``rAll``), associative and idempotent — the per-source/per-day fold
    a warehouse runs upward for rollup cardinalities. Small-range bias
    correction (linear counting, Flajolet et al. §4): when the raw
    estimate is <= 2.5m AND zero registers remain, ``est_distinct``
    switches to m*ln(m/V) — the ln over the 64 possible V values is
    baked as the integer table ``HLL_LC_EST`` shared verbatim with the
    oracle, so the corrected estimate stays bit-exact cross-engine (at
    sf0.01's 150 users the correction binds; real corpora sit far above
    2.5m=160 keys and take the raw branch). ``n_zero_regs`` still rides
    along, so the raw estimator is reconstructible from the emitted
    registers. ``exact_distinct`` is the self-report truth column a
    production run would drop."""
    events = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    hv = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    w = F.col("hv") % (2**HLL_WBITS)
    rho = events.select("event_type", hv.alias("hv")).select(
        "event_type",
        (F.col("hv") / (2**HLL_WBITS)).cast("long").alias("reg"),
        F.when(w == 0, F.lit(HLL_WBITS + 1))
        .otherwise(F.lit(HLL_WBITS + 1) - F.length(F.conv(w, 10, 2)))
        .cast("long")
        .alias("rho"),
    )
    pt = rho.groupBy(F.col("event_type").alias("scope"), "reg").agg(
        F.max("rho").alias("m")
    )
    r_all = pt.groupBy("reg").agg(F.max("m").alias("m")).select(
        F.lit("__all__").alias("scope"), "reg", "m"
    )
    r = pt.unionByName(r_all)
    spine = (
        r.select("scope")
        .distinct()
        .crossJoin(spark.range(HLL_M).select(F.col("id").alias("reg")))
    )
    dense = spine.join(r, ["scope", "reg"], "left").select(
        "scope", "reg", F.coalesce("m", F.lit(0)).alias("m")
    )
    wmax = Window.partitionBy("scope")
    s = (
        dense.withColumn("mmax", F.max("m").over(wmax))
        .groupBy("scope", "mmax")
        .agg(
            F.sum(F.expr("shiftleft(1L, cast(mmax - m AS INT))")).alias("s_scaled"),
            F.sum(F.when(F.col("m") == 0, 1).otherwise(0)).cast("long").alias("n_zero_regs"),
        )
    )
    exact = (
        events.rollup("event_type")
        .agg(F.countDistinct("user_id").alias("exact_distinct"))
        .select(
            F.coalesce("event_type", F.lit("__all__")).alias("scope"),
            "exact_distinct",
        )
    )
    return s.join(F.broadcast(exact), "scope").select(
        "scope",
        F.col("mmax").cast("long").alias("mmax"),
        "s_scaled",
        "n_zero_regs",
        F.expr(
            f"CAST(CASE WHEN n_zero_regs > 0 AND ({HLL_ALPHA_M2_E6} *"
            " shiftleft(1L, mmax)) div (s_scaled * 1000000) <="
            f" {HLL_LC_THRESH} THEN element_at({_HLL_LC_SPARK},"
            " CAST(n_zero_regs AS INT)) ELSE"
            f" ({HLL_ALPHA_M2_E6} * shiftleft(1L, mmax))"
            " div (s_scaled * 1000000) END AS BIGINT)"
        ).alias("est_distinct"),
        F.col("exact_distinct").cast("long").alias("exact_distinct"),
    )
