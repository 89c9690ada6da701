"""The reference's five topologies (SURVEY.md §2.11) as batch DataFrame plans
over the driver fixtures, each with a DuckDB oracle.

Fixture mapping (FIXTURES.md §B): ``orders`` plays the orders stream
(``amount`` ↔ ``o_totalprice``, ``user`` ↔ ``o_custkey``), ``customer`` the
per-user profile KTable (``c_mktsegment`` = profile), ``nation`` the
broadcast discount GlobalKTable, ``lineitem`` the payments stream
(``l_shipdate`` gives the join-window time axis, ``l_linestatus = 'F'`` plays
``status == "PAID"``), ``events`` the timestamped product stream.

Streaming twins of Q1-Q5 live in :mod:`..streaming.queries`: they share
these batch oracles and call the transformations below (``expensive_orders``,
``paid_orders``, ``unpaid_audit``, ``paid_within_30_days``) on their replayed
streams, so these batch forms define the semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_streams_playground_spark.operators import stateless as ops
from kafka_streams_playground_spark.operators.joins import (
    enrich_join,
    global_lookup_join,
    interval_join,
)
from kafka_streams_playground_spark.operators.aggregations import count_by, tumbling_count
from kafka_streams_playground_spark.plans.registry import query
from kafka_streams_playground_spark.sources.parquet import load_table

# The reference filters ``amount >= 1000`` (KafkaStreamsApp.scala:108); on the
# fixture price distribution (1013..500k) the analogous selective threshold:
EXPENSIVE = 250_000.0


@query(
    "q1_expensive_orders",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           CAST(epoch(o_orderdate::TIMESTAMP) AS BIGINT) AS order_epoch,
           o_orderpriority
    FROM orders WHERE o_totalprice >= {EXPENSIVE}
    """,
    tags=("reference", "S1", "P1", "S4"),
)
def q1_expensive_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 ``expensiveOrdersTopology`` (KafkaStreamsApp.scala:106-111):
    orders → filter(amount ≥ threshold) → sink. The filter is a Catalyst
    predicate pushed into the parquet scan (PushedFilters), which the
    reference cannot do (it deserializes every record first, SURVEY §4.1)."""
    return expensive_orders(load_table(spark, sf_dir, "orders"))


def expensive_orders(orders: DataFrame) -> DataFrame:
    """Q1's filter and projection, on batch or streaming orders."""
    out = ops.filter_records(orders, F.col("o_totalprice") >= EXPENSIVE)
    return out.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.unix_timestamp("o_orderdate").alias("order_epoch"),
        "o_orderpriority",
    )


@query(
    "q2_order_projection",
    oracle="SELECT o_orderkey, o_custkey, o_totalprice FROM orders",
    tags=("reference", "P2"),
)
def q2_order_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 ``purchasedListOfProductsTopology`` (:113-118): mapValues projection
    (Order → products). Column pruning reaches the scan: only three columns
    are read (ReadSchema), vs the reference decoding whole records."""
    orders = load_table(spark, sf_dir, "orders")
    return ops.project(orders, "o_orderkey", "o_custkey", "o_totalprice")


@query(
    "q3_products_by_first_letter",
    oracle="""
    SELECT lower(substr(c_name, 1, 1)) AS letter, COUNT(*) AS cnt
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey  = c_custkey
    GROUP BY 1
    """,
    tags=("reference", "P3", "P7", "A1"),
)
def q3_products_by_first_letter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 ``purchasedProductsByFirstLetterTopology`` (:120-133): explode
    products → groupBy(first letter of user) → count (completing the
    reference's dead-code group with its natural count, SURVEY §2.4 A1).
    ``lineitem`` *is* the exploded products stream; the first-letter key is
    P7's ``charAt(0).toLower`` on the customer name."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    products_by_user = enrich_join(
        enrich_join(li, orders, on=li["l_orderkey"] == orders["o_orderkey"]),
        cust,
        on=orders["o_custkey"] == cust["c_custkey"],
    )
    return count_by(products_by_user, ops.first_letter_key("c_name").alias("letter"), out="cnt")


@query(
    "q4_products_per_user_10s",
    oracle="""
    SELECT user_id,
           CAST(epoch(time_bucket(INTERVAL '10 seconds', ts::TIMESTAMP)) AS BIGINT)
               AS window_start,
           COUNT(*) AS cnt
    FROM events
    GROUP BY 1, 2
    """,
    tags=("reference", "A2", "A4", "A5"),
)
def q4_products_per_user_10s(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 ``numberOfProductsByUserEveryTenSecondsTopology`` (:135-153):
    per-user count per 10-second tumbling window. The reference's custom fold
    ``0L / counter+1`` (:148) is COUNT; ``window()`` is epoch-aligned exactly
    like ``TimeWindows.of`` (:142), so the batch result equals the stream's
    final state. Streaming twin with watermark + update mode:
    ``streaming.queries.stream_q4``."""
    events = load_table(spark, sf_dir, "events")
    win = tumbling_count(events, "ts", "10 seconds", F.col("user_id"), out="cnt")
    return win.select(
        "user_id", F.unix_timestamp("window.start").alias("window_start"), "cnt"
    )


def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-user profile KTable (:156-157): customer → segment, nation."""
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )


def payment_rows(lineitem: DataFrame) -> DataFrame:
    """The payments stream's columns: lineitem plays the payments (:177)."""
    return lineitem.select("l_orderkey", "l_linenumber", "l_shipdate", "l_linestatus")


def paid_within_30_days(
    orders: DataFrame, payments: DataFrame, left_key: str = "o_orderkey", how: str = "inner"
) -> DataFrame:
    """J3 as the fixtures play it: each order's paid line items
    (``l_linestatus = 'F'``, the reference's ``status == "PAID"``, :179-180)
    shipped within [orderdate, +30 d] (``JoinWindows``, :182)."""
    return interval_join(
        orders,
        payments,
        left_key=left_key,
        right_key="l_orderkey",
        left_ts="o_orderdate",
        right_ts="l_shipdate",
        lower="0 days",
        upper="30 days",
        extra_condition=payments["l_linestatus"] == "F",
        how=how,
    )


def discount_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GlobalKTable analogue (:159-160): a small broadcast dim mapping
    nation → discount multiplier. Deterministic derivation keeps the oracle
    expressible: discount = 1 - 0.01 * (n_nationkey % 5)."""
    nation = load_table(spark, sf_dir, "nation")
    return nation.select(
        "n_nationkey",
        "n_name",
        (F.lit(1.0) - F.lit(0.01) * (F.col("n_nationkey") % 5)).alias("discount_mult"),
    )


@query(
    "q5_paid_orders",
    oracle="""
    SELECT o.o_orderkey, l.l_linenumber, o.o_custkey,
           c.c_mktsegment AS profile, n.n_name AS nation,
           FLOOR(o.o_totalprice * (1 - 0.01 * (n.n_nationkey % 5)) * 100 + 0.5)
               / 100 AS discounted_amount,
           CAST(epoch(l.l_shipdate::TIMESTAMP) AS BIGINT) AS paid_epoch
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation   n ON c.c_nationkey = n.n_nationkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       AND l.l_shipdate::TIMESTAMP
           BETWEEN o.o_orderdate::TIMESTAMP
               AND o.o_orderdate::TIMESTAMP + INTERVAL '30 days'
       AND l.l_linestatus = 'F'
    """,
    tags=("reference", "flagship", "J1", "J2", "J3", "P4", "P5", "P6", "S2", "S3"),
)
def q5_paid_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 ``paidOrdersTopology`` (:155-189) — the flagship: the only topology
    wired into the reference's main() (:197).

    orders ⋈ profiles-KTable (J1: customer, key=custkey) ⋈ discounts-
    GlobalKTable (J2: broadcast nation, FK-extracted key c_nationkey from
    J1's output, :169) → apply discount (P6, :170) → re-key by orderId (P5,
    :173) → windowed ⋈ payments (J3: lineitem within [orderdate, +30d],
    ``l_linestatus='F'`` playing ``status=="PAID"``, :179-186).

    Physical shape at scale: customer join shuffles on custkey (AQE may
    broadcast at small SF); nation is an explicit broadcast (the GlobalKTable
    replication contract); the interval join shuffles both sides once on
    orderkey with the time predicate as residual — the same state-bounding
    the reference gets from JoinWindows retention."""
    orders = load_table(spark, sf_dir, "orders")
    profiles = profile_table(spark, sf_dir)
    payments = payment_rows(load_table(spark, sf_dir, "lineitem"))
    return paid_orders(orders, profiles, payments, discount_dim(spark, sf_dir))


def paid_orders(
    orders: DataFrame, profiles: DataFrame, payments: DataFrame, dim: DataFrame
) -> DataFrame:
    """Q5's J1 → J2 → discount → re-key → J3 chain, on batch or streaming
    orders and payments (``profiles`` and ``dim`` are static tables)."""
    enriched = enrich_join(orders, profiles, on=orders["o_custkey"] == profiles["c_custkey"])
    with_discount = global_lookup_join(
        enriched, dim, key_extractor=F.col("c_nationkey"), dim_key="n_nationkey"
    )
    # Money rounding as explicit floor(x*100 + 0.5)/100 — pure IEEE double
    # ops both engines execute identically. ROUND(…, 2) differs between
    # Spark (exact-decimal HALF_UP) and DuckDB on tie-boundary doubles —
    # observed as 1-cent mismatches at sf0.1.
    discounted = ops.with_computed(
        with_discount,
        "discounted_amount",
        F.floor(F.col("o_totalprice") * F.col("discount_mult") * 100 + 0.5) / 100,
    )
    rekeyed = ops.select_key(discounted, F.col("o_orderkey"), key_name="order_key")
    paid = paid_within_30_days(rekeyed, payments, left_key="order_key")
    return paid.select(
        "o_orderkey",
        "l_linenumber",
        "o_custkey",
        F.col("c_mktsegment").alias("profile"),
        F.col("n_name").alias("nation"),
        "discounted_amount",
        F.unix_timestamp("l_shipdate").alias("paid_epoch"),
    )


@query(
    "orders_products_array",
    oracle="""
    SELECT l_orderkey AS order_key,
           array_to_string(list_sort(list(l_partkey)), '|') AS products,
           CAST(len(list(l_partkey)) AS BIGINT) AS n_products
    FROM lineitem GROUP BY 1
    """,
    tags=("reference", "P3-inverse", "agg"),
)
def orders_products_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebuild the reference's ``Order.products: List[String]`` array shape
    (KafkaStreamsApp.scala:92) from the exploded lineitem rows — the inverse
    of P3's flatMapValues (:121-123). ``collect_list`` is sorted in both
    engines because collection order is partition-dependent, then emitted as
    a '|'-joined string: same content, but hashable by the driver's
    canonicalizer (pandas cannot factorize raw array cells). At 100 TB this
    is one shuffle on the order key with array assembly reduce-side."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return li.groupBy(F.col("l_orderkey").alias("order_key")).agg(
        F.array_join(
            F.sort_array(F.collect_list("l_partkey")).cast("array<string>"), "|"
        ).alias("products"),
        F.count(F.lit(1)).alias("n_products"),
    )


@query(
    "join_left_interval_unpaid",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey,
           CAST(floor(epoch(o.o_orderdate::TIMESTAMP)) AS BIGINT) AS order_epoch,
           l.l_linenumber,
           CAST(floor(epoch(l.l_shipdate::TIMESTAMP)) AS BIGINT) AS paid_epoch
    FROM orders o
    LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       AND l.l_shipdate::TIMESTAMP
           BETWEEN o.o_orderdate::TIMESTAMP
               AND o.o_orderdate::TIMESTAMP + INTERVAL '30 days'
       AND l.l_linestatus = 'F'
    """,
    tags=("extension", "J3", "outer", "interval"),
)
def join_left_interval_unpaid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-OUTER windowed join — the join family Kafka Streams'
    ``JoinWindows`` API lacks and Spark gives free (SURVEY §2.3): orders with
    no qualifying payment inside [orderdate, +30 d] survive null-padded, so
    one query yields both the paid matches and the unpaid audit trail.
    Physically identical to Q5's J3 (one shuffle on the order key, time
    predicate as residual); in streaming form the watermark closing the
    window is what licenses emitting the null-padded row."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    return unpaid_audit(orders, payment_rows(load_table(spark, sf_dir, "lineitem")))


def unpaid_audit(orders: DataFrame, payments: DataFrame) -> DataFrame:
    """Every order with its payments inside [orderdate, +30 d], null-padded
    when it has none, on batch or streaming orders and payments."""
    joined = paid_within_30_days(orders, payments, how="left_outer")
    return joined.select(
        "o_orderkey",
        "o_custkey",
        F.unix_timestamp("o_orderdate").alias("order_epoch"),
        "l_linenumber",
        F.unix_timestamp("l_shipdate").alias("paid_epoch"),
    )
