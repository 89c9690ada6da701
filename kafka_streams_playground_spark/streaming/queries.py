"""Streaming twins of the reference topologies, registered as queries.

Each runs the *streaming* execution path (micro-batches, state stores,
watermarks, update/append emission) over a file-stream replay of the
fixtures, drained with availableNow — so the final state is deterministic
and, for the single-file fixtures, equal to the batch result. That lets the
flagship streaming forms carry the same DuckDB oracle as their batch twins
(strong check), instead of the weaker rows-only contract.

Twin-to-oracle link: ``plans/__init__`` imports every batch module before
this one, so a twin reads its batch oracle when it is decorated —
``oracle=REGISTRY["<batch name>"].oracle`` — or builds it from the batch
module's constants. Nothing rewrites a registry entry after registration.
This is the last module that registers, so it ends by moving the driver's
priority names to the front (``plans.registry._reorder_registry``); the
order is the same whether a program imports this module or ``plans`` first.

Watermark choice: the fixtures are replayed in file order (≈ts order,
monotone-ish, FIXTURES.md); a generous watermark mirrors the reference's
24 h default grace (``TimeWindows.of`` at KafkaStreamsApp.scala:142) so no
fixture row is ever late-dropped — SURVEY §7.4-3's documented stance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_streams_playground_spark.operators.aggregations import tumbling_count
from kafka_streams_playground_spark.operators.joins import interval_join
from kafka_streams_playground_spark.plans import northstar_pipeline as _NP
from kafka_streams_playground_spark.plans.northstar_curation import (
    C4_MIN_WORDS,
    _C4_SEG_RE,
    _ascii_lower_sql,
    ascii_lower,
)
from kafka_streams_playground_spark.plans.registry import REGISTRY, _reorder_registry, query
from kafka_streams_playground_spark.sources.parquet import load_table
from kafka_streams_playground_spark.streaming.ktable import latest_per_key_stream
from kafka_streams_playground_spark.streaming.replay import (
    latest_update_snapshot,
    latest_update_state,
    read_stream_table,
    replay_segments,
    run_to_completion,
    split_segments,
)

WATERMARK = "24 hours"  # mirrors the reference's default grace (:142)


@query(
    "stream_q4_products_per_user_10s",
    # append-mode windows emit once at watermark close, so the drain IS
    # the final state — audited under 3-batch replay
    oracle=REGISTRY["q4_products_per_user_10s"].oracle,
    tags=("reference", "streaming", "A4", "A5", "S1"),
)
def stream_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4's true streaming form (KafkaStreamsApp.scala:135-153): events
    replayed as a stream → watermark → 10 s tumbling count → **update-mode**
    changelog emission (``toStream`` ``:150``) drained to final state."""
    events = read_stream_table(spark, sf_dir, "events").withWatermark("ts", WATERMARK)
    win = tumbling_count(events, "ts", "10 seconds", F.col("user_id"), out="cnt")
    out = win.select("user_id", F.unix_timestamp("window.start").alias("window_start"), "cnt")
    return run_to_completion(out, output_mode="update")


@query(
    "stream_s2_latest_event_per_user",
    oracle=REGISTRY["s2_latest_event_per_user"].oracle,
    tags=("reference", "streaming", "S2", "A5"),
)
def stream_s2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 KTable as live streaming state (``builder.table`` ``:156-157``):
    max_by keyed state holds exactly one row per user; update mode emits the
    changelog. State size = #keys — the same bound as the reference's
    compacted-topic store. The drain compacts the changelog back to the
    final row per key (max version — the compacted-topic read; round 13:
    the raw drain kept superseded emissions whenever a key updated in
    more than one micro-batch, exact only under single-batch replay;
    round 14: the compaction key is the TRUE version (full-microsecond
    ts, event_id) — the same ordering the in-stream max_by state and the
    oracle use — not the second-truncated ts_epoch, which could keep a
    superseded emission when a user has two same-wall-clock-second events
    whose event_id order disagrees with microsecond order across a batch
    boundary; ts_epoch is projected only after the reduce)."""
    events = read_stream_table(spark, sf_dir, "events")
    latest = latest_per_key_stream(
        events,
        keys=["user_id"],
        value_cols=["event_id", "event_type", "value", "ts"],
        version_col=F.struct("ts", "event_id"),
    )
    out = latest.select("user_id", "event_id", "event_type", "value", "ts")
    drained = run_to_completion(out, output_mode="update")
    return latest_update_state(
        drained, "user_id", F.struct("ts", "event_id")
    ).select(
        "user_id", "event_id", "event_type", "value", F.unix_timestamp("ts").alias("ts_epoch")
    )


@query(
    "stream_q5_paid_orders",
    oracle=REGISTRY["q5_paid_orders"].oracle,
    tags=("reference", "streaming", "flagship", "J1", "J2", "J3"),
)
def stream_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5's streaming form (KafkaStreamsApp.scala:155-189): orders replayed
    as a stream, enriched via **stream-static** join with the profile table
    (J1) and **broadcast** discount dim (J2), then a watermarked
    **stream-stream interval join** with the payments stream (J3,
    ``JoinWindows`` ``:182``), append-mode output.

    Physical: the stream-stream join is StreamingSymmetricHashJoinExec keyed
    on orderkey; watermarks bound both state stores exactly like the
    reference's join-window retention."""
    orders = read_stream_table(spark, sf_dir, "orders").withWatermark("o_orderdate", WATERMARK)
    payments = (
        read_stream_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_shipdate", "l_linestatus")
        .withWatermark("l_shipdate", WATERMARK)
    )
    profiles = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )
    nation = load_table(spark, sf_dir, "nation")
    dim = nation.select(
        "n_nationkey",
        "n_name",
        (F.lit(1.0) - F.lit(0.01) * (F.col("n_nationkey") % 5)).alias("discount_mult"),
    )

    enriched = orders.join(profiles, orders["o_custkey"] == profiles["c_custkey"])
    with_discount = enriched.join(
        F.broadcast(dim), enriched["c_nationkey"] == dim["n_nationkey"]
    ).withColumn(
        # floor(x*100+0.5)/100 — cross-engine-deterministic money rounding
        # (see plans/topologies.py::q5_paid_orders)
        "discounted_amount",
        F.floor(F.col("o_totalprice") * F.col("discount_mult") * 100 + 0.5) / 100,
    )
    rekeyed = with_discount.withColumn("order_key", F.col("o_orderkey"))

    paid = interval_join(
        rekeyed,
        payments,
        left_key="order_key",
        right_key="l_orderkey",
        left_ts="o_orderdate",
        right_ts="l_shipdate",
        lower="0 days",
        upper="30 days",
        extra_condition=payments["l_linestatus"] == "F",
    )
    out = paid.select(
        "o_orderkey",
        "l_linenumber",
        "o_custkey",
        F.col("c_mktsegment").alias("profile"),
        F.col("n_name").alias("nation"),
        "discounted_amount",
        F.unix_timestamp("l_shipdate").alias("paid_epoch"),
    )
    return run_to_completion(out, output_mode="append")


@query(
    "stream_q1_expensive_orders",
    oracle=REGISTRY["q1_expensive_orders"].oracle,  # stateless ⇒ same rows
    tags=("reference", "streaming", "S1", "P1", "S4"),
)
def stream_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1's streaming form (KafkaStreamsApp.scala:106-111): the stateless
    source → filter → sink pipeline on the streaming execution path. No
    state store, no watermark — one fused micro-batch stage, the same
    whole-stage-codegen'd filter as the batch plan (SURVEY §3.2)."""
    from kafka_streams_playground_spark.plans.topologies import EXPENSIVE

    orders = read_stream_table(spark, sf_dir, "orders")
    out = orders.filter(F.col("o_totalprice") >= EXPENSIVE).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.unix_timestamp("o_orderdate").alias("order_epoch"),
        "o_orderpriority",
    )
    return run_to_completion(out, output_mode="append")


@query(
    "stream_q2_order_projection",
    oracle=REGISTRY["q2_order_projection"].oracle,  # stateless ⇒ same rows
    tags=("reference", "streaming", "S1", "P2", "S5"),
)
def stream_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2's streaming form (KafkaStreamsApp.scala:113-118): mapValues
    projection on the streaming path. Stateless append pipeline; column
    pruning still reaches the file-stream scan (ReadSchema lists only the
    three projected columns)."""
    orders = read_stream_table(spark, sf_dir, "orders")
    out = orders.select("o_orderkey", "o_custkey", "o_totalprice")
    return run_to_completion(out, output_mode="append")


@query(
    "stream_q3_products_by_first_letter",
    # drained update state = batch agg
    oracle=REGISTRY["q3_products_by_first_letter"].oracle,
    tags=("reference", "streaming", "P3", "P7", "A1", "A5"),
)
def stream_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3's streaming form (KafkaStreamsApp.scala:120-133): the exploded
    products stream (lineitem) enriched by **stream-static** joins against
    the order/customer dims, then the key-changing groupBy (P7's
    first-letter key — the repartition-topic boundary at :126 becomes a
    shuffle exchange) with an update-mode running count. Unwindowed
    streaming agg ⇒ state is one row per letter (≤26+) — the same bound as
    the reference's store."""
    from kafka_streams_playground_spark.operators import stateless as ops

    li = read_stream_table(spark, sf_dir, "lineitem").select("l_orderkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    joined = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).join(
        cust, orders["o_custkey"] == cust["c_custkey"]
    )
    counted = joined.groupBy(ops.first_letter_key("c_name").alias("letter")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    drained = run_to_completion(counted, output_mode="update")
    # compact the running-count changelog to final state (cnt is strictly
    # monotone per letter; round 13 — the raw drain kept superseded counts
    # whenever a letter updated in more than one micro-batch)
    return latest_update_state(drained, "letter", F.col("cnt"))


@query(
    "stream_session_windows_per_user",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, event_id, ts, value,
        CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch(ts::TIMESTAMP) - epoch((lag(ts) OVER w)::TIMESTAMP)
                     > {6 * 3600}
             THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
      SELECT *, SUM(new_session) OVER (
        PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING
      ) AS session_no
      FROM flagged
    )
    SELECT user_id,
           CAST(floor(epoch(MIN(ts)::TIMESTAMP)) AS BIGINT) AS session_start,
           CAST(floor(epoch(MAX(ts)::TIMESTAMP)) AS BIGINT) AS session_end,
           COUNT(*) AS n_events,
           FLOOR(SUM(value) * 100 + 0.5) / 100 AS sum_value
    FROM numbered GROUP BY user_id, session_no
    """,
    tags=("extension", "streaming", "session"),
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming session windows: ``session_window(ts, gap)`` merges
    events no more than 6 h apart into one session held in the state
    store; the watermark closes sessions. Session end is reported as the
    last event's time (``max(ts)``), not Spark's internal last+gap bound,
    so the oracle is the precise-epoch gaps-and-islands twin (strict
    ``> gap`` opens a new session; a gap exactly equal MERGES —
    session_window merges touching window bounds, as does Kafka Streams'
    inclusive inactivity gap; boundary fixed round 11, pinned by test).

    APPEND + FLUSH-SENTINEL emission (converted from a complete-mode drain
    per VERDICT r10 item 4): rides the shared ``_append_session_windows``
    stage — one sentinel row at corpus max(ts)+gap+1 drives the watermark
    past every real window end, so append emits each session EXACTLY ONCE
    (the contract a downstream topic can consume; complete mode re-emits
    the whole session table every trigger). The sentinel's own island is
    withheld by the watermark and dropped by the window-start bound; the
    sentinel row's value column never reaches the output. Floor-cent
    rounding on sum_value (see plans/temporal.py::session_windows_per_user):
    ROUND(SUM(double),2) is tie-boundary-unstable across engines."""
    from kafka_streams_playground_spark.plans.temporal import SESSION_GAP_S

    events = load_table(spark, sf_dir, "events")
    proj = events.select("user_id", "ts", "value")
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
    )
    return drained.select(
        "user_id",
        F.unix_timestamp("min_ts").alias("session_start"),
        F.unix_timestamp("max_ts").alias("session_end"),
        "n_events",
        "sum_value",
    )


@query(
    "stream_dedup_exact",
    oracle="SELECT DISTINCT md5(text) AS text_hash FROM documents",
    tags=("northstar", "streaming", "dedup"),
)
def stream_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: ``dropDuplicates`` on the content hash keeps
    first-arrival per hash in the state store — the online form of
    ``dedup_exact`` (state = one entry per distinct hash; bound it with
    ``dropDuplicatesWithinWatermark`` when the corpus is unbounded). Output
    projects only the hash: which copy wins is arrival-order-dependent
    across partitions, the hash set itself is deterministic."""
    docs = read_stream_table(spark, sf_dir, "documents")
    deduped = docs.select(F.md5("text").alias("text_hash")).dropDuplicates(["text_hash"])
    return run_to_completion(deduped, output_mode="append")


@query(
    "stream_running_count_per_user",
    oracle="""
    SELECT user_id, event_id,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS running_cnt
    FROM events
    """,
    tags=("reference", "streaming", "A2", "A5", "stateful"),
)
def stream_running_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's custom fold with per-record changelog emission
    (KafkaStreamsApp.scala:146-152) as a custom keyed stateful operator
    (``applyInPandasWithState``, streaming/stateful.py): every event emits
    the post-update running count for its user — one output row per input
    record, the exact Kafka Streams emission cadence that update-mode
    aggregates only approximate. The oracle is the batch row_number twin."""
    from kafka_streams_playground_spark.streaming.stateful import running_count_per_key

    events = read_stream_table(spark, sf_dir, "events")
    out = running_count_per_key(events)
    return run_to_completion(out, output_mode="append")


@query(
    "stream_sliding_window_event_counts",
    oracle=REGISTRY["sliding_window_event_counts"].oracle,
    tags=("extension", "streaming", "temporal", "sliding"),
)
def stream_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) windows on the live streaming path: events replayed
    as a stream → watermark → ``window(ts, 30s, 10s)`` multi-assign count
    per event type, update-mode changelog drained to final state. Each row
    enters 3 windows *before* the shuffle (per-window partials ride it, not
    ×3 raw rows) and the watermark evicts closed windows from the state
    store — the bounded-state hopping aggregate a 100 TB ingest runs;
    final drained state equals the batch twin, so it shares that oracle."""
    events = read_stream_table(spark, sf_dir, "events").withWatermark("ts", WATERMARK)
    win = events.groupBy(
        F.window("ts", "30 seconds", "10 seconds").alias("window"), "event_type"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    out = win.select(
        F.unix_timestamp("window.start").alias("window_start"), "event_type", "cnt"
    )
    return run_to_completion(out, output_mode="update")


@query(
    "stream_topk_customers_by_revenue",
    oracle=REGISTRY["topk_customers_by_revenue"].oracle,
    tags=("extension", "streaming", "topk", "complete-mode"),
)
def stream_topk_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k on the live streaming path — §2.6's sort/limit surface in
    COMPLETE output mode (the one mode where Structured Streaming permits a
    global sort, because the full result table is re-emitted per trigger):
    orders replayed as a stream, stream-static join with the customer dim,
    running revenue aggregate, `orderBy + limit 10` over the aggregate
    state. At 100 TB the aggregate state is per-customer (bounded by
    |customers|) and the sort runs over the state table, not the stream —
    the standard continuous-leaderboard shape. Revenue folds as floored
    integer cents BEFORE the running sum (ADVICE r4): incremental streaming
    aggregation adds in arrival order, and an order-dependent double sum
    could flip a ROUND boundary vs the batch/DuckDB oracle; integer cents
    make the fold order-free, so sharing the batch oracle is exact."""
    orders = read_stream_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    rev = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy("c_custkey", "c_name")
        .agg(F.sum(cents).alias("revenue_cents"))
    )
    out = rev.orderBy(F.col("revenue_cents").desc(), F.col("c_custkey").asc()).limit(10)
    return run_to_completion(out, output_mode="complete")


@query(
    "stream_asof_purchase_last_click",
    oracle=REGISTRY["asof_purchase_last_click"].oracle,
    tags=("extension", "streaming", "asof", "stateful"),
)
def stream_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join on the live streaming path — the temporal enrichment
    (each purchase picks the user's latest click at-or-before it) as a
    CUSTOM KEYED STATEFUL operator (streaming/stateful.py::asof_join_per_key):
    per-user state carries the last click across micro-batches, and each
    batch joins vectorized with pd.merge_asof. This is the streaming form
    the batch union-tag-sort cannot give you: state is one (ts, id) pair
    per user — bounded by |users|, not by click volume — exactly the
    RocksDB footprint a Kafka Streams temporal lookup would keep."""
    events = read_stream_table(spark, sf_dir, "events")
    from kafka_streams_playground_spark.streaming.stateful import asof_join_per_key

    return run_to_completion(asof_join_per_key(events), output_mode="append")


@query(
    "stream_s2_compacted_tombstones",
    oracle=REGISTRY["s2_compacted_tombstones"].oracle,
    tags=("extension", "streaming", "S2", "tombstone"),
)
def stream_s2_tombstones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tombstone-aware KTable as live streaming state: max_by keyed state
    per user, with tombstoned keys (latest record = the ``error`` class)
    suppressed at the COMPACTED READ — the streaming form of the
    reference's compacted-topic delete semantics (cleanup.policy=compact,
    KafkaStreamsApp.scala:31-41). State stays one row per key regardless
    of tombstones (the store overwrite IS the delete).

    Round 13: the tombstone filter moved from the emission side to the
    post-compaction read. Filtering emissions BEFORE the drain left a
    user's earlier non-error row in the sink when a later micro-batch
    tombstoned the key (the error emission was dropped, so nothing
    superseded the stale row) — exactly Kafka's model resolved the other
    way: a table filter emits tombstones downstream and the CONSUMER
    compacts latest-then-drop. Single-batch replay masked it."""
    events = read_stream_table(spark, sf_dir, "events")
    latest = latest_per_key_stream(
        events,
        keys=["user_id"],
        value_cols=["event_id", "event_type", "value", "ts"],
        version_col=F.struct("ts", "event_id"),
    )
    out = latest.select("user_id", "event_id", "event_type", "value", "ts")
    drained = run_to_completion(out, output_mode="update")
    # Compact on the true version (full-microsecond ts, event_id) — the
    # ordering the in-stream max_by state and the oracle use; a
    # second-truncated epoch key could keep a superseded emission (r14,
    # ADVICE r13).
    compacted = latest_update_state(
        drained, "user_id", F.struct("ts", "event_id")
    )
    return compacted.filter(F.col("event_type") != "error").select(
        "user_id", "event_id", "event_type", "value"
    )


@query(
    "stream_dedup_within_watermark",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    tags=("northstar", "streaming", "dedup", "watermark"),
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-BOUNDED streaming dedup — the unbounded-corpus form of
    ``stream_dedup_exact``: ``dropDuplicatesWithinWatermark`` suppresses
    re-occurrences of a key arriving inside the watermark horizon while the
    state store holds ONLY in-horizon keys, so state is bounded by the
    horizon's key arrival rate, not the stream's lifetime key count — the
    property that makes streaming dedup viable at 100 TB (plain
    ``dropDuplicates`` state grows forever).

    Output projects only the dedup key (user_id, event_type): which copy
    wins is arrival-order-dependent, the key set is deterministic. On the
    single-file fixture the drain is one micro-batch (watermark never
    advances mid-stream), so the emitted set equals DISTINCT keys — the
    cross-micro-batch suppression + state-expiry behavior is separately
    pinned by ``tests/test_streaming.py::test_dedup_within_watermark_bounds_state``.
    Under MULTI-batch replay the emitted set is a superset of DISTINCT
    (state expiry re-admits a key once the watermark passes — the
    bounded-state contract itself), which is why this is the one
    streaming query carried as an expected divergence in
    ``tools/split_replay_audit.py`` rather than given a final-state
    reduce: deduping the drain would nullify the operator under test."""
    events = read_stream_table(spark, sf_dir, "events").withWatermark("ts", WATERMARK)
    deduped = events.dropDuplicatesWithinWatermark(["user_id", "event_type"]).select(
        "user_id", "event_type"
    )
    return run_to_completion(deduped, output_mode="append")


@query(
    "stream_join_left_interval_unpaid",
    oracle="""
    WITH wm AS (
      SELECT least((SELECT max(o_orderdate::TIMESTAMP) FROM orders),
                   (SELECT max(l_shipdate::TIMESTAMP) FROM lineitem))
             - INTERVAL '24 hours' AS w
    )
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
    WHERE l.l_orderkey IS NOT NULL
       OR o.o_orderdate::TIMESTAMP + INTERVAL '30 days' < (SELECT w FROM wm)
    """,
    tags=("extension", "streaming", "J3", "outer", "interval"),
)
def stream_join_left_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-OUTER windowed stream-stream join — the family Kafka Streams'
    ``JoinWindows`` lacks and Spark's StreamingSymmetricHashJoinExec gives
    free (SURVEY §2.3): orders with no qualifying payment in
    [orderdate, +30 d] are emitted null-padded once the advancing watermark
    proves no match can still arrive (state eviction = emission license; the
    availableNow drain's final no-data batch flushes the closed windows).

    The oracle encodes EXACTLY that semantics, not the batch left join: an
    unmatched order emits iff its window upper bound lies strictly below the
    final global watermark ``min(max(left ts), max(right ts)) - delay`` —
    orders still inside the horizon at drain end are (correctly) withheld,
    because a payment could still arrive on the unbounded stream. Verified
    row-exact against Spark's eviction rule (202 in-horizon orders withheld
    at sf0.01)."""
    orders = (
        read_stream_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderdate")
        .withWatermark("o_orderdate", WATERMARK)
    )
    payments = (
        read_stream_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_shipdate", "l_linestatus")
        .withWatermark("l_shipdate", WATERMARK)
    )
    joined = interval_join(
        orders,
        payments,
        left_key="o_orderkey",
        right_key="l_orderkey",
        left_ts="o_orderdate",
        right_ts="l_shipdate",
        lower="0 days",
        upper="30 days",
        extra_condition=payments["l_linestatus"] == "F",
        how="leftOuter",
    )
    out = joined.select(
        "o_orderkey",
        "o_custkey",
        F.unix_timestamp("o_orderdate").alias("order_epoch"),
        "l_linenumber",
        F.unix_timestamp("l_shipdate").alias("paid_epoch"),
    )
    return run_to_completion(out, output_mode="append")


@query(
    "stream_join_full_outer_interval",
    # Round 13: the long-standing rows-only entry gains a FULL value-exact
    # oracle. The old dead end ("the right side's eviction instant is
    # Spark-internal", VERDICT r4/r5) dissolves once the emission rule is
    # decomposed by WHY a right row can never match:
    #   (a) rows failing the one-sided non-time predicate (linestatus≠'F')
    #       never enter join state at all — StreamingSymmetricHashJoinExec's
    #       pre-join filter — and in full-outer mode null-pad IMMEDIATELY,
    #       unconditionally (watermark-independent);
    #   (b) predicate-passing rows that found no in-window order null-pad
    #       iff the final global watermark strictly passes their shipdate
    #       (a future order could only match while o_orderdate ≤ shipdate).
    # The left half is exactly the left-outer twin's eviction oracle.
    # Verified multiset-exact at sf0.001 AND sf0.01 (probe, round 13);
    # strictness of both comparisons pinned by the boundary rows.
    oracle="""
    WITH wm AS (
      SELECT least((SELECT max(o_orderdate::TIMESTAMP) FROM orders),
                   (SELECT max(l_shipdate::TIMESTAMP) FROM lineitem))
             - INTERVAL '24 hours' AS w
    )
    SELECT o.o_orderkey, o.o_custkey,
           CAST(floor(epoch(o.o_orderdate::TIMESTAMP)) AS BIGINT) AS order_epoch,
           l.l_orderkey, l.l_linenumber,
           CAST(floor(epoch(l.l_shipdate::TIMESTAMP)) AS BIGINT) AS paid_epoch
    FROM orders o
    LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       AND l.l_shipdate::TIMESTAMP
           BETWEEN o.o_orderdate::TIMESTAMP
               AND o.o_orderdate::TIMESTAMP + INTERVAL '30 days'
       AND l.l_linestatus = 'F'
    WHERE l.l_orderkey IS NOT NULL
       OR o.o_orderdate::TIMESTAMP + INTERVAL '30 days' < (SELECT w FROM wm)
    UNION ALL
    SELECT NULL, NULL, NULL, l.l_orderkey, l.l_linenumber,
           CAST(floor(epoch(l.l_shipdate::TIMESTAMP)) AS BIGINT) AS paid_epoch
    FROM lineitem l
    WHERE l.l_linestatus <> 'F'
       OR (NOT EXISTS (SELECT 1 FROM orders o
            WHERE o.o_orderkey = l.l_orderkey
            AND l.l_shipdate::TIMESTAMP
                BETWEEN o.o_orderdate::TIMESTAMP
                    AND o.o_orderdate::TIMESTAMP + INTERVAL '30 days')
          AND l.l_shipdate::TIMESTAMP < (SELECT w FROM wm))
    """,
    tags=("extension", "streaming", "J3", "outer", "interval"),
)
def stream_join_full_outer_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-OUTER windowed stream-stream join — the last member of the §2.3
    outer-join matrix (inner/left are value-exact-oracled above): matched
    order/payment pairs emit immediately; an unmatched ORDER null-pads once
    the watermark passes its 30-day horizon; an unmatched PAYMENT null-pads
    either immediately (it fails the one-sided join predicate and bypasses
    state — Spark's pre-join filter) or at state eviction (final watermark
    strictly past its shipdate). Round 13: that decomposition turned out to
    be a closed form, so the registry's last rows-only entry now carries a
    full value-exact DuckDB oracle (see the registration comment).

    Scale stance is the left-outer twin's: state is bounded by watermark ×
    arrival rate per side, keys co-partition on the join key, and the
    interval predicate prunes the in-state probe to the 30-day band."""
    orders = (
        read_stream_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderdate")
        .withWatermark("o_orderdate", WATERMARK)
    )
    payments = (
        read_stream_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_shipdate", "l_linestatus")
        .withWatermark("l_shipdate", WATERMARK)
    )
    joined = interval_join(
        orders,
        payments,
        left_key="o_orderkey",
        right_key="l_orderkey",
        left_ts="o_orderdate",
        right_ts="l_shipdate",
        lower="0 days",
        upper="30 days",
        extra_condition=payments["l_linestatus"] == "F",
        how="fullOuter",
    )
    out = joined.select(
        "o_orderkey",
        "o_custkey",
        F.unix_timestamp("o_orderdate").alias("order_epoch"),
        "l_orderkey",
        "l_linenumber",
        F.unix_timestamp("l_shipdate").alias("paid_epoch"),
    )
    return run_to_completion(out, output_mode="append")


@query(
    "stream_q5_daily_revenue",
    oracle="""
    WITH wm AS (
      SELECT least((SELECT max(o_orderdate::TIMESTAMP) FROM orders),
                   (SELECT max(l_shipdate::TIMESTAMP) FROM lineitem))
             - INTERVAL '24 hours' AS w
    )
    SELECT CAST(floor(epoch(time_bucket(INTERVAL '1 day',
                                        o.o_orderdate::TIMESTAMP))) AS BIGINT)
               AS window_start,
           COUNT(*) AS n_paid,
           CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS revenue_cents
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       AND l.l_shipdate::TIMESTAMP
           BETWEEN o.o_orderdate::TIMESTAMP
               AND o.o_orderdate::TIMESTAMP + INTERVAL '30 days'
       AND l.l_linestatus = 'F'
    WHERE time_bucket(INTERVAL '1 day', o.o_orderdate::TIMESTAMP)
          + INTERVAL '1 day' <= (SELECT w FROM wm) - INTERVAL '30 days'
    GROUP BY 1
    """,
    tags=("extension", "streaming", "multi-stateful", "J3", "A4"),
)
def stream_q5_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO stateful operators chained in ONE streaming query — the
    composition SURVEY §4.3-3 flags as the historical Spark restriction:
    a watermarked stream-stream interval join (symmetric hash state) feeds
    a 1-day tumbling windowed aggregate (window state) with append output,
    verified working on Spark 4.1.2 (Kafka Streams does this with a
    repartition topic between join and agg; here it is one query, one
    checkpoint, two state stores).

    Revenue is summed as exact integer cents (re-association-proof). The
    oracle encodes the downstream agg's emission rule, which the join
    DELAYS by its state horizon: left-side join state may still emit rows
    with o_orderdate as old as ``wm - 30 d`` (the interval upper bound), so
    the agg's effective watermark is ``min(max(left ts), max(right ts)) -
    delay - 30 d`` and a day window emits iff its end is at or below that
    (verified empirically: the 6 join-fed day windows inside the delayed
    horizon at sf0.01 are withheld, everything older emits)."""
    orders = (
        read_stream_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderdate", "o_totalprice")
        .withWatermark("o_orderdate", WATERMARK)
    )
    payments = (
        read_stream_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_shipdate", "l_linestatus")
        .withWatermark("l_shipdate", WATERMARK)
    )
    paid = interval_join(
        orders,
        payments,
        left_key="o_orderkey",
        right_key="l_orderkey",
        left_ts="o_orderdate",
        right_ts="l_shipdate",
        lower="0 days",
        upper="30 days",
        extra_condition=payments["l_linestatus"] == "F",
    )
    daily = paid.groupBy(F.window("o_orderdate", "1 day").alias("window")).agg(
        F.count(F.lit(1)).alias("n_paid"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")).alias(
            "revenue_cents"
        ),
    )
    out = daily.select(
        F.unix_timestamp("window.start").alias("window_start"), "n_paid", "revenue_cents"
    )
    return run_to_completion(out, output_mode="append")


@query(
    "stream_pipeline_quality_filter",
    # Over DISTINCT text (the dedup survivors): identical text ⇒ identical
    # features, so the distinct-text set is exactly the emitted first-arrival
    # set regardless of arrival order.
    oracle=f"""
    WITH d AS (SELECT DISTINCT text FROM documents),
    f AS (
      SELECT md5(text) AS text_hash,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_distinct(string_split(text, ' '))) * 1.0
                 / len(string_split(text, ' ')) AS ttr,
             len([x for x in string_split(text, ' ')
                  if list_contains(['the','a','of','and','to','in'], x)])
                 * 1.0 / len(string_split(text, ' ')) AS stop_ratio
      FROM d
    )
    SELECT text_hash, n_tokens,
           CASE WHEN n_tokens < {_NP.MIN_TOKENS} THEN 'too_short'
                WHEN n_tokens > {_NP.MAX_TOKENS} THEN 'too_long'
                WHEN ROUND(0.5 * ttr + 0.3 * stop_ratio
                           + 0.2 * LEAST(n_tokens / 256.0, 1.0), 4)
                     < {_NP.MIN_QUALITY} THEN 'low_quality'
                ELSE 'kept' END AS reason,
           CAST(n_tokens >= {_NP.MIN_TOKENS} AND n_tokens <= {_NP.MAX_TOKENS}
                AND ROUND(0.5 * ttr + 0.3 * stop_ratio
                          + 0.2 * LEAST(n_tokens / 256.0, 1.0), 4)
                    >= {_NP.MIN_QUALITY} AS INT) AS keep
    FROM f
    """,
    tags=("northstar", "streaming", "pipeline", "dedup", "watermark"),
)
def stream_pipeline_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation filter ONLINE — the per-document keep/reject
    pass a 100 TB ingest runs on arriving documents instead of nightly over
    the corpus: watermark-bounded exact dedup
    (``dropDuplicatesWithinWatermark`` on the content hash — state holds
    only in-horizon hashes) followed by the same token-length gates and
    quality score as the batch ``pipeline_quality_filter``, append-mode.

    Two deliberate semantic deltas from the batch twin, both inherent to
    the online setting: (a) the dup gate is exact-hash (MinHash near-dup
    needs a corpus-wide LSH index; online engines run exact dedup inline
    and near-dup as a periodic batch sweep); (b) duplicate arrivals are
    DROPPED by the state store, not labeled — a dropped row never reaches
    the sink, so the audit stream carries only first-arrivals. Output is
    keyed by content hash (which doc of an identical-text group survives is
    arrival-order-dependent; its features are not, since the text is
    identical — so every output column is deterministic).

    Documents carry no event time, so a deterministic ingest-time stand-in
    (``timestamp_seconds(doc_id + 2 days)``) feeds the watermark — the role
    a Kafka ingest timestamp plays in production. The 2-day offset keeps
    every synthetic time strictly ABOVE the initial watermark (epoch 0):
    a doc_id-0 row at exactly epoch 0 is dropped as late by the dedup
    state's late-row gate."""
    docs = read_stream_table(spark, sf_dir, "documents").select("doc_id", "text")
    ev = docs.withColumn(
        "ingest_ts", F.timestamp_seconds(F.col("doc_id") + F.lit(172800))
    ).withWatermark("ingest_ts", WATERMARK)
    deduped = ev.withColumn("text_hash", F.md5("text")).dropDuplicatesWithinWatermark(
        ["text_hash"]
    )
    toks = F.split("text", " ")
    stop_arr = F.array(*[F.lit(s) for s in ("the", "a", "of", "and", "to", "in")])
    feat = deduped.select(
        "text_hash",
        F.size(toks).cast("bigint").alias("n_tokens"),
        (F.size(F.array_distinct(toks)) / F.size(toks)).alias("ttr"),
        (F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x))) / F.size(toks)).alias(
            "stop_ratio"
        ),
    )
    qs = F.round(
        0.5 * F.col("ttr")
        + 0.3 * F.col("stop_ratio")
        + 0.2 * F.least(F.col("n_tokens") / 256.0, F.lit(1.0)),
        4,
    )
    out = feat.select(
        "text_hash",
        "n_tokens",
        F.when(F.col("n_tokens") < _NP.MIN_TOKENS, "too_short")
        .when(F.col("n_tokens") > _NP.MAX_TOKENS, "too_long")
        .when(qs < _NP.MIN_QUALITY, "low_quality")
        .otherwise("kept")
        .alias("reason"),
        (
            (F.col("n_tokens") >= _NP.MIN_TOKENS)
            & (F.col("n_tokens") <= _NP.MAX_TOKENS)
            & (qs >= _NP.MIN_QUALITY)
        )
        .cast("int")
        .alias("keep"),
    )
    return run_to_completion(out, output_mode="append")


@query(
    "stream_domain_quality_stats",
    oracle="""
    WITH feat AS (
      SELECT doc_id, source,
             len(string_split(text, ' ')) AS n_tokens,
             CAST(FLOOR((0.5 * (len(list_distinct(string_split(text, ' '))) * 1.0
                                / len(string_split(text, ' ')))
                   + 0.3 * (len([x for x in string_split(text, ' ')
                                 if list_contains(['the','a','of','and','to','in'], x)])
                            * 1.0 / len(string_split(text, ' ')))
                   + 0.2 * LEAST(len(string_split(text, ' ')) / 256.0, 1.0)) * 10000
                   + 0.5) AS BIGINT) AS qi
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           FLOOR(CAST(SUM(qi) AS BIGINT) * 1.0 / COUNT(*) + 0.5) / 10000
               AS avg_quality
    FROM feat GROUP BY source
    """,
    tags=("northstar", "streaming", "scoring", "curation"),
)
def stream_domain_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-domain curation dashboard ONLINE — ``domain_quality_stats``'s
    doc/token counts and mean heuristic quality as a RUNNING per-source
    aggregate over the document stream, update-mode changelog drained to
    final state. This is the live ingest monitor a 100 TB pipeline keeps
    next to the nightly batch rollup: every micro-batch updates |domains|
    state rows, and a domain going off the rails (quality collapse, token
    flood) shows within one trigger instead of one night.

    One deliberate semantic delta from the batch twin, inherent to the
    online setting (same stance as ``stream_pipeline_quality_filter``): the
    near-dup-rate columns are omitted — they need the corpus-wide MinHash
    LSH index, which production computes as a periodic batch sweep, not
    inline. Everything kept is exact: the per-doc quality quantizes to an
    integer 1e-4 grid map-side (stateless projection), the running fold is
    (count, sum, sum) per source — order-free integer sums, so the drained
    final state equals the batch/DuckDB rollup regardless of micro-batch
    boundaries — and the mean divides in the post-aggregate projection.
    State is bounded by |domains|, not stream length."""
    docs = read_stream_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    toks = F.split("text", " ")
    stop_arr = F.array(*[F.lit(s) for s in ("the", "a", "of", "and", "to", "in")])
    ttr = F.size(F.array_distinct(toks)) / F.size(toks)
    stop_ratio = F.size(
        F.filter(toks, lambda x: F.array_contains(stop_arr, x))
    ) / F.size(toks)
    qi = F.floor(
        (0.5 * ttr + 0.3 * stop_ratio + 0.2 * F.least(F.size(toks) / 256.0, F.lit(1.0)))
        * 10000
        + F.lit(0.5)
    ).cast("bigint")
    feat = docs.select(
        "source", F.size(toks).cast("bigint").alias("n_tokens"), qi.alias("qi")
    )
    agg = feat.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("qi").alias("sum_qi"),
    )
    out = agg.select(
        "source",
        "n_docs",
        "n_tokens",
        (F.floor(F.col("sum_qi") / F.col("n_docs") + F.lit(0.5)) / 10000).alias(
            "avg_quality"
        ),
    )
    drained = run_to_completion(out, output_mode="update")
    # compact to final state per source (n_docs strictly monotone; round 13)
    return latest_update_state(drained, "source", F.col("n_docs"))


@query(
    "stream_text_token_stats",
    oracle=REGISTRY["text_token_stats"].oracle,  # stateless ⇒ same rows
    tags=("northstar", "streaming", "text"),
)
def stream_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-document token-feature pass ONLINE — ``text_token_stats`` on
    the document stream: the first projection a streaming ingest applies to
    every arriving document before any gate or rollup. Stateless append
    pipeline (no state store at all); column pruning reaches the
    file-stream scan exactly as in the batch twin, and each micro-batch
    emits its documents' features once. Being stateless, the drained output
    IS the batch result row-for-row, so the batch DuckDB oracle applies
    unchanged."""
    from kafka_streams_playground_spark.plans.northstar_text import BPE_RE

    docs = read_stream_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split("text", " ")
    out = docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_RE), F.lit(0)))
        .cast("bigint")
        .alias("n_bpe_pieces"),
        F.round(
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) / F.size(toks), 4
        ).alias("avg_token_len"),
    )
    return run_to_completion(out, output_mode="append")


@query(
    "stream_decontaminate_corpus",
    oracle=REGISTRY["decontaminate_corpus"].oracle,  # stateless ⇒ same rows
    tags=("northstar", "streaming", "pipeline", "text"),
)
def stream_decontaminate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination AT INGEST — the stream-static form of
    ``decontaminate_corpus``: the benchmark's distinct shingle-hash set is
    computed once batch-side (bounded by eval-suite size, the same
    O(benchmark) stance as the bloom word map), broadcast to every worker,
    and each arriving document is flagged row-locally — no state store, no
    stream-side shuffle, append mode. This is how a production ingest
    keeps eval contamination out of the corpus the moment documents land,
    with the nightly batch pass as the audit twin.

    Spark shape: the shingle+hash pass is the SAME Arrow-batched UDF as
    every MinHash consumer; the membership test runs in a ``mapInPandas``
    stage against the broadcast Python set (O(|doc shingles|) per row,
    amortized O(1) per probe) — the exact plumbing that would carry a
    bloom filter at 100 TB benchmark sizes. Stateless end-to-end, so the
    drained output equals the batch manifest row-for-row and the batch
    oracle applies unchanged."""
    from kafka_streams_playground_spark.functions import text as T
    from kafka_streams_playground_spark.plans import northstar_pipeline as NP

    docs_b = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ss = F.pandas_udf(T.shingle_sig_fn(1), "hs: array<bigint>, sig: array<bigint>")
    bench_rows = (
        docs_b.filter(F.col("doc_id") % NP.BENCH_MOD == 0)
        .select(F.explode(ss("text").getField("hs")).alias("h"))
        .distinct()
        .collect()
    )  # bounded: |distinct benchmark shingles|, NOT corpus-sized
    bcast = spark.sparkContext.broadcast({r["h"] for r in bench_rows})
    flag_ratio = NP.CONTAM_FLAG_RATIO

    stream = (
        read_stream_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % NP.BENCH_MOD != 0)
        .select(
            "doc_id",
            "lang",
            "source",
            F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
            ss("text").getField("hs").alias("hs"),
        )
    )

    def keep_clean(batches):
        import pandas as pd

        bench = bcast.value
        for pdf in batches:
            keep = [
                (sum(1 for h in hs if h in bench) * 1.0 / len(hs)) < flag_ratio
                for hs in pdf["hs"]
            ]
            yield pdf.loc[pd.Series(keep, index=pdf.index), ["doc_id", "lang", "source", "n_tokens"]]

    out = stream.mapInPandas(
        keep_clean, "doc_id bigint, lang string, source string, n_tokens bigint"
    )
    return run_to_completion(out, output_mode="append")


@query(
    "stream_ts_ewma_user_daily",
    oracle=REGISTRY["ts_ewma_user_daily"].oracle,
    tags=("extension", "streaming", "temporal", "stateful"),
)
def stream_ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decayed-spend feature ONLINE — ``ts_ewma_user_daily`` as a CUSTOM
    KEYED STATEFUL operator (streaming/stateful.py::ewma_per_key): per-user
    state carries the last 8 (day, cents) pairs across micro-batches and
    every day emits its q8 fixed-point decay on arrival. This is the
    operator shape for serving features at ingest latency: O(taps) state
    per key (the batch window's sort never happens), exact BIGINT
    arithmetic, and the drain compacted to the last emission per
    (user, day) equals the batch twin bit-for-bit under ANY ordered-replay
    batching (round 13: the raw drain kept a straddled day's partial row
    next to its correction — the upsert-by-(user, day) changelog read is
    now applied here, not left to the consumer)."""
    from kafka_streams_playground_spark.streaming.stateful import ewma_per_key

    events = read_stream_table(spark, sf_dir, "events")
    drained = run_to_completion(ewma_per_key(events), output_mode="append")
    return latest_update_state(
        drained, ["user_id", "day_epoch"], F.col("n_seen")
    ).drop("n_seen")


@query(
    "stream_funnel_view_click_purchase",
    oracle=REGISTRY["funnel_view_click_purchase"].oracle,
    tags=("extension", "streaming", "funnel", "stateful"),
)
def stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The conversion funnel ONLINE — ``funnel_view_click_purchase`` as a
    CUSTOM KEYED STATEFUL operator (streaming/stateful.py::funnel_per_key):
    per-user state carries the three stage timestamps across micro-batches
    and each batch advances the min-chain and emits the user's current
    funnel row. This is how product analytics actually watches funnels —
    at ingest latency with O(1) state per user — where the batch twin
    re-scans the event history; the drain compacted to the last emission
    per user equals the batch twin row-for-row under ANY ordered-replay
    batching (round 13: every micro-batch re-emits a user's current
    funnel row, so the raw drain kept superseded stage snapshots)."""
    from kafka_streams_playground_spark.streaming.stateful import funnel_per_key

    events = read_stream_table(spark, sf_dir, "events")
    drained = run_to_completion(funnel_per_key(events), output_mode="append")
    return latest_update_state(drained, "user_id", F.col("n_seen")).drop("n_seen")


@query(
    "stream_chunk_documents_overlap",
    oracle=REGISTRY["chunk_documents_overlap"].oracle,
    tags=("northstar", "streaming", "curation", "chunking"),
)
def stream_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The context-window chunker ONLINE — ``chunk_documents_overlap`` on
    the document stream: every arriving document fans out to its
    overlapping CHUNK_WIN-token window rows at ingest, the form a streaming
    tokenize-and-pack pipeline consumes. Stateless append pipeline (the
    batch twin is shuffle-free, so the streaming form has no state store
    and no watermark); the drained output IS the batch manifest
    row-for-row, so the batch DuckDB oracle applies unchanged."""
    from kafka_streams_playground_spark.plans.northstar_curation import (
        CHUNK_STRIDE,
        CHUNK_WIN,
    )

    docs = read_stream_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    c = docs.select(
        "doc_id",
        toks.alias("t"),
        F.explode(F.sequence(F.lit(1), n, F.lit(CHUNK_STRIDE))).alias("s"),
    )
    nt = F.size(F.col("t"))
    out = c.select(
        "doc_id",
        (((F.col("s") - 1) / CHUNK_STRIDE).cast("bigint")).alias("chunk_idx"),
        F.col("s").cast("bigint").alias("start_tok"),
        F.least(F.lit(CHUNK_WIN), nt - F.col("s") + 1).cast("bigint").alias("n_tok"),
        F.md5(F.array_join(F.slice(F.col("t"), F.col("s"), CHUNK_WIN), " ")).alias("fp"),
    )
    return run_to_completion(out, output_mode="append")


@query(
    "stream_events_value_outliers",
    oracle=REGISTRY["events_value_outliers"].oracle,
    tags=("extension", "streaming", "anomaly"),
)
def stream_events_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomaly flagging AT INGEST — the stream-static form of
    ``events_value_outliers``: per-type moment rows (n, Σx, Σx²) are
    computed once batch-side (|event_types| rows, O(config) like the
    benchmark shingle set), joined broadcast-style onto the live stream,
    and each arriving event is flagged row-locally with the same
    divisionless (n·x−S)² > 9(nQ−S²) test — no state store, no
    stream-side shuffle, append mode. This is how a production monitor
    actually runs: score the live stream against the reference window's
    statistics (here: the full fixture, so the drained output equals the
    batch twin row-for-row and the batch oracle applies unchanged; in
    deployment the static side refreshes on a schedule and the oracle is
    the nightly batch audit)."""
    ev_b = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    stats = ev_b.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).alias("s2"),
    )
    stream = read_stream_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    j = stream.join(F.broadcast(stats), "event_type")
    nd = F.col("n").cast("double")
    cd = F.col("cents").cast("double")
    s1d = F.col("s1").cast("double")
    s2d = F.col("s2").cast("double")
    dev = nd * cd - s1d
    out = j.filter(dev * dev > 9.0 * (nd * s2d - s1d * s1d)).select(
        "event_id", "event_type", "cents"
    )
    return run_to_completion(out, output_mode="append")


@query(
    "stream_text_line_filter",
    # the batch twin's per-line rules on the C4 segmentation
    oracle=f"""
        WITH seg AS (
          SELECT doc_id,
                 string_split(regexp_replace(text, '{_C4_SEG_RE}',
                                             '\\1' || chr(10), 'g'),
                              chr(10)) AS lines
          FROM documents
        ),
        l AS (
          SELECT doc_id, unnest(lines) AS line,
                 generate_subscripts(lines, 1) - 1 AS line_idx
          FROM seg
        )
        SELECT doc_id, CAST(line_idx AS BIGINT) AS line_idx, line
        FROM l
        WHERE len(string_split(line, ' ')) >= {C4_MIN_WORDS}
          AND NOT contains({_ascii_lower_sql('line')}, 'javascript')
        """,
    tags=("northstar", "streaming", "curation", "text"),
)
def stream_text_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4 line filter ONLINE — the per-LINE stage of
    ``text_line_filter`` as a stateless append-mode stream: documents
    arrive, lines explode off the same codegen'd segmentation, the
    min-words and policy-string rules evaluate per line, and KEPT lines
    emit as (doc_id, line_idx, line) rows — the streaming half of the
    split a production pipeline actually deploys (line rules are
    embarrassingly per-record and run at ingest; the doc-level gate and
    ordered re-assembly are the downstream batch rollup, which is where
    the batch twin's listagg lives — sort-based aggregation doesn't exist
    in streaming state).

    Exactness: stateless projection ⇒ the drained append stream equals
    the batch per-line rule table row-for-row, micro-batch boundaries
    irrelevant; zero state, zero shuffle — at 100 TB this runs at source
    parallelism."""
    docs = read_stream_table(spark, sf_dir, "documents").select("doc_id", "text")
    seg = docs.select(
        "doc_id",
        F.split(F.regexp_replace("text", _C4_SEG_RE, "$1\n"), "\n").alias("lines"),
    )
    l = seg.select("doc_id", F.posexplode("lines").alias("i", "line"))
    out = l.filter(
        (F.size(F.split("line", " ")) >= C4_MIN_WORDS)
        & ~F.contains(ascii_lower("line"), F.lit("javascript"))
    ).select("doc_id", F.col("i").cast("bigint").alias("line_idx"), "line")
    return run_to_completion(out, output_mode="append")


@query(
    "stream_ts_cusum_drift_per_type",
    oracle=REGISTRY["ts_cusum_drift_per_type"].oracle,
    tags=("extension", "streaming", "temporal", "monitoring", "stateful"),
)
def stream_ts_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drift control chart ONLINE — ``ts_cusum_drift_per_type`` as a
    CUSTOM KEYED STATEFUL operator (streaming/stateful.py::cusum_per_key):
    per-series state carries exactly one integer (the chart statistic) and
    every arriving event emits its post-update CUSUM value and alarm flag
    at ingest latency — the deployment shape of a data-quality monitor,
    where the batch twin re-sorts history. Per-type baselines (n, Σcents)
    come from a batch pre-pass broadcast onto the stream (the calibrated
    two-pass shape of ``stream_events_value_outliers``); increments are
    n-scaled exact integers, so the drained ordered replay equals the
    batch twin bit-for-bit whatever the micro-batch boundaries (each
    event emits exactly once, append mode — 3-batch-replay audited)."""
    from kafka_streams_playground_spark.plans.temporal import CUSUM_K_CENTS
    from kafka_streams_playground_spark.streaming.stateful import cusum_per_key

    m = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
        )
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s"))
    )
    stream = read_stream_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "ts",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    j = stream.join(F.broadcast(m), "event_type").withColumn(
        "inc",
        F.col("cents") * F.col("n") - F.col("s") - F.col("n") * CUSUM_K_CENTS,
    )
    return run_to_completion(cusum_per_key(j), output_mode="append")


@query(
    "stream_kmv_distinct_by_type",
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
    sk AS (SELECT event_type, hv FROM r WHERE rn <= {{K}}),
    s AS (
      SELECT event_type, COUNT(*) AS k_n, MAX(hv) AS kth
      FROM sk GROUP BY 1
    )
    SELECT event_type, CAST(k_n AS BIGINT) AS k_n,
           CASE WHEN k_n < {{K}} THEN CAST(k_n AS BIGINT)
                ELSE CAST(FLOOR(({{K}} - 1) * {2**32}.0 / kth) AS BIGINT)
           END AS est_distinct
    FROM s
    """.replace("{K}", "256"),
    tags=("extension", "streaming", "agg", "sketch", "stateful"),
)
def stream_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live distinct-user cardinality per event type — the KMV sketch as
    STREAMING KEYED STATE (streaming/stateful.py::kmv_sketch_per_key):
    the state is the sketch (K smallest distinct hashes), every
    micro-batch folds its hashes in with the associative bottom-K merge
    and emits the updated estimate — exactly how a production ingest
    monitor keeps per-source cardinalities without holding the key sets
    (state is K longs per source forever, vs an exact-distinct state that
    grows with the stream). The update-mode drain is compacted to each
    key's LAST emission via the operator's strictly-monotone ``n_seen``
    marker (round 13 — the raw drain kept superseded sketch states under
    multi-batch replay), giving the full-stream sketch — bit-equal to the
    batch bottom-K, so the estimate is oracle-exact (impossible for the
    built-in HLL; see ``agg_kmv_distinct_sketch`` and the hand-rolled,
    oracle-exact ``stream_hll_distinct_by_type``)."""
    from kafka_streams_playground_spark.plans.relational import KMV_K
    from kafka_streams_playground_spark.streaming.stateful import kmv_sketch_per_key

    stream = read_stream_table(spark, sf_dir, "events").select(
        "event_type",
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        .alias("hv"),
    )
    drained = run_to_completion(kmv_sketch_per_key(stream), output_mode="update")
    out = latest_update_state(drained, "event_type", F.col("n_seen")).drop("n_seen")
    est = (
        F.when(F.col("k_n") < KMV_K, F.col("k_n").cast("long"))
        .otherwise(F.floor((KMV_K - 1) * float(2**32) / F.col("kth")).cast("long"))
        .alias("est_distinct")
    )
    return out.select("event_type", "k_n", est)


@query(
    "stream_embedding_covariance",
    # Shares the batch covariance oracle: the running Gram fold drained to
    # final state equals the one-shot batch aggregate (order-free integer
    # sums; partition/micro-batch invariance property-pinned).
    oracle=REGISTRY["embedding_covariance_matrix"].oracle,
    tags=("northstar", "streaming", "similarity", "embedding"),
)
def stream_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PCA-whitening covariance ONLINE — the single-pass Gram
    accumulation of ``embedding_covariance_matrix`` as a RUNNING streaming
    aggregate over the embedding stream: the stateless Arrow partials map
    runs per micro-batch, the groupBy(i, j) SUM is the incremental Gram
    state (d(d+1)/2 + d integer triples — CONFIG-sized state however long
    the stream runs), and the update-mode drain's final state feeds the
    same diagonal-join assembly as the batch twin. This is how a 100 TB
    ingest keeps a live covariance for drift detection (spectral shift of
    a new embedding drop) without re-scanning the corpus: every partial
    the stream folds is exactly the partial the batch job would have
    produced, so the drained state is bit-equal to the batch aggregate
    regardless of micro-batch boundaries — the mergeability that makes
    the operator a valid distributed aggregate is the same property that
    makes it a valid STREAMING one (property-pinned:
    test_covariance_partials_are_partition_invariant)."""
    from kafka_streams_playground_spark.plans.northstar_similarity import (
        assemble_covariance,
        gram_agg,
        gram_partials,
    )

    emb = read_stream_table(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("v")
    )
    drained = run_to_completion(gram_agg(gram_partials(emb)), output_mode="update")
    # update-mode memory sink keeps every emission; the LAST row per (i, j)
    # is the final state — well-founded under multi-batch replay since
    # round 13, when gram_partials started carrying cnt on EVERY row (the
    # old diagonal-only cnt made this pick arbitrary off the diagonal;
    # found by the split-replay audit)
    from pyspark.sql import Window as _W

    last = (
        drained.withColumn(
            "rn",
            F.row_number().over(
                _W.partitionBy("i", "j").orderBy(F.col("cnt").desc())
            ),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return assemble_covariance(last.persist())


@query(
    "stream_stats_ols_by_nation",
    # Shares the batch OLS oracle: the running sufficient-statistics fold
    # drained to final state equals the one-shot batch aggregate (exact
    # DECIMAL(38,0) sums are order-free and mergeable across micro-batch
    # boundaries — the same contract the covariance twin rides).
    oracle=REGISTRY["stats_ols_qty_price_by_nation"].oracle,
    tags=("extension", "streaming", "stats"),
)
def stream_stats_ols_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation OLS ONLINE — ``stats_ols_qty_price_by_nation``'s five
    sufficient statistics as a RUNNING streaming aggregate over the
    lineitem stream: supplier/nation attach via stream-static broadcast
    joins per micro-batch, the groupBy(n_name) sums are the incremental
    regression state (five DECIMAL(38,0) cells per nation — O(groups)
    state however long the stream runs), and the update-mode drain's
    final emission feeds the same closed-form normal-equation assembly
    as the batch twin. This is the live-model-fit shape: a 100 TB ingest
    keeps per-group regression coefficients current without re-scanning,
    because every partial the stream folds is exactly the partial the
    batch job would produce — mergeability across partitions IS
    mergeability across micro-batches."""
    from kafka_streams_playground_spark.plans.northstar_stats import (
        ols_assemble,
        ols_point_columns,
        ols_sufficient_stats,
    )

    li = ols_point_columns(read_stream_table(spark, sf_dir, "lineitem"))
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    pts = li.join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"]).join(
        F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"]
    )
    drained = run_to_completion(ols_sufficient_stats(pts), output_mode="update")
    # update-mode memory sink keeps every emission; the LAST row per nation
    # (monotone n) is the final state — exact for the single-file replay
    # and guards a multi-batch one.
    from pyspark.sql import Window as _W

    last = (
        drained.withColumn(
            "rn",
            F.row_number().over(_W.partitionBy("n_name").orderBy(F.col("n").desc())),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return ols_assemble(last)


@query(
    "stream_dedup_incremental_new_vs_base",
    oracle=REGISTRY["dedup_incremental_new_vs_base"].oracle,
    tags=("northstar", "streaming", "dedup", "incremental"),
)
def stream_dedup_incremental_new_vs_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup AT INGEST — the streaming form of
    ``dedup_incremental_new_vs_base``: new documents ARRIVE as a stream,
    are signed with the same Arrow-batched shingle+MinHash UDF, exploded
    into the shared band construction, and probed via STREAM-STATIC joins
    against the standing base-corpus band index and shingle sets (both
    batch-side, persisted — the artifacts of the previous run). Exact
    Jaccard verifies row-locally on the joined arrays; everything is
    stateless append mode, so the drained pair list equals the batch
    candidate-verify output and the batch oracle applies unchanged after
    the same best-match pick. Per-pair duplicates from multi-band
    collisions carry identical scores, so the post-drain best-of collapses
    them exactly like the batch path's dropDuplicates (at 100 TB you'd
    additionally dedup in-stream with watermarked state to save the
    repeated verify — an optimization, not a semantics change). The shingle
    arrays ride only the stream side's map-local rows: with the static
    index broadcast, NOTHING shuffles — per-document ingest cost is
    O(shingles + band probes), the latency shape a production gate needs."""
    from kafka_streams_playground_spark.functions import text as T
    from kafka_streams_playground_spark.plans import northstar_dedup as ND

    hv, bands = ND._minhash_hv_bands(spark, sf_dir)
    base_bands = bands.filter((F.col("doc_id") % 10) < 8).select(
        F.col("doc_id").alias("base_id"), "band_idx", "bucket"
    )
    base_hs = hv.filter((F.col("doc_id") % 10) < 8).select(
        F.col("doc_id").alias("base_id"), F.col("hs").alias("hsb")
    )

    ss = F.pandas_udf(
        T.shingle_sig_fn(ND.MINHASH_K), "hs: array<bigint>, sig: array<bigint>"
    )
    new = (
        read_stream_table(spark, sf_dir, "documents")
        .filter((F.col("doc_id") % 10) >= 8)
        .select(F.col("doc_id").alias("new_id"), ss("text").alias("ss"))
        .select("new_id", F.col("ss.hs").alias("hsn"), F.col("ss.sig").alias("sig"))
    )
    new_bands = new.select(
        "new_id", "hsn", ND.band_bucket_expr().alias("band_idx", "bucket")
    )
    cand = new_bands.join(F.broadcast(base_bands), ["band_idx", "bucket"])
    verified = cand.join(F.broadcast(base_hs), "base_id")
    jac = T.jaccard(F.col("hsb"), F.col("hsn"))
    scored = verified.filter(jac >= ND.JACCARD_THRESHOLD).select(
        "new_id", "base_id", F.round(jac, 4).alias("jaccard")
    )
    drained = run_to_completion(scored, output_mode="append")

    from pyspark.sql import Window as _W

    best = drained.withColumn(
        "rn",
        F.row_number().over(
            _W.partitionBy("new_id").orderBy(
                F.col("jaccard").desc(), F.col("base_id").asc()
            )
        ),
    ).filter(F.col("rn") == 1)
    return best.select(
        F.col("new_id").alias("doc_id"), F.col("base_id").alias("dup_of"), "jaccard"
    )


@query(
    "stream_dsir_importance_weights",
    oracle=REGISTRY["dsir_importance_weights"].oracle,  # stateless ⇒ same rows
    tags=("northstar", "streaming", "curation", "scoring"),
)
def stream_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR scoring AT INGEST — the stream-static form of
    ``dsir_importance_weights``: the 256-bucket log-ratio model trains once
    batch-side (target-vs-raw hashed-unigram counts over the standing
    corpus), collects to a bounded dict (O(DSIR_BUCKETS)=256 entries — the
    same bounded-model stance as the decontamination shingle set), and each
    arriving document is scored row-locally in one Arrow ``mapInPandas``
    stage: hash its tokens, sum the broadcast per-bucket lr6 integers. No
    state store, no stream-side shuffle, append mode — the shape of every
    model-based ingest filter (quality classifiers, importance weights,
    perplexity gates) at 100 TB: train nightly batch, score per-document
    online. Stateless end-to-end, so the drained output equals the batch
    manifest row-for-row and the batch oracle applies unchanged."""
    import hashlib

    from kafka_streams_playground_spark.plans import northstar_curation as NC

    docs_b = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    tok = docs_b.select(
        "lang", F.explode(F.split("text", " ")).alias("tok")
    ).select(
        "lang",
        (
            F.conv(
                F.substring(F.md5(F.concat(F.lit("dsir:"), F.col("tok"))), 1, 8),
                16,
                10,
            ).cast("long")
            % NC.DSIR_BUCKETS
        ).alias("bucket"),
    )
    rcnt = tok.groupBy("bucket").agg(F.count(F.lit(1)).alias("rc"))
    tcnt = (
        tok.filter(F.col("lang") == NC.DSIR_TARGET_LANG)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("tc"))
    )
    tots = tok.agg(
        F.sum(F.when(F.col("lang") == NC.DSIR_TARGET_LANG, 1).otherwise(0)).alias(
            "t_tot"
        ),
        F.count(F.lit(1)).alias("r_tot"),
    ).collect()[0]  # bounded: 1 row of scalars
    t_tot, r_tot = tots["t_tot"], tots["r_tot"]
    lr_rows = (
        rcnt.join(tcnt, "bucket", "left")
        .select(
            "bucket",
            F.floor(
                F.log(
                    (
                        (F.coalesce(F.col("tc"), F.lit(0)) + 1.0)
                        * (F.lit(r_tot) + NC.DSIR_BUCKETS)
                    )
                    / ((F.col("rc") + 1.0) * (F.lit(t_tot) + NC.DSIR_BUCKETS))
                )
                * 1000000
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("lr6"),
        )
        .collect()
    )  # bounded: <= DSIR_BUCKETS rows, NOT corpus-sized
    lr_map = {r["bucket"]: r["lr6"] for r in lr_rows}
    bcast = spark.sparkContext.broadcast(lr_map)
    n_buckets = NC.DSIR_BUCKETS

    stream = read_stream_table(spark, sf_dir, "documents").select("doc_id", "text")

    def score_batches(batches):
        import pandas as pd

        lrs = bcast.value
        for pdf in batches:
            n_toks, scores, selected = [], [], []
            for text in pdf["text"]:
                toks = text.split(" ")
                s = 0
                for t in toks:
                    b = (
                        int(hashlib.md5(("dsir:" + t).encode()).hexdigest()[:8], 16)
                        % n_buckets
                    )
                    s += lrs[b]  # model covers every corpus bucket
                n_toks.append(len(toks))
                scores.append(s)
                selected.append(1 if s > 0 else 0)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_tokens": pd.Series(n_toks, dtype="int64"),
                    "dsir6": pd.Series(scores, dtype="int64"),
                    "selected": pd.Series(selected, dtype="int32"),
                }
            )

    out = stream.mapInPandas(
        score_batches, "doc_id bigint, n_tokens bigint, dsir6 bigint, selected int"
    )
    return run_to_completion(out, output_mode="append")


@query(
    "stream_stats_histogram_quantiles",
    oracle=REGISTRY["stats_histogram_quantiles"].oracle,
    tags=("northstar", "streaming", "stats", "quantile"),
)
def stream_stats_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles over a STREAM — the histogram fold online: the fixed-grid
    bucket counters are a streaming groupBy aggregate (complete mode; the
    counters are additive, so micro-batch merge = partition merge — the
    mergeability that makes this THE streaming quantile recipe), and the
    quantile probe reads the drained final histogram exactly like the batch
    twin. State is O(grid) per the whole stream — ~500 counters here,
    independent of events seen — which is why monitoring systems keep
    histogram quantiles running forever. Drained final counters equal the
    batch histogram bucket-for-bucket, so the batch oracle applies
    unchanged."""
    from kafka_streams_playground_spark.plans import northstar_stats as NS

    ev = read_stream_table(spark, sf_dir, "events").select(
        F.floor("value").cast("bigint").alias("bucket")
    )
    h_stream = ev.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))
    h = run_to_completion(h_stream, output_mode="complete")

    from pyspark.sql import Window as _W

    w = _W.orderBy("bucket").rowsBetween(_W.unboundedPreceding, _W.currentRow)
    # O(grid) unpartitioned window + 1-row broadcast total — the batch twin's
    # documented bounded shapes, applied to the drained histogram.
    c = h.select("bucket", "cnt", F.sum("cnt").over(w).alias("cum"))
    tot = h.agg(F.sum("cnt").alias("n_total"))
    qs = spark.createDataFrame([(q,) for q in NS.HQ_TARGETS_PPM], "q_ppm bigint")
    probe = (
        c.crossJoin(F.broadcast(tot))
        .join(
            F.broadcast(qs),
            F.expr(
                "CAST(cum AS DECIMAL(38,0)) * 1000000"
                " >= CAST(q_ppm AS DECIMAL(38,0)) * n_total"
            ),
        )
        .groupBy("q_ppm", "n_total")
        .agg(F.min("bucket").alias("bucket_lo"))
    )
    return probe.select(
        "q_ppm", "n_total", "bucket_lo", (F.col("bucket_lo") + 1).alias("bucket_hi")
    )


@query(
    "stream_ts_multi_granularity_rollup",
    oracle=REGISTRY["ts_multi_granularity_rollup"].oracle,
    tags=("northstar", "streaming", "rollup", "twin"),
)
def stream_ts_multi_granularity_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multi-granularity rollup as a STREAM — the continuous-aggregate
    form it actually ships as in production (TimescaleDB's continuous
    aggregates ARE this query kept running): each micro-batch's events
    explode into their (grain, bucket) pairs and merge into the running
    per-(grain, bucket, type) counters. Counters are additive, so
    micro-batch merge = partition merge and the drained final state equals
    the batch rollup row-for-row — the batch oracle applies unchanged.
    State is O(buckets × types) — dashboard-sized, stream-lifetime
    bounded by retention × grain count, never event count."""
    from kafka_streams_playground_spark.plans.temporal import ROLLUP_GRAINS

    ev = read_stream_table(spark, sf_dir, "events").select(
        F.unix_timestamp("ts").alias("ep"),
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    pairs = ev.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("grain"),
                        F.expr(f"(ep div {g}) * {g}").alias("bucket_epoch"),
                    )
                    for name, g in ROLLUP_GRAINS
                ]
            )
        ).alias("gb"),
        "event_type",
        "cents",
    )
    agg = pairs.groupBy(
        F.col("gb.grain").alias("grain"),
        F.col("gb.bucket_epoch").alias("bucket_epoch"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").alias("sum_cents"),
    )
    return run_to_completion(agg, output_mode="complete")


@query(
    "stream_drift_ks_value_halves",
    oracle=REGISTRY["drift_ks_value_halves"].oracle,
    tags=("northstar", "streaming", "drift", "twin"),
)
def stream_drift_ks_value_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact two-sample KS statistic as a STREAM — drift monitoring
    in its production form: the (cents, half) grid counters are a
    running groupBy aggregate (complete mode; counters are additive so
    micro-batch merge = partition merge), and the sup-over-CDFs probe
    runs on the drained final grid exactly like the batch twin. State is
    O(value grid) for the stream's lifetime — the same bounded-counter
    economics as the histogram-quantile twin; a production deploy swaps
    the final drain for a per-trigger probe and alerts on ks_ppm."""
    ev = read_stream_table(spark, sf_dir, "events").select(
        (F.col("event_id") % 2).alias("half"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    grid = ev.groupBy("cents").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("cb"),
    )
    g = run_to_completion(grid, output_mode="complete")

    from pyspark.sql import Window as _W

    wc = _W.orderBy("cents").rowsBetween(_W.unboundedPreceding, _W.currentRow)
    wall = _W.partitionBy()
    c = g.select(
        "cents",
        F.sum("ca").over(wc).alias("cuma"),
        F.sum("cb").over(wc).alias("cumb"),
        F.sum("ca").over(wall).alias("na"),
        F.sum("cb").over(wall).alias("nb"),
    )
    d = c.select(
        "cents",
        F.abs(F.col("cuma") * F.col("nb") - F.col("cumb") * F.col("na")).alias("dnum"),
        "na",
        "nb",
    )
    m = d.agg(F.max("dnum").alias("d_num"))
    return (
        d.join(F.broadcast(m), d.dnum == F.col("d_num"))
        .groupBy("na", "nb", "d_num")
        .agg(F.min("cents").alias("at_cents"))
        .select(
            F.col("na").cast("bigint").alias("n_a"),
            F.col("nb").cast("bigint").alias("n_b"),
            F.col("d_num").cast("bigint").alias("d_num"),
            "at_cents",
            F.expr("cast(d_num * 1000000 div (na * nb) as bigint)").alias("ks_ppm"),
        )
    )


@query(
    "stream_stats_bootstrap_ci_mean",
    oracle=REGISTRY["stats_bootstrap_ci_mean"].oracle,
    tags=("northstar", "streaming", "stats", "twin"),
)
def stream_stats_bootstrap_ci_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Poisson bootstrap as a STREAM — uncertainty quantification at
    ingest, the use Chamandy et al. built it for: each micro-batch adds
    its rows' deterministic Poisson(1)-weighted contributions into B
    running (Σwc, Σw) replica accumulators (additive ⇒ micro-batch merge
    = partition merge; state is B+1 counter pairs for the stream's
    lifetime), and the CI probe reads the drained accumulators exactly
    like the batch twin reads its replica table. Same md5 draws ⇒ the
    drained state is bit-equal to the batch pass and the batch oracle
    applies unchanged."""
    from kafka_streams_playground_spark.plans.northstar_stats import (
        BS_B,
        _bs_weight_sql,
    )

    o = read_stream_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    u = (
        "cast(conv(substr(md5(concat('bs:', cast(b as string), ':', "
        "cast(o_orderkey as string))), 1, 8), 16, 10) as bigint)"
    )
    # compute the draw once per exploded row rather than relying on codegen
    # to CSE the md5+conv out of the eight CASE branches (batch-twin shape)
    w = (
        o.select(
            "o_orderkey",
            "cents",
            F.explode(F.sequence(F.lit(0), F.lit(BS_B - 1))).alias("b"),
        )
        .select("cents", "b", F.expr(u).alias("u64"))
        .select("cents", "b", F.expr(_bs_weight_sql("u64")).alias("wt"))
    )
    reps_stream = w.groupBy("b").agg(
        F.sum(F.col("wt") * F.col("cents")).alias("swc"),
        F.sum("wt").alias("sw"),
    )
    # point-estimate accumulators ride the same stream as replica -1
    point_stream = o.groupBy().agg(
        F.sum("cents").alias("swc"), F.count(F.lit(1)).alias("sw")
    )
    reps = run_to_completion(reps_stream, output_mode="complete")
    point = run_to_completion(point_stream, output_mode="complete")

    from pyspark.sql import Window as _W

    means = (
        reps.filter(F.col("sw") > 0)
        .select(F.expr("cast(swc div sw as bigint)").alias("mean_cents"))
    )
    ranked = means.select(
        "mean_cents", F.row_number().over(_W.orderBy("mean_cents")).alias("rk")
    )
    lo_idx = -(-25 * BS_B // 1000)
    hi_idx = -(-975 * BS_B // 1000)
    lo = ranked.filter(F.col("rk") >= lo_idx).agg(
        F.min("mean_cents").alias("ci_lo_cents")
    )
    hi = ranked.filter(F.col("rk") >= hi_idx).agg(
        F.min("mean_cents").alias("ci_hi_cents")
    )
    pt = point.select(
        F.expr("cast(swc div sw as bigint)").alias("mean_cents"),
        F.col("sw").cast("bigint").alias("n_rows"),
    )
    return (
        pt.withColumn("n_replicas", F.lit(BS_B).cast("bigint"))
        .crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
    )


@query(
    "stream_curation_source_cap",
    # the batch cap's kept-prefix rows
    oracle=(
        "SELECT source, doc_id, logit_e6, quality_rank FROM ("
        + REGISTRY["curation_source_cap"].oracle
        + ") WHERE kept = 1"
    ),
    tags=("northstar", "streaming", "curation"),
)
def stream_curation_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-source document cap ONLINE — ``curation_source_cap`` as a
    keyed bounded-state stream: documents arrive, the fixed-weight
    quality logit is computed row-locally (same codegen'd integer
    features as the batch twin — stateless, at ingest), and a per-source
    top-K store (``streaming/stateful.py::_source_cap_topk``) keeps only
    the best CAP_PER_SOURCE (logit, doc_id) pairs, re-emitting each
    key's current kept set as an update-mode changelog. This is the
    deployable form of domain balancing: the batch twin's full rank
    trail needs unbounded per-source state, but the KEPT decision only
    ever needs the top-K — O(cap) per source however many documents a
    hot domain ships, the same economics as the streaming KMV sketch.

    The drain compacts to each source's LAST kept-set snapshot via the
    operator's monotone ``n_seen`` marker (round 13), so the result IS
    the batch twin's kept prefix under any micro-batch boundaries and
    the oracle is the batch oracle restricted to kept = 1."""
    from kafka_streams_playground_spark.plans.northstar_scoring import (
        QC_BIAS_E6,
        QC_W_LEN_E6,
        QC_W_STOP_E6,
        QC_W_TTR_E6,
    )
    from kafka_streams_playground_spark.plans.northstar_text import STOPWORDS
    from kafka_streams_playground_spark.streaming.stateful import (
        source_cap_per_key,
    )

    docs = read_stream_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    toks = F.split(F.col("text"), " ")
    stop_arr = F.lit(list(STOPWORDS)).cast("array<string>")
    f = docs.select(
        "doc_id",
        "source",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct"),
        F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x)))
        .cast("bigint")
        .alias("n_stop"),
    )
    logit = F.expr(
        f"({QC_W_TTR_E6} * n_distinct) div n_tokens"
        f" - ({QC_W_STOP_E6} * n_stop) div n_tokens"
        f" + ({QC_W_LEN_E6} * least(n_tokens, 256)) div 256"
        f" + {QC_BIAS_E6}"
    )
    scored = f.select(
        "source", "doc_id", logit.cast("bigint").alias("logit_e6")
    )
    out = source_cap_per_key(scored)
    drained = run_to_completion(out, output_mode="update")
    # keep only each source's LAST kept-set snapshot (n_seen monotone;
    # round 13 — earlier per-batch snapshots otherwise survive the drain)
    return latest_update_snapshot(drained, "source", F.col("n_seen")).drop("n_seen")


def _stream_hll_oracle() -> str:
    from kafka_streams_playground_spark.plans.relational import (
        HLL_ALPHA_M2_E6,
        HLL_M,
        HLL_WBITS,
    )

    return f"""
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
    pt AS (SELECT event_type, reg, MAX(rho) AS m FROM rho GROUP BY 1, 2),
    spine AS (
      SELECT s.event_type, gs.g AS reg
      FROM (SELECT DISTINCT event_type FROM pt) s,
           generate_series(0, {HLL_M - 1}) gs(g)
    ),
    dense AS (
      SELECT spine.event_type, spine.reg, COALESCE(pt.m, 0) AS m
      FROM spine LEFT JOIN pt
        ON pt.event_type = spine.event_type AND pt.reg = spine.reg
    ),
    mm AS (SELECT event_type, MAX(m) AS mmax FROM dense GROUP BY 1)
    SELECT d.event_type, CAST(mm.mmax AS BIGINT) AS mmax,
           CAST(SUM(1::BIGINT << (mm.mmax - d.m)) AS BIGINT) AS s_scaled,
           CAST(SUM(CASE WHEN d.m = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zero_regs,
           CAST(({HLL_ALPHA_M2_E6} * (1::BIGINT << mm.mmax))
                // (SUM(1::BIGINT << (mm.mmax - d.m)) * 1000000) AS BIGINT)
               AS est_distinct
    FROM dense d JOIN mm ON d.event_type = mm.event_type
    GROUP BY d.event_type, mm.mmax
    """


@query(
    "stream_hll_distinct_by_type",
    oracle=_stream_hll_oracle(),
    tags=("extension", "streaming", "agg", "sketch", "stateful"),
)
def stream_hll_distinct_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live per-source distinct-user cardinality as HLL REGISTER STATE
    (streaming/stateful.py::hll_sketch_per_key) — the no-dedup sibling of
    ``stream_kmv_distinct_by_type``: where the KMV state must keep the K
    smallest DISTINCT hashes (a per-batch dedup against state), HLL folds
    every raw event into 64 registers with element-wise max, so the
    per-batch work is a bounded groupby-max and the state is 64 longs
    per source forever. Register/rho extraction stays JVM-side (codegen'd
    md5 + conv), matching ``agg_hll_merge_by_type``'s batch recipe
    bit-for-bit, so the drained update-mode emission is oracle-exact."""
    from kafka_streams_playground_spark.plans.relational import HLL_WBITS
    from kafka_streams_playground_spark.streaming.stateful import (
        hll_sketch_per_key,
    )

    hv = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    w = F.col("hv") % (2**HLL_WBITS)
    stream = (
        read_stream_table(spark, sf_dir, "events")
        .select("event_type", hv.alias("hv"))
        .select(
            "event_type",
            (F.col("hv") / (2**HLL_WBITS)).cast("long").alias("reg"),
            F.when(w == 0, F.lit(HLL_WBITS + 1))
            .otherwise(F.lit(HLL_WBITS + 1) - F.length(F.conv(w, 10, 2)))
            .cast("long")
            .alias("rho"),
        )
    )
    drained = run_to_completion(hll_sketch_per_key(stream), output_mode="update")
    # compact to the last emission per type via the operator's monotone
    # n_seen marker (round 13 — superseded register summaries otherwise
    # survive the drain under multi-batch replay)
    return latest_update_state(drained, "event_type", F.col("n_seen")).drop("n_seen")


def _stream_hll_hour_oracle() -> str:
    from kafka_streams_playground_spark.plans.relational import (
        HLL_ALPHA_M2_E6,
        HLL_M,
        HLL_WBITS,
    )

    return f"""
    WITH ev AS (
      SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600
                 AS bucket_epoch,
             (('0x' || substr(md5(user_id::VARCHAR), 1, 8)))::BIGINT AS hv
      FROM events
    ),
    rho AS (
      SELECT bucket_epoch, hv // {2**HLL_WBITS} AS reg,
             CASE WHEN hv % {2**HLL_WBITS} = 0 THEN {HLL_WBITS + 1}
                  ELSE {HLL_WBITS + 1} - length(bin(hv % {2**HLL_WBITS}))
             END AS rho
      FROM ev
    ),
    pt AS (SELECT bucket_epoch, reg, MAX(rho) AS m FROM rho GROUP BY 1, 2),
    spine AS (
      SELECT s.bucket_epoch, gs.g AS reg
      FROM (SELECT DISTINCT bucket_epoch FROM pt) s,
           generate_series(0, {HLL_M - 1}) gs(g)
    ),
    dense AS (
      SELECT spine.bucket_epoch, spine.reg, COALESCE(pt.m, 0) AS m
      FROM spine LEFT JOIN pt
        ON pt.bucket_epoch = spine.bucket_epoch AND pt.reg = spine.reg
    ),
    mm AS (SELECT bucket_epoch, MAX(m) AS mmax FROM dense GROUP BY 1)
    SELECT d.bucket_epoch, CAST(mm.mmax AS BIGINT) AS mmax,
           CAST(SUM(1::BIGINT << (mm.mmax - d.m)) AS BIGINT) AS s_scaled,
           CAST(SUM(CASE WHEN d.m = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zero_regs,
           CAST(({HLL_ALPHA_M2_E6} * (1::BIGINT << mm.mmax))
                // (SUM(1::BIGINT << (mm.mmax - d.m)) * 1000000) AS BIGINT)
               AS est_distinct
    FROM dense d JOIN mm ON d.bucket_epoch = mm.bucket_epoch
    GROUP BY d.bucket_epoch, mm.mmax
    """


@query(
    "stream_ts_rollup_hll_hour",
    oracle=_stream_hll_hour_oracle(),
    tags=("northstar", "streaming", "ts", "sketch", "stateful"),
)
def stream_ts_rollup_hll_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The finest grain of ``ts_rollup_distinct_hll`` AT INGEST: per-hour
    distinct-user registers as keyed streaming state (the same
    ``hll_sketch_per_key`` operator, keyed by the hour bucket instead of
    the event type) — how the register rollup actually gets BUILT in
    production: the stream maintains hour sketches online with O(64)
    state per bucket, and the batch day/week cascade reads the emitted
    hour registers, never raw events. Register extraction stays JVM-side
    (codegen'd md5 + conv); the drained update-mode emission is
    bit-equal to the batch hour rows, so the oracle is exact."""
    from kafka_streams_playground_spark.plans.relational import HLL_WBITS
    from kafka_streams_playground_spark.streaming.stateful import (
        hll_sketch_per_key,
    )

    hv = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    w = F.col("hv") % (2**HLL_WBITS)
    stream = (
        read_stream_table(spark, sf_dir, "events")
        .select(
            F.expr("(unix_timestamp(ts) div 3600) * 3600").alias("bucket_epoch"),
            hv.alias("hv"),
        )
        .select(
            "bucket_epoch",
            (F.col("hv") / (2**HLL_WBITS)).cast("long").alias("reg"),
            F.when(w == 0, F.lit(HLL_WBITS + 1))
            .otherwise(F.lit(HLL_WBITS + 1) - F.length(F.conv(w, 10, 2)))
            .cast("long")
            .alias("rho"),
        )
    )
    drained = run_to_completion(
        hll_sketch_per_key(stream, key_col="bucket_epoch", key_type="BIGINT"),
        output_mode="update",
    )
    # compact to the last emission per hour bucket (n_seen monotone; a
    # bucket straddling a micro-batch boundary otherwise leaves its
    # partial register summary in the drain — round 13)
    return latest_update_state(drained, "bucket_epoch", F.col("n_seen")).drop("n_seen")


@query(
    "stream_stats_benford_first_digit",
    oracle=REGISTRY["stats_benford_first_digit"].oracle,
    tags=("northstar", "streaming", "stats", "quality"),
)
def stream_stats_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Benford first-digit audit ONLINE: per-digit order counts as a
    9-key update-mode streaming aggregate (additive counters — micro-batch
    merge = partition merge), with the ppm/expectation epilogue computed
    over the drained 9-row counter state exactly as the batch form does
    over its 9-group aggregate. The monitor a payments ingest keeps live:
    a unit-mismatched or fabricated feed bends these nine counters within
    one micro-batch. Shares the batch oracle verbatim."""
    from kafka_streams_playground_spark.plans.northstar_stats import (
        _BENFORD_CASE,
    )

    cents = (
        read_stream_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 0)
        .select(
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents")
        )
    )
    d = (
        cents.select(
            F.substring(F.col("cents").cast("string"), 1, 1)
            .cast("long")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    drained = run_to_completion(d, output_mode="update")
    # compact to final state per digit (n strictly monotone; round 13 —
    # the raw drain's superseded counters double-counted in the total)
    counts = latest_update_state(drained, "digit", F.col("n"))
    spine = spark.range(1, 10).select(F.col("id").alias("digit"))
    t = counts.agg(F.sum("n").alias("total"))
    return (
        spine.join(F.broadcast(counts), "digit", "left")
        .crossJoin(F.broadcast(t))
        .select(
            "digit",
            F.coalesce("n", F.lit(0)).cast("long").alias("n_orders"),
            F.expr("CAST(coalesce(n, 0) * 1000000 div total AS BIGINT)").alias(
                "obs_ppm"
            ),
            F.expr(f"CAST({_BENFORD_CASE} AS BIGINT)").alias("exp_ppm"),
            F.expr(
                f"CAST(coalesce(n, 0) * 1000000 div total - ({_BENFORD_CASE})"
                " AS BIGINT)"
            ).alias("dev_ppm"),
        )
    )


@query(
    "stream_cdc_merge_upsert",
    oracle=REGISTRY["cdc_merge_upsert"].oracle,
    tags=("extension", "streaming", "cdc", "merge", "sink"),
)
def stream_cdc_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``cdc_merge_upsert`` executed as a STREAMING MERGE SINK — the
    change batch arrives as a stream and is applied to the stored keyed
    snapshot by ``sources.sinks.upsert_foreach_batch_writer`` (advice r7:
    wire the already-built upsert sink into a replay query): inserts and
    updates upsert by key, deletes travel as Kafka-style TOMBSTONES
    (NULL value column) and remove the stored row — so the I/U/D triple
    the batch form resolves with one full-outer join is here resolved by
    the sink's per-micro-batch merge + atomic version-pointer commit.
    The final pointed-at table IS the merged snapshot; ``merge_action``
    lineage is a pure projection of the deterministic rule slices (the
    same id%7/id%11 rules both engines derive), so the drained result
    shares the batch oracle verbatim — a value-hash match proves the
    streamed sink path lands the exact table the declarative MERGE
    computes.

    Scale stance: per micro-batch the sink rewrites the test-scale
    parquet target (documented in the writer: at 100 TB the identical
    foreachBatch body issues a Delta/Iceberg ``MERGE INTO`` and the
    dedup-within-batch, tombstone, and idempotent-versioning semantics
    carry unchanged). The lineage projection and the seed write are
    one-pass, key-partitioned; nothing collects to the driver."""
    import shutil
    import tempfile

    from kafka_streams_playground_spark.sources.sinks import (
        read_table_version,
        upsert_foreach_batch_writer,
    )

    cents = F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents")
    tmp = tempfile.mkdtemp(prefix="ksp_upsert_")
    ckpt = tempfile.mkdtemp(prefix="ksp_ckpt_")
    try:
        writer = upsert_foreach_batch_writer(
            tmp, ["event_id"], "seq", tombstone_col="cents"
        )
        base = (
            load_table(spark, sf_dir, "events")
            .select("event_id", cents)
            .filter(F.col("event_id") % 7 != 0)
            .withColumn("seq", F.lit(0).cast("long"))
        )
        # Seed the stored snapshot (the previous run's table). The id is
        # outside the streaming counter's range, so a replayed batch 0
        # can never collide with the seed version.
        writer(base, 10**9)
        chg = (
            read_stream_table(spark, sf_dir, "events")
            .select("event_id", cents)
            .filter(
                (F.col("event_id") % 7 == 0)
                | (F.col("event_id") % 11 == 0)
                | (F.col("event_id") % 13 == 0)
            )
            .select(
                "event_id",
                # I keeps cents, U bumps by 100, D ships a tombstone NULL
                F.when(F.col("event_id") % 7 == 0, F.col("cents"))
                .when(F.col("event_id") % 11 == 0, F.col("cents") + 100)
                .otherwise(F.lit(None).cast("long"))
                .alias("cents"),
                F.lit(1).cast("long").alias("seq"),
            )
        )
        q = (
            chg.writeStream.foreachBatch(writer)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()
        out = (
            read_table_version(spark, tmp)
            .select(
                "event_id",
                "cents",
                F.when(F.col("event_id") % 7 == 0, F.lit("inserted"))
                .when(F.col("event_id") % 11 == 0, F.lit("updated"))
                .otherwise(F.lit("kept"))
                .alias("merge_action"),
            )
            # materialize off the temp parquet files so they can be removed
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
    return out


@query(
    "stream_ivm_incremental_join_view",
    oracle=REGISTRY["ivm_incremental_join_view"].oracle,
    tags=("northstar", "streaming", "cdc", "ivm", "join", "stateful"),
)
def stream_ivm_incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance with the delta ARRIVING AS A
    STREAM — the streaming half of ``ivm_incremental_join_view``: the
    stored view v_old = A ⋈ B_old aggregates once batch-side (at 100 TB
    it is simply the persisted materialized view, never recomputed), and
    the day's new lineitems ΔB replay as a stream that joins STATIC
    orders (stream-static inner join — no stream-side state for the
    join) and folds into a keyed streaming aggregate (update mode) whose
    drained final state is exactly Δv = A ⋈ ΔB. The view merge
    v_old + Δv is a groupBy-sum over dashboard-sized aggregate rows.
    Since B_old ∪ ΔB = B, the maintained view equals the monolithic
    recompute, and THE BATCH ORACLE IS THAT RECOMPUTE — the value-hash
    match is the single-side Blakeley delta-join identity
    A ⋈ B = (A ⋈ B_old) ∪ (A ⋈ ΔB) verified end-to-end through real
    micro-batch state. (Deltas on BOTH relations need the ΔA⋈ΔB
    stream-stream term — that algebra is the batch twin's; a production
    run applies it per-batch via the foreachBatch MERGE sink.)

    Scale stance: the stream side shuffles once on the group key with
    map-side partials; static orders joins broadcast-or-bucketed exactly
    as the batch plan chooses; per-batch cost is O(|ΔB| + |view|),
    never O(|B|) — the IVM win this family exists to demonstrate."""
    a = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")

    def b_cols(df: DataFrame) -> DataFrame:
        return df.select(
            F.col("l_orderkey").alias("b_orderkey"),
            "l_returnflag",
            "l_linenumber",
            F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long").alias("cents"),
        )

    b_old = b_cols(load_table(spark, sf_dir, "lineitem")).filter(
        F.col("l_linenumber") % 3 != 0
    )
    v_old = (
        a.join(b_old, a.o_orderkey == b_old.b_orderkey)
        .groupBy("o_orderstatus", "l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("cents").alias("sum_cents"))
    )
    delta_b = b_cols(read_stream_table(spark, sf_dir, "lineitem")).filter(
        F.col("l_linenumber") % 3 == 0
    )
    return ivm_merge_views(v_old, ivm_delta_fold(spark, a, delta_b))


def ivm_delta_fold(spark: SparkSession, a: DataFrame, delta_b: DataFrame) -> DataFrame:
    """The streaming half of the IVM join view: Δv = A ⋈ ΔB as a keyed
    update-mode aggregate, drained and reduced to the FINAL state row per
    group. The ``latest_update_state`` reduce is load-bearing (round-13
    split sweep): the memory sink keeps one CUMULATIVE row per (group,
    emitting micro-batch), so when one group's delta rows straddle a
    micro-batch boundary the raw drain holds superseded partials and a
    direct sum double-counts them — the single-file fixture replay (one
    micro-batch) masked exactly that. ``n_rows`` is strictly monotone in
    rows seen per group, so the max-n_rows row is the last emission."""
    d_view = (
        delta_b.join(a, delta_b.b_orderkey == a.o_orderkey)
        .groupBy("o_orderstatus", "l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("cents").alias("sum_cents"))
    )
    drained = run_to_completion(d_view, output_mode="update")
    return latest_update_state(
        drained, ["o_orderstatus", "l_returnflag"], F.col("n_rows")
    )


def ivm_merge_views(v_old: DataFrame, d_final: DataFrame) -> DataFrame:
    """v_old + Δv: a groupBy-sum over dashboard-sized aggregate rows."""
    return (
        v_old.unionByName(d_final)
        .groupBy("o_orderstatus", "l_returnflag")
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.sum("sum_cents").alias("sum_cents"),
        )
    )


@query(
    "stream_retrieval_rrf_fusion",
    oracle=REGISTRY["retrieval_rrf_fusion"].oracle,
    tags=("northstar", "streaming", "retrieval", "topk", "complete-mode"),
)
def stream_retrieval_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid RRF retrieval with BOTH legs maintained as STREAMING STATE —
    the streaming form of ``retrieval_rrf_fusion`` (closes the last
    twin-less round-7 family): documents replay as a stream whose keyed
    state IS the lexical index statistics (per-doc length and per-(doc,
    query-term) frequency — exactly what a live indexer keeps current),
    and embeddings replay as a stream folded into a complete-mode
    cosine leaderboard (the ``stream_topk_customers_by_revenue``
    continuous-top-k shape: per-doc aggregate state, sort over the state
    table, never over the stream). Query-time scoring — BM25 over the
    drained index stats (formula and 1e-6 integer grid verbatim from
    ``text_bm25_topk``), rank windows over the two k-row candidate
    lists, reciprocal-rank fusion — is the batch epilogue, so the result
    shares the batch oracle bit-for-bit.

    Scale stance: index-stat state is one counter per (doc, query-term)
    + one per doc; the leaderboard state is one row per scored doc with
    the sort running over the aggregate, not the corpus; the epilogue
    touches k+k rows. Per-document ingest cost is O(tokens + dims) with
    no stream-side shuffle beyond the two keyed aggregations — the
    always-fresh hybrid index a retrieval product actually runs."""
    from pyspark.sql import Window as _W

    from kafka_streams_playground_spark.plans.northstar_retrieval import (
        RRF_K,
        RRF_TOP,
        SEM_N,
        SEM_QUERY_ID,
    )
    from kafka_streams_playground_spark.plans.northstar_scoring import (
        BM25_B,
        BM25_K1,
        BM25_TERMS,
        BM25_TOP_K,
    )
    from kafka_streams_playground_spark.plans.northstar_similarity import (
        _dot,
        _dot_udf,
        _vectors,
    )

    # ---- lexical leg: the stream maintains the index statistics ----
    def tok_stream() -> DataFrame:
        return read_stream_table(spark, sf_dir, "documents").select(
            "doc_id", F.explode(F.split("text", " ")).alias("token")
        )

    dl = run_to_completion(
        tok_stream().groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl")),
        output_mode="update",
    )
    tf = run_to_completion(
        tok_stream()
        .filter(F.col("token").isin(*BM25_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf")),
        output_mode="update",
        # tf self-joins below (df derives from it); the memory-sink view
        # can't dedup its own references, so break lineage. O(matching
        # doc-term pairs) rows — query-term-bounded, not corpus-bounded.
    ).localCheckpoint(eager=True)
    # query-time scoring over the drained stats — formula verbatim from
    # plans/northstar_scoring.py::text_bm25_topk (not refactored into a
    # shared helper to leave the driver-green batch plan untouched)
    tot = dl.agg(F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl"))
    dfq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    denom = F.col("tf") + BM25_K1 * (
        1.0 - BM25_B + BM25_B * F.col("dl") / (F.col("sum_dl") * 1.0 / F.col("n_docs"))
    )
    c6 = F.floor(
        idf * (F.col("tf") * (BM25_K1 + 1.0)) / denom * 1000000 + F.lit(0.5)
    ).cast("bigint")
    lex0 = (
        tf.join(F.broadcast(dfq), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", c6.alias("c6"))
        .groupBy("doc_id")
        .agg(F.sum("c6").alias("score6"))
        .orderBy(F.col("score6").desc(), F.col("doc_id").asc())
        .limit(BM25_TOP_K)
    )
    w_lex = _W.orderBy(F.col("score6").desc(), F.col("doc_id").asc())
    lex = lex0.withColumn("lex_rank", F.row_number().over(w_lex))

    # ---- dense leg: complete-mode cosine leaderboard over vector state ----
    qv = (
        _vectors(spark, sf_dir)
        .filter(F.col("vec_id") == SEM_QUERY_ID)
        .select(
            F.lit(1).alias("one"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qn"),
        )
    )
    emb_s = (
        read_stream_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") != SEM_QUERY_ID)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .withColumn("nrm", F.sqrt(_dot(F.col("v"), F.col("v"))))
        .withColumn("one", F.lit(1))
    )
    sc = emb_s.join(F.broadcast(qv), "one").select(
        F.col("vec_id").alias("doc_id"),
        F.round(
            _dot_udf(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm")), 6
        ).alias("cosine"),
    )
    leader = (
        sc.groupBy("doc_id")
        .agg(F.max("cosine").alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("doc_id").asc())
        .limit(SEM_N)
    )
    sem0 = run_to_completion(leader, output_mode="complete")
    w_sem = _W.orderBy(F.col("cosine").desc(), F.col("doc_id").asc())
    sem = sem0.withColumn("sem_rank", F.row_number().over(w_sem))

    # ---- fusion epilogue (identical to the batch form) ----
    fused = (
        lex.select("doc_id", "lex_rank")
        .join(sem.select("doc_id", "sem_rank"), "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("lex_rank", F.lit(0)).alias("lex_rank"),
            F.coalesce("sem_rank", F.lit(0)).alias("sem_rank"),
        )
    )
    contrib = lambda c: F.when(  # noqa: E731
        F.col(c) > 0, F.floor(F.lit(1000000) / (F.lit(RRF_K) + F.col(c)))
    ).otherwise(F.lit(0))
    return (
        fused.select(
            "doc_id",
            "lex_rank",
            "sem_rank",
            (contrib("lex_rank") + contrib("sem_rank")).cast("bigint").alias("rrf6"),
        )
        .orderBy(F.col("rrf6").desc(), F.col("doc_id").asc())
        .limit(RRF_TOP)
    )


@query(
    "stream_sample_weighted_reservoir",
    oracle=REGISTRY["sample_weighted_reservoir"].oracle,
    tags=("northstar", "streaming", "curation", "sampling", "stateful"),
)
def stream_sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reservoir sampling AT INGEST — the native form of
    Efraimidis-Spirakis (the batch twin ``sample_weighted_reservoir`` is
    the relational restatement; the PAPER'S algorithm is this stream):
    each arriving document draws its deterministic md5 exponential clock
    row-locally (codegen'd, stateless), and a per-language keyed store
    (``streaming/stateful.py::weighted_reservoir_per_key``) keeps only
    the k largest clocks — O(k) state per stratum forever, re-emitting
    the stratum's current sample as an update-mode changelog. The drain
    compacts to each stratum's LAST reservoir snapshot via the
    operator's monotone ``n_seen`` marker (round 13), which equals the
    batch window's k-prefix under any micro-batch boundaries, so the
    batch oracle applies unchanged."""
    from kafka_streams_playground_spark.plans.northstar_curation import (
        AES_U_DEN,
    )
    from kafka_streams_playground_spark.streaming.stateful import (
        weighted_reservoir_per_key,
    )

    d = read_stream_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars")
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("aes:"), F.col("doc_id").cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    scored = d.select(
        "lang",
        "doc_id",
        "n_chars",
        F.floor(
            F.log((h + 0.5) / AES_U_DEN) / F.col("n_chars") * 1000000000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("clock9"),
    )
    drained = run_to_completion(weighted_reservoir_per_key(scored), output_mode="update")
    # keep only each stratum's LAST reservoir snapshot (n_seen monotone;
    # round 13 — earlier per-batch snapshots otherwise survive the drain)
    final = latest_update_snapshot(drained, "lang", F.col("n_seen"))
    return final.select("doc_id", "lang", "n_chars", "clock9", "rank")


@query(
    "stream_stats_countmin_user_traffic",
    oracle=REGISTRY["stats_countmin_user_traffic"].oracle,
    tags=("northstar", "streaming", "stats", "sketch"),
)
def stream_stats_countmin_user_traffic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The count-min sketch LIVE — completes the streaming sketch matrix
    (KMV, HLL, histogram, bootstrap, KS, Benford all have twins; this is
    the frequency member): every arriving event increments its D hashed
    counters via a map-side posexplode and a D×W-key update-mode
    aggregate — additive counters, so micro-batch merge = partition
    merge and the drained state equals the batch sketch exactly (the
    batch form sums per-user counts into the same cells; grouping order
    cannot matter for a sum). The top-10 exact-count audit epilogue runs
    batch-side over the drained sketch, sharing the batch oracle
    verbatim. State: D×W = 256 counters forever — the whole point of
    CMS at ingest; at 100 TB only W is retuned to bound n/W error."""
    from kafka_streams_playground_spark.plans.northstar_stats import (
        CM_DEPTH,
        CM_TOP,
        CM_WIDTH,
    )

    ev_s = read_stream_table(spark, sf_dir, "events").select("user_id")

    def bucket(r: int):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"cm{r}:"), F.col("user_id").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % CM_WIDTH
        )

    inc = ev_s.select(
        F.posexplode(F.array(*[bucket(r) for r in range(CM_DEPTH)])).alias("r", "b")
    )
    sketch = latest_update_state(
        # compact to final state per cell (sc strictly monotone; round 13 —
        # the raw drain's superseded partials made min-over-rows read a
        # too-early counter value)
        run_to_completion(
            inc.groupBy("r", "b").agg(F.count(F.lit(1)).alias("sc")),
            output_mode="update",
        ),
        ["r", "b"],
        F.col("sc"),
    )
    # batch epilogue: exact top-10 readback against the drained counters
    ev = load_table(spark, sf_dir, "events").select("user_id")
    cnt = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    buckets = cnt.select(
        "user_id",
        "cnt",
        F.posexplode(F.array(*[bucket(r) for r in range(CM_DEPTH)])).alias("r", "b"),
    )
    est = (
        buckets.join(F.broadcast(sketch), ["r", "b"])
        .groupBy("user_id")
        .agg(F.min("sc").alias("est"))
    )
    top = cnt.orderBy(F.col("cnt").desc(), F.col("user_id").asc()).limit(CM_TOP)
    return F.broadcast(top).join(est, "user_id").select(
        "user_id", "cnt", "est", (F.col("est") - F.col("cnt")).alias("overcount")
    )


@query(
    "stream_privacy_k_anonymity",
    oracle=REGISTRY["privacy_k_anonymity_audit"].oracle,
    tags=("northstar", "streaming", "curation", "privacy"),
)
def stream_privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k-anonymity / l-diversity audit LIVE: customer records arrive
    as a stream, the sensitive band computes row-locally (codegen'd cent
    grid), and an update-mode (nation, segment, band) counter aggregate
    keeps the equivalence-class census current — |classes|×3 counters of
    state, so the privacy dashboard is always fresh as a release
    candidate accretes. The class rollup (size, diversity, flags, the
    release/generalize/suppress ladder) is the batch epilogue over the
    drained dashboard-sized counter relation; single-drain replay makes
    it the batch result exactly, sharing the batch oracle."""
    from kafka_streams_playground_spark.plans.northstar_curation import (
        ACCTBAL_LOW_CENTS,
        KANON_K,
        LDIV_L,
    )

    c = read_stream_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("long").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.when(F.col("c_acctbal") < 0, F.lit("neg"))
        .when(
            F.floor(F.col("c_acctbal") * 100 + 0.5).cast("long") < ACCTBAL_LOW_CENTS,
            F.lit("low"),
        )
        .otherwise(F.lit("high"))
        .alias("sens"),
    )
    cells = latest_update_state(
        # compact to final state per (class, band) cell (n monotone;
        # round 13 — superseded partials otherwise inflate class_size
        # and n_sensitive in the rollup)
        run_to_completion(
            c.groupBy("nation", "segment", "sens").agg(F.count(F.lit(1)).alias("n")),
            output_mode="update",
        ),
        ["nation", "segment", "sens"],
        F.col("n"),
    )
    cls = cells.groupBy("nation", "segment").agg(
        F.sum("n").alias("class_size"),
        F.count(F.lit(1)).alias("n_sensitive"),
    )
    return cls.select(
        "nation",
        "segment",
        F.col("class_size").cast("long").alias("class_size"),
        F.col("n_sensitive").cast("long").alias("n_sensitive"),
        (F.col("class_size") >= KANON_K).cast("int").alias("k_anonymous"),
        (F.col("n_sensitive") >= LDIV_L).cast("int").alias("l_diverse"),
        F.when(F.col("class_size") >= KANON_K, F.lit("release"))
        .when(F.col("class_size") >= KANON_K // 2, F.lit("generalize"))
        .otherwise(F.lit("suppress"))
        .alias("action"),
    )


@query(
    "stream_stats_source_overlap_kmv",
    oracle=REGISTRY["stats_source_overlap_kmv"].oracle,
    tags=("northstar", "streaming", "stats", "sketch", "stateful"),
)
def stream_stats_source_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cross-source overlap matrix with its sketches built AT INGEST —
    ``stats_source_overlap_kmv``'s per-source bottom-K as KEYED STREAMING
    STATE (streaming/stateful.py::kmv_sketch_rows_per_source): documents
    arrive as a stream, shingle+hash map-side (the same Catalyst md5
    pipeline as batch), and each source's state holds its ≤K smallest
    distinct hashes forever — O(K) per source however much the source
    ships, the production shape for keeping per-crawl content sketches
    live. The pairwise inclusion-exclusion epilogue is the SHARED batch
    code (source_overlap_from_sketches) over the drained sketch relation;
    the bottom-K merge is associative, so the drained state is bit-equal
    to the batch window's bottom-K and the matrix shares the batch
    oracle."""
    from kafka_streams_playground_spark.functions import text as T
    from kafka_streams_playground_spark.plans.northstar_stats import (
        source_overlap_from_sketches,
    )
    from kafka_streams_playground_spark.streaming.stateful import (
        kmv_sketch_rows_per_source,
    )

    stream = read_stream_table(spark, sf_dir, "documents").select(
        "source",
        F.explode(T.shingle_hashes(T.shingles(T.tokens("text")))).alias("hv"),
    )
    drained = run_to_completion(kmv_sketch_rows_per_source(stream), output_mode="update")
    # keep only each source's LAST sketch snapshot (n_seen monotone;
    # round 13 — earlier per-batch sketch contents otherwise survive the
    # drain and pollute the pairwise union sketches)
    sks = latest_update_snapshot(drained, "src", F.col("n_seen")).drop("n_seen")
    # The epilogue self-joins the sketch relation through derived
    # aggregates — a memory-sink plan cannot dedup its own attributes
    # (Catalyst "conflicting references"); localCheckpoint breaks the
    # lineage. Bounded: |sources| × K rows.
    return source_overlap_from_sketches(sks.localCheckpoint(eager=True))


@query(
    "stream_join_interval_overlap_bins",
    oracle=REGISTRY["join_interval_overlap_bins"].oracle,
    tags=("extension", "streaming", "temporal", "join", "J3"),
)
def stream_join_interval_overlap_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keyless interval-overlap join run as a WATERMARKED STREAM-STREAM
    join — Flink's interval join (which the batch twin's docstring cites)
    is natively a streaming operator, and the grid-binning trick is exactly
    how its state stores key themselves. Both interval relations (user
    sessions, per-type bursts — sessionized upstream by the shared
    gaps-and-islands pass; in production that stage is a session_window
    aggregation feeding this join) REPLAY AS STREAMS, each interval
    explodes map-side into the OVERLAP_BIN_S bins it touches, the bin
    start becomes the row's EVENT TIME, and Spark's
    StreamingSymmetricHashJoinExec joins the two streams on bin-timestamp
    EQUALITY: per-bin state on each side holds only the intervals touching
    that bin, and the advancing watermark evicts a bin's state the moment
    no new interval can still reach it — the canonical distributed
    streaming interval-join schedule (state ∝ bins in the watermark
    horizon × intervals per bin, never the stream history). The true
    overlap predicate verifies row-locally on the joined pair; multi-bin
    duplicates collapse post-drain (identical rows, the batch path's
    dropDuplicates). The drained result equals the batch query's, so the
    NAIVE-QUADRATIC range-join oracle value-checks streaming completeness
    too."""
    from kafka_streams_playground_spark.plans.temporal import (
        BURST_GAP_S,
        SESSION_GAP_S,
        interval_islands,
    )

    events = load_table(spark, sf_dir, "events")
    sessions = interval_islands(events, "user_id", "session_no", SESSION_GAP_S).select(
        "user_id",
        "session_no",
        F.col("i_start").alias("s_start"),
        F.col("i_end").alias("s_end"),
    )
    bursts = interval_islands(events, "event_type", "burst_no", BURST_GAP_S).select(
        "event_type",
        "burst_no",
        F.col("i_start").alias("b_start"),
        F.col("i_end").alias("b_end"),
    )
    return _replay_interval_bin_join(sessions, bursts)


def _replay_interval_bin_join(
    sessions: DataFrame,
    bursts: DataFrame,
    split_at: dict[str, tuple[int, ...]] | None = None,
    watermark: str = WATERMARK,
) -> DataFrame:
    """The shared stream-stream stage of the two interval-overlap queries:
    write the (user_id, session_no, s_start, s_end) and (event_type,
    burst_no, b_start, b_end) interval relations out, replay BOTH as
    streams, explode each interval map-side to its OVERLAP_BIN_S grid bins
    (the shared binning contract), promote the bin start to event time,
    and join the two streams on bin-timestamp equality under the watermark
    — per-bin symmetric-hash state, evicted the moment no new interval can
    still reach the bin. The true overlap predicate verifies row-locally;
    multi-bin duplicate pairs collapse post-drain (identical rows)."""
    import shutil
    import tempfile

    from kafka_streams_playground_spark.plans.temporal import (
        OVERLAP_BIN_S,
        explode_to_bins,
    )

    tmp = tempfile.mkdtemp(prefix="ksp_interval_stream_")
    try:
        def bins(
            rel: DataFrame, name: str, key: str, start: str, end: str, bcol: str, tcol: str
        ) -> DataFrame:
            # split-point-adversarial replay (VERDICT r11 item 3): each
            # side carved into start-ordered micro-batch segments at the
            # caller's row indices — the interleaved time-ordered topic
            # delivery contract with batch boundaries placed by the test
            cuts = split_at[name] if split_at else ()
            sdf = replay_segments(
                split_segments(rel, [start, key], cuts), f"{tmp}/{name}"
            )
            # the SHARED binning contract — batch and stream stay keyed
            # identically by construction. The promoted event time is
            # (bin + 1) * width, NOT bin * width: bin 0 would land on
            # EPOCH 0, which is Spark's INITIAL watermark value, and the
            # join's late/evict predicate silently drops rows sitting on
            # the origin — found by the round-12 split sweep (a pair whose
            # only shared bin was bin 0 vanished from the streaming form
            # while the batch twin kept it; one bin up, all 16 aligned
            # split combinations are complete even at 0 s delay). The +1
            # shift is a constant on both join sides, so pairing and the
            # relative eviction schedule are untouched; supported domain
            # is event time >= epoch 0 (negative bins would map back into
            # the origin — a Spark watermark-domain limit, not a plan
            # choice).
            return explode_to_bins(sdf, start, end, bcol).withColumn(
                tcol, F.timestamp_seconds((F.col(bcol) + 1) * OVERLAP_BIN_S)
            ).withWatermark(tcol, watermark)

        sb = bins(sessions, "sessions", "user_id", "s_start", "s_end", "sbin", "sbin_ts")
        bb = bins(bursts, "bursts", "event_type", "b_start", "b_end", "bbin", "bbin_ts")
        joined = sb.join(bb, F.col("sbin_ts") == F.col("bbin_ts")).filter(
            (F.col("s_start") <= F.col("b_end"))
            & (F.col("b_start") <= F.col("s_end"))
        )
        out = joined.select(
            "user_id",
            "session_no",
            "event_type",
            "burst_no",
            "s_start",
            "s_end",
            "b_start",
            "b_end",
            (
                F.least(F.col("s_end"), F.col("b_end"))
                - F.greatest(F.col("s_start"), F.col("b_start"))
            ).alias("overlap_s"),
        )
        drained = run_to_completion(out, output_mode="append")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return drained.dropDuplicates(
        ["user_id", "session_no", "event_type", "burst_no"]
    )


def _session_window_intervals(
    spark: SparkSession, events: DataFrame, key: str, gap_s: int, out_no: str
) -> DataFrame:
    """STREAMING sessionization: the gaps-and-islands intervals formed by a
    ``session_window`` aggregation on the replayed event stream — the
    production stage the bin join's docstring names. Spark's session
    window merges events whose gap is <= gapDuration (touching window
    bounds merge; window start = first event, end = last event + gap),
    which is exactly ``interval_islands``' new-island-at-gap->-threshold
    rule (boundary aligned round 11, pinned by the exact-gap test), so
    (key, floor-epoch bounds) match the batch pass bit-for-bit: i_start =
    unix(window.start) and i_end = unix(window.end) − gap (gap is integer
    seconds, so the floors agree).

    Append mode only emits a session once the watermark passes its window
    end, and the LAST session per key ends gap seconds past its last
    event — past any watermark a finite replay can reach — so the feed
    carries one FLUSH SENTINEL row at max(ts) + gap + 1 (the punctuation
    marker a Kafka job would inject): it drives the final watermark past
    every real window end, forms its own gap-separated session that is
    itself withheld (its window end exceeds the final watermark), and is
    belt-and-braces dropped by the i_start bound filter. Session ordinals
    attach post-drain by a key-partitioned row_number over the O(sessions)
    interval relation — per-key sessions are disjoint, so start order IS
    island order.

    Since round 11 the sentinel + append drain is the SHARED
    ``_append_session_windows`` stage — ``stream_session_windows_per_user``
    (the standalone session query, converted from its complete-mode drain
    per VERDICT r10 item 4) rides the same contract, so every streaming
    session query now emits each session exactly once."""
    from pyspark.sql import Window as _W

    proj = events.select(F.col(key), "ts")
    drained = _append_session_windows(
        proj, key, gap_s, [F.count(F.lit(1)).alias("n_events")]
    )
    intervals = drained.select(
        key,
        F.unix_timestamp("session_window.start").alias("i_start"),
        (F.unix_timestamp("session_window.end") - gap_s).alias("i_end"),
    )
    w = _W.partitionBy(key).orderBy("i_start")
    return intervals.withColumn(out_no, F.row_number().over(w))


def _append_session_windows(
    proj: DataFrame,
    key: str,
    gap_s: int,
    aggs: list,
    split_at: tuple[int, ...] | None = None,
) -> DataFrame:
    """The shared APPEND + FLUSH-SENTINEL ``session_window`` drain: append
    one sentinel row at corpus ``max(ts) + gap + 1`` (the punctuation
    marker a Kafka job would inject), replay through the streaming
    sessionizer under a 0-second watermark, and drain in APPEND mode — the
    emit-each-session-ONCE contract a downstream topic can actually
    consume (complete mode re-emits the whole session table every
    trigger). The sentinel sits ≥ gap+1 past EVERY key's last event, so it
    never merges into a real session; it drives the final watermark past
    every real window end (real end = last event + gap < sentinel ts),
    while its own island's end exceeds that watermark and is withheld —
    and is belt-and-braces dropped by the window-start bound filter here.
    Returns the drained (key, session_window, *aggs) rows of the REAL
    sessions only."""
    import shutil
    import tempfile

    # bounded collect: ONE scalar — the corpus max floor-epoch, the upper
    # bound real session starts must satisfy (drops the sentinel's island)
    mx = proj.agg(F.max(F.unix_timestamp("ts"))).collect()[0][0]
    tmp = tempfile.mkdtemp(prefix="ksp_session_stream_")
    try:
        if mx is None:
            # empty input: no sessions to flush — the sentinel row would be
            # all-NULL (null ts breaks session_window), so replay the empty
            # relation as-is and the append drain emits nothing
            mx_epoch = 0
            feed = proj
        else:
            mx_epoch = int(mx)
            # sentinel = max(key) + max(ts)+gap+1 + typed NULLs for every
            # payload column (ADVICE r11): only key and ts need values for
            # the watermark to advance; the old max-over-every-column form
            # silently required each payload column to be orderable (a
            # map-typed column would crash the aggregate) and hid that the
            # payload values can never reach the output.
            payload = [f for f in proj.schema.fields if f.name not in (key, "ts")]
            flush = proj.agg(
                F.max(key).alias(key),
                (F.max("ts") + F.expr(f"INTERVAL {gap_s + 1} SECONDS")).alias("ts"),
            )
            for f in payload:
                flush = flush.withColumn(f.name, F.lit(None).cast(f.dataType))
            feed = proj.unionByName(flush.select(*proj.columns))
        # split-point-adversarial replay (VERDICT r11 item 3): one
        # micro-batch per (ts, key)-ordered segment — the time-ordered
        # topic delivery contract with the batch boundary placed by the
        # caller (e.g. exactly at a session gap or the sentinel)
        sdf = replay_segments(split_segments(feed, ["ts", key], split_at or ()), tmp)
        sess = (
            sdf.withWatermark("ts", "0 seconds")
            .groupBy(F.col(key), F.session_window("ts", f"{gap_s} seconds"))
            .agg(*aggs)
        )
        drained = run_to_completion(sess, output_mode="append")
        return drained.filter(
            F.unix_timestamp("session_window.start") <= F.lit(mx_epoch)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "stream_session_window_interval_overlap",
    oracle=REGISTRY["join_interval_overlap_bins"].oracle,
    tags=("extension", "streaming", "temporal", "join", "J3"),
)
def stream_session_window_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The interval-overlap pipeline with SESSIONS THEMSELVES FORMED BY THE
    STREAMING ENGINE — closing the gap the bin-join twin's docstring
    admitted ("in production that stage is a session_window aggregation
    feeding this join", VERDICT r9 item 5): both interval relations come
    from ``session_window`` aggregations running on the replayed event
    stream (user sessions on the 6 h gap, per-type bursts on the 1 h gap)
    with a flush sentinel standing in for Kafka punctuation, and feed the
    SAME watermarked bin-keyed stream-stream join stage
    (``_replay_interval_bin_join``) — the full streaming topology:
    sessionize job → compacted interval topic → interval-join job. The
    drained result equals the batch query's (session_window's merge rule
    IS the islands rule, see ``_session_window_intervals``), so the
    NAIVE-QUADRATIC range-join oracle value-checks the whole pipeline."""
    from kafka_streams_playground_spark.plans.temporal import (
        BURST_GAP_S,
        SESSION_GAP_S,
    )

    events = load_table(spark, sf_dir, "events")
    sessions = _session_window_intervals(
        spark, events, "user_id", SESSION_GAP_S, "session_no"
    ).select(
        "user_id",
        "session_no",
        F.col("i_start").alias("s_start"),
        F.col("i_end").alias("s_end"),
    )
    bursts = _session_window_intervals(
        spark, events, "event_type", BURST_GAP_S, "burst_no"
    ).select(
        "event_type",
        "burst_no",
        F.col("i_start").alias("b_start"),
        F.col("i_end").alias("b_end"),
    )
    return _replay_interval_bin_join(sessions, bursts)


@query(
    "stream_embedding_centroid_outliers",
    oracle=REGISTRY["embedding_centroid_outliers"].oracle,
    tags=("northstar", "streaming", "similarity", "embedding"),
)
def stream_embedding_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-distance outlier scoring AT INGEST — the train-batch /
    score-stream form of ``embedding_centroid_outliers`` (the
    stream_dsir_importance_weights shape): the per-label centroid table
    trains once batch-side over the standing corpus (one (label,dim)-keyed
    shuffle, O(labels·d) result), BROADCASTS onto the ingest stream, and
    each arriving vector's exact grid distance² computes row-locally in
    one Arrow pass — no state store, no stream-side shuffle. This is how a
    label-quality gate runs in production at 100 TB: centroids refresh
    nightly batch-side, every incoming labeled vector is scored online and
    routed to review when it lands far from its label's cluster. Scoring
    is stateless, so the drained scores equal the batch ones row-for-row;
    the top-OUTLIER_TOPK ranking runs post-drain on the bounded drained
    relation and the batch oracle applies unchanged."""
    from kafka_streams_playground_spark.plans.northstar_similarity import (
        OUTLIER_TOPK,
        centroid_dist12_udf,
        label_centroids_x6,
        quantize_embedding_x6,
    )

    cent = label_centroids_x6(spark, sf_dir)
    dist12 = centroid_dist12_udf()
    # the SHARED 1e-6 grid rule — scoring stays on the centroid's grid
    stream = quantize_embedding_x6(read_stream_table(spark, sf_dir, "embeddings"))
    scored = stream.join(F.broadcast(cent), "label").select(
        "label", "vec_id", dist12(F.col("x6"), F.col("m6")).alias("dist12")
    )
    drained = run_to_completion(scored, output_mode="append")

    from pyspark.sql import Window as _W

    order = [F.col("dist12").desc(), F.col("vec_id")]
    final = _W.partitionBy("label").orderBy(*order)
    return (
        drained.withColumn("rk", F.row_number().over(final))
        .filter(F.col("rk") <= OUTLIER_TOPK)
        .select("label", "vec_id", "dist12", "rk")
    )


@query(
    "stream_stats_welch_ttest_halves",
    oracle=REGISTRY["stats_welch_ttest_halves"].oracle,
    tags=("extension", "streaming", "stats", "drift"),
)
def stream_stats_welch_ttest_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t² with its sufficient statistics accumulated AT INGEST —
    the live form of ``stats_welch_ttest_halves``: the six per-type sums
    (n, Σc, Σc² per parity half) are an associative, mergeable streaming
    aggregate (exactly why the batch twin chose sufficient statistics —
    the same six numbers work as keyed state, update-mode emission), and
    the t² epilogue is pure arithmetic on the drained |types|-row state.
    This is the canonical drift monitor deployment: state is O(types),
    the statistic is exact at every emission instant, and a control/
    treatment split streams through the identical plan. The sums (shared
    aggregate ``welch_sufficient_sums``, Σc² DECIMAL(38,0)-widened inside
    the fold) are monotone in the row count, so the final state per type
    is its max-(n0+n1) drained row — the reduction below makes the result
    equal to the batch sums under ANY micro-batch split, not just the
    single-parquet-file fixture replay (ADVICE r9), and the batch oracle
    applies unchanged."""
    from kafka_streams_playground_spark.plans.northstar_stats import (
        welch_epilogue,
        welch_sufficient_sums,
    )

    e = read_stream_table(spark, sf_dir, "events").select(
        "event_type",
        (F.col("event_id") % 2).alias("half"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("c"),
    )
    drained = run_to_completion(welch_sufficient_sums(e), output_mode="update")
    # n0+n1 strictly grows with every emission → max-count row per type
    # is the final state (latest_update_state docstring has the contract)
    return welch_epilogue(
        latest_update_state(drained, "event_type", F.col("n0") + F.col("n1"))
    )


@query(
    "stream_drift_chi2_event_type_halves",
    oracle=REGISTRY["drift_chi2_event_type_halves"].oracle,
    tags=("extension", "streaming", "temporal", "drift", "stats"),
)
def stream_drift_chi2_event_type_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The categorical drift chi² with its contingency row accumulated AT
    INGEST — the live form of ``drift_chi2_event_type_halves`` and the
    third member of the streaming drift bench next to the Welch and KMV
    twins: a contingency row (n_a, n_b per type) is an associative,
    mergeable keyed aggregate, so it runs as streaming state with
    update-mode emission, and the margins/per-cell/global epilogue
    (shared ``chi2_epilogue``) is pure grid arithmetic on the drained
    O(types) relation. The counts are monotone in rows seen, so the final
    state per type is its max-(n_a+n_b) drained row — correct under ANY
    micro-batch split. This is the composition-shift monitor a
    multi-source ingest runs live: state O(types), statistic exact at
    every emission instant."""
    from kafka_streams_playground_spark.plans.temporal import chi2_epilogue

    e = read_stream_table(spark, sf_dir, "events").select(
        "event_type", (F.col("event_id") % 2).alias("half")
    )
    o = e.groupBy("event_type").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("n_b"),
    )
    drained = run_to_completion(o, output_mode="update")
    # n_a+n_b strictly grows with every emission → max-count row per type
    # is the final state (latest_update_state docstring has the contract)
    return chi2_epilogue(
        latest_update_state(drained, "event_type", F.col("n_a") + F.col("n_b"))
    )


@query(
    "stream_stats_simpson_user_concentration",
    oracle=REGISTRY["stats_simpson_user_concentration"].oracle,
    tags=("northstar", "streaming", "stats", "curation"),
)
def stream_stats_simpson_user_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Simpson traffic concentration with the (type, user) counters
    accumulated AT INGEST — the live form of
    ``stats_simpson_user_concentration``: per-(type, user) counts are an
    associative keyed streaming aggregate (update mode), and the rollup/
    index epilogue (shared ``simpson_from_counts``) is grid arithmetic on
    the drained count relation. This is the source-diversity gate run
    live — a type whose traffic collapses onto one user trips the
    effective-user-count alarm while the events are still arriving.
    State is O(types·users) exact counters — the same footprint as any
    per-user metric state; a corpus whose user cardinality outgrows that
    swaps in the count-min twin (``stream_stats_countmin_user_traffic``)
    and accepts the estimate, but the AUDIT wants exact counts. Counter
    monotonicity makes the max-count row per (type, user) the final
    state, so the result is micro-batch-split-independent and the batch
    oracle applies unchanged."""
    from kafka_streams_playground_spark.plans.northstar_stats import (
        simpson_from_counts,
    )

    e = read_stream_table(spark, sf_dir, "events").select("event_type", "user_id")
    c = e.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("c"))
    drained = run_to_completion(c, output_mode="update")
    final = latest_update_state(
        drained, ["event_type", "user_id"], F.col("c")
    )
    return simpson_from_counts(final)


def _day_grid_update_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-(event_type, day) cent-sum grid accumulated AT INGEST — the
    SHARED state substrate of the three trend-panel twins (VERDICT r10
    item 5): the grid is an associative keyed aggregate (exact cent sums
    + row counts per (type, day) cell), so it runs as streaming state
    with update-mode emission; every trend statistic is then pure grid
    arithmetic on the drained O(types × days) relation via the SAME
    epilogue the batch query uses (``plans.temporal.day_grid`` twins this
    projection bit for bit). State is the day grid itself — bounded by
    the calendar span, never the stream history; with an unbounded
    horizon a production job adds a watermark on the day column and
    emits closed days to a compacted topic. The per-cell row count is
    strictly monotone in rows seen, so the max-count row per (type, day)
    is the final state (``latest_update_state`` contract) and the result
    is micro-batch-split-independent — the batch oracles apply
    unchanged (pinned by the split-point-adversarial sweep in
    tests/test_split_boundaries.py, which drives day_grid_reduce over
    every split of an out-of-order feed)."""
    return day_grid_reduce(read_stream_table(spark, sf_dir, "events"))


def day_grid_reduce(sdf: DataFrame) -> DataFrame:
    """The grid substrate proper on ANY streaming events relation
    (event_type, ts timestamp, value double) — split out so the
    adversarial replay sweeps can feed it synthetic split streams."""
    spark = sdf.sparkSession
    e = sdf.select(
        "event_type",
        F.expr("unix_timestamp(ts) div 86400").alias("day"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    g = e.groupBy("event_type", "day").agg(
        F.sum("cents").alias("v"), F.count(F.lit(1)).alias("n_rows")
    )
    drained = run_to_completion(g, output_mode="update")
    final = latest_update_state(drained, ["event_type", "day"], F.col("n_rows"))
    return final.select("event_type", "day", "v")


@query(
    "stream_ts_mann_kendall_trend",
    oracle=REGISTRY["ts_mann_kendall_trend"].oracle,
    tags=("extension", "streaming", "temporal", "stats", "drift"),
)
def stream_ts_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test with the day grid accumulated AT INGEST —
    the live form of ``ts_mann_kendall_trend`` on the shared
    ``_day_grid_update_state`` substrate: the S/tau_a/Var(S) epilogue
    (shared ``mann_kendall_from_grid``, which checkpoints the drained
    grid before its pair self-join) runs on the drained state. The
    monotone-trend alarm a quality monitor keeps live per source."""
    from kafka_streams_playground_spark.plans.temporal import mann_kendall_from_grid

    return mann_kendall_from_grid(_day_grid_update_state(spark, sf_dir))


@query(
    "stream_ts_theil_sen_daily_trend",
    oracle=REGISTRY["ts_theil_sen_daily_trend"].oracle,
    tags=("extension", "streaming", "temporal", "ts", "stats"),
)
def stream_ts_theil_sen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust slope with the day grid accumulated AT INGEST —
    the live form of ``ts_theil_sen_daily_trend`` on the shared
    ``_day_grid_update_state`` substrate; the pairwise-slope-median
    epilogue (shared ``theil_sen_from_grid``) runs on the drained
    O(types × days) state, so the slope answer is as fresh as the last
    micro-batch at day-grid cost."""
    from kafka_streams_playground_spark.plans.temporal import theil_sen_from_grid

    return theil_sen_from_grid(_day_grid_update_state(spark, sf_dir))


@query(
    "stream_ts_spearman_daily_trend",
    oracle=REGISTRY["ts_spearman_daily_trend"].oracle,
    tags=("extension", "streaming", "temporal", "ts", "stats"),
)
def stream_ts_spearman_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank trend with the day grid accumulated AT INGEST — the
    live form of ``ts_spearman_daily_trend`` on the shared
    ``_day_grid_update_state`` substrate; the rank-window + widened-d²
    epilogue (shared ``spearman_rho_from_grid``) runs on the drained
    grid. Completes the LIVE trend panel: Theil-Sen (how steep),
    Spearman (how consistently monotone), Mann-Kendall (is there any
    trend) — all three now batch + streaming on one substrate."""
    from kafka_streams_playground_spark.plans.temporal import spearman_rho_from_grid

    return spearman_rho_from_grid(_day_grid_update_state(spark, sf_dir))


# The last registrations are above: put the driver's priority names first.
_reorder_registry()
