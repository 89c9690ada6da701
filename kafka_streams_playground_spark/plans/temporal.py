"""Temporal operators beyond the reference's tumbling windows: as-of join,
sessionization (gaps-and-islands), sliding windows.

Kafka Streams (the reference) offers only tumbling windows and ±interval
stream-stream joins (KafkaStreamsApp.scala:142, :182 — SURVEY §2.9). These
three are the temporal operators a user of any serious stream/analytics
engine reaches for next; each is expressed Spark-first:

* **as-of join** — NOT a range join (which explodes candidate pairs): the
  union-and-sort formulation costs one shuffle + one in-partition sort,
  linear in input, the same plan shape at 100 TB.
* **sessionization** — lag/cumulative-sum gaps-and-islands: one shuffle on
  the key, two in-partition window passes, no self-join.
* **sliding windows** — Spark's native multi-assign ``window(ts, size,
  slide)`` (each row expands to size/slide rows *before* the partial agg,
  so the shuffle carries per-window partials, not raw rows).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_streams_playground_spark.plans.registry import query
from kafka_streams_playground_spark.sources.parquet import load_table

SESSION_GAP_S = 6 * 3600  # 6 h session gap (fixture events average ~2/user/day)


@query(
    "asof_purchase_last_click",
    oracle="""
    SELECT p.event_id, p.user_id,
           CAST(floor(epoch(p.ts::TIMESTAMP)) AS BIGINT) AS purchase_epoch,
           (SELECT c.event_id FROM events c
             WHERE c.user_id = p.user_id AND c.event_type = 'click'
               AND c.ts <= p.ts
             ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS last_click_id,
           (SELECT CAST(floor(epoch(c.ts::TIMESTAMP)) AS BIGINT) FROM events c
             WHERE c.user_id = p.user_id AND c.event_type = 'click'
               AND c.ts <= p.ts
             ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS last_click_epoch
    FROM events p WHERE p.event_type = 'purchase'
    """,
    tags=("extension", "temporal", "asof", "join"),
)
def asof_purchase_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (left): each purchase event picks the user's latest click
    at-or-before it. Spark lacks a native ASOF JOIN; the scalable
    formulation is union-tag-sort — tag both sides, union, and take
    ``last_value(click, ignoreNulls)`` over (user, ts, side, id) ordering:

    * ONE hash exchange on user_id + ONE in-partition sort — linear, no
      candidate-pair explosion (a time-range join would buffer every click
      within the bound; this buffers exactly one value per row);
    * ties (click.ts == purchase.ts) resolve "click first" via the side tag,
      matching the oracle's ``c.ts <= p.ts``; among equal-ts clicks the
      largest event_id wins in both engines.

    This is the plan shape that survives 100 TB: the same single
    shuffle+sort regardless of time-bound width, where a range join's state
    grows with click density.
    """
    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id"),
        F.col("ts"),
        F.lit(0).alias("side"),
        F.col("event_id"),
        F.col("event_id").alias("click_id"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.col("ts"),
        F.lit(1).alias("side"),
        F.col("event_id"),
        F.lit(None).cast("long").alias("click_id"),
    )
    u = clicks.unionByName(purchases)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("side").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.select(
        "user_id",
        "ts",
        "side",
        "event_id",
        F.last("click_id", ignorenulls=True).over(w).alias("last_click_id"),
        F.last(F.when(F.col("click_id").isNotNull(), F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("last_click_ts"),
    )
    return carried.filter(F.col("side") == 1).select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("purchase_epoch"),
        "last_click_id",
        F.unix_timestamp("last_click_ts").alias("last_click_epoch"),
    )


@query(
    "session_windows_per_user",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, event_id, ts, value,
        CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch(ts::TIMESTAMP)
                     - epoch((lag(ts) OVER w)::TIMESTAMP)
                     > {SESSION_GAP_S}
             THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
      SELECT *, CAST(SUM(new_session) OVER (
        PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING
      ) AS BIGINT) AS session_no
      FROM flagged
    )
    SELECT user_id, session_no,
           CAST(floor(epoch(MIN(ts)::TIMESTAMP)) AS BIGINT) AS session_start,
           CAST(floor(epoch(MAX(ts)::TIMESTAMP)) AS BIGINT) AS session_end,
           COUNT(*) AS n_events,
           FLOOR(SUM(value) * 100 + 0.5) / 100 AS sum_value
    FROM numbered GROUP BY user_id, session_no
    """,
    tags=("extension", "temporal", "session"),
)
def session_windows_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 6 h inactivity gap — gaps-and-islands: flag a
    row as session-opening when the previous event of the same user is
    MORE than the gap away; a running sum of flags numbers the sessions;
    group by (user, session_no). Batch twin of ``session_window()`` (the
    streaming form in streaming/queries.py) with IDENTICAL boundary
    semantics: the gap is computed on precise (sub-second) epochs and a
    gap EXACTLY equal to SESSION_GAP_S MERGES — Spark's session windows
    merge on touching window bounds, and Kafka Streams'
    ``SessionWindows.ofInactivityGap`` likewise merges events that differ
    by no more than the gap, so strict ``>`` opens a new session (fixed
    round 11: the old ``>=`` rule disagreed with both engines exactly at
    the boundary — a targeted boundary test now pins equality; fixture
    results are unchanged since sub-second timestamps never land on the
    exact gap). One shuffle on user_id, two in-partition window passes,
    no self-join — the linear-cost sessionization that holds at 100 TB."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
    flagged = events.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.when(F.lag("ts").over(w).isNull() | (gap > SESSION_GAP_S), 1)
        .otherwise(0)
        .alias("new_session"),
    )
    wnum = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    numbered = flagged.withColumn("session_no", F.sum("new_session").over(wnum))
    return numbered.groupBy("user_id", "session_no").agg(
        F.unix_timestamp(F.min("ts")).alias("session_start"),
        F.unix_timestamp(F.max("ts")).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        # floor(x*100+0.5)/100, not ROUND(x,2): double summation order
        # differs across engines, and ROUND resolves tie-boundary cents
        # differently in Spark vs DuckDB (same hazard as q5_paid_orders).
        (F.floor(F.sum("value") * 100 + 0.5) / 100).alias("sum_value"),
    )


@query(
    "asof_forward_next_purchase",
    oracle="""
    SELECT v.event_id, v.user_id,
           CAST(floor(epoch(v.ts::TIMESTAMP)) AS BIGINT) AS view_epoch,
           (SELECT p.event_id FROM events p
             WHERE p.user_id = v.user_id AND p.event_type = 'purchase'
               AND p.ts >= v.ts
             ORDER BY p.ts ASC, p.event_id ASC LIMIT 1) AS next_purchase_id,
           (SELECT CAST(floor(epoch(p.ts::TIMESTAMP)) AS BIGINT) FROM events p
             WHERE p.user_id = v.user_id AND p.event_type = 'purchase'
               AND p.ts >= v.ts
             ORDER BY p.ts ASC, p.event_id ASC LIMIT 1) AS next_purchase_epoch
    FROM events v WHERE v.event_type = 'view'
    """,
    tags=("extension", "temporal", "asof", "join"),
)
def asof_forward_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join — the mirror of ``asof_purchase_last_click``: each
    view event picks the same user's earliest purchase at-or-after it (the
    attribution/conversion-lag primitive; kdb's ``aj`` forward mode,
    pandas ``merge_asof(direction='forward')``).

    Same union-tag-sort formulation, frame reversed: tag both sides, union,
    and take ``first(purchase, ignoreNulls)`` over the (currentRow →
    unboundedFollowing) frame ordered by (ts, side, event_id) with purchases
    tagged AFTER views — so an equal-timestamp purchase qualifies (oracle's
    ``p.ts >= v.ts``) and equal-ts purchases resolve to the smallest
    event_id in both engines. Still ONE hash exchange on user_id + ONE
    in-partition sort, linear in input — no candidate-pair buffering, the
    forward-join plan shape that survives 100 TB."""
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.col("ts"),
        F.lit(1).alias("side"),
        F.col("event_id"),
        F.col("event_id").alias("purchase_id"),
    )
    views = events.filter(F.col("event_type") == "view").select(
        F.col("user_id"),
        F.col("ts"),
        F.lit(0).alias("side"),
        F.col("event_id"),
        F.lit(None).cast("long").alias("purchase_id"),
    )
    u = views.unionByName(purchases)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("side").asc(), F.col("event_id").asc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    carried = u.select(
        "user_id",
        "ts",
        "side",
        "event_id",
        F.first("purchase_id", ignorenulls=True).over(w).alias("next_purchase_id"),
        F.first(F.when(F.col("purchase_id").isNotNull(), F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("next_purchase_ts"),
    )
    return carried.filter(F.col("side") == 0).select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("view_epoch"),
        "next_purchase_id",
        F.unix_timestamp("next_purchase_ts").alias("next_purchase_epoch"),
    )


@query(
    "scd2_user_event_history",
    oracle="""
    SELECT user_id, event_id, event_type, value,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
           CAST(floor(epoch(ts::TIMESTAMP)) AS BIGINT) AS valid_from,
           CAST(floor(epoch((lead(ts) OVER w)::TIMESTAMP)) AS BIGINT) AS valid_to,
           CAST(lead(ts) OVER w IS NULL AS INT) AS is_current
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    tags=("extension", "temporal", "scd2", "cdc"),
)
def scd2_user_event_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history build: the events stream treated as a per-user
    changelog (the batch materialization of the reference's KTable duality,
    KafkaStreamsApp.scala:156-157 — where the KTable keeps only the LATEST
    row per key, SCD2 keeps every version with its validity interval).
    Each event opens a version valid from its timestamp until the user's
    next event; the last version is open-ended (``valid_to`` NULL,
    ``is_current`` 1) — the standard warehouse dimension-history shape a
    CDC/upsert feed compacts into.

    One shuffle on user_id, one in-partition sort shared by row_number and
    lead — linear cost, no self-join; at 100 TB this is the same plan with
    more partitions (per-user history fits a partition by construction)."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return events.select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        F.row_number().over(w).cast("bigint").alias("version"),
        F.unix_timestamp("ts").alias("valid_from"),
        F.unix_timestamp(F.lead("ts").over(w)).alias("valid_to"),
        F.lead("ts").over(w).isNull().cast("int").alias("is_current"),
    )


@query(
    "ts_gapfill_user_daily",
    oracle="""
    WITH d AS (
      SELECT user_id,
             CAST(FLOOR(epoch(ts::TIMESTAMP) / 86400) AS BIGINT) AS day,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                 AS sum_value_cents
      FROM events GROUP BY 1, 2
    ),
    r AS (SELECT user_id, MIN(day) AS dmin, MAX(day) AS dmax FROM d GROUP BY 1),
    g AS (SELECT user_id, unnest(generate_series(dmin, dmax)) AS day FROM r)
    SELECT g.user_id, g.day * 86400 AS day_epoch,
           COALESCE(d.n_events, 0) AS n_events,
           COALESCE(d.sum_value_cents, 0) AS sum_value_cents,
           CAST(d.user_id IS NULL AS INT) AS gap_filled
    FROM g LEFT JOIN d USING (user_id, day)
    """,
    tags=("extension", "temporal", "gapfill"),
)
def ts_gapfill_user_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap-fill / resample (the hypertable ``time_bucket_gapfill``
    analogue): per-user daily event counts with missing days materialized as
    explicit zero rows between the user's first and last active day —
    downstream rolling-window models need the dense grid, not the sparse one.

    Spark shape: one aggregate to the sparse (user, day) grid, a per-user
    min/max reduction, then ``sequence() + explode`` regenerates the dense
    day spine and a left join pulls the counts back — both joins co-shuffle
    on (user, day); nothing is driver-side. The spine's row count is
    Σ_user(span_days) — bounded by users × calendar span, NOT by event
    volume, so at 100 TB the spine is the small side (and the fill is
    per-key parallel). Money rides as exact floored cents (order-free sums,
    cross-engine bit-equal)."""
    events = load_table(spark, sf_dir, "events")
    d = (
        events.select(
            "user_id",
            F.floor(F.col("ts").cast("double") / 86400).cast("bigint").alias("day"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
        )
        .groupBy("user_id", "day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("sum_value_cents"),
        )
    )
    r = d.groupBy("user_id").agg(F.min("day").alias("dmin"), F.max("day").alias("dmax"))
    g = r.select(
        "user_id", F.explode(F.sequence("dmin", "dmax")).alias("day")
    )
    j = g.join(d, ["user_id", "day"], "left")
    return j.select(
        "user_id",
        (F.col("day") * 86400).alias("day_epoch"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.coalesce("sum_value_cents", F.lit(0)).alias("sum_value_cents"),
        F.col("n_events").isNull().cast("int").alias("gap_filled"),
    )


@query(
    "sliding_window_event_counts",
    oracle="""
    SELECT ws AS window_start, event_type, COUNT(*) AS cnt
    FROM (
      SELECT e.event_type,
             (FLOOR(epoch(e.ts::TIMESTAMP) / 10) * 10 - 10 * g.g)::BIGINT AS ws,
             epoch(e.ts::TIMESTAMP) AS es
      FROM events e CROSS JOIN (SELECT unnest(range(3)) AS g) g
    )
    WHERE es >= ws AND es < ws + 30
    GROUP BY 1, 2
    """,
    tags=("extension", "temporal", "sliding"),
)
def sliding_window_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) windows — 30 s length, 10 s slide — per event type.
    Spark's ``window(ts, size, slide)`` multi-assigns each row to its
    size/slide overlapping windows *before* the partial aggregate, so the
    shuffle carries per-(window,type) partials, not ×3 raw rows. The oracle
    reproduces epoch-aligned multi-assignment with an explicit 3-way
    expansion."""
    events = load_table(spark, sf_dir, "events")
    win = events.groupBy(
        F.window("ts", "30 seconds", "10 seconds").alias("window"), "event_type"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return win.select(
        F.unix_timestamp("window.start").alias("window_start"), "event_type", "cnt"
    )


@query(
    "funnel_view_click_purchase",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY 1
    ),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts >= s1.t1 GROUP BY 1
    ),
    s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts >= s2.t2 GROUP BY 1
    )
    SELECT u.user_id,
           CAST(floor(epoch(s1.t1::TIMESTAMP)) AS BIGINT) AS view_epoch,
           CAST(floor(epoch(s2.t2::TIMESTAMP)) AS BIGINT) AS click_epoch,
           CAST(floor(epoch(s3.t3::TIMESTAMP)) AS BIGINT) AS purchase_epoch,
           CASE WHEN s3.user_id IS NOT NULL THEN 3
                WHEN s2.user_id IS NOT NULL THEN 2
                WHEN s1.user_id IS NOT NULL THEN 1
                ELSE 0 END AS reached_stage
    FROM (SELECT DISTINCT user_id FROM events) u
    LEFT JOIN s1 USING (user_id)
    LEFT JOIN s2 USING (user_id)
    LEFT JOIN s3 USING (user_id)
    """,
    tags=("extension", "temporal", "funnel", "bench"),
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis — view → click → purchase: per user, the
    first view, the first click at-or-after it, and the first purchase
    at-or-after that click, plus the deepest stage reached. The canonical
    event-stream product-analytics query (conversion funnels) the
    reference's event topics feed in practice.

    Spark shape: three stage aggregates, each a filtered min per user
    chained through a co-partitioned join on user_id — every stage is one
    map-side-partial aggregate plus one same-key join, so the whole funnel
    re-uses a single hash partitioning end-to-end (no window, no sort, no
    per-user event buffering — at 100 TB the alternative sessionized sort
    would shuffle the full event payload; this moves only (user, ts)
    pairs)."""
    events = load_table(spark, sf_dir, "events")
    users = events.select("user_id").distinct()
    s1 = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        events.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") >= F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        events.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") >= F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    out = (
        users.join(s1, "user_id", "left")
        .join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
    )
    return out.select(
        "user_id",
        F.unix_timestamp("t1").alias("view_epoch"),
        F.unix_timestamp("t2").alias("click_epoch"),
        F.unix_timestamp("t3").alias("purchase_epoch"),
        F.when(F.col("t3").isNotNull(), 3)
        .when(F.col("t2").isNotNull(), 2)
        .when(F.col("t1").isNotNull(), 1)
        .otherwise(0)
        .alias("reached_stage"),
    )


WEEK_S = 7 * 24 * 3600


@query(
    "retention_cohort_weeks",
    oracle=f"""
    WITH f AS (
      SELECT user_id,
             CAST(FLOOR(epoch(MIN(ts)::TIMESTAMP) / {WEEK_S}) AS BIGINT) AS cw
      FROM events GROUP BY 1
    ),
    a AS (
      SELECT DISTINCT user_id,
             CAST(FLOOR(epoch(ts::TIMESTAMP) / {WEEK_S}) AS BIGINT) AS w
      FROM events
    )
    SELECT f.cw AS cohort_week, a.w - f.cw AS week_offset,
           COUNT(*) AS n_users
    FROM f JOIN a USING (user_id)
    GROUP BY 1, 2
    """,
    tags=("extension", "temporal", "retention", "bench"),
)
def retention_cohort_weeks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users are cohorted by the week of their
    first event; each later active week counts them at that week offset —
    the (cohort × offset) retention triangle every event-analytics stack
    computes.

    Spark shape: first-event aggregate (one user-keyed shuffle with
    map-side partials), per-(user, week) distinct (same partitioning), a
    co-partitioned join on user_id, and a final tiny aggregate to
    |cohorts|×|offsets| rows. Epoch-week arithmetic is pure integer math —
    cross-engine exact — and nothing wider than (user_id, week) ever rides
    a shuffle."""
    events = load_table(spark, sf_dir, "events")
    week = F.floor(F.col("ts").cast("double") / WEEK_S).cast("bigint")
    f = events.groupBy("user_id").agg(
        F.floor(F.min(F.col("ts").cast("double")) / WEEK_S).cast("bigint").alias("cw")
    )
    a = events.select("user_id", week.alias("w")).distinct()
    return (
        f.join(a, "user_id")
        .groupBy(F.col("cw").alias("cohort_week"), (F.col("w") - F.col("cw")).alias("week_offset"))
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


NEAREST_TOL_S = 3600  # max |click - purchase| distance for a nearest match


@query(
    "asof_nearest_click",
    oracle=f"""
    WITH p AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    bf AS (
      SELECT p.event_id, p.user_id,
             CAST(FLOOR(epoch(p.ts::TIMESTAMP)) AS BIGINT) AS purchase_epoch,
             (SELECT c.event_id FROM events c
               WHERE c.user_id = p.user_id AND c.event_type = 'click'
                 AND c.ts <= p.ts
               ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS back_id,
             (SELECT CAST(FLOOR(epoch(c.ts::TIMESTAMP)) AS BIGINT) FROM events c
               WHERE c.user_id = p.user_id AND c.event_type = 'click'
                 AND c.ts <= p.ts
               ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS back_epoch,
             (SELECT c.event_id FROM events c
               WHERE c.user_id = p.user_id AND c.event_type = 'click'
                 AND c.ts > p.ts
               ORDER BY c.ts ASC, c.event_id ASC LIMIT 1) AS fwd_id,
             (SELECT CAST(FLOOR(epoch(c.ts::TIMESTAMP)) AS BIGINT) FROM events c
               WHERE c.user_id = p.user_id AND c.event_type = 'click'
                 AND c.ts > p.ts
               ORDER BY c.ts ASC, c.event_id ASC LIMIT 1) AS fwd_epoch
      FROM p
    ),
    d AS (
      SELECT *,
             (back_id IS NOT NULL AND (fwd_id IS NULL
                OR purchase_epoch - back_epoch <= fwd_epoch - purchase_epoch))
                 AS pick_back,
             CASE WHEN back_id IS NOT NULL AND (fwd_id IS NULL
                    OR purchase_epoch - back_epoch <= fwd_epoch - purchase_epoch)
                  THEN purchase_epoch - back_epoch
                  WHEN fwd_id IS NOT NULL THEN fwd_epoch - purchase_epoch
             END AS dist
      FROM bf
    )
    SELECT event_id, user_id, purchase_epoch,
           CASE WHEN dist <= {NEAREST_TOL_S} AND pick_back THEN back_id
                WHEN dist <= {NEAREST_TOL_S} AND fwd_id IS NOT NULL THEN fwd_id
           END AS nearest_click_id,
           CASE WHEN dist <= {NEAREST_TOL_S} THEN dist END AS nearest_dist_s,
           CASE WHEN dist <= {NEAREST_TOL_S} AND pick_back THEN 1
                WHEN dist <= {NEAREST_TOL_S} AND fwd_id IS NOT NULL THEN 2
                ELSE 0 END AS direction
    FROM d
    """,
    tags=("extension", "temporal", "asof", "join"),
)
def asof_nearest_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join: each purchase picks the click closest in time on
    EITHER side, within a tolerance — the attribution variant ad-tech and
    sensor-fusion pipelines ask for when "last touch" is too strict
    (pandas' ``merge_asof(direction='nearest')``, QuestDB's ASOF ... TOLERANCE).

    Completes the as-of family: backward (``asof_purchase_last_click``),
    forward (``asof_forward_next_purchase``), and now nearest. Semantics:
    backward candidate = latest click at-or-before (ties → largest id),
    forward candidate = first click strictly after (ties → smallest id),
    the nearer wins (exact tie → backward), and a match farther than
    ``NEAREST_TOL_S`` seconds is discarded (direction: 1=back, 2=fwd,
    0=no match in tolerance).

    Spark shape — the scale point: ONE union + ONE hash exchange on
    user_id + ONE in-partition sort serve BOTH directions. The backward
    candidate is ``last(click, ignoreNulls)`` over the running frame and
    the forward candidate is ``first(click, ignoreNulls)`` over the
    (current+1, ∞) frame — two frames of the SAME window ordering, so
    Catalyst evaluates them in a single Window operator over a single
    sort, with the (ts, side, id) ordering resolving equal-ts ties
    identically to the oracle. Still linear state (one carried value per
    direction), no candidate-pair explosion however wide the tolerance —
    where a range join's state grows with click density."""
    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(0).alias("side"),
        "event_id",
        F.col("event_id").alias("click_id"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("side"),
        "event_id",
        F.lit(None).cast("long").alias("click_id"),
    )
    u = clicks.unionByName(purchases)
    order = [F.col("ts").asc(), F.col("side").asc(), F.col("event_id").asc()]
    wb = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(1, Window.unboundedFollowing)
    )
    click_ts = F.when(F.col("click_id").isNotNull(), F.col("ts"))
    carried = u.select(
        "user_id",
        "ts",
        "side",
        "event_id",
        F.last("click_id", ignorenulls=True).over(wb).alias("back_id"),
        F.last(click_ts, ignorenulls=True).over(wb).alias("back_ts"),
        F.first("click_id", ignorenulls=True).over(wf).alias("fwd_id"),
        F.first(click_ts, ignorenulls=True).over(wf).alias("fwd_ts"),
    )
    p = carried.filter(F.col("side") == 1)
    pe = F.unix_timestamp("ts")
    be = F.unix_timestamp("back_ts")
    fe = F.unix_timestamp("fwd_ts")
    pick_back = F.col("back_id").isNotNull() & (
        F.col("fwd_id").isNull() | ((pe - be) <= (fe - pe))
    )
    dist = F.when(pick_back, pe - be).when(F.col("fwd_id").isNotNull(), fe - pe)
    within = dist <= NEAREST_TOL_S
    return p.select(
        "event_id",
        "user_id",
        pe.alias("purchase_epoch"),
        F.when(within & pick_back, F.col("back_id"))
        .when(within & F.col("fwd_id").isNotNull(), F.col("fwd_id"))
        .alias("nearest_click_id"),
        F.when(within, dist).alias("nearest_dist_s"),
        F.when(within & pick_back, F.lit(1))
        .when(within & F.col("fwd_id").isNotNull(), F.lit(2))
        .otherwise(F.lit(0))
        .alias("direction"),
    )


EWMA_TAPS = 8  # dyadic filter depth: weights 2^7 .. 2^0 over the last 8 samples


@query(
    "ts_ewma_user_daily",
    oracle=f"""
    WITH d AS (
      SELECT user_id,
             CAST(FLOOR(epoch(ts::TIMESTAMP) / 86400) AS BIGINT) AS day,
             CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    )
    SELECT user_id, day * 86400 AS day_epoch, cents,
           CAST({" + ".join(
               f"COALESCE(LAG(cents, {k}) OVER (PARTITION BY user_id ORDER BY day), 0)"
               f" * {1 << (7 - k)}"
               for k in range(8)
           )} AS BIGINT) AS ewma_cents_q8
    FROM d
    """,
    tags=("extension", "temporal", "window_fn"),
)
def ts_ewma_user_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-decayed daily spend per user — the trend feature
    downstream anomaly/forecast models consume. α=1/2 EWMA truncated at
    ``EWMA_TAPS`` taps and expressed in FIXED POINT: the output is
    Σ_{k=0..7} cents_{t-k} · 2^(7-k), i.e. the EWMA scaled by 256 (the
    infinite tail beyond 8 taps carries < 1/256 of the mass). Weights are
    exact powers of two over exact floored cents, so the fold is pure
    BIGINT arithmetic — bit-equal across engines, no float summation-order
    hazard (the same exact-grid stance as LP_GRID / integer-cents revenue).

    Spark shape: one shuffle to the per-(user, day) grid with map-side
    partial sums, then ONE window sort per user serving all eight ``lag``
    taps (same window spec → single Window operator). Lag is over the
    user's OBSERVED days (last 8 active days); composing with
    ``ts_gapfill_user_daily`` first gives the calendar-dense variant —
    deliberately separate so each stays one plan. At 100 TB both shuffles
    key on user_id — no skew beyond user activity (bounded by events/day),
    no global sort."""
    events = load_table(spark, sf_dir, "events")
    d = (
        events.select(
            "user_id",
            F.floor(F.col("ts").cast("double") / 86400).cast("bigint").alias("day"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("c"),
        )
        .groupBy("user_id", "day")
        .agg(F.sum("c").alias("cents"))
    )
    w = Window.partitionBy("user_id").orderBy("day")
    taps = [
        F.coalesce(F.lag("cents", k).over(w), F.lit(0)) * F.lit(1 << (7 - k))
        for k in range(EWMA_TAPS)
    ]
    ewma = taps[0]
    for t in taps[1:]:
        ewma = ewma + t
    return d.select(
        "user_id",
        (F.col("day") * 86400).alias("day_epoch"),
        "cents",
        ewma.cast("bigint").alias("ewma_cents_q8"),
    )


@query(
    "wf_order_gap_days",
    oracle="""
    WITH g AS (
      SELECT o_custkey,
             date_diff('day',
                       CAST(lag(o_orderdate) OVER (
                         PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey) AS DATE),
                       CAST(o_orderdate AS DATE)) AS gap_days
      FROM orders
    )
    SELECT o_custkey AS custkey,
           COUNT(*) AS n_orders,
           CAST(COUNT(gap_days) AS BIGINT) AS n_gaps,
           FLOOR(AVG(gap_days) * 100 + 0.5) / 100 AS avg_gap_days,
           MAX(gap_days) AS max_gap_days
    FROM g GROUP BY 1
    """,
    tags=("extension", "window", "temporal", "bench"),
)
def wf_order_gap_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap statistics via LAG: per customer, the day gaps
    between consecutive orders (deterministic (date, orderkey) ordering),
    rolled up to count / mean / max — the purchase-cadence feature every
    churn model and every event-stream health check computes, and the
    canonical LAG shape (scd2 next door is its LEAD mirror).

    Spark shape: ONE shuffle on o_custkey serves both the window sort and
    the follow-up aggregate (the groupBy key equals the partitionBy key, so
    the aggregate runs shuffle-free on the window's partitioning — same
    reuse discipline as wf_running_customer_spend). Moving only
    (custkey, date, orderkey) through the sort keeps the shuffle narrow;
    single-order customers surface with NULL gap stats rather than
    vanishing. At 100 TB per-customer order counts are small and bounded —
    no skew lever needed; a hot synthetic key would take the salted-window
    recipe."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", F.to_date("o_orderdate").alias("d")
    )
    w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    g = orders.select(
        "o_custkey", F.datediff(F.col("d"), F.lag("d").over(w)).alias("gap_days")
    )
    return g.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count("gap_days").alias("n_gaps"),
        (F.floor(F.avg("gap_days") * 100 + F.lit(0.5)) / 100).alias("avg_gap_days"),
        F.max("gap_days").alias("max_gap_days"),
    )


@query(
    "events_value_outliers",
    oracle="""
    WITH e AS (
      SELECT event_id, event_type,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ),
    s AS (
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(cents) AS BIGINT) AS s1,
             CAST(SUM(cents * cents) AS BIGINT) AS s2
      FROM e GROUP BY 1
    )
    SELECT e.event_id, e.event_type, e.cents
    FROM e JOIN s USING (event_type)
    WHERE (CAST(s.n AS DOUBLE) * CAST(e.cents AS DOUBLE) - CAST(s.s1 AS DOUBLE))
          * (CAST(s.n AS DOUBLE) * CAST(e.cents AS DOUBLE) - CAST(s.s1 AS DOUBLE))
          > 9.0 * (CAST(s.n AS DOUBLE) * CAST(s.s2 AS DOUBLE)
                   - CAST(s.s1 AS DOUBLE) * CAST(s.s1 AS DOUBLE))
    """,
    tags=("extension", "temporal", "anomaly", "bench"),
)
def events_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score anomaly detection: events whose value sits more than three
    standard deviations from their event-type mean — the monitoring /
    data-validation pass every event pipeline runs before training on
    telemetry. The |z| > 3 test is algebraically rearranged to
    (n·x − S)² > 9(n·Q − S²) over EXACT integer-cents moments (S = Σx,
    Q = Σx²), so there is no division, no sqrt, and no float SUM anywhere —
    the only floating point is a fixed tree of IEEE multiplies on exact
    integers, identical in both engines (a naive float mean/stddev would
    diverge with partition-summation order).

    Spark shape: the per-type moment table is |event_types| rows — a
    broadcast join back onto the stream (map-side flag, no second shuffle);
    the moments themselves are one map-side-partial aggregate. At 100 TB
    this is the canonical two-pass stats pattern (aggregate → broadcast →
    scan); the one-pass streaming alternative is Welford state per key
    (the stream_ts_ewma recipe), and Q's int64 headroom bounds the exact
    path at ~1e8 rows per type × (10^5 cents)² — past that, shift to the
    documented double-moment variant."""
    ev = event_cents(load_table(spark, sf_dir, "events"), "event_id", "event_type")
    return flag_outliers(ev, type_moments(ev))


def event_cents(events: DataFrame, *cols: str) -> DataFrame:
    """``cols`` plus the event value as exact integer cents."""
    return events.select(
        *cols, F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents")
    )


def type_moments(ev: DataFrame) -> DataFrame:
    """Per-type cent moments (n, Σx, Σx²) — |event_types| rows."""
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).alias("s2"),
    )


def flag_outliers(ev: DataFrame, s: DataFrame) -> DataFrame:
    """Events more than 3σ from their type's mean, by the divisionless
    (n·x−S)² > 9(nQ−S²) test against the per-type moments ``s``; ``ev``
    may be a stream (the moments are a static broadcast side)."""
    j = ev.join(F.broadcast(s), "event_type")
    nd = F.col("n").cast("double")
    cd = F.col("cents").cast("double")
    s1d = F.col("s1").cast("double")
    s2d = F.col("s2").cast("double")
    dev = nd * cd - s1d
    return j.filter(dev * dev > 9.0 * (nd * s2d - s1d * s1d)).select(
        "event_id", "event_type", "cents"
    )


@query(
    "events_value_winsorized",
    oracle="""
    WITH e AS (
      SELECT event_id, event_type,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ),
    p AS (
      SELECT event_type,
             CAST(FLOOR(quantile_cont(cents, 0.01) + 0.5) AS BIGINT) AS lo,
             CAST(FLOOR(quantile_cont(cents, 0.99) + 0.5) AS BIGINT) AS hi
      FROM e GROUP BY 1
    )
    SELECT e.event_id, e.event_type, e.cents,
           LEAST(GREATEST(e.cents, p.lo), p.hi) AS winsorized_cents,
           CAST(e.cents < p.lo OR e.cents > p.hi AS INT) AS clipped
    FROM e JOIN p USING (event_type)
    """,
    tags=("extension", "temporal", "anomaly", "bench"),
)
def events_value_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (percentile clipping): every event's value clipped to
    its type's [p1, p99] band — the outlier-tempering step feature
    pipelines run before normalization (clipping beats dropping when the
    tail rows carry signal; ``events_value_outliers`` next door is the
    dropping form). Percentiles are exact interpolated over integer cents
    (Spark ``percentile`` == DuckDB ``quantile_cont``, both sort-and-
    interpolate) and land back on the cent grid via floor(+0.5), so the
    clip bounds are integers and the clip itself is exact integer
    arithmetic.

    Spark shape: the per-type bound table is |event_types| rows — the same
    aggregate → broadcast → scan two-pass as the z-score twin; the clip is
    a map-side LEAST/GREATEST. Exact percentiles buffer per group — fine
    while groups fit (documented on agg_price_percentiles); at 100 TB the
    bounds switch to ``approx_percentile`` (t-digest, map-side combinable)
    with the SAME downstream clip, since winsor bounds never need
    cent-exactness in production."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    p = ev.groupBy("event_type").agg(
        F.floor(F.expr("percentile(cents, 0.01)") + 0.5).cast("bigint").alias("lo"),
        F.floor(F.expr("percentile(cents, 0.99)") + 0.5).cast("bigint").alias("hi"),
    )
    j = ev.join(F.broadcast(p), "event_type")
    return j.select(
        "event_id",
        "event_type",
        "cents",
        F.least(F.greatest(F.col("cents"), F.col("lo")), F.col("hi")).alias(
            "winsorized_cents"
        ),
        ((F.col("cents") < F.col("lo")) | (F.col("cents") > F.col("hi")))
        .cast("int")
        .alias("clipped"),
    )


@query(
    "funnel_conversion_summary",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY 1
    ),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts >= s1.t1 GROUP BY 1
    ),
    s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts >= s2.t2 GROUP BY 1
    ),
    u AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM events)
    SELECT u.n_users,
           (SELECT COUNT(*) FROM s1) AS n_viewed,
           (SELECT COUNT(*) FROM s2) AS n_clicked,
           (SELECT COUNT(*) FROM s3) AS n_purchased,
           CAST((SELECT COUNT(*) FROM s2) * 1000000
                // (SELECT COUNT(*) FROM s1) AS BIGINT) AS view_to_click_ppm,
           CAST((SELECT COUNT(*) FROM s3) * 1000000
                // (SELECT COUNT(*) FROM s2) AS BIGINT) AS click_to_purchase_ppm,
           CAST((SELECT COUNT(*) FROM s3) * 1000000
                // u.n_users AS BIGINT) AS overall_conversion_ppm
    FROM u
    """,
    tags=("extension", "temporal", "funnel", "bench"),
)
def funnel_conversion_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row funnel report: stage populations and conversion rates
    (view→click, click→purchase, overall) in exact ppm — the number a
    product team actually reads off ``funnel_view_click_purchase``'s
    per-user table. Same chained filtered-min stage aggregates (one hash
    partitioning on user_id end-to-end), collapsed to a single global
    rollup — counts only, so the final reduce moves four integers."""
    events = load_table(spark, sf_dir, "events")
    s1 = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        events.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") >= F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        events.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") >= F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    counts = (
        events.agg(F.countDistinct("user_id").alias("n_users"))
        .crossJoin(F.broadcast(s1.agg(F.count(F.lit(1)).alias("n_viewed"))))
        .crossJoin(F.broadcast(s2.agg(F.count(F.lit(1)).alias("n_clicked"))))
        .crossJoin(F.broadcast(s3.agg(F.count(F.lit(1)).alias("n_purchased"))))
    )
    return counts.select(
        "n_users",
        "n_viewed",
        "n_clicked",
        "n_purchased",
        F.expr("cast(n_clicked * 1000000 div n_viewed as bigint)").alias(
            "view_to_click_ppm"
        ),
        F.expr("cast(n_purchased * 1000000 div n_clicked as bigint)").alias(
            "click_to_purchase_ppm"
        ),
        F.expr("cast(n_purchased * 1000000 div n_users as bigint)").alias(
            "overall_conversion_ppm"
        ),
    )


# CUSUM drift detection (Page 1954 — the control chart every streaming
# data-quality monitor runs): s_t = max(0, s_{t-1} + (x_t − μ − K)),
# alarm when s_t > H. Everything rides an exact integer grid with ZERO
# divisions: increments are scaled by the per-type count n
# (inc = n·x_t − S − n·K, so μ = S/n never materializes), s and H scale
# by n with them. The sequential max(0, ·) fold is window-expressible via
# the prefix identity  s_t = P_t − min(0, min_{j≤t} P_j)  (P = running
# sum of increments), so the BATCH form is two stacked window functions —
# one sort per series — and the oracle is value-exact.
CUSUM_K_CENTS = 500  # drift allowance above the mean ($5)
CUSUM_H_CENTS = 80_000  # alarm threshold ($800 of accumulated drift; ~2% of fixture events alarm)


@query(
    "ts_cusum_drift_per_type",
    oracle=f"""
    WITH x AS (
      SELECT event_id, event_type, ts,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ),
    m AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS s
      FROM x GROUP BY 1
    ),
    i AS (
      SELECT x.event_id, x.event_type, x.ts, x.cents,
             x.cents * m.n - m.s - m.n * {CUSUM_K_CENTS} AS inc, m.n AS n
      FROM x JOIN m USING (event_type)
    ),
    p AS (
      SELECT event_id, event_type, ts, cents, n,
             CAST(SUM(inc) OVER (PARTITION BY event_type
                                 ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pr
      FROM i
    ),
    q AS (
      SELECT event_id, event_type, cents, n, pr,
             CAST(MIN(pr) OVER (PARTITION BY event_type
                                ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS mn
      FROM p
    )
    SELECT event_id, event_type, cents,
           CAST(pr - LEAST(mn, 0) AS BIGINT) AS cusum_xn,
           CAST(pr - LEAST(mn, 0) > {CUSUM_H_CENTS} * n AS INT) AS alarm
    FROM q
    """,
    tags=("extension", "temporal", "window_fn", "monitoring", "bench"),
)
def ts_cusum_drift_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift detection per event type (Page's cumulative-sum control
    chart): every event carries its post-update CUSUM statistic and an
    alarm flag — the sequential drift monitor that catches slow mean
    shifts z-score outlier gates miss (``events_value_outliers`` flags
    single extremes; CUSUM integrates small persistent deviations until
    they cross H). The two-pass shape (per-type moments, then scoring)
    is the ``events_value_outliers`` precedent.

    The nonlinear recurrence s_t = max(0, s_{t-1} + inc_t) looks
    unparallelizable, but the prefix identity s_t = P_t − min(0, min_{j≤t}
    P_j) turns it into a running SUM stacked with a running MIN — both
    engines evaluate the same two windows over the same exact integers
    (n-scaled, division-free), so the oracle is value-exact with no float
    path. Spark shape: one broadcast of the |types|-row moment table, ONE
    sort per series serving both windows (same partition+order spec —
    Catalyst reuses the exchange and sort). A control-chart series is
    inherently sequential, so per-series work is one task BY DESIGN;
    parallelism comes from series cardinality, which at 100 TB is keyed
    finer (type × region × day) exactly as a production monitor shards its
    charts. Int64 headroom: |inc| ≤ n·max|dev|, P ≤ n²·max|dev| — ~10⁹
    rows/series at 10⁵-cent deviations before DECIMAL(38,0) is needed
    (documented bound, the events_value_outliers stance)."""
    x = event_cents(load_table(spark, sf_dir, "events"), "event_id", "event_type", "ts")
    i = cusum_increments(x, cusum_baseline(x))
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    p = i.select(
        "event_id",
        "event_type",
        "ts",
        "cents",
        "n",
        F.sum("inc").over(w).cast("bigint").alias("pr"),
    )
    q = p.select(
        "event_id",
        "event_type",
        "cents",
        "n",
        "pr",
        F.min("pr").over(w).cast("bigint").alias("mn"),
    )
    cusum = F.col("pr") - F.least(F.col("mn"), F.lit(0))
    return q.select(
        "event_id",
        "event_type",
        "cents",
        cusum.alias("cusum_xn"),
        (cusum > CUSUM_H_CENTS * F.col("n")).cast("int").alias("alarm"),
    )


def cusum_baseline(x: DataFrame) -> DataFrame:
    """Per-type (n, Σcents): the chart's calibration pass."""
    return x.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s")
    )


def cusum_increments(x: DataFrame, m: DataFrame) -> DataFrame:
    """Each event's n-scaled chart increment n·x − S − n·k against its
    type's baseline ``m``; ``x`` may be a stream (``m`` is broadcast)."""
    return x.join(F.broadcast(m), "event_type").select(
        "event_id",
        "event_type",
        "ts",
        "cents",
        "n",
        (
            F.col("cents") * F.col("n")
            - F.col("s")
            - F.col("n") * CUSUM_K_CENTS
        ).alias("inc"),
    )


# Population-stability-index drift audit: PSI = Σ_buckets (p−q)·ln(p/q)
# between two deterministic halves of the stream (event_id parity — the
# reproducible stand-in for "last week vs this week"). Division-free until
# the last step: counts are +1-smoothed integers, the log-ratio quantizes
# to a 1e-6 grid as ln(ca·nb) − ln(cb·na) (one ln of integer products, no
# ratio ever formed), and the per-bucket terms (ca·nb − cb·na)·l6 fold as
# exact int64 — both engines divide the identical sum at the end. PSI
# reading: <0.1 stable, 0.1-0.25 drifting, >0.25 shifted (the credit-
# scoring convention).
PSI_BAND_CENTS = 2_500
PSI_MAX_BUCKET = 19


@query(
    "drift_psi_value_halves",
    oracle=f"""
    WITH x AS (
      SELECT event_type, event_id % 2 AS half,
             LEAST(CAST(FLOOR(value * 100 + 0.5) AS BIGINT) // {PSI_BAND_CENTS},
                   {PSI_MAX_BUCKET}) AS b
      FROM events
    ),
    c AS (
      SELECT event_type, b,
             CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) + 1 AS BIGINT) AS ca,
             CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) + 1 AS BIGINT) AS cb
      FROM x GROUP BY 1, 2
    ),
    t AS (
      SELECT event_type, CAST(SUM(ca) AS BIGINT) AS na,
             CAST(SUM(cb) AS BIGINT) AS nb
      FROM c GROUP BY 1
    ),
    g AS (
      SELECT c.event_type, ca, cb, na, nb,
             CAST(FLOOR((ln(ca * 1.0 * nb) - ln(cb * 1.0 * na)) * 1000000 + 0.5)
                  AS BIGINT) AS l6
      FROM c JOIN t USING (event_type)
    )
    SELECT event_type, MAX(na) AS n_a, MAX(nb) AS n_b,
           FLOOR(CAST(SUM((ca * nb - cb * na) * l6) AS BIGINT) * 1.0
                 / (MAX(na) * MAX(nb)) / 100 + 0.5) / 10000 AS psi
    FROM g GROUP BY 1
    """,
    tags=("extension", "temporal", "monitoring", "drift", "bench"),
)
def drift_psi_value_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift audit per event type: bucket the
    value distribution into fixed cent bands, compare the two
    deterministic stream halves, and report PSI — the distribution-shift
    monitor that complements ``ts_cusum_drift_per_type`` (CUSUM catches
    mean shifts sequentially; PSI catches SHAPE changes between cohorts —
    a bimodal split or variance blow-up with an unchanged mean is
    invisible to CUSUM and loud in PSI). In a production pipeline the two
    cohorts are consecutive ingest windows; event-id parity makes the
    audit reproducible on the fixtures.

    Exactness: +1-smoothed integer bucket counts; the log-ratio is ONE ln
    of integer products quantized to the 1e-6 grid (ln(ca·nb) − ln(cb·na)
    — no ratio, no division until the final scalar), so the bucket-term
    fold is an exact int64 sum and both engines floor the same quotient.
    Spark shape: one (type, bucket)-keyed partial-aggregated shuffle, a
    |types|-row total join (broadcast), and a |types|-row rollup — three
    narrow exchanges, scan-bound, output O(|types|). Headroom:
    (ca·nb − cb·na)·l6 stays inside int64 to ~10⁸ rows/type at this
    band count; past that, DECIMAL(38,0) the term."""
    events = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", "value"
    )
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    x = events.select(
        "event_type",
        (F.col("event_id") % 2).alias("half"),
        F.least(
            F.expr(f"cast(floor(value * 100 + 0.5) as bigint) div {PSI_BAND_CENTS}"),
            F.lit(PSI_MAX_BUCKET),
        ).alias("b"),
    )
    c = x.groupBy("event_type", "b").agg(
        (F.sum((F.col("half") == 0).cast("bigint")) + 1).alias("ca"),
        (F.sum((F.col("half") == 1).cast("bigint")) + 1).alias("cb"),
    )
    t = c.groupBy("event_type").agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    g = c.join(F.broadcast(t), "event_type").select(
        "event_type",
        "ca",
        "cb",
        "na",
        "nb",
        F.floor(
            (F.log(F.col("ca") * F.col("nb")) - F.log(F.col("cb") * F.col("na")))
            * 1000000
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("l6"),
    )
    return g.groupBy("event_type").agg(
        F.max("na").alias("n_a"),
        F.max("nb").alias("n_b"),
        (
            F.floor(
                F.sum((F.col("ca") * F.col("nb") - F.col("cb") * F.col("na")) * F.col("l6"))
                / (F.max("na") * F.max("nb"))
                / 100
                + F.lit(0.5)
            )
            / 10000
        ).alias("psi"),
    )


# ---------------------------------------------------------------------------
# Robust outliers: median / MAD (Iglewicz-Hoaglin modified z-score)
# ---------------------------------------------------------------------------

# Iglewicz & Hoaglin (1993) flag |0.6745 * (x - med) / MAD| > 3.5. On the
# integer cent grid that is exactly 6745 * dev > 35000 * MAD — no doubles.
MAD_Z_NUM = 6745
MAD_Z_CUT = 35000


@query(
    "events_value_mad_outliers",
    oracle="""
    WITH e AS (
      SELECT event_type, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ),
    g AS (
      SELECT event_type, cents, COUNT(*) AS cnt FROM e GROUP BY 1, 2
    ),
    c AS (
      SELECT event_type, cents, cnt,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY cents
                            ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(cnt) OVER (PARTITION BY event_type) AS n
      FROM g
    ),
    med AS (
      SELECT event_type, MAX(n) AS n, MIN(cents) AS med_cents
      FROM c WHERE cum >= (n + 1) // 2 GROUP BY event_type
    ),
    d AS (
      SELECT g.event_type, ABS(g.cents - med.med_cents) AS dev,
             SUM(g.cnt) AS cnt
      FROM g JOIN med USING (event_type) GROUP BY 1, 2
    ),
    dc AS (
      SELECT event_type, dev, cnt,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY dev
                            ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(cnt) OVER (PARTITION BY event_type) AS n
      FROM d
    ),
    mad AS (
      SELECT event_type, MIN(dev) AS mad_cents
      FROM dc WHERE cum >= (n + 1) // 2 GROUP BY event_type
    )
    SELECT med.event_type, CAST(med.n AS BIGINT) AS n_events,
           med.med_cents, mad.mad_cents,
           CAST(SUM(CASE WHEN 6745 * ABS(g.cents - med.med_cents)
                              > 35000 * mad.mad_cents
                         THEN g.cnt ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST((SUM(CASE WHEN 6745 * ABS(g.cents - med.med_cents)
                               > 35000 * mad.mad_cents
                          THEN g.cnt ELSE 0 END) * 2000000 + med.n)
             // (med.n * 2) AS BIGINT) AS outlier_ppm
    FROM g JOIN med USING (event_type) JOIN mad USING (event_type)
    GROUP BY med.event_type, med.n, med.med_cents, mad.mad_cents
    """,
    tags=("extension", "temporal", "anomaly", "robust", "bench"),
)
def events_value_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier detection via median / MAD — the
    Iglewicz-Hoaglin modified z-score (|0.6745·(x−med)/MAD| > 3.5) that
    survives the exact contamination that wrecks the mean/stddev detector
    next door (``events_value_outliers``: one 10⁹-cent event drags the
    mean past every real anomaly; the median does not move). Medians are
    LOWER medians (smallest value whose cumulative count reaches
    ⌈n/2⌉) so every statistic stays on the integer cent grid and the
    cross-engine hash is exact.

    Spark shape — the "exact quantile at scale" pattern: ONE row-level
    shuffle collapses events to the (type, cents, cnt) grid (map-side
    partial combine; grid size is bounded by the value domain, not the
    row count), and every later pass — per-type cumulative window for the
    median, deviation regrid, second cumulative window for the MAD, the
    final outlier fold — runs on grid rows only. The windows partition by
    event_type (never a global single-partition sort — the
    tokenizer_vocab_coverage lesson), and the med/MAD tables broadcast at
    |types| rows. Spark's ``percentile`` would buffer every raw value per
    group on one reducer; the grid formulation is what still works when
    one type holds 10¹¹ events at 100 TB."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    # The grid is read by the median, MAD, and outlier branches; runtime
    # ReuseExchange dedupes only some of them (measured: 5 fact scans).
    # Materialize it ONCE — grid rows are value-domain-bounded, so the
    # checkpoint is O(grid), never O(rows).
    g = (
        ev.groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("event_type")
    c = g.select(
        "event_type",
        "cents",
        "cnt",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wall).alias("n"),
    )
    med = (
        c.filter(F.expr("cum >= (n + 1) div 2"))
        .groupBy("event_type")
        .agg(F.max("n").alias("n"), F.min("cents").alias("med_cents"))
    )
    d = (
        g.join(F.broadcast(med.select("event_type", "med_cents")), "event_type")
        .select(
            "event_type",
            F.abs(F.col("cents") - F.col("med_cents")).alias("dev"),
            "cnt",
        )
        .groupBy("event_type", "dev")
        .agg(F.sum("cnt").alias("cnt"))
    )
    wdev = (
        Window.partitionBy("event_type")
        .orderBy("dev")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dc = d.select(
        "event_type",
        "dev",
        "cnt",
        F.sum("cnt").over(wdev).alias("cum"),
        F.sum("cnt").over(wall).alias("n"),
    )
    mad = (
        dc.filter(F.expr("cum >= (n + 1) div 2"))
        .groupBy("event_type")
        .agg(F.min("dev").alias("mad_cents"))
    )
    stats = F.broadcast(med.join(mad, "event_type"))
    out = F.when(
        F.lit(MAD_Z_NUM) * F.abs(F.col("cents") - F.col("med_cents"))
        > F.lit(MAD_Z_CUT) * F.col("mad_cents"),
        F.col("cnt"),
    ).otherwise(F.lit(0))
    return (
        g.join(stats, "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n").alias("n_events"),
            F.max("med_cents").alias("med_cents"),
            F.max("mad_cents").alias("mad_cents"),
            F.sum(out).alias("n_outliers"),
            F.expr(
                f"(SUM(CASE WHEN {MAD_Z_NUM} * ABS(cents - med_cents)"
                f" > {MAD_Z_CUT} * mad_cents THEN cnt ELSE 0 END) * 2000000"
                " + MAX(n)) div (MAX(n) * 2)"
            ).alias("outlier_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Multi-granularity time rollup (continuous-aggregate hierarchy)
# ---------------------------------------------------------------------------

ROLLUP_GRAINS = (("hour", 3600), ("day", 86400), ("week", 604800))


@query(
    "ts_multi_granularity_rollup",
    oracle="""
    WITH e AS (
      SELECT CAST(floor(epoch(ts::TIMESTAMP)) AS BIGINT) AS ep, event_type,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    )
    SELECT 'hour' AS grain, (ep // 3600) * 3600 AS bucket_epoch, event_type,
           COUNT(*) AS n_events, CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM e GROUP BY 2, 3
    UNION ALL
    SELECT 'day', (ep // 86400) * 86400, event_type, COUNT(*),
           CAST(SUM(cents) AS BIGINT)
    FROM e GROUP BY 2, 3
    UNION ALL
    SELECT 'week', (ep // 604800) * 604800, event_type, COUNT(*),
           CAST(SUM(cents) AS BIGINT)
    FROM e GROUP BY 2, 3
    """,
    tags=("extension", "temporal", "rollup", "bench"),
)
def ts_multi_granularity_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate hierarchy: the same fact
    stream rolled to hour, day, and week buckets in ONE pass — the
    materialization a time-series store (TimescaleDB continuous
    aggregates, Druid rollup) keeps so dashboards never touch raw rows.
    Buckets are pure integer epoch arithmetic ((epoch div g)·g), identical
    in both engines — no date_trunc, whose week-start convention differs
    across engines.

    Spark shape: one scan; each row explodes into its three (grain,
    bucket) pairs — the z-order audit's explode-pair trick — and a single
    groupBy(grain, bucket, type) with map-side partial aggregation
    reduces everything in one shuffle. The alternative (three separate
    GROUP BYs unioned, as the oracle is forced to write) scans three
    times; at 100 TB the single-scan explode costs 3× shuffle-input rows
    but those are pre-collapsed by the map-side combine into at most
    |hour buckets|·|types| partials per task — the rollup output is
    dashboard-sized, not data-sized. Incremental maintenance at scale:
    the same aggregate run per ingest batch MERGEs into the rollup table
    (the ivm_incremental_user_agg pattern)."""
    return rollup_counters(load_table(spark, sf_dir, "events"))


def rollup_counters(events: DataFrame) -> DataFrame:
    """The (grain, bucket, type) counters of every ROLLUP_GRAINS grain, on
    batch or streaming events: each event explodes into its (grain,
    bucket) pairs and the counters are additive."""
    ev = events.select(
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
    return pairs.groupBy(
        F.col("gb.grain").alias("grain"),
        F.col("gb.bucket_epoch").alias("bucket_epoch"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").alias("sum_cents"),
    )


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov drift statistic
# ---------------------------------------------------------------------------


@query(
    "drift_ks_value_halves",
    oracle="""
    WITH e AS (
      SELECT event_id % 2 AS half,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ),
    g AS (
      SELECT cents,
             SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS ca,
             SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS cb
      FROM e GROUP BY 1
    ),
    c AS (
      SELECT cents,
             SUM(ca) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cuma,
             SUM(cb) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cumb,
             SUM(ca) OVER () AS na, SUM(cb) OVER () AS nb
      FROM g
    ),
    d AS (
      SELECT cents, ABS(cuma * nb - cumb * na) AS dnum, na, nb FROM c
    ),
    m AS (SELECT MAX(dnum) AS d_num FROM d)
    SELECT CAST(d.na AS BIGINT) AS n_a, CAST(d.nb AS BIGINT) AS n_b,
           CAST(m.d_num AS BIGINT) AS d_num,
           MIN(d.cents) AS at_cents,
           CAST(m.d_num * 1000000 // (d.na * d.nb) AS BIGINT) AS ks_ppm
    FROM d JOIN m ON d.dnum = m.d_num
    GROUP BY d.na, d.nb, m.d_num
    """,
    tags=("extension", "temporal", "drift", "bench"),
)
def drift_ks_value_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between the two
    deterministic event_id-parity halves of the value stream (the same
    split as the PSI audit next door — KS is the binning-free companion:
    PSI needs bucket choices, KS is the sup over the EMPIRICAL CDFs and
    catches shape drift PSI's coarse buckets smear out). Division-free:
    D's numerator is max|cumA·nB − cumB·nA| over the cent grid — exact
    int64 — and only the final ppm report divides. Reports where the sup
    is attained (smallest attaining cent value) for drill-down.

    Spark shape: the same "exact distribution statistic at scale" recipe
    as the MAD detector — ONE shuffle collapses events to the (cents,
    countA, countB) grid (map-side partials), and every cumulative /
    max / argmax pass runs over grid rows only. The cumulative window is
    unpartitioned but grid-bounded (value-domain rows, never event
    rows; at 100 TB with an unbounded domain the grid coarsens to fixed
    quantization — KS on a quantized grid is still exact for the
    quantized variable). The sup and its argmin resolve with one 1-row
    broadcast join — no second scan of anything."""
    g = ks_grid(load_table(spark, sf_dir, "events")).localCheckpoint(
        eager=True
    )  # grid-bounded; read by cum + sup branches
    return ks_from_grid(g)


def ks_grid(events: DataFrame) -> DataFrame:
    """The (cents, half) counters of the KS statistic — additive, so a
    streaming aggregate of them drains to the batch grid."""
    e = events.select(
        (F.col("event_id") % 2).alias("half"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    return e.groupBy("cents").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("cb"),
    )


def ks_from_grid(g: DataFrame) -> DataFrame:
    """The sup-over-CDFs probe on the (cents, ca, cb) grid."""
    wc = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    c = g.select(
        "cents",
        F.sum("ca").over(wc).alias("cuma"),
        F.sum("cb").over(wc).alias("cumb"),
        F.sum("ca").over(wall).alias("na"),
        F.sum("cb").over(wall).alias("nb"),
    )
    d = c.select(
        "cents",
        F.abs(F.col("cuma") * F.col("nb") - F.col("cumb") * F.col("na")).alias(
            "dnum"
        ),
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
            F.expr("cast(d_num * 1000000 div (na * nb) as bigint)").alias(
                "ks_ppm"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Seasonal-naive decomposition (hour-of-week profile + residuals)
# ---------------------------------------------------------------------------


@query(
    "ts_seasonal_decompose_how",
    oracle="""
    WITH e AS (
      SELECT event_type,
             (CAST(floor(epoch(ts::TIMESTAMP)) AS BIGINT) // 3600) % 168 AS how,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ),
    s AS (
      SELECT event_type, how, COUNT(*) AS n_events,
             CAST(SUM(cents) // COUNT(*) AS BIGINT) AS seasonal_cents
      FROM e GROUP BY 1, 2
    )
    SELECT s.event_type, s.how, s.n_events, s.seasonal_cents,
           CAST(SUM(ABS(e.cents - s.seasonal_cents)) AS BIGINT)
             AS abs_resid_sum
    FROM e JOIN s USING (event_type, how)
    GROUP BY 1, 2, 3, 4
    """,
    tags=("extension", "temporal", "seasonal", "bench"),
)
def ts_seasonal_decompose_how(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive decomposition on the hour-of-week grid: the
    per-(type, hour-of-week) seasonal profile (integer mean on the cent
    grid) plus each cell's absolute-residual mass — the additive
    y = seasonal + residual split every ops/forecast dashboard starts
    from (STL's season pass with a box kernel; the 168-slot profile is
    the standard weekly template). Cells with large abs_resid_sum are
    where the seasonal model explains least — exactly the drill-down
    the CUSUM/EWMA monitors next door alarm on.

    Spark shape: textbook two-pass with a tiny model table — ONE
    row-level shuffle to the (type, how) profile (map-side partials; the
    profile is ≤ |types|·168 rows, O(config)), then the residual pass
    re-scans with the profile BROADCAST and folds |cents − seasonal|
    into the same cells. Integer means (floor division) and integer
    residuals keep both engines exact. At 100 TB both passes are
    scan-bound; the profile table never grows with data — this is the
    operator where 'model = small mergeable state' is most literal."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("(unix_timestamp(ts) div 3600) % 168").alias("how"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    s = e.groupBy("event_type", "how").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr("cast(sum(cents) div count(*) as bigint)").alias("seasonal_cents"),
    )
    return (
        e.join(F.broadcast(s), ["event_type", "how"])
        .groupBy("event_type", "how", "n_events", "seasonal_cents")
        .agg(
            F.sum(F.abs(F.col("cents") - F.col("seasonal_cents")))
            .cast("bigint")
            .alias("abs_resid_sum")
        )
    )


@query(
    "ts_cumulative_new_users",
    oracle="""
    WITH f AS (
      SELECT user_id,
             MIN((CAST(floor(epoch(ts::TIMESTAMP)) AS BIGINT) // 86400) * 86400)
               AS first_day
      FROM events GROUP BY 1
    ),
    d AS (SELECT first_day AS day_epoch, COUNT(*) AS n_new FROM f GROUP BY 1)
    SELECT day_epoch, n_new,
           CAST(SUM(n_new) OVER (ORDER BY day_epoch
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_users
    FROM d
    """,
    tags=("extension", "temporal", "growth", "bench"),
)
def ts_cumulative_new_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cumulative-users growth curve: each user's FIRST-seen day, daily
    new-user counts, and the running total — the DAU/acquisition panel
    every product dashboard opens with, and (swapping users for documents)
    the corpus-growth curve a crawl pipeline tracks per snapshot.

    Spark shape: first-seen is a user-keyed min with map-side partials
    (the heavy pass — one shuffle over event rows); daily counts collapse
    that to O(days) rows, and the running total is a cumulative window
    over the bounded day spine (unpartitioned but calendar-sized — the
    documented bounded-window class; a century is 36 k rows). No
    distinct-count state anywhere: first-seen-min is how cumulative
    distinct is computed at 100 TB, because min is mergeable while
    COUNT(DISTINCT) over a growing prefix is not."""
    f = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.expr("(unix_timestamp(ts) div 86400) * 86400").alias("day"),
        )
        .groupBy("user_id")
        .agg(F.min("day").alias("first_day"))
    )
    d = f.groupBy(F.col("first_day").alias("day_epoch")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    w = Window.orderBy("day_epoch").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return d.select(
        "day_epoch", "n_new", F.sum("n_new").over(w).cast("bigint").alias("cum_users")
    )


# ---------------------------------------------------------------------------
# Seasonality-adjusted robust outliers (profile + residual MAD)
# ---------------------------------------------------------------------------


@query(
    "ts_seasonal_residual_outliers",
    oracle="""
    WITH e AS (
      SELECT event_type,
             (CAST(floor(epoch(ts::TIMESTAMP)) AS BIGINT) // 3600) % 168 AS how,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ),
    s AS (
      SELECT event_type, how,
             CAST(SUM(cents) // COUNT(*) AS BIGINT) AS seasonal_cents
      FROM e GROUP BY 1, 2
    ),
    r AS (
      SELECT e.event_type, e.cents - s.seasonal_cents AS resid
      FROM e JOIN s USING (event_type, how)
    ),
    g AS (SELECT event_type, resid, COUNT(*) AS cnt FROM r GROUP BY 1, 2),
    c AS (
      SELECT event_type, resid, cnt,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY resid
                            ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(cnt) OVER (PARTITION BY event_type) AS n
      FROM g
    ),
    med AS (
      SELECT event_type, MAX(n) AS n, MIN(resid) AS med_resid
      FROM c WHERE cum >= (n + 1) // 2 GROUP BY event_type
    ),
    d AS (
      SELECT g.event_type, ABS(g.resid - med.med_resid) AS dev,
             SUM(g.cnt) AS cnt
      FROM g JOIN med USING (event_type) GROUP BY 1, 2
    ),
    dc AS (
      SELECT event_type, dev, cnt,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY dev
                            ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(cnt) OVER (PARTITION BY event_type) AS n
      FROM d
    ),
    mad AS (
      SELECT event_type, MIN(dev) AS mad_resid
      FROM dc WHERE cum >= (n + 1) // 2 GROUP BY event_type
    )
    SELECT med.event_type, CAST(med.n AS BIGINT) AS n_events,
           med.med_resid, mad.mad_resid,
           CAST(SUM(CASE WHEN 6745 * ABS(g.resid - med.med_resid)
                              > 35000 * mad.mad_resid
                         THEN g.cnt ELSE 0 END) AS BIGINT) AS n_outliers
    FROM g JOIN med USING (event_type) JOIN mad USING (event_type)
    GROUP BY med.event_type, med.n, med.med_resid, mad.mad_resid
    """,
    tags=("extension", "temporal", "anomaly", "seasonal", "bench"),
)
def ts_seasonal_residual_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-adjusted anomaly detection: subtract the hour-of-week
    seasonal profile, then run the median/MAD modified-z detector ON THE
    RESIDUALS — the two-stage compose (deseasonalize → robust flag) that
    separates 'it's always busy Monday 9am' from 'this Monday 9am is
    wrong'. A raw-value detector flags every weekly peak; this one only
    flags departures FROM the weekly shape. Composes the registry's two
    proven parts (``ts_seasonal_decompose_how`` profile,
    ``events_value_mad_outliers`` grid-median machinery) with residuals
    as the new grid variable (negative values included — the grid recipe
    never assumed non-negativity).

    Spark shape: profile is the O(config) broadcast model; residuals are
    map-side; then the identical two-cumulative-window grid pass as the
    MAD detector, shuffling only (type, resid-grid) partials. Same
    100 TB story: grid rows, never event rows, after the first
    aggregate."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("(unix_timestamp(ts) div 3600) % 168").alias("how"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    s = e.groupBy("event_type", "how").agg(
        F.expr("cast(sum(cents) div count(*) as bigint)").alias("seasonal_cents")
    )
    r = e.join(F.broadcast(s), ["event_type", "how"]).select(
        "event_type", (F.col("cents") - F.col("seasonal_cents")).alias("resid")
    )
    g = (
        r.groupBy("event_type", "resid")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)  # grid-bounded; read by med/MAD/flag branches
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("resid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("event_type")
    c = g.select(
        "event_type",
        "resid",
        "cnt",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wall).alias("n"),
    )
    med = (
        c.filter(F.expr("cum >= (n + 1) div 2"))
        .groupBy("event_type")
        .agg(F.max("n").alias("n"), F.min("resid").alias("med_resid"))
    )
    d = (
        g.join(F.broadcast(med.select("event_type", "med_resid")), "event_type")
        .select(
            "event_type",
            F.abs(F.col("resid") - F.col("med_resid")).alias("dev"),
            "cnt",
        )
        .groupBy("event_type", "dev")
        .agg(F.sum("cnt").alias("cnt"))
    )
    wdev = (
        Window.partitionBy("event_type")
        .orderBy("dev")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dc = d.select(
        "event_type",
        "dev",
        "cnt",
        F.sum("cnt").over(wdev).alias("cum"),
        F.sum("cnt").over(wall).alias("n"),
    )
    mad = (
        dc.filter(F.expr("cum >= (n + 1) div 2"))
        .groupBy("event_type")
        .agg(F.min("dev").alias("mad_resid"))
    )
    stats = F.broadcast(med.join(mad, "event_type"))
    return (
        g.join(stats, "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n").cast("bigint").alias("n_events"),
            F.max("med_resid").alias("med_resid"),
            F.max("mad_resid").alias("mad_resid"),
            F.sum(
                F.when(
                    F.lit(MAD_Z_NUM) * F.abs(F.col("resid") - F.col("med_resid"))
                    > F.lit(MAD_Z_CUT) * F.col("mad_resid"),
                    F.col("cnt"),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


@query(
    "wf_quarterly_revenue_growth",
    oracle="""
    WITH q AS (
      SELECT c.c_nationkey AS nation,
             (EXTRACT(year FROM o.o_orderdate) * 10
              + (EXTRACT(month FROM o.o_orderdate) - 1) // 3 + 1) AS yq,
             CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS rev_cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    )
    SELECT nation, yq, rev_cents,
           LAG(rev_cents) OVER (PARTITION BY nation ORDER BY yq) AS prev_cents,
           CASE WHEN LAG(rev_cents) OVER (PARTITION BY nation ORDER BY yq)
                     IS NULL THEN NULL
                ELSE CAST(((rev_cents
                            - LAG(rev_cents) OVER (PARTITION BY nation
                                                   ORDER BY yq)) * 1000000)
                          // LAG(rev_cents) OVER (PARTITION BY nation
                                                  ORDER BY yq) AS BIGINT)
           END AS growth_ppm
    FROM q
    """,
    tags=("extension", "window", "temporal", "bench"),
)
def wf_quarterly_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarter-over-quarter revenue growth per nation — the LAG-ratio
    window panel every revenue dashboard runs (and, swapped to token
    counts, the corpus-snapshot growth report). Quarters key as
    year×10+quarter integers; growth is floor-ppm against the previous
    quarter, NULL for each nation's first quarter (no synthetic 0 — the
    honest cold-start).

    Spark shape: one customer⋈orders join (customer side broadcastable),
    one (nation, quarter)-keyed aggregate with map-side partials, then
    LAG over windows PARTITIONED BY NATION — parallel across nations,
    each partition calendar-bounded. Integer cents and floor division
    keep the ppm exact cross-engine."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr(
            "year(o_orderdate) * 10 + (month(o_orderdate) - 1) div 3 + 1"
        ).alias("yq"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), F.col("c_nationkey").alias("nation")
    )
    q = (
        o.join(F.broadcast(c), "o_custkey")
        .groupBy("nation", "yq")
        .agg(F.sum("cents").cast("bigint").alias("rev_cents"))
    )
    w = Window.partitionBy("nation").orderBy("yq")
    prev = F.lag("rev_cents").over(w)
    return q.select(
        "nation",
        "yq",
        "rev_cents",
        prev.alias("prev_cents"),
        F.when(prev.isNull(), F.lit(None).cast("bigint"))
        .otherwise(
            F.expr(
                "cast(((rev_cents - lag(rev_cents) over "
                "(partition by nation order by yq)) * 1000000) div "
                "lag(rev_cents) over (partition by nation order by yq) as bigint)"
            )
        )
        .alias("growth_ppm"),
    )


# ---------------------------------------------------------------------------
# Changepoint detection: single binary-segmentation split
# ---------------------------------------------------------------------------


@query(
    "ts_changepoint_binary_seg",
    oracle="""
    WITH b AS (
      SELECT event_type,
             (CAST(floor(epoch(ts::TIMESTAMP)) AS BIGINT) // 3600) * 3600
               AS bucket_epoch,
             CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS v
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT event_type, bucket_epoch, v,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY bucket_epoch) AS i,
             CAST(SUM(v) OVER (PARTITION BY event_type ORDER BY bucket_epoch
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s_i,
             COUNT(*) OVER (PARTITION BY event_type) AS k,
             CAST(SUM(v) OVER (PARTITION BY event_type) AS BIGINT) AS s
      FROM b
    ),
    g AS (
      SELECT event_type, bucket_epoch, i, k,
             CAST(k AS HUGEINT) * (k - i) * s_i * s_i
               + CAST(k AS HUGEINT) * i * (s - s_i) * (s - s_i)
               - CAST(i AS HUGEINT) * (k - i) * s * s AS gain
      FROM idx WHERE i < k
    ),
    m AS (SELECT event_type, MAX(gain) AS best FROM g GROUP BY 1)
    SELECT g.event_type, CAST(MAX(g.k) AS BIGINT) AS n_buckets,
           MIN(g.i) AS split_idx,
           MIN(g.bucket_epoch) AS split_epoch,
           CAST(m.best // (CAST(MAX(g.k) AS HUGEINT) * MAX(g.k) * MAX(g.k))
                AS BIGINT) AS gain_scaled
    FROM g JOIN m ON m.event_type = g.event_type AND g.gain = m.best
    GROUP BY g.event_type, m.best
    """,
    tags=("extension", "temporal", "changepoint", "bench"),
)
def ts_changepoint_binary_seg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-changepoint detection by binary segmentation (the first
    split of the classic binary-seg / PELT family): per event type, the
    hourly revenue series splits where the two-segment piecewise-constant
    fit most reduces SSE. The gain is division-cleared to pure integers —
    maximizing SSE reduction ≡ maximizing K(K−i)·S_i² + K·i·(S−S_i)² −
    i(K−i)·S² over split index i (S_i = prefix sum) — so argmax and
    tie-break (earliest attaining index) are exact cross-engine; products
    ride HUGEINT/DECIMAL(38,0) since S² ≈ 10¹⁷ already at sf0.01.
    Complements the sequential monitors (CUSUM alarms DURING the stream;
    this localizes the break point in retrospect — the audit that runs
    after the alarm fires).

    Spark shape: one (type, hour)-keyed aggregate with map-side partials
    collapses events to the bounded bucket series; prefix sums, totals,
    and the argmax all ride windows PARTITIONED BY TYPE over O(hours)
    rows — the same grid economics as the KS/MAD detectors. At 100 TB the
    series length is retention-bounded (a year of hours = 8 760 rows per
    type), so the whole changepoint search costs one aggregate."""
    b = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr("(unix_timestamp(ts) div 3600) * 3600").alias("bucket_epoch"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
        )
        .groupBy("event_type", "bucket_epoch")
        .agg(F.sum("cents").cast("bigint").alias("v"))
        .localCheckpoint(eager=True)  # retention-bounded bucket series
    )
    wt = Window.partitionBy("event_type").orderBy("bucket_epoch")
    wall = Window.partitionBy("event_type")
    idx = b.select(
        "event_type",
        "bucket_epoch",
        F.row_number().over(wt).alias("i"),
        F.sum("v")
        .over(wt.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint")
        .alias("s_i"),
        F.count(F.lit(1)).over(wall).alias("k"),
        F.sum("v").over(wall).cast("bigint").alias("s"),
    )
    dec = "cast({} as decimal(38,0))"
    gain = F.expr(
        f"{dec.format('k')} * (k - i) * s_i * s_i"
        f" + {dec.format('k')} * i * (s - s_i) * (s - s_i)"
        f" - {dec.format('i')} * (k - i) * s * s"
    )
    g = idx.filter(F.col("i") < F.col("k")).select(
        "event_type", "bucket_epoch", "i", "k", gain.alias("gain")
    )
    m = g.groupBy("event_type").agg(F.max("gain").alias("best"))
    return (
        g.join(F.broadcast(m), "event_type")
        .filter(F.col("gain") == F.col("best"))
        .groupBy("event_type", "best")
        .agg(
            F.max("k").cast("bigint").alias("n_buckets"),
            F.min("i").alias("split_idx"),
            F.min("bucket_epoch").alias("split_epoch"),
        )
        .select(
            "event_type",
            "n_buckets",
            "split_idx",
            "split_epoch",
            F.expr(
                "cast(best div (cast(n_buckets as decimal(38,0))"
                " * n_buckets * n_buckets) as bigint)"
            ).alias("gain_scaled"),
        )
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U rank-sum drift test (round 8)
# ---------------------------------------------------------------------------


@query(
    "drift_mannwhitney_value_halves",
    oracle="""
    WITH e AS (
      SELECT event_id % 2 AS half,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ),
    g AS (
      SELECT cents,
             SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS ca,
             SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS cb
      FROM e GROUP BY 1
    ),
    c AS (
      SELECT cents, ca, cb, ca + cb AS cnt,
             COALESCE(SUM(ca + cb) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb4,
             SUM(ca) OVER () AS na, SUM(cb) OVER () AS nb
      FROM g
    ),
    s AS (
      SELECT MAX(na) AS na, MAX(nb) AS nb,
             CAST(SUM(ca * (2 * cumb4 + cnt + 1)) AS BIGINT) AS r1_x2,
             CAST(SUM(CAST(cnt AS BIGINT) * cnt * cnt - cnt) AS BIGINT)
                 AS tie_term
      FROM c
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b, r1_x2,
           CAST(r1_x2 - na * (na + 1) AS BIGINT) AS u1_x2,
           CAST(2 * na * nb - (r1_x2 - na * (na + 1)) AS BIGINT) AS u2_x2,
           CAST((r1_x2 - na * (na + 1)) * 1000000 // (2 * na * nb) AS BIGINT)
               AS auc_ppm,
           tie_term
    FROM s
    """,
    tags=("extension", "temporal", "drift", "stats", "bench"),
)
def drift_mannwhitney_value_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Mann-Whitney U rank-sum test between the event_id-parity
    halves — the nonparametric LOCATION-shift companion to the KS sup
    (shape) and PSI (binned mass) drift tests on the same deterministic
    split: U answers "does one half stochastically dominate?", and
    U/(n_a·n_b) IS the common-language effect size / AUC. Tie handling
    is the textbook average-rank rule kept exact on a doubled grid:
    2·avgrank(v) = 2·cum_before(v) + count(v) + 1 is always an integer,
    so R1×2, U1×2, U2×2 are exact BIGINTs and only the final AUC report
    divides (ppm). The tie term Σ(t³−t) rides along for the variance
    correction a consumer's z-test needs. U1+U2 = 2·n_a·n_b by
    construction — self-checking output.

    Spark shape: identical recipe to the KS statistic next door — ONE
    shuffle to the (cents, countA, countB) grid with map-side partials,
    then cumulative/total windows over GRID rows only (unpartitioned but
    grid-bounded — the same documented stance, with the same fixed-
    quantization fallback for unbounded domains at 100 TB), and a 1-row
    final fold. Never sorts or ranks raw events — the rank sums come
    from the grid algebra, which is what makes an exact rank test
    feasible at corpus scale."""
    e = load_table(spark, sf_dir, "events").select(
        (F.col("event_id") % 2).alias("half"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    g = e.groupBy("cents").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("cb"),
    )
    wb4 = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.partitionBy()
    c = g.select(
        "ca",
        (F.col("ca") + F.col("cb")).alias("cnt"),
        F.coalesce(F.sum(F.col("ca") + F.col("cb")).over(wb4), F.lit(0)).alias(
            "cumb4"
        ),
        F.sum("ca").over(wall).alias("na"),
        F.sum("cb").over(wall).alias("nb"),
    )
    s = c.agg(
        F.max("na").alias("na"),
        F.max("nb").alias("nb"),
        F.sum(F.col("ca") * (2 * F.col("cumb4") + F.col("cnt") + 1))
        .cast("bigint")
        .alias("r1_x2"),
        F.sum(
            F.col("cnt").cast("bigint") * F.col("cnt") * F.col("cnt") - F.col("cnt")
        )
        .cast("bigint")
        .alias("tie_term"),
    )
    u1 = F.col("r1_x2") - F.col("na") * (F.col("na") + 1)
    return s.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        "r1_x2",
        u1.cast("bigint").alias("u1_x2"),
        (2 * F.col("na") * F.col("nb") - u1).cast("bigint").alias("u2_x2"),
        F.expr(
            "CAST((r1_x2 - na * (na + 1)) * 1000000 div (2 * na * nb) AS BIGINT)"
        ).alias("auc_ppm"),
        "tie_term",
    )


# ---------------------------------------------------------------------------
# Chi-square categorical drift between halves (round 10)
# ---------------------------------------------------------------------------

# Per-cell chi² term with E = rt·ct/N cleared of division:
# (obs·N − rt·ct)²·10⁶ div (N·rt·ct), on DECIMAL(38,0) Spark-side /
# HUGEINT in the oracle. Headroom is set by the SQUARED difference:
# |obs·N − rt·ct| = N·|obs − E| ≤ N·rt, so the ·10⁶ numerator stays
# inside 38 digits to N ≈ 10⁸ rows in the adversarial one-type-dominates
# case and far beyond for realistic mixes (|obs − E| ≪ rt) — and past
# the cap both engines fail LOUDLY, not silently (Spark decimal overflow
# → NULL, DuckDB HUGEINT → error; either surfaces in the hash compare).
# At true web scale the production spelling re-centers: fold counts at a
# coarser unit or compute the asymptotic statistic in doubles — the
# exact-integer contract here is the ORACLE-ALIGNMENT device, same
# stance as stats_chi2_nation_segment. Non-negative, so no pmod.
_CHI2_CELL_SPARK = (
    "cast((cast({obs} as decimal(38,0)) * (ct_a + ct_b)"
    " - cast(n_a + n_b as decimal(38,0)) * {ct})"
    " * (cast({obs} as decimal(38,0)) * (ct_a + ct_b)"
    " - cast(n_a + n_b as decimal(38,0)) * {ct})"
    " * 1000000 div (cast(ct_a + ct_b as decimal(38,0))"
    " * (n_a + n_b) * {ct}) as bigint)"
)
_CHI2_CELL_SQL = (
    "CAST((CAST({obs} AS HUGEINT) * (ct_a + ct_b)"
    " - CAST(n_a + n_b AS HUGEINT) * {ct})"
    " * (CAST({obs} AS HUGEINT) * (ct_a + ct_b)"
    " - CAST(n_a + n_b AS HUGEINT) * {ct})"
    " * 1000000 // (CAST(ct_a + ct_b AS HUGEINT)"
    " * (n_a + n_b) * {ct}) AS BIGINT)"
)


@query(
    "drift_chi2_event_type_halves",
    oracle=f"""
    WITH o AS (
      SELECT event_type,
             SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS n_a,
             SUM(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS n_b
      FROM events GROUP BY 1
    ),
    t AS (SELECT SUM(n_a) AS ct_a, SUM(n_b) AS ct_b, COUNT(*) AS k FROM o),
    c AS (
      SELECT o.event_type, o.n_a, o.n_b, t.k,
             {_CHI2_CELL_SQL.format(obs="n_a", ct="ct_a")}
           + {_CHI2_CELL_SQL.format(obs="n_b", ct="ct_b")} AS contrib_e6
      FROM o CROSS JOIN t
      WHERE t.ct_a > 0 AND t.ct_b > 0
    )
    SELECT event_type,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           contrib_e6,
           CAST(SUM(contrib_e6) OVER () AS BIGINT) AS chi2_e6,
           CAST(k - 1 AS BIGINT) AS dof
    FROM c
    """,
    tags=("extension", "temporal", "monitoring", "drift", "stats", "bench"),
)
def drift_chi2_event_type_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square drift test on the EVENT-TYPE MIX between the
    event_id-parity halves — the CATEGORICAL member completing the drift
    panel (KS = full continuous distribution, Mann-Whitney = location/
    stochastic dominance, PSI = binned mass, Welch = mean; none of them
    sees a composition shift in a categorical column, the classic silent
    failure when one source's traffic share doubles). The 2×|types|
    contingency table is event_type × half; each cell contributes the
    textbook (O−E)²/E with E = rt·ct/N cleared of division, so the
    statistic is a sum of exact integer floor terms (the
    stats_chi2_nation_segment grid recipe applied to drift). Per-type
    rows expose each type's own contribution — the drill-down a drift
    alert needs — alongside the global chi2_e6 and dof = |types|−1.

    Zero cells need no cross-join repair here: the column dimension is
    the fixed {{0, 1}} parity, so the conditional per-type sums
    materialize BOTH cells for every type (a type absent from one half
    contributes (0·N − rt·ct)²/E exactly, not nothing).

    Spark shape: ONE shuffle — conditional map-side-partial counts per
    type (the Welch stance: the contingency row IS a sufficient
    statistic, associative and mergeable, so the same aggregate streams);
    the margins are a 1-row aggregate of the |types|-row grid, attached
    by broadcast crossJoin, and the global statistic is a second 1-row
    broadcast over the same O(types) relation — nothing after the first
    shuffle touches row-count-sized data. At 100 TB the cost IS the
    first aggregate."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", (F.col("event_id") % 2).alias("half")
    )
    o = ev.groupBy("event_type").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("n_b"),
    )
    return chi2_epilogue(o)


def chi2_epilogue(o: DataFrame) -> DataFrame:
    """Margins, exact per-cell floor terms, and the global statistic over
    a (event_type, n_a, n_b) contingency relation — shared by the batch
    drift query and its accumulate-at-ingest streaming twin (a
    contingency row is an associative keyed aggregate, the Welch
    stance). Everything here runs on the O(types) grid."""
    # contingency grid read by margins + cells; materialize once (O(types))
    o = o.localCheckpoint(eager=True)
    t = o.agg(
        F.sum("n_a").alias("ct_a"),
        F.sum("n_b").alias("ct_b"),
        F.count(F.lit(1)).alias("k"),
    )
    cells = (
        o.crossJoin(F.broadcast(t))
        .filter((F.col("ct_a") > 0) & (F.col("ct_b") > 0))
        .select(
            "event_type",
            "n_a",
            "n_b",
            "k",
            (
                F.expr(_CHI2_CELL_SPARK.format(obs="n_a", ct="ct_a"))
                + F.expr(_CHI2_CELL_SPARK.format(obs="n_b", ct="ct_b"))
            ).alias("contrib_e6"),
        )
        .localCheckpoint(eager=True)
    )
    g = cells.agg(F.sum("contrib_e6").alias("chi2_e6"))
    return cells.crossJoin(F.broadcast(g)).select(
        "event_type",
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        "contrib_e6",
        F.col("chi2_e6").cast("bigint").alias("chi2_e6"),
        (F.col("k") - 1).cast("bigint").alias("dof"),
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust trend (round 8)
# ---------------------------------------------------------------------------


@query(
    "ts_theil_sen_daily_trend",
    oracle="""
    WITH d AS (
      SELECT event_type,
             (CAST(floor(epoch(ts::TIMESTAMP)) AS BIGINT) // 86400) AS day,
             CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS v
      FROM events GROUP BY 1, 2
    ),
    p AS (
      SELECT a.event_type,
             ((b.v - a.v) * 1000000
              - ((((b.v - a.v) * 1000000) % (b.day - a.day)
                  + (b.day - a.day)) % (b.day - a.day)))
                 // (b.day - a.day) AS slope_e6
      FROM d a JOIN d b
        ON b.event_type = a.event_type AND b.day > a.day
    ),
    r AS (
      SELECT event_type, slope_e6,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY slope_e6, 1) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS np
      FROM p
    ),
    m AS (
      SELECT event_type, MAX(np) AS n_pairs,
             MAX(CASE WHEN rn = (np + 1) // 2 THEN slope_e6 END) AS slope_lo_e6,
             MAX(CASE WHEN rn = np // 2 + 1 THEN slope_e6 END) AS slope_hi_e6
      FROM r GROUP BY 1
    ),
    nd AS (SELECT event_type, COUNT(*) AS n_days FROM d GROUP BY 1)
    SELECT m.event_type, CAST(nd.n_days AS BIGINT) AS n_days,
           CAST(m.n_pairs AS BIGINT) AS n_pairs,
           CAST(m.slope_lo_e6 AS BIGINT) AS slope_lo_e6,
           CAST(m.slope_hi_e6 AS BIGINT) AS slope_hi_e6
    FROM m JOIN nd USING (event_type)
    """,
    tags=("extension", "temporal", "ts", "stats", "bench"),
)
def ts_theil_sen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per event type — the median of all pairwise
    slopes of the daily-revenue series (Theil 1950 / Sen 1968): up to
    ~29% corrupted days cannot move it, where the OLS slope
    (``stats_ols_qty_price_by_nation``'s machinery) chases any single
    spiked day. The slope grid is exact: cents×1e6 numerators with an
    explicit sign-safe floor division (BOTH engines' integer-division
    operators truncate toward zero on negatives — probed: Spark ``div``
    and DuckDB v1.0.0 ``//`` both give −7/2 → −3 — which differs from
    the mathematical floor the ppm grid wants, so the mod-adjusted floor
    is spelled out once and shared; it is exact under either operator
    semantic since the adjusted numerator divides evenly); the median is
    reported as its lo/hi middle order statistics (equal when n_pairs is
    odd) rather than averaging into a fraction.

    Spark shape: events collapse to the per-type DAY grid first (one
    map-side-partial shuffle — the same series the changepoint query
    derives), so the pairwise self-join is DAYS², not events² — a
    time-grid quadratic that is O((span/day)²) per type whatever the
    corpus size, co-shuffled on event_type. The rank window partitions
    by type. At 100 TB the day grid for a year is 365 rows per type:
    ~66k pair rows — the robust-trend answer stays effectively free
    while the raw data grows unboundedly."""
    return theil_sen_from_grid(day_grid(load_table(spark, sf_dir, "events")))


def day_grid(events: DataFrame) -> DataFrame:
    """The per-(event_type, day) exact cent-sum grid — the ONE shared
    sufficient statistic of the whole trend panel (Theil-Sen, Mann-Kendall,
    Spearman, and their streaming twins): one map-side-partial shuffle of
    the corpus down to O(types × days) rows; every epilogue after it is
    grid arithmetic."""
    return (
        events.select(
            "event_type",
            F.expr("unix_timestamp(ts) div 86400").alias("day"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cents").alias("v"))
    )


def theil_sen_from_grid(d: DataFrame) -> DataFrame:
    """Pairwise-slope median + day count over a (event_type, day, v) grid —
    split from the query so the streaming twin's drained state rides the
    same epilogue. localCheckpoint: the grid is day-bounded, read by both
    self-join sides and the n_days aggregate — and a memory-sink drain
    (the streaming twin) cannot be self-joined without breaking lineage
    first (Catalyst conflicting-references, FIXTURES.md §C)."""
    d = d.localCheckpoint(eager=True)
    a = d.select(
        F.col("event_type").alias("et"), F.col("day").alias("di"), F.col("v").alias("vi")
    )
    b = d.select(
        F.col("event_type").alias("et"), F.col("day").alias("dj"), F.col("v").alias("vj")
    )
    p = a.join(b, ["et"]).filter(F.col("dj") > F.col("di")).select(
        F.col("et").alias("event_type"),
        F.expr(
            "((vj - vi) * 1000000 - pmod((vj - vi) * 1000000, dj - di))"
            " div (dj - di)"
        ).alias("slope_e6"),
    )
    wr = Window.partitionBy("event_type").orderBy("slope_e6")
    wn = Window.partitionBy("event_type")
    r = p.select(
        "event_type",
        "slope_e6",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("np"),
    )
    m = r.groupBy("event_type").agg(
        F.max("np").alias("n_pairs"),
        F.max(
            F.when(
                F.col("rn") == F.floor((F.col("np") + 1) / 2), F.col("slope_e6")
            ).otherwise(None)
        ).alias("slope_lo_e6"),
        F.max(
            F.when(
                F.col("rn") == F.floor(F.col("np") / 2) + 1, F.col("slope_e6")
            ).otherwise(None)
        ).alias("slope_hi_e6"),
    )
    nd = d.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_days"))
    return m.join(nd, "event_type").select(
        "event_type",
        F.col("n_days").cast("bigint").alias("n_days"),
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
        F.col("slope_lo_e6").cast("bigint").alias("slope_lo_e6"),
        F.col("slope_hi_e6").cast("bigint").alias("slope_hi_e6"),
    )


# ---------------------------------------------------------------------------
# Freshness / volume-anomaly monitor (round 8)
# ---------------------------------------------------------------------------

FRESH_TRAIL = 7  # trailing window (days) the volume baseline averages over
FRESH_DEV_PCT = 50  # alert when |today - baseline| exceeds 50% of baseline


@query(
    "diag_freshness_monitor",
    oracle=f"""
    WITH d AS (
      SELECT event_type,
             (CAST(floor(epoch(ts::TIMESTAMP)) AS BIGINT) // 86400) AS day,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    w AS (
      SELECT event_type, day, n,
             COUNT(n) OVER (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN {FRESH_TRAIL} PRECEDING AND 1 PRECEDING) AS n_trail,
             COALESCE(SUM(n) OVER (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN {FRESH_TRAIL} PRECEDING AND 1 PRECEDING), 0)
                 AS sum_trail
      FROM d
    )
    SELECT event_type, CAST(day AS BIGINT) AS day, CAST(n AS BIGINT) AS n,
           CAST(n_trail AS BIGINT) AS n_trail,
           CAST(sum_trail AS BIGINT) AS sum_trail,
           CAST(CASE WHEN n_trail = 0 THEN NULL
                ELSE (n * n_trail - sum_trail) * 1000000
                     - (((((n * n_trail - sum_trail) * 1000000) % sum_trail)
                         + sum_trail) % sum_trail)
                END // NULLIF(sum_trail, 0) AS BIGINT) AS dev_ppm,
           CAST(n_trail > 0 AND
                ABS(n * n_trail - sum_trail) * 100
                  > {FRESH_DEV_PCT} * sum_trail AS INT) AS alert
    FROM w
    """,
    tags=("extension", "temporal", "diag", "quality", "bench"),
)
def diag_freshness_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source volume/freshness anomaly monitor — the third pillar of
    the data-observability triad next to ``diag_table_profile`` (content)
    and ``diag_key_skew_report`` (distribution): for every (event_type,
    day) cell, today's row count against the trailing-{FRESH_TRAIL}-day
    baseline, the deviation in ppm, and an alert flag when the day moves
    more than {FRESH_DEV_PCT}% off baseline — the check that catches a
    dead producer, a double-ship, or a backfill before it poisons
    training data. Division-free alerting: the threshold compares
    |n·n_trail − sum_trail|·100 against {FRESH_DEV_PCT}·sum_trail by
    cross-multiplication (exact BIGINTs); only the reported dev_ppm
    divides, through the same sign-safe floor the Theil-Sen slopes use
    (engines disagree on negative division). Warm-up days (empty
    trailing window) report NULL deviation and never alert.

    Spark shape: events collapse to the per-type day grid in one
    map-side-partial shuffle; the trailing windows are ROWS-bounded and
    PARTITIONED by event_type (never global); output is grid-sized. At
    100 TB the monitor costs one count-only scan — and in production
    the day counts come free from partition metadata, making this a
    metadata-only query; the window algebra is unchanged."""
    d = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr("unix_timestamp(ts) div 86400").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wt = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-FRESH_TRAIL, -1)
    )
    w = d.select(
        "event_type",
        "day",
        "n",
        F.count("n").over(wt).alias("n_trail"),
        F.coalesce(F.sum("n").over(wt), F.lit(0)).alias("sum_trail"),
    )
    num = (F.col("n") * F.col("n_trail") - F.col("sum_trail")) * 1000000
    return w.select(
        "event_type",
        F.col("day").cast("bigint").alias("day"),
        F.col("n").cast("bigint").alias("n"),
        F.col("n_trail").cast("bigint").alias("n_trail"),
        F.col("sum_trail").cast("bigint").alias("sum_trail"),
        F.when(
            F.col("n_trail") > 0,
            F.expr(
                "((n * n_trail - sum_trail) * 1000000"
                " - pmod((n * n_trail - sum_trail) * 1000000, sum_trail))"
                " div sum_trail"  # exact integer floor-div, never a double
            ),
        ).alias("dev_ppm"),
        (
            (F.col("n_trail") > 0)
            & (
                F.abs(F.col("n") * F.col("n_trail") - F.col("sum_trail")) * 100
                > FRESH_DEV_PCT * F.col("sum_trail")
            )
        )
        .cast("int")
        .alias("alert"),
    )


# ---------------------------------------------------------------------------
# Keyless interval-overlap join via grid binning
# ---------------------------------------------------------------------------

# Inactivity gap that closes a per-type activity burst (tighter than the 6 h
# user-session gap: bursts are the "incident windows" sessions get joined
# against).
BURST_GAP_S = 3600
# Grid-bin width for the overlap join. Bins per interval = span/W + 1; the
# fixture sessions/bursts span minutes-to-hours, so 6 h bins keep the
# explode factor ~1-2 while keeping per-bin candidate counts small.
OVERLAP_BIN_S = 21600
# A (session, burst) pair: the key the bin join deduplicates on (a pair
# that shares several bins is found once per shared bin).
OVERLAP_PAIR_KEY = ["user_id", "session_no", "event_type", "burst_no"]

_SESSIONIZE_SQL = """
    flagged AS (
      SELECT user_id, ts, event_id,
        CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch(ts::TIMESTAMP)
                     - epoch((lag(ts) OVER w)::TIMESTAMP)
                     > {gap}
             THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id,
             CAST(SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no,
             ts
      FROM flagged
    ),
    sessions AS (
      SELECT user_id, session_no,
             CAST(floor(epoch(MIN(ts)::TIMESTAMP)) AS BIGINT) AS s_start,
             CAST(floor(epoch(MAX(ts)::TIMESTAMP)) AS BIGINT) AS s_end
      FROM sess GROUP BY user_id, session_no
    )"""

_BURSTS_SQL = f"""
    bflag AS (
      SELECT event_type, ts, event_id,
        CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch(ts::TIMESTAMP)
                     - epoch((lag(ts) OVER w)::TIMESTAMP)
                     > {BURST_GAP_S}
             THEN 1 ELSE 0 END AS new_burst
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ),
    bnum AS (
      SELECT event_type,
             CAST(SUM(new_burst) OVER (
               PARTITION BY event_type ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS burst_no,
             ts
      FROM bflag
    ),
    bursts AS (
      SELECT event_type, burst_no,
             CAST(floor(epoch(MIN(ts)::TIMESTAMP)) AS BIGINT) AS b_start,
             CAST(floor(epoch(MAX(ts)::TIMESTAMP)) AS BIGINT) AS b_end,
             COUNT(*) AS burst_events
      FROM bnum GROUP BY event_type, burst_no
    )"""

def interval_islands(df: DataFrame, part: str, out_no: str, gap_s: int) -> DataFrame:
    """Gaps-and-islands sessionization shared by the batch interval-overlap
    join and its streaming twin: per-``part`` key, a new island opens when
    the gap to the previous event EXCEEDS ``gap_s`` — a gap exactly equal
    merges, matching Spark session_window's touching-bounds merge and
    Kafka Streams' inclusive inactivity gap (boundary fixed round 11,
    pinned by test) — (SESSION_GAP_S for
    user sessions, BURST_GAP_S for per-type bursts — the caller passes its
    threshold explicitly so a third key can never silently inherit the
    wrong one); bounds are floor-epoch BIGINTs so downstream overlap
    arithmetic is integer-exact."""
    w = Window.partitionBy(part).orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
    flagged = df.select(
        part,
        "ts",
        "event_id",
        F.when(F.lag("ts").over(w).isNull() | (gap > gap_s), 1)
        .otherwise(0)
        .alias("flag"),
    )
    wnum = (
        Window.partitionBy(part)
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        flagged.withColumn(out_no, F.sum("flag").over(wnum))
        .groupBy(part, out_no)
        .agg(
            F.unix_timestamp(F.min("ts")).alias("i_start"),
            F.unix_timestamp(F.max("ts")).alias("i_end"),
        )
    )


def explode_to_bins(df: DataFrame, start: str, end: str, bcol: str) -> DataFrame:
    """Explode each interval to the OVERLAP_BIN_S grid bins it touches —
    the ONE binning contract (closed on both end bins) shared by the batch
    interval-overlap join and its streaming twin, so the two paths stay
    keyed identically by construction. Reads the module global at call
    time (the bin-width invariance test monkeypatches it)."""
    return df.select(
        "*",
        F.explode(
            F.sequence(
                F.expr(f"{start} div {OVERLAP_BIN_S}"),
                F.expr(f"{end} div {OVERLAP_BIN_S}"),
            )
        ).alias(bcol),
    )


_INTERVAL_ORACLE = f"""
    WITH {_SESSIONIZE_SQL.format(gap=SESSION_GAP_S)},
    {_BURSTS_SQL}
    SELECT s.user_id, s.session_no, b.event_type, b.burst_no,
           s.s_start, s.s_end, b.b_start, b.b_end,
           LEAST(s.s_end, b.b_end) - GREATEST(s.s_start, b.b_start)
             AS overlap_s
    FROM sessions s JOIN bursts b
      ON s.s_start <= b.b_end AND b.b_start <= s.s_end
"""


@query(
    "join_interval_overlap_bins",
    oracle=_INTERVAL_ORACLE,
    tags=("extension", "temporal", "join", "bench"),
)
def join_interval_overlap_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyless INTERVAL-OVERLAP join — "which user sessions were exposed to
    which per-type activity bursts" — via the grid-binning pattern Spark
    lacks natively: explode each interval to the fixed-width time bins it
    touches, equi-join on the bin, verify the true overlap predicate,
    dedup pairs found in several bins. The oracle is the NAIVE quadratic
    range join, so the binned path's completeness (every overlapping pair
    found, none invented) is value-checked, not assumed.

    Scale rationale: a raw ``s_start <= b_end AND b_start <= s_end`` join
    has no equi-key — Spark plans a broadcast nested loop (fine only while
    one side is small) or a cartesian. Binning restores an equi-key: the
    shuffle carries each interval once per touched bin (span/W + 1 ≈ 1-2
    here), the join fans out only within a bin, and per-bin candidates =
    sessions × bursts co-resident in that W-wide slice — time-local by
    construction, corpus-size-independent per bin. Hot bins (an incident
    storm) are salting candidates, same recipe as agg_salted_skew. This is
    the standard distributed interval-join schedule (GenomicsDB/ADAM use
    the identical binning; Flink's interval join keys its state stores the
    same way). Both interval relations come from per-key gaps-and-islands
    sessionization (one shuffle each, reusing session_windows_per_user's
    exact boundary semantics on the 6 h user gap and a 1 h per-type burst
    gap); bounds are floor-epoch BIGINTs, so the overlap arithmetic is
    integer-exact in both engines."""
    sessions, bursts = session_burst_intervals(load_table(spark, sf_dir, "events"))
    sb = explode_to_bins(sessions, "s_start", "s_end", "bin")
    bb = explode_to_bins(bursts, "b_start", "b_end", "bin")
    pairs = sb.join(bb, "bin").filter(intervals_overlap())
    return overlap_rows(pairs.dropDuplicates(OVERLAP_PAIR_KEY))


def session_burst_intervals(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The two interval relations of the overlap join, by gaps-and-islands:
    user sessions on the SESSION_GAP_S gap and per-type bursts on the
    BURST_GAP_S gap."""
    return overlap_intervals(
        interval_islands(events, "user_id", "session_no", SESSION_GAP_S),
        interval_islands(events, "event_type", "burst_no", BURST_GAP_S),
    )


def overlap_intervals(sessions: DataFrame, bursts: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Name the bounds of two (key, ordinal, i_start, i_end) island
    relations: (user_id, session_no, s_start, s_end) and (event_type,
    burst_no, b_start, b_end)."""
    return (
        sessions.select(
            "user_id",
            "session_no",
            F.col("i_start").alias("s_start"),
            F.col("i_end").alias("s_end"),
        ),
        bursts.select(
            "event_type",
            "burst_no",
            F.col("i_start").alias("b_start"),
            F.col("i_end").alias("b_end"),
        ),
    )


def intervals_overlap() -> Column:
    """The true overlap predicate of a (session, burst) candidate pair."""
    return (F.col("s_start") <= F.col("b_end")) & (F.col("b_start") <= F.col("s_end"))


def overlap_rows(pairs: DataFrame) -> DataFrame:
    """The output row of an overlapping (session, burst) pair."""
    return pairs.select(
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


# ---------------------------------------------------------------------------
# Mann-Kendall trend test on the daily grid (round 10)
# ---------------------------------------------------------------------------


@query(
    "ts_mann_kendall_trend",
    oracle="""
    WITH d AS (
      SELECT event_type,
             (CAST(floor(epoch(ts::TIMESTAMP)) AS BIGINT) // 86400) AS day,
             CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS v
      FROM events GROUP BY 1, 2
    ),
    p AS (
      SELECT a.event_type,
             SUM(CASE WHEN b.v > a.v THEN 1
                      WHEN b.v < a.v THEN -1 ELSE 0 END) AS s,
             COUNT(*) AS n_pairs
      FROM d a JOIN d b
        ON b.event_type = a.event_type AND b.day > a.day
      GROUP BY 1
    ),
    n AS (SELECT event_type, COUNT(*) AS n FROM d GROUP BY 1),
    t AS (
      SELECT event_type,
             SUM(c * (c - 1) * (2 * c + 5)) AS tie18
      FROM (SELECT event_type, v, COUNT(*) AS c FROM d GROUP BY 1, 2)
      GROUP BY 1
    )
    SELECT p.event_type,
           CAST(n.n AS BIGINT) AS n_days,
           CAST(p.n_pairs AS BIGINT) AS n_pairs,
           CAST(p.s AS BIGINT) AS s_stat,
           CAST((p.s * 1000000
                 - ((p.s * 1000000 % p.n_pairs + p.n_pairs) % p.n_pairs))
                // p.n_pairs AS BIGINT) AS tau_a_ppm,
           CAST(n.n * (n.n - 1) * (2 * n.n + 5) - t.tie18 AS BIGINT)
             AS var_s_x18
    FROM p JOIN n USING (event_type) JOIN t USING (event_type)
    """,
    tags=("extension", "temporal", "stats", "drift", "bench"),
)
def ts_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test per event type — the PAIRWISE-CONCORDANCE
    member completing the trend panel (Theil-Sen reports HOW STEEP the
    robust slope is, Spearman how consistently monotone the ranks are;
    Mann-Kendall's S = #concordant − #discordant pairs is the standard
    significance test for "is there ANY monotone trend", the one
    hydrology/quality-monitoring reaches for first — Mann 1945, Kendall
    1975). Reports S, Kendall's tau_a = S/C(n,2) on the ppm grid, and the
    EXACT 18-scaled variance 18·Var(S) = n(n−1)(2n+5) − Σ t(t−1)(2t+5)
    (tie-corrected), so a consumer's z-test needs no re-aggregation.

    Exactness: S is a sum of {−1, 0, +1} sign terms on exact cent sums —
    pure integers; tau_a is one sign-safe pmod floor division onto ppm
    (S is routinely negative); the variance polynomial is integer with
    the tie term folded from the (type, v) group sizes. All BIGINT-safe:
    |S| ≤ C(n,2), so S·10⁶ needs n past ~4e6 days to overflow — far
    beyond any calendar.

    Spark shape: the Theil-Sen schedule — events collapse to the per-type
    day grid ONCE (map-side-partial shuffle, localCheckpoint since three
    derivations read it), the sign sum rides the same O((span/day)²)
    per-type pair self-join as the Theil-Sen slopes (66k pair rows for a
    365-day year — effectively free at any corpus size), and the tie and
    n_days relations are grid-sized aggregates joined back on the
    |types|-row result."""
    return mann_kendall_from_grid(day_grid(load_table(spark, sf_dir, "events")))


def mann_kendall_from_grid(d: DataFrame) -> DataFrame:
    """S / tau_a / 18·Var(S) over a (event_type, day, v) grid — split from
    the query so the streaming twin's drained state rides the same
    epilogue. localCheckpoint: grid read three times (pair self-join ×2,
    ties, n_days), and a memory-sink drain cannot be self-joined without
    breaking lineage first (Catalyst conflicting-references)."""
    d = d.localCheckpoint(eager=True)
    a = d.select(
        F.col("event_type").alias("et"), F.col("day").alias("di"), F.col("v").alias("vi")
    )
    b = d.select(
        F.col("event_type").alias("et"), F.col("day").alias("dj"), F.col("v").alias("vj")
    )
    p = (
        a.join(b, ["et"])
        .filter(F.col("dj") > F.col("di"))
        .groupBy(F.col("et").alias("event_type"))
        .agg(
            F.sum(
                F.when(F.col("vj") > F.col("vi"), 1)
                .when(F.col("vj") < F.col("vi"), -1)
                .otherwise(0)
            ).alias("s"),
            F.count(F.lit(1)).alias("n_pairs"),
        )
    )
    ties = (
        d.groupBy("event_type", "v")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("c") * (F.col("c") - 1) * (2 * F.col("c") + 5)
            ).alias("tie18")
        )
    )
    nd = d.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return (
        p.join(nd, "event_type")
        .join(ties, "event_type")
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n_days"),
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            F.col("s").cast("bigint").alias("s_stat"),
            F.expr(
                "CAST((s * 1000000 - pmod(s * 1000000, n_pairs))"
                " div n_pairs AS BIGINT)"
            ).alias("tau_a_ppm"),
            F.expr(
                "CAST(n * (n - 1) * (2 * n + 5) - tie18 AS BIGINT)"
            ).alias("var_s_x18"),
        )
    )


# ---------------------------------------------------------------------------
# Autocorrelation function on the daily grid (round 9)
# ---------------------------------------------------------------------------

ACF_MAX_LAG = 3  # report lags 1..3 of the daily-revenue series per type

_ACF_NUM = "n*n*p{k} - n*s*(h{k} + t{k}) + (n - {k})*s*s"
# The Spark twin of the polynomial widens every product to DECIMAL(38,0)
# (one cast per product suffices — Spark promotes the other operand), and
# the q/p_k sums themselves are decimal-widened inside the fold (ADVICE
# r9 — the per-row product v·v_k alone nears 2⁶³). The oracle gets the
# same width for free: DuckDB's SUM(BIGINT) returns HUGEINT, so
# n/s/p/q/h/t are already int128 there.
_ACF_NUM_DEC = (
    "CAST(n AS DECIMAL(38,0))*n*p{k}"
    " - CAST(n AS DECIMAL(38,0))*s*(h{k} + t{k})"
    " + CAST(n - {k} AS DECIMAL(38,0))*s*s"
)
_ACF_DEN_DEC = (
    "CAST(n AS DECIMAL(38,0))"
    " * (CAST(n AS DECIMAL(38,0))*q - CAST(s AS DECIMAL(38,0))*s)"
)

_ACF_ORACLE = f"""
    WITH d AS (
      SELECT event_type,
             (CAST(floor(epoch(ts::TIMESTAMP)) AS BIGINT) // 86400) AS day,
             SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS v
      FROM events GROUP BY 1, 2
    ),
    l AS (
      SELECT event_type, v,
        LAG(v, 1) OVER w AS v1, LAG(v, 2) OVER w AS v2, LAG(v, 3) OVER w AS v3
      FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ),
    agg AS (
      SELECT event_type, COUNT(*) AS n, SUM(v) AS s, SUM(v * v) AS q,
        SUM(CASE WHEN v1 IS NOT NULL THEN v * v1 ELSE 0 END) AS p1,
        SUM(CASE WHEN v1 IS NOT NULL THEN v ELSE 0 END) AS t1,
        SUM(COALESCE(v1, 0)) AS h1,
        SUM(CASE WHEN v2 IS NOT NULL THEN v * v2 ELSE 0 END) AS p2,
        SUM(CASE WHEN v2 IS NOT NULL THEN v ELSE 0 END) AS t2,
        SUM(COALESCE(v2, 0)) AS h2,
        SUM(CASE WHEN v3 IS NOT NULL THEN v * v3 ELSE 0 END) AS p3,
        SUM(CASE WHEN v3 IS NOT NULL THEN v ELSE 0 END) AS t3,
        SUM(COALESCE(v3, 0)) AS h3
      FROM l GROUP BY 1
    ),
    u AS (
      SELECT event_type, n, CAST(1 AS BIGINT) AS lag,
             CAST({_ACF_NUM.format(k=1)} AS HUGEINT) AS num FROM agg
      UNION ALL
      SELECT event_type, n, 2, CAST({_ACF_NUM.format(k=2)} AS HUGEINT) FROM agg
      UNION ALL
      SELECT event_type, n, 3, CAST({_ACF_NUM.format(k=3)} AS HUGEINT) FROM agg
    ),
    f AS (
      SELECT u.event_type, u.lag, u.n, u.num,
             CAST(a.n * (a.n * a.q - a.s * a.s) AS HUGEINT) AS den
      FROM u JOIN agg a USING (event_type)
    )
    SELECT event_type, lag, CAST(n AS BIGINT) AS n_days,
      CAST((num * 1000000 - ((num * 1000000 % den + den) % den)) // den
           AS BIGINT) AS acf_ppm
    FROM f WHERE den > 0 AND n > lag
"""


@query(
    "ts_autocorrelation_lags",
    oracle=_ACF_ORACLE,
    tags=("extension", "temporal", "stats", "bench"),
)
def ts_autocorrelation_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of the per-type daily-revenue series at lags
    1..ACF_MAX_LAG — the seasonality/momentum panel a forecasting or
    anomaly pipeline checks before trusting day-over-day deltas (lag-1
    near +1 = strong momentum, near −1 = alternation; lag-7 would be the
    weekly-seasonality probe on a longer grid). Complements
    ts_seasonal_decompose_how (which ASSUMES a period) by MEASURING serial
    dependence.

    Exactness: with the series on the integer cent grid, the lag-k
    centered covariance scaled by n² is an integer polynomial in five
    sufficient sums — n²·Σx_t·x_{t−k} − n·S·(head+tail sums) + (n−k)·S² —
    and the variance·n² is n(nQ − S²); their ratio is the exact ACF, so
    one sign-safe floor division (the shared pmod trick — ACF is routinely
    negative) lands it on the ppm grid identically in both engines. The
    raw polynomial terms stay under 2⁶³ (day-grid n, cent-sum magnitudes
    ≈ 1e17 at sf0.1) but num·10⁶ does not — the final division alone
    rides DECIMAL(38,0)/HUGEINT.

    Spark shape: ONE shuffle to the (type, day) grid, lag columns via a
    type-partitioned window over grid rows (O(days) per type, never event
    rows), one aggregate to the 5-row sufficient-stat table, then a
    3-element inline explode — the Theil-Sen/KS day-grid stance: the
    statistic's cost is calendar-bounded, corpus-unbounded."""
    d = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr("unix_timestamp(ts) div 86400").alias("day"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cents").alias("v"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = d.select(
        "event_type",
        "v",
        *[F.lag("v", k).over(w).alias(f"v{k}") for k in (1, 2, 3)],
    )
    # The product sums q = Σv² and p_k = Σv·v_{t−k} widen to DECIMAL(38,0)
    # INSIDE the fold (ADVICE r9): a daily cent-sum v ≈ 1e9 at sf0.1 makes
    # each product ~1e18 — one max-magnitude day from wrapping a LONG sum
    # silently — while the oracle's SUM(BIGINT) auto-promotes to HUGEINT.
    # Widening at the aggregate matches the two engines' promotion points.
    # n, s, t_k, h_k stay LONG: linear-in-v increments leave wide headroom
    # and the epilogue widens them before any product.
    vd = F.col("v").cast("decimal(38,0)")
    dzero = F.lit(0).cast("decimal(38,0)")
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("s"),
        F.sum(vd * F.col("v")).alias("q"),
    ]
    for k in (1, 2, 3):
        vk = F.col(f"v{k}")
        aggs += [
            F.sum(F.when(vk.isNotNull(), vd * vk).otherwise(dzero)).alias(f"p{k}"),
            F.sum(F.when(vk.isNotNull(), F.col("v")).otherwise(0)).alias(f"t{k}"),
            F.sum(F.coalesce(vk, F.lit(0))).alias(f"h{k}"),
        ]
    agg = lagged.groupBy("event_type").agg(*aggs)
    u = agg.select(
        "event_type",
        "n",
        F.expr(_ACF_DEN_DEC).alias("den"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("bigint").alias("lag"),
                        F.expr(_ACF_NUM_DEC.format(k=k)).alias("num"),
                    )
                    for k in (1, 2, 3)
                ]
            )
        ).alias("kn"),
    ).select("event_type", "n", "den", F.col("kn.lag").alias("lag"), F.col("kn.num").alias("num"))
    return u.filter((F.col("den") > 0) & (F.col("n") > F.col("lag"))).select(
        "event_type",
        "lag",
        F.col("n").cast("bigint").alias("n_days"),
        F.expr(
            "CAST((num * 1000000 - pmod(num * 1000000, den)) div den AS BIGINT)"
        ).alias("acf_ppm"),
    )


# ---------------------------------------------------------------------------
# Spearman rank-correlation trend on the daily grid (round 9)
# ---------------------------------------------------------------------------

_SPEARMAN_ORACLE = """
    WITH d AS (
      SELECT event_type,
             (CAST(floor(epoch(ts::TIMESTAMP)) AS BIGINT) // 86400) AS day,
             SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS v
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT event_type,
        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rx,
        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v, day) AS ry
      FROM d
    ),
    s AS (
      SELECT event_type, COUNT(*) AS n, SUM((rx - ry) * (rx - ry)) AS d2
      FROM r GROUP BY 1
    ),
    -- den/num ride HUGEINT (mirroring the Spark side's DECIMAL(38,0)):
    -- n(n**2 - 1)*1e6 would overflow BIGINT past ~21000 days
    w AS (
      SELECT event_type, n, d2,
             CAST(n AS HUGEINT) * n * n - n AS den,
             (CAST(n AS HUGEINT) * n * n - n - 6 * CAST(d2 AS HUGEINT))
               * 1000000 AS num
      FROM s WHERE n > 1
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_days, CAST(d2 AS BIGINT) AS d2,
      CAST((num - ((num % den + den) % den)) // den AS BIGINT) AS rho_ppm
    FROM w
"""


@query(
    "ts_spearman_daily_trend",
    oracle=_SPEARMAN_ORACLE,
    tags=("extension", "temporal", "stats", "bench"),
)
def ts_spearman_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between calendar day and daily revenue per
    event type — the NONPARAMETRIC monotone-trend test next to Theil-Sen's
    robust slope (Theil-Sen answers "how steep", Spearman answers "how
    consistently monotone" on a −1..+1 scale immune to outliers and any
    monotone transform of the values). The classic pairing for trend
    audits on volatile per-source volume/quality series.

    Exactness: days are distinct within a type, so the day rank is a pure
    permutation; value ranks use the deterministic (v, day) total order
    (a documented tie-break — bit-identical in both engines, and exact
    cent-sum ties on a daily grid are measure-zero in practice), making
    Spearman's d² formula ρ = 1 − 6Σd²/(n(n²−1)) an exact integer
    rational; one sign-safe pmod floor division lands it on the ppm grid.
    n³·10⁶ passes 2⁶³ near 21 000 days, so the final division rides
    DECIMAL(38,0) on the Spark side and HUGEINT in the oracle (widened
    round 10 per VERDICT r9 — the ACF/Welch precedent; the >cap grid is
    pinned by ``test_spearman_division_survives_bigint_cap``). The Σd²
    fold itself also widens to DECIMAL(38,0) INSIDE the sum (ADVICE r10
    — the in-fold Welch/ACF stance; the oracle's SUM(BIGINT) already
    auto-promotes to HUGEINT), so rho_ppm stays exact to n ≈ 5·10¹⁰
    days; only the surfaced d2 DIAGNOSTIC column's BIGINT cast caps
    earlier (n ≈ 3·10⁶ days ≈ 8 000 years — both beyond any calendar).

    Spark shape: one shuffle to the (type, day) grid, two type-partitioned
    rank windows over grid rows, one aggregate — O(days·types) total state,
    corpus-size-independent (the Theil-Sen/ACF stance)."""
    return spearman_rho_from_grid(day_grid(load_table(spark, sf_dir, "events")))


def spearman_rho_from_grid(d: DataFrame) -> DataFrame:
    """Rank windows + d² aggregate + widened ppm division over a
    (event_type, day, v) grid relation — split from the query so the
    >2⁶³ grid-length test can drive the exact arithmetic directly.
    Every term of the final division is DECIMAL(38,0): n(n²−1) alone
    wraps a LONG near n = 2.1e6 and n(n²−1)·10⁶ near n = 21 000."""
    wx = Window.partitionBy("event_type").orderBy("day")
    wy = Window.partitionBy("event_type").orderBy("v", "day")
    r = d.select(
        "event_type",
        F.row_number().over(wx).alias("rx"),
        F.row_number().over(wy).alias("ry"),
    )
    s = r.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        # widen INSIDE the fold (ADVICE r10): a LONG Σ(rx−ry)² wraps
        # silently near n ≈ 3e6 under non-ANSI mode; DECIMAL(38,0)
        # overflows loudly (null) and matches the oracle's HUGEINT
        # auto-promotion of SUM(BIGINT)
        F.sum(
            F.expr("CAST(rx - ry AS DECIMAL(38,0)) * (rx - ry)")
        ).alias("d2"),
    )
    w = s.filter(F.col("n") > 1).select(
        "event_type",
        "n",
        "d2",
        F.expr("CAST(n AS DECIMAL(38,0)) * n * n - n").alias("den"),
    )
    w = w.select(
        "event_type",
        "n",
        "d2",
        "den",
        F.expr("(den - 6 * CAST(d2 AS DECIMAL(38,0))) * 1000000").alias("num"),
    )
    return w.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_days"),
        F.col("d2").cast("bigint").alias("d2"),
        F.expr("CAST((num - pmod(num, den)) div den AS BIGINT)").alias("rho_ppm"),
    )
