"""Distributed statistics operators: two-pass exact heavy hitters
(Misra-Gries candidates + exact recount), bounded-hop BFS over the
co-purchase graph (the recursive-traversal shape), and per-group OLS
regression from mergeable sufficient statistics.

These extend the reference's aggregation surface (SURVEY.md §2.4; the
reference's only aggregates are count/fold at KafkaStreamsApp.scala:125-148)
with the three classic "can't do it in one naive pass at 100 TB" shapes:

* frequency estimation over a vocabulary that dwarfs memory → sketch pass
  for candidates, exact pass for values (Misra-Gries is THE mergeable
  frequency summary: Agarwal et al., "Mergeable Summaries", PODS'12);
* graph traversal → hop-bounded frontier relaxation (Pregel shortest path);
* model fitting → map-side-combinable sufficient statistics, the pattern
  every distributed ML aggregation (linear models, covariance, Gram) uses.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_streams_playground_spark.functions import text as T
from kafka_streams_playground_spark.plans.northstar_pipeline import (
    TRI_MIN_SUPPORT,
    _support_edges,
)
from kafka_streams_playground_spark.plans.registry import query
from kafka_streams_playground_spark.sources.parquet import load_table

# ---------------------------------------------------------------------------
# Two-pass exact heavy hitters
# ---------------------------------------------------------------------------

# phi = 1/HH_K: report every bigram whose count strictly exceeds n/HH_K.
HH_K = 800
# Misra-Gries capacity. The two-pass guarantee needs MG_CAP + 1 >= HH_K:
# an item evicted from a partition's summary has partition-local count
# <= n_i/(MG_CAP+1) <= n_i/HH_K, and a global heavy hitter (cnt > n/HH_K)
# must exceed n_i/HH_K in at least one partition (pigeonhole over the
# partition counts), so the candidate union can never miss one.
MG_CAP = HH_K - 1


def mg_fold(batches: Iterator[pd.DataFrame], cap: int) -> dict[str, int]:
    """Weighted Misra-Gries fold over one partition's item stream.

    Each Arrow batch is first collapsed to exact (item, count) pairs
    (``value_counts`` — an error-free summary), then merged into the
    running summary with the Agarwal et al. merge: add counts, and when
    the summary exceeds ``cap`` items subtract the (cap+1)-th largest
    count from every item and drop the non-positives. State is O(cap)
    regardless of partition size; guarantee: an item whose true partition
    count exceeds n_i/(cap+1) always survives. Property-tested under
    adversarial skew and arbitrary batch splits in tests/test_properties.py."""
    state: dict[str, int] = {}
    for pdf in batches:
        for item, w in pdf["pair"].value_counts().items():
            state[item] = state.get(item, 0) + int(w)
        if len(state) > cap:
            cut = sorted(state.values(), reverse=True)[cap]
            state = {t: c - cut for t, c in state.items() if c > cut}
    return state


def _mg_candidates(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Candidate keys surviving the partition-local Misra-Gries summary —
    the exact counts come from the second pass."""
    yield pd.DataFrame(
        {"pair": pd.Series(list(mg_fold(batches, MG_CAP)), dtype="object")}
    )


@query(
    "agg_heavy_hitters_twopass",
    oracle=f"""
    WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
    p AS (
      SELECT unnest([toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))])
                 AS pair
      FROM t WHERE len(toks) >= 2
    ),
    tot AS (SELECT COUNT(*) AS n FROM p),
    c AS (SELECT pair, COUNT(*) AS cnt FROM p GROUP BY pair)
    SELECT pair, cnt FROM c, tot WHERE cnt * {HH_K} > n
    """,
    tags=("northstar", "stats", "sketch", "bench"),
)
def agg_heavy_hitters_twopass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT phi-heavy hitters (every bigram with count > n/{HH_K}) via the
    two-pass candidate-then-recount pattern — the standard way to get exact
    heavy hitters out of a corpus whose vocabulary dwarfs any single
    machine. Pass 1 folds a Misra-Gries summary per partition inside one
    ``mapInPandas`` task (state bounded at MG_CAP items — a mergeable
    summary, never the raw vocabulary); the union of per-partition
    survivors is a guaranteed superset of the true heavy hitters (see
    MG_CAP note above). Pass 2 broadcast-semi-joins the tiny candidate set
    against the bigram stream and recounts EXACTLY, then keeps counts
    above the global threshold — so the output is exact, not estimated,
    while no shuffle ever carries more than (partitions x MG_CAP)
    candidate rows + one count row per surviving bigram. The sketch's
    union-superset guarantee is property-tested under adversarial skew in
    tests/test_properties.py; this query oracle-checks the end-to-end
    exactness. Bigram build = tokenizer_bpe_pair_counts' codegen'd
    adjacent-pair recipe (one explode, no Python in the count path).
    The bigram stream is deliberately REBUILT per pass rather than
    persisted: unlike text_ngram_novelty's Arrow md5 pass (worth caching
    pre-explode), this build is pure whole-stage-codegen over the scan,
    and caching |corpus| exploded rows to save it is exactly the memory
    trade a 100 TB job must not make."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    toks = F.split("text", " ")
    pairs = (
        docs.filter(F.size(toks) >= 2)
        .select(F.explode(T.adjacent_pair_structs(toks)).alias("z"))
        .select(F.concat_ws(" ", F.col("z")["0"], F.col("z")["1"]).alias("pair"))
    )
    # Pass 1: O(MG_CAP) candidate summary per partition, map-side only.
    cand = pairs.mapInPandas(_mg_candidates, "pair string").distinct()
    # Pass 2: exact recount restricted to the broadcast candidate set.
    tot = pairs.agg(F.count(F.lit(1)).alias("n"))
    exact = (
        pairs.join(F.broadcast(cand), "pair", "left_semi")
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        exact.crossJoin(F.broadcast(tot))
        .filter(F.col("cnt") * HH_K > F.col("n"))
        .select("pair", "cnt")
    )


# ---------------------------------------------------------------------------
# Bounded-hop BFS over the support-thresholded co-purchase graph
# ---------------------------------------------------------------------------

BFS_HOPS = 3
BFS_SEED_BRAND = "Brand#4"


def relax_hops(dist: DataFrame, edges: DataFrame, k: int) -> DataFrame:
    """``k`` rounds of min-hop frontier relaxation: dist after round i holds
    MIN(path length <= i) per reachable node — exact BIGINT folds, order-
    free, bit-equal across partitionings. ``dist`` needs columns
    (node, hops); ``edges`` needs (s, t) and should already contain both
    directions."""
    for _ in range(k):
        # Alias-qualified join: after round 1, dist's `node` attribute IS
        # edges' `t` (relaxation lineage), so unqualified references would
        # trip Spark's ambiguous-self-join check.
        nxt = (
            dist.alias("d")
            .join(edges.alias("e"), F.col("d.node") == F.col("e.s"))
            .select(
                F.col("e.t").alias("node"),
                (F.col("d.hops") + F.lit(1)).alias("hops"),
            )
        )
        dist = dist.union(nxt).groupBy("node").agg(F.min("hops").alias("hops"))
    return dist


@query(
    "graph_bfs_hops",
    oracle=f"""
    WITH RECURSIVE e AS (
      SELECT a.l_partkey AS s, b.l_partkey AS t
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(DISTINCT a.l_orderkey) >= {TRI_MIN_SUPPORT}
    ),
    seeds AS (
      SELECT p_partkey AS node FROM part WHERE p_brand = '{BFS_SEED_BRAND}'
    ),
    r(node, hops) AS (
      SELECT node, CAST(0 AS BIGINT) FROM seeds
      UNION
      SELECT e.t, r.hops + 1 FROM r JOIN e ON e.s = r.node
      WHERE r.hops < {BFS_HOPS}
    )
    SELECT node AS part_id, MIN(hops) AS hops FROM r GROUP BY node
    """,
    tags=("northstar", "graph", "iterative", "bench"),
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-bounded BFS (single-source-set shortest path) over the
    support-thresholded co-purchase graph: minimum number of co-purchase
    hops from any {BFS_SEED_BRAND} part, capped at BFS_HOPS — the
    recursive-traversal query class (SQL's WITH RECURSIVE; the oracle IS
    a recursive CTE), re-expressed as Pregel-style frontier relaxation.

    Spark shape: the persisted ``_support_edges`` substrate (shared with
    triangle count / Jaccard — built once per session) is mirrored into
    both directions, then BFS_HOPS fixed relaxation rounds each run ONE
    node-keyed equi-join (distances x edges) + ONE min-aggregate with
    map-side partials — no driver loop over data, no recursion depth tied
    to data size, lineage bounded by the hop cap (the pagerank fixed-
    iteration stance; the open-ended CC loop next door localCheckpoints
    instead). Distances are exact BIGINTs — min-folds are order-free, so
    the result is bit-equal across engines and partition counts. At scale
    the standard Pregel refinement is joining only the changed frontier
    per round; the hop-bounded full relaxation keeps the plan static and
    is exact either way. Skew = max co-purchase degree, salted like
    agg_salted_skew if a node goes viral."""
    e = _support_edges(spark, sf_dir)
    edges = e.union(e.select(F.col("t").alias("s"), F.col("s").alias("t")))
    dist = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == BFS_SEED_BRAND)
        .select(
            F.col("p_partkey").alias("node"),
            F.lit(0).cast("long").alias("hops"),
        )
    )
    dist = relax_hops(dist, edges, BFS_HOPS)
    return dist.select(F.col("node").alias("part_id"), "hops")


# ---------------------------------------------------------------------------
# Per-group OLS from mergeable sufficient statistics
# ---------------------------------------------------------------------------


OLS_ORACLE = """
    WITH pts AS (
      SELECT n_name,
             CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS x,
             CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
    ),
    s AS (
      SELECT n_name, COUNT(*) AS n,
             SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy, SUM(x*x) AS sxx
      FROM pts GROUP BY n_name
    )
    SELECT n_name, n AS n_points,
           CAST(FLOOR(CAST(n*sxy - sx*sy AS DOUBLE)
                 / CAST(n*sxx - sx*sx AS DOUBLE) * 1000000 + 0.5)
                AS BIGINT) AS slope_e6,
           CAST(FLOOR(CAST(sy*sxx - sx*sxy AS DOUBLE)
                 / CAST(n*sxx - sx*sx AS DOUBLE) * 1000000 + 0.5)
                AS BIGINT) AS intercept_e6
    FROM s WHERE n*sxx - sx*sx <> 0
    """


def ols_sufficient_stats(pts: DataFrame) -> DataFrame:
    """The five map-side-combinable OLS sufficient statistics per group —
    exact DECIMAL(38,0) sums, so the fold is order-free and mergeable
    across partitions AND micro-batches (the property that makes the
    streaming twin's running aggregate bit-equal to the batch one).
    ``pts`` needs columns (n_name, x, y) with x/y already DECIMAL(38,0)."""
    return pts.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )


def ols_assemble(s: DataFrame) -> DataFrame:
    """Closed-form normal equations over the sufficient-statistics relation:
    O(groups) arithmetic, single float division on exact integers, snapped
    to the 1e-6 BIGINT grid (the score6 convention)."""
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope_num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    icpt_num = F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")
    return s.filter(den != 0).select(
        "n_name",
        F.col("n").cast("long").alias("n_points"),
        F.floor(slope_num.cast("double") / den.cast("double") * 1_000_000 + 0.5)
        .cast("long")
        .alias("slope_e6"),
        F.floor(icpt_num.cast("double") / den.cast("double") * 1_000_000 + 0.5)
        .cast("long")
        .alias("intercept_e6"),
    )


def ols_point_columns(li: DataFrame) -> DataFrame:
    """Project a lineitem relation (batch or stream) to the integer-grid
    regression coordinates (l_suppkey, x=quantity units, y=price cents)."""
    return li.select(
        "l_suppkey",
        F.floor(F.col("l_quantity") + 0.5).cast("decimal(38,0)").alias("x"),
        F.floor(F.col("l_extendedprice") * 100 + 0.5)
        .cast("decimal(38,0)")
        .alias("y"),
    )


@query(
    "stats_ols_qty_price_by_nation",
    oracle=OLS_ORACLE,
    tags=("extension", "stats", "agg", "bench"),
)
def stats_ols_qty_price_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation least-squares fit of line-item price (cents) against
    quantity — grouped model fitting as ONE mergeable aggregate. The five
    sufficient statistics (n, Sx, Sy, Sxy, Sxx) are map-side-combinable
    sums, so the whole regression is a single shuffle keyed on nation
    carrying one 5-tuple per (partition, nation); slope and intercept are
    then O(groups) closed-form arithmetic (normal equations). This is the
    distributed-ML aggregation pattern (the Gram/covariance machinery in
    embedding_covariance_matrix is its matrix-valued sibling).

    Exactness stance: x and y are integer-grid (units / cents), the sums
    accumulate in DECIMAL(38,0) (Spark) vs HUGEINT (DuckDB) — both exact,
    matching the q_market_share_promo_asia widening precedent — and the
    single float division happens on identical integers in both engines,
    snapped back to the repo's 1e-6 BIGINT grid (the score6 convention).
    Headroom: the largest cross-term n*Sxy at 100 TB
    (n~6e9 rows/nation, Sxy~6e17) is ~4e27 << 1e38 — DECIMAL(38,0) holds;
    the r^2 numerator would square that (1e55) and overflow, which is why
    the query reports slope/intercept only."""
    pts = ols_nation_points(spark, sf_dir, load_table(spark, sf_dir, "lineitem"))
    return ols_assemble(ols_sufficient_stats(pts))


def ols_nation_points(spark: SparkSession, sf_dir: str, lineitem: DataFrame) -> DataFrame:
    """Each (batch or streaming) lineitem's regression point with its
    supplier's nation attached by broadcast joins to the static dims."""
    li = ols_point_columns(lineitem)
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return li.join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"]).join(
        F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"]
    )


# ---------------------------------------------------------------------------
# Key-skew diagnostics
# ---------------------------------------------------------------------------

SKEW_KEYS = (
    ("orders.o_custkey", "orders", "o_custkey"),
    ("lineitem.l_partkey", "lineitem", "l_partkey"),
    ("lineitem.l_suppkey", "lineitem", "l_suppkey"),
    ("events.user_id", "events", "user_id"),
)
SKEW_TOPK = 10


def _skew_oracle() -> str:
    parts = []
    for label, table, col in SKEW_KEYS:
        parts.append(f"""
    SELECT '{label}' AS key_name, s.n_rows, s.n_keys, s.max_cnt, t.top10_cnt,
           CAST((CAST(t.top10_cnt AS HUGEINT) * 2000000 + s.n_rows)
                // (CAST(s.n_rows AS HUGEINT) * 2) AS BIGINT)
               AS top10_share_ppm,
           CAST((CAST(s.max_cnt AS HUGEINT) * s.n_keys * 2000000 + s.n_rows)
                // (CAST(s.n_rows AS HUGEINT) * 2) AS BIGINT)
               AS max_over_avg_ppm
    FROM (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows, COUNT(*) AS n_keys,
             MAX(cnt) AS max_cnt
      FROM (SELECT COUNT(*) AS cnt FROM {table} GROUP BY {col})
    ) s, (
      SELECT CAST(SUM(cnt) AS BIGINT) AS top10_cnt FROM (
        SELECT COUNT(*) AS cnt FROM {table} GROUP BY {col}
        ORDER BY cnt DESC LIMIT {SKEW_TOPK}
      )
    ) t""")
    return " UNION ALL ".join(parts)


def _skew_report_relation(spark: SparkSession, sf_dir: str):
    """Pre-materialization skew-report relation + its per-key count caches
    — split out so the plan-shape test can inspect the REAL plan (the
    query fn localCheckpoints the 4-row result to release the caches,
    which replaces the visible plan with a Scan ExistingRDD)."""
    out = None
    cached = []
    for label, table, col in SKEW_KEYS:
        c = (
            load_table(spark, sf_dir, table)
            .groupBy(col)
            .agg(F.count(F.lit(1)).alias("cnt"))
            .persist()
        )
        cached.append(c)
        stats = c.agg(
            F.sum("cnt").alias("n_rows"),
            F.count(F.lit(1)).alias("n_keys"),
            F.max("cnt").alias("max_cnt"),
        )
        top10 = (
            c.orderBy(F.col("cnt").desc())
            .limit(SKEW_TOPK)
            .agg(F.sum("cnt").alias("top10_cnt"))
        )
        # ppm on the exact DECIMAL(38,0) grid with explicit round-half-up:
        # floor(x + 1/2) for rational x = num/den is (2*num + den) div (2*den)
        # — int64 would wrap on num at web scale (the ADVICE-r5 ppm lesson).
        row = stats.crossJoin(F.broadcast(top10)).select(
            F.lit(label).alias("key_name"),
            "n_rows",
            "n_keys",
            "max_cnt",
            "top10_cnt",
            F.expr(
                "CAST((CAST(top10_cnt AS DECIMAL(38,0)) * 2000000 + n_rows)"
                " div (CAST(n_rows AS DECIMAL(38,0)) * 2) AS BIGINT)"
            ).alias("top10_share_ppm"),
            F.expr(
                "CAST((CAST(max_cnt AS DECIMAL(38,0)) * n_keys * 2000000"
                " + n_rows) div (CAST(n_rows AS DECIMAL(38,0)) * 2) AS BIGINT)"
            ).alias("max_over_avg_ppm"),
        )
        out = row if out is None else out.unionAll(row)
    return out, cached


@query(
    "diag_key_skew_report",
    oracle=_skew_oracle(),
    tags=("extension", "diagnostics", "agg", "bench"),
)
def diag_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/aggregation key-skew audit — the diagnostic a 100 TB pipeline
    runs BEFORE choosing a physical strategy (salt this key? broadcast
    that dim? AQE skew thresholds?): per candidate shuffle key, the row
    and key cardinalities, the hottest key's count, the top-10 keys' traffic
    share, and the max/avg hot-key ratio (both as exact integer ppm).

    Scale shape: one count aggregate per audited key (map-side partials —
    the same shuffle the real query would do, which is the honest way to
    measure it), PERSISTED and read twice: once by the O(1) stats fold and
    once by a TakeOrderedAndProject top-10 (per-partition heap top-K +
    K-row merge — never a global sort; the KMV/top-k pattern). The top-10
    SUM is tie-insensitive (any 10 rows with the largest counts carry the
    same count multiset), so the report is deterministic even though the
    tied key identities are not. Output is 4 rows however large the
    corpus; nothing driver-side."""
    out, cached = _skew_report_relation(spark, sf_dir)
    # 4-row report; materialize, then release the per-key count caches
    # (ADVICE r6: unbounded persist is reserved for session-shared
    # substrates, not per-query scratch)
    out = out.localCheckpoint(eager=True)
    for c in cached:
        c.unpersist()
    return out


# ---------------------------------------------------------------------------
# Data-layout pruning audit (Z-order vs linear clustering)
# ---------------------------------------------------------------------------

# Per-dimension Morton resolution for the audit grid (8 bits x 2 dims =
# 16-bit key); tile = key div 2^ZT_SHIFT -> 64 z-tiles, and the linear
# layout's 64 tiles come from the x-quantile alone (qx div 4).
ZB = 8
ZT_SHIFT = 10
LT_DIV = 4
# Predicate box: [10%, 20%] of each dimension's span — a selective 2-D
# range predicate, the case single-column clustering cannot serve.
P_LO_PCT, P_HI_PCT = 10, 20


def _morton_terms_sql(qx: str, qy: str, bits: int) -> str:
    terms = []
    for b in range(bits):
        terms.append(f"(({qx} // {1 << b}) % 2) * {1 << (2 * b)}")
        terms.append(f"(({qy} // {1 << b}) % 2) * {1 << (2 * b + 1)}")
    return " + ".join(terms)


def _zorder_audit_oracle() -> str:
    morton = _morton_terms_sql("qx", "qy", ZB)
    mx = (1 << ZB) - 1
    return f"""
WITH bounds AS (
  SELECT MIN(l_partkey) AS lox, MAX(l_partkey) AS hix,
         MIN(l_suppkey) AS loy, MAX(l_suppkey) AS hiy
  FROM lineitem
), pts AS (
  SELECT l_partkey AS x, l_suppkey AS y,
         ((l_partkey - lox) * {mx}) // GREATEST(hix - lox, 1) AS qx,
         ((l_suppkey - loy) * {mx}) // GREATEST(hiy - loy, 1) AS qy
  FROM lineitem, bounds
), keyed AS (
  SELECT x, y, ({morton}) // {1 << ZT_SHIFT} AS ztile, qx // {LT_DIV} AS ltile
  FROM pts
), pairs AS (
  SELECT 'zorder' AS layout, ztile AS tile, x, y FROM keyed
  UNION ALL
  SELECT 'linear' AS layout, ltile AS tile, x, y FROM keyed
), tiles AS (
  SELECT layout, tile,
         MIN(x) AS min_x, MAX(x) AS max_x,
         MIN(y) AS min_y, MAX(y) AS max_y,
         COUNT(*) AS n_rows
  FROM pairs GROUP BY layout, tile
), pred AS (
  SELECT lox + ((hix - lox) * {P_LO_PCT}) // 100 AS pxlo,
         lox + ((hix - lox) * {P_HI_PCT}) // 100 AS pxhi,
         loy + ((hiy - loy) * {P_LO_PCT}) // 100 AS pylo,
         loy + ((hiy - loy) * {P_HI_PCT}) // 100 AS pyhi
  FROM bounds
)
SELECT layout,
       COUNT(*) AS tiles_total,
       CAST(SUM(CASE WHEN max_x < pxlo OR min_x > pxhi
                       OR max_y < pylo OR min_y > pyhi
                THEN 0 ELSE 1 END) AS BIGINT) AS tiles_scanned,
       CAST(SUM(n_rows) AS BIGINT) AS rows_total,
       CAST(SUM(CASE WHEN max_x < pxlo OR min_x > pxhi
                       OR max_y < pylo OR min_y > pyhi
                THEN 0 ELSE n_rows END) AS BIGINT) AS rows_scanned,
       CAST((SUM(CASE WHEN max_x < pxlo OR min_x > pxhi
                        OR max_y < pylo OR min_y > pyhi
                 THEN 0 ELSE n_rows END) * 2000000 + SUM(n_rows))
            // (SUM(n_rows) * 2) AS BIGINT) AS scan_ppm
FROM tiles, pred
GROUP BY layout
"""


@query(
    "layout_zorder_pruning_audit",
    oracle=_zorder_audit_oracle(),
    tags=("extension", "layout", "diagnostics", "agg", "bench"),
)
def layout_zorder_pruning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantified data-skipping audit for the Z-order layout
    (`sources/sinks.py::write_zorder_table`): for a selective 2-D box
    predicate on (l_partkey, l_suppkey), how many file-tiles — and rows —
    would footer min/max pruning actually skip under Morton clustering vs
    single-column (linear) clustering? This is the manifest-building +
    pruning-estimate pass a lakehouse OPTIMIZE ZORDER decision runs before
    committing to the rewrite: 64 tiles per layout, per-tile bounding
    boxes, and the scan fraction in exact ppm.

    Exactness stance: everything is integer arithmetic — quantization is
    ((v - lo) * 255) div span (Spark `div` = truncation, DuckDB `//` =
    floor; identical on the non-negative domain), the Morton key is bit
    shifts/masks (codegen'd in Spark, div/mod terms in the oracle), and
    the ppm is the repo's round-half-up DECIMAL pattern. No doubles, so
    the cross-engine hash is exact.

    Scale shape: ONE fact scan; the per-row work (quantize + 16-term
    interleave + tile ids) is map-side codegen; both layouts ride a single
    shuffle — each row explodes into its two (layout, tile) pairs and ONE
    groupBy(layout, tile) with map-side partials reduces to <=128 tile
    rows; the column bounds and the predicate box are a 1-row broadcast
    cross join (the unigram-LM corpus-total pattern). At 100 TB the same
    aggregate runs per output file to build the skipping manifest, and the
    answer it measures here is the point of the layout: the z-tiles'
    bounding boxes overlap the box predicate on O(boundary) tiles, while
    linear tiles serve x but are unbounded in y."""
    mx = (1 << ZB) - 1
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("x"), F.col("l_suppkey").alias("y")
    )
    bounds = li.agg(
        F.min("x").alias("lox"),
        F.max("x").alias("hix"),
        F.min("y").alias("loy"),
        F.max("y").alias("hiy"),
    )
    pts = li.crossJoin(F.broadcast(bounds)).select(
        "x",
        "y",
        F.expr(f"((x - lox) * {mx}) div greatest(hix - lox, 1)").alias("qx"),
        F.expr(f"((y - loy) * {mx}) div greatest(hiy - loy, 1)").alias("qy"),
        F.expr(f"lox + ((hix - lox) * {P_LO_PCT}) div 100").alias("pxlo"),
        F.expr(f"lox + ((hix - lox) * {P_HI_PCT}) div 100").alias("pxhi"),
        F.expr(f"loy + ((hiy - loy) * {P_LO_PCT}) div 100").alias("pylo"),
        F.expr(f"loy + ((hiy - loy) * {P_HI_PCT}) div 100").alias("pyhi"),
    )
    z = F.lit(0).cast("long")
    for b in range(ZB):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(F.col("qx"), b).bitwiseAND(F.lit(1)), 2 * b)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(F.col("qy"), b).bitwiseAND(F.lit(1)), 2 * b + 1)
        )
    keyed = pts.withColumn("zkey", z).withColumn(
        "ztile", F.expr(f"zkey div {1 << ZT_SHIFT}")
    ).withColumn("ltile", F.expr(f"qx div {LT_DIV}"))
    pairs = keyed.select(
        F.explode(
            F.array(
                F.struct(F.lit("zorder").alias("layout"), F.col("ztile").alias("tile")),
                F.struct(F.lit("linear").alias("layout"), F.col("ltile").alias("tile")),
            )
        ).alias("lt"),
        "x",
        "y",
        "pxlo",
        "pxhi",
        "pylo",
        "pyhi",
    )
    tiles = pairs.groupBy(F.col("lt.layout").alias("layout"), F.col("lt.tile")).agg(
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
        F.min("y").alias("min_y"),
        F.max("y").alias("max_y"),
        F.count(F.lit(1)).alias("n_rows"),
        F.first("pxlo").alias("pxlo"),
        F.first("pxhi").alias("pxhi"),
        F.first("pylo").alias("pylo"),
        F.first("pyhi").alias("pyhi"),
    )
    scanned = F.when(
        (F.col("max_x") < F.col("pxlo"))
        | (F.col("min_x") > F.col("pxhi"))
        | (F.col("max_y") < F.col("pylo"))
        | (F.col("min_y") > F.col("pyhi")),
        F.lit(0),
    ).otherwise(F.lit(1))
    return (
        tiles.withColumn("scanned", scanned)
        .groupBy("layout")
        .agg(
            F.count(F.lit(1)).alias("tiles_total"),
            F.sum("scanned").alias("tiles_scanned"),
            F.sum("n_rows").alias("rows_total"),
            F.sum(F.col("scanned") * F.col("n_rows")).alias("rows_scanned"),
            F.expr(
                "CAST((CAST(SUM(scanned * n_rows) AS DECIMAL(38,0)) * 2000000"
                " + SUM(n_rows)) div (CAST(SUM(n_rows) AS DECIMAL(38,0)) * 2)"
                " AS BIGINT)"
            ).alias("scan_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Count-min sketch frequency estimation (round 7)
# ---------------------------------------------------------------------------

# Sketch geometry: D independent hash rows × W counters. W=64 against the
# fixtures' 150 distinct users forces real collisions, so the audit exercises
# the overestimate the sketch is defined by (est >= true, error bounded by
# n/W per row, min over rows tightens it — Cormode & Muthukrishnan 2005).
CM_DEPTH = 4
CM_WIDTH = 64
CM_TOP = 10


def _cm_bucket_sql(r: str, key: str) -> str:
    """DuckDB twin of the Spark md5-prefix bucket (the sample_hash_split
    recipe, namespaced by the row index so the D rows are independent)."""
    return (
        f"('0x' || substr(md5('cm' || CAST({r} AS VARCHAR) || ':' "
        f"|| CAST({key} AS VARCHAR)), 1, 8))::BIGINT % {CM_WIDTH}"
    )


@query(
    "stats_countmin_user_traffic",
    oracle=f"""
    WITH cnt AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id),
    rows_ AS (SELECT unnest(range(0, {CM_DEPTH})) AS r),
    buckets AS (
      SELECT user_id, r, {_cm_bucket_sql("r", "user_id")} AS b
      FROM cnt, rows_
    ),
    sketch AS (
      SELECT r, b, CAST(SUM(cnt) AS BIGINT) AS sc
      FROM cnt JOIN buckets USING (user_id) GROUP BY r, b
    ),
    est AS (
      SELECT bu.user_id, MIN(s.sc) AS est
      FROM buckets bu JOIN sketch s ON s.r = bu.r AND s.b = bu.b
      GROUP BY bu.user_id
    ),
    top AS (
      SELECT user_id, cnt FROM cnt ORDER BY cnt DESC, user_id LIMIT {CM_TOP}
    )
    SELECT t.user_id, t.cnt, e.est, e.est - t.cnt AS overcount
    FROM top t JOIN est e USING (user_id)
    """,
    tags=("northstar", "stats", "sketch", "bench"),
)
def stats_countmin_user_traffic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation, audited against exact counts:
    build a D×W counter sketch over per-user event traffic, read back the
    sketch estimate (min over the D hashed counters) for the true top-10
    users, and report the overestimate. Completes the mergeable-sketch
    family: KMV (distinct counts), Misra-Gries (candidate sets) — count-min
    is the FREQUENCY summary, the one that answers point queries over keys
    that dwarf memory.

    Spark shape: the sketch is a groupBy((r, bucket)) count with map-side
    partials — O(D·W) rows total however large the corpus, the definition
    of mergeable (counters add across partitions, shards, days). The D-fold
    key expansion happens map-side via posexplode of the D bucket values;
    the readback joins the D·W-row sketch BROADCAST; the true top-10 is
    TakeOrderedAndProject. Hashes are the md5-prefix recipe so the DuckDB
    oracle derives identical buckets. At 100 TB the sketch size is
    unchanged (that is the point); only W is retuned to bound n/W error."""
    cnt, buckets = countmin_user_cells(load_table(spark, sf_dir, "events"))
    sketch = buckets.groupBy("r", "b").agg(F.sum("cnt").alias("sc"))
    return countmin_readback(cnt, buckets, sketch)


def countmin_cells() -> Column:
    """A user's D sketch cells as a posexplode to (r, b): row r hashes
    ``cm<r>:<user_id>`` into one of CM_WIDTH buckets."""

    def bucket(r: int):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(f"cm{r}:"), F.col("user_id").cast("string")
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % CM_WIDTH
        )

    return F.posexplode(F.array(*[bucket(r) for r in range(CM_DEPTH)])).alias("r", "b")


def countmin_user_cells(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Exact per-user event counts and each user's (count, sketch cell) rows."""
    ev = events.select("user_id")
    cnt = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    return cnt, cnt.select("user_id", "cnt", countmin_cells())


def countmin_readback(cnt: DataFrame, buckets: DataFrame, sketch: DataFrame) -> DataFrame:
    """The top-CM_TOP users' exact counts against their min-over-rows
    sketch estimate."""
    est = (
        buckets.join(F.broadcast(sketch), ["r", "b"])
        .groupBy("user_id")
        .agg(F.min("sc").alias("est"))
    )
    top = cnt.orderBy(F.col("cnt").desc(), F.col("user_id").asc()).limit(CM_TOP)
    return F.broadcast(top).join(est, "user_id").select(
        "user_id", "cnt", "est", (F.col("est") - F.col("cnt")).alias("overcount")
    )


# ---------------------------------------------------------------------------
# Mergeable fixed-grid histogram quantiles (round 7)
# ---------------------------------------------------------------------------

# Unit-width value buckets (events.value spans ~[0, 500] in the fixtures).
# Quantile targets as exact ppm so rank arithmetic is pure integers.
HQ_TARGETS_PPM = (500000, 900000, 990000)
_HQ_TARGETS_SQL = ",".join(str(q) for q in HQ_TARGETS_PPM)


@query(
    "stats_histogram_quantiles",
    oracle=f"""
    WITH h AS (
      SELECT CAST(FLOOR(value) AS BIGINT) AS bucket, COUNT(*) AS cnt
      FROM events GROUP BY 1
    ),
    c AS (
      SELECT bucket, cnt,
             CAST(SUM(cnt) OVER (ORDER BY bucket) AS BIGINT) AS cum
      FROM h
    ),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM h),
    qs AS (SELECT unnest([{_HQ_TARGETS_SQL}]) AS q_ppm)
    SELECT q.q_ppm, tot.n_total,
           MIN(c.bucket) AS bucket_lo,
           MIN(c.bucket) + 1 AS bucket_hi
    FROM qs q CROSS JOIN tot JOIN c
      ON CAST(c.cum AS HUGEINT) * 1000000 >= CAST(q.q_ppm AS HUGEINT) * tot.n_total
    GROUP BY q.q_ppm, tot.n_total
    """,
    tags=("northstar", "stats", "sketch", "quantile", "bench"),
)
def stats_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles from a mergeable fixed-grid histogram — the scale path for
    percentiles: exact quantiles need a global sort (agg_price_percentiles
    is that exact twin); a production pipeline instead folds value counts
    into a bounded grid and reads quantiles off the cumulative histogram,
    with error bounded by the bucket width. Reports, per target quantile
    (ppm-exact rank arithmetic), the bracketing bucket [lo, hi).

    Spark shape: one groupBy(bucket) count with map-side partials → a
    grid-sized table (≤ value-range rows, O(config) — the cumulative
    window runs over THIS, never the corpus); the corpus total attaches by
    1-row broadcast crossJoin; the 3 quantile probes are a broadcast
    non-equi join against the grid. Counters are additive, so the same
    histogram merges across partitions, days, or streaming micro-batches;
    rank compares use DECIMAL(38,0) (cum·1e6 overflows int64 at 10^13
    rows). At 100 TB nothing changes but the counter values."""
    return histogram_quantiles(value_histogram(load_table(spark, sf_dir, "events")))


def value_histogram(events: DataFrame) -> DataFrame:
    """Unit-grid bucket counters of the event value — additive, so a
    streaming aggregate of them drains to the batch histogram."""
    ev = events.select(F.floor("value").cast("bigint").alias("bucket"))
    return ev.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))


def histogram_quantiles(h: DataFrame) -> DataFrame:
    """The HQ_TARGETS_PPM quantile probe on the (bucket, cnt) histogram."""
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # Unpartitioned window — bounded: runs over the value-grid rows (~500
    # here; O(grid), never O(N)), the documented O(config) window class.
    c = h.select("bucket", "cnt", F.sum("cnt").over(w).alias("cum"))
    tot = h.agg(F.sum("cnt").alias("n_total"))
    qs = h.sparkSession.createDataFrame(
        [(q,) for q in HQ_TARGETS_PPM], "q_ppm bigint"
    )
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


# ---------------------------------------------------------------------------
# Compaction bin-packing planner (round 7)
# ---------------------------------------------------------------------------

# Target compacted-file size. "Files" are modeled as lineitem ship-month
# slices (a real planner reads the table-format manifest; the month slice
# count is deterministic from the data, so both engines derive the same
# inventory). Estimated bytes = rows × 100 (fixed width stand-in).
COMPACT_TARGET_BYTES = 400_000
COMPACT_ROW_BYTES = 100


@query(
    "layout_compaction_bins",
    oracle=f"""
    WITH files AS (
      SELECT CAST(strftime(l_shipdate, '%Y-%m') AS VARCHAR) AS file_id,
             COUNT(*) * {COMPACT_ROW_BYTES} AS bytes
      FROM lineitem GROUP BY 1
    ),
    ordered AS (
      SELECT file_id, bytes,
             CAST(SUM(bytes) OVER (ORDER BY bytes DESC, file_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM files
    ),
    binned AS (
      SELECT file_id, bytes,
             CAST((cum - 1) // {COMPACT_TARGET_BYTES} AS BIGINT) AS bin_id
      FROM ordered
    )
    SELECT bin_id, COUNT(*) AS n_files, CAST(SUM(bytes) AS BIGINT) AS bin_bytes,
           MIN(file_id) AS first_file, MAX(file_id) AS last_file
    FROM binned GROUP BY bin_id
    """,
    tags=("northstar", "layout", "compaction", "bench"),
)
def layout_compaction_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner — the OPTIMIZE/bin-packing primitive of
    every table format (Delta OPTIMIZE, Iceberg rewrite_data_files): group
    the table's files into target-size compaction bins so each rewrite task
    outputs ~one optimal parquet file. Files are packed by cumulative-size
    slicing over the size-desc order (contiguous-fill packing: bin =
    (running_total−1) div target) — deterministic, one pass, and within one
    file of first-fit-decreasing's bin count, which is why manifest
    compactors use exactly this shape.

    Spark shape: the file inventory is a MANIFEST-sized relation (here one
    row per ship-month; a real planner reads the table-format metadata, 
    never the data), so the size-ordered cumulative window is O(|files|) —
    the bounded-metadata window class, same stance as the KMV/zorder
    audits. Plan output is one row per bin. At 100 TB the inventory is
    ~10⁵ files — still metadata-sized; the DATA never moves here (the
    rewrite itself is a separate repartition job this plan drives)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.date_format("l_shipdate", "yyyy-MM").alias("file_id")
    )
    files = li.groupBy("file_id").agg(
        (F.count(F.lit(1)) * COMPACT_ROW_BYTES).alias("bytes")
    )
    w = Window.orderBy(F.col("bytes").desc(), F.col("file_id").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # Unpartitioned window — bounded: |files| rows (manifest-sized, O(config))
    binned = files.select(
        "file_id",
        "bytes",
        (
            ((F.sum("bytes").over(w) - 1) / COMPACT_TARGET_BYTES)
            .cast("bigint")
        ).alias("bin_id"),
    )
    return binned.groupBy("bin_id").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("bytes").alias("bin_bytes"),
        F.min("file_id").alias("first_file"),
        F.max("file_id").alias("last_file"),
    )


# ---------------------------------------------------------------------------
# Dense global row numbering without a global single-partition sort
# ---------------------------------------------------------------------------

# Coarse range-bucket width over l_orderkey. Offsets table is
# |orderkey range| / IDS_BUCKET_W rows; pick W so that table stays
# O(sqrt(n))-ish at the tested scales. At 100 TB, W grows (or the offset
# pass recurses once) so BOTH the per-bucket partitions and the offsets
# table stay bounded — two levels already cover 10^12 rows at 10^6 each.
IDS_BUCKET_W = 64


@query(
    "ids_dense_global_rownum",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) AS rn
    FROM lineitem
    """,
    tags=("extension", "layout", "ids", "bench"),
)
def ids_dense_global_rownum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense, gap-free global row numbers in total (l_orderkey,
    l_linenumber) order — the sample-ID / shard-offset assignment every
    training-data export needs — WITHOUT the naive plan's fatal shape
    (``row_number() OVER (ORDER BY ...)`` with no partition key funnels
    the entire dataset through ONE task; the oracle can write that at
    sf0.01, a 100 TB engine cannot).

    Spark shape — the classic two-phase prefix-sum (TeraSort's histogram
    pass): (1) rows bucket by ``l_orderkey div W`` — monotone in the sort
    key, so bucket order IS global order; (2) ONE small aggregate counts
    rows per bucket, and a cumulative window over the O(n/W) offsets
    table (bounded: the one unpartitioned window, over bucket counts,
    never rows) yields each bucket's global starting offset; (3)
    ``row_number`` partitioned BY BUCKET (parallel across buckets) plus
    the broadcast offset gives the dense global id. Two shuffles total
    (bucket count agg + per-bucket sort), both key-partitioned; nothing
    single-task at data scale. Hash-bucketing CANNOT replace the range
    bucket here — the bucket must be an order-preserving range for the
    offsets to compose into a total order."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.expr(f"l_orderkey div {IDS_BUCKET_W}").alias("bkt"),
    )
    counts = li.groupBy("bkt").agg(F.count(F.lit(1)).alias("cnt"))
    # Offsets table is O(n / W) rows — the bounded unpartitioned window.
    woff = Window.orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = counts.select(
        "bkt", (F.sum("cnt").over(woff) - F.col("cnt")).alias("off")
    )
    wloc = Window.partitionBy("bkt").orderBy("l_orderkey", "l_linenumber")
    return li.join(F.broadcast(offsets), "bkt").select(
        "l_orderkey",
        "l_linenumber",
        (F.col("off") + F.row_number().over(wloc)).alias("rn"),
    )


# ---------------------------------------------------------------------------
# Poisson bootstrap confidence interval
# ---------------------------------------------------------------------------

BS_B = 40  # bootstrap replicas
# Poisson(1) inverse-CDF thresholds on the 2^32 grid: P(X<=k) * 2^32 for
# k = 0..6; a uniform 32-bit draw below threshold k maps to weight k
# (weights >= 7 are the residual branch, p ~ 8e-5).
BS_POIS_T = (
    1580030168,
    3160060337,
    3950075421,
    4213413783,
    4279248373,
    4292415291,
    4294609777,
)


def _bs_weight_sql(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(BS_POIS_T)
    )
    return f"CASE {cases} ELSE 7 END"


def _bootstrap_oracle() -> str:
    lo_idx = -(-25 * BS_B // 1000)  # ceil(0.025 * B)
    hi_idx = -(-975 * BS_B // 1000)  # ceil(0.975 * B)
    u = (
        "('0x' || substr(md5('bs:' || CAST(b AS VARCHAR) || ':' "
        "|| CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT"
    )
    return f"""
    WITH o AS (
      SELECT o_orderkey,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ),
    w AS (
      SELECT b, cents, {_bs_weight_sql(u)} AS wt
      FROM o CROSS JOIN generate_series(0, {BS_B - 1}) g(b)
    ),
    reps AS (
      SELECT b, CAST(SUM(wt * cents) // SUM(wt) AS BIGINT) AS mean_cents
      FROM w GROUP BY b HAVING SUM(wt) > 0
    ),
    ranked AS (
      SELECT mean_cents,
             ROW_NUMBER() OVER (ORDER BY mean_cents) AS rk,
             COUNT(*) OVER () AS nb
      FROM reps
    ),
    point AS (
      SELECT CAST(SUM(cents) // COUNT(*) AS BIGINT) AS mean_cents,
             COUNT(*) AS n_rows
      FROM o
    )
    SELECT point.mean_cents, point.n_rows,
           CAST({BS_B} AS BIGINT) AS n_replicas,
           (SELECT MIN(mean_cents) FROM ranked WHERE rk >= {lo_idx}) AS ci_lo_cents,
           (SELECT MIN(mean_cents) FROM ranked WHERE rk >= {hi_idx}) AS ci_hi_cents
    FROM point
    """


@query(
    "stats_bootstrap_ci_mean",
    oracle=_bootstrap_oracle(),
    tags=("extension", "stats", "bench"),
)
def stats_bootstrap_ci_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95 % confidence interval for the mean order value
    — THE bootstrap that works on distributed data (Chamandy et al.,
    "Estimating Uncertainty for Massive Data Streams", Google 2012; the
    classic multinomial resample needs n draws from one urn, which is a
    global operation, while Poisson(1) per-row weights are independent →
    embarrassingly parallel and mergeable). Each of the B=BS_B=40 replicas
    weights every row by a DETERMINISTIC Poisson(1) draw (md5(b‖orderkey)
    uniform through the exact inverse-CDF thresholds on the 2³² integer
    grid — replayable across engines, retries, and backfills), and the
    replica means' empirical 2.5/97.5 percentiles are the CI.

    Spark shape: one scan; rows explode ×B map-side (the shuffle carries
    only B×partitions partial (Σwc, Σw) pairs — never B copies of the
    data), ONE groupBy(b) with map-side partials, then all percentile
    work happens on the B-row replica table (the bounded unpartitioned
    window). Integer means (floor division on the cent grid) keep the
    cross-engine hash exact. At 100 TB: identical plan, B stays 40,
    shuffle volume is B × n_partitions × 16 bytes — the whole point of
    the Poisson formulation."""
    o = bootstrap_cents(load_table(spark, sf_dir, "orders"))
    # The fixtures are single-row-group parquet files, so the scan stage is
    # ONE task; hash-repartition the 16-byte projection (trivial shuffle)
    # before the ×B explode so the md5/conv/CASE work — the dominant cost —
    # runs wide. The partition count is EXPLICIT: the exchange output is
    # ~2 MB, and AQE would otherwise coalesce it back to one task — the
    # fan-out exists for the ×B compute AFTER the exchange, which AQE's
    # bytes-based advisory sizing cannot see. At 100 TB the scan has
    # thousands of splits and this exchange is a no-op-sized rebalance.
    n_par = int(spark.conf.get("spark.sql.shuffle.partitions"))
    w = bootstrap_weights(o.repartition(n_par, F.col("o_orderkey")))
    return bootstrap_ci(bootstrap_replica_sums(w), bootstrap_point(o))


def bootstrap_cents(orders: DataFrame) -> DataFrame:
    """(o_orderkey, cents): the resampled rows."""
    return orders.select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )


def bootstrap_weights(o: DataFrame) -> DataFrame:
    """Each row's deterministic Poisson(1) weight in each of the BS_B
    replicas: (b, cents, wt)."""
    u = (
        "cast(conv(substr(md5(concat('bs:', cast(b as string), ':', "
        "cast(o_orderkey as string))), 1, 8), 16, 10) as bigint)"
    )
    # materialize the uniform draw ONCE per exploded row before the CASE so
    # the plan never depends on codegen CSE-ing the md5+conv out of the
    # eight conditional branches
    return (
        o.select(
            "o_orderkey",
            "cents",
            F.explode(F.sequence(F.lit(0), F.lit(BS_B - 1))).alias("b"),
        )
        .select("b", "cents", F.expr(u).alias("u64"))
        .select("b", "cents", F.expr(_bs_weight_sql("u64")).alias("wt"))
    )


def bootstrap_replica_sums(w: DataFrame) -> DataFrame:
    """Per-replica (Σw·c, Σw) accumulators — additive, so a streaming
    aggregate of them drains to the batch replica table."""
    return w.groupBy("b").agg(
        F.sum(F.col("wt") * F.col("cents")).alias("swc"),
        F.sum("wt").alias("sw"),
    )


def bootstrap_point(o: DataFrame) -> DataFrame:
    """The point estimate (mean_cents, n_rows) over the unweighted rows."""
    return o.agg(
        F.expr("cast(sum(cents) div count(*) as bigint)").alias("mean_cents"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def bootstrap_ci(sums: DataFrame, point: DataFrame) -> DataFrame:
    """The percentile CI over the replica means, next to the point estimate."""
    reps = sums.filter(F.col("sw") > 0).select(
        F.expr("cast(swc div sw as bigint)").alias("mean_cents")
    )
    wrk = Window.orderBy("mean_cents")
    ranked = reps.select(
        "mean_cents", F.row_number().over(wrk).alias("rk")
    )
    lo_idx = -(-25 * BS_B // 1000)
    hi_idx = -(-975 * BS_B // 1000)
    # one pass over the B-row replica table for BOTH bounds — two separate
    # filter+agg branches would re-execute the ×B explode and groupBy twice
    ci = ranked.agg(
        F.min(
            F.when(F.col("rk") >= lo_idx, F.col("mean_cents"))
        ).alias("ci_lo_cents"),
        F.min(
            F.when(F.col("rk") >= hi_idx, F.col("mean_cents"))
        ).alias("ci_hi_cents"),
    )
    return (
        point.withColumn("n_replicas", F.lit(BS_B).cast("bigint"))
        .crossJoin(F.broadcast(ci))
    )



# ---------------------------------------------------------------------------
# Chi-square test of independence (contingency grid)
# ---------------------------------------------------------------------------


@query(
    "stats_chi2_nation_segment",
    oracle="""
    WITH o AS (
      SELECT c_nationkey AS nation, c_mktsegment AS segment, COUNT(*) AS obs
      FROM customer GROUP BY 1, 2
    ),
    r AS (SELECT nation, SUM(obs) AS rt FROM o GROUP BY 1),
    c AS (SELECT segment, SUM(obs) AS ct FROM o GROUP BY 1),
    n AS (SELECT SUM(obs) AS n FROM o),
    cells AS (
      SELECT r.nation, c.segment, COALESCE(o.obs, 0) AS obs, r.rt, c.ct, n.n
      FROM r CROSS JOIN c CROSS JOIN n
      LEFT JOIN o ON o.nation = r.nation AND o.segment = c.segment
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_rows,
           CAST((COUNT(DISTINCT nation) - 1) * (COUNT(DISTINCT segment) - 1)
                AS BIGINT) AS dof,
           CAST(SUM((obs * n - rt * ct) * (obs * n - rt * ct) * 1000000
                    // (n * rt * ct)) AS BIGINT) AS chi2_e6
    FROM cells
    """,
    tags=("extension", "stats", "bench"),
)
def stats_chi2_nation_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between customer nation and
    market segment — the categorical-association screen a feature
    pipeline runs before trusting a crossed feature (high chi² ⇒ the
    cross carries signal; chi² ≈ dof ⇒ drop it). Defined on an exact
    integer grid: each cell contributes ⌊(obs·n − rt·ct)²·10⁶ /
    (n·rt·ct)⌋ — the textbook (O−E)²/E with E = rt·ct/n cleared of
    division — so both engines fold identical int terms and the hash is
    exact. ZERO cells are materialized via the dimension cross join
    (absent combinations still contribute (0·n − rt·ct)²/E — dropping
    them is the classic chi² implementation bug).

    Spark shape: one groupBy over the fact rows to the contingency grid
    (map-side partials; grid = |nations|×|segments| — O(config)), then
    margins are two grid-sized aggregates, the zero-filled cell table is
    a broadcast cross join of the margins against the 1-row total, and
    the fold is a single pass over grid cells. Nothing after the first
    shuffle touches row-count-sized data; at 100 TB the statistic's cost
    IS the first aggregate. The squared products ride DECIMAL(38,0)
    (obs·n ≈ 10⁹·10⁹ squares past int64 at web scale; HUGEINT/decimal
    keeps both engines exact and aligned)."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nation"), F.col("c_mktsegment").alias("segment")
    )
    # contingency grid read by margins + cells; materialize once (O(config))
    o = (
        cust.groupBy("nation", "segment")
        .agg(F.count(F.lit(1)).alias("obs"))
        .localCheckpoint(eager=True)
    )
    r = o.groupBy("nation").agg(F.sum("obs").alias("rt"))
    c = o.groupBy("segment").agg(F.sum("obs").alias("ct"))
    n = o.agg(F.sum("obs").alias("n"))
    cells = (
        r.crossJoin(F.broadcast(c))
        .crossJoin(F.broadcast(n))
        .join(o, ["nation", "segment"], "left")
        .select(
            "nation",
            "segment",
            F.coalesce("obs", F.lit(0)).alias("obs"),
            "rt",
            "ct",
            "n",
        )
    )
    term = (
        "cast((cast(obs as decimal(38,0)) * n - cast(rt as decimal(38,0)) * ct)"
        " * (cast(obs as decimal(38,0)) * n - cast(rt as decimal(38,0)) * ct)"
        " * 1000000 div (cast(n as decimal(38,0)) * rt * ct) as bigint)"
    )
    return cells.agg(
        F.max("n").cast("bigint").alias("n_rows"),
        (
            (F.countDistinct("nation") - F.lit(1))
            * (F.countDistinct("segment") - F.lit(1))
        )
        .cast("bigint")
        .alias("dof"),
        F.sum(F.expr(term)).cast("bigint").alias("chi2_e6"),
    )


# ---------------------------------------------------------------------------
# Bloom-filter data-skipping audit (equality predicates)
# ---------------------------------------------------------------------------

BF_TILE_W = 64  # orderkey width per file tile (ingest-order layout)
BF_M = 4096  # bloom bits per tile
BF_PROBE_MOD = 97  # probe workload: every 97th part key


def _bf_bit_sql(j: int, key: str) -> str:
    return (
        f"('0x' || substr(md5('bf{j}:' || CAST({key} AS VARCHAR)), 1, 8))::BIGINT"
        f" % {BF_M}"
    )


@query(
    "layout_bloom_skipping_audit",
    oracle=f"""
    WITH rows_t AS (
      SELECT l_orderkey // {BF_TILE_W} AS tile, l_partkey AS key
      FROM lineitem
    ),
    bits AS (
      SELECT DISTINCT tile, bit FROM (
        SELECT tile, {_bf_bit_sql(0, 'key')} AS bit FROM rows_t
        UNION ALL
        SELECT tile, {_bf_bit_sql(1, 'key')} FROM rows_t
      )
    ),
    probes AS (
      SELECT p_partkey AS probe, {_bf_bit_sql(0, 'p_partkey')} AS h0,
             {_bf_bit_sql(1, 'p_partkey')} AS h1
      FROM part WHERE p_partkey % {BF_PROBE_MOD} = 0
    ),
    cand AS (
      SELECT p.probe, b0.tile
      FROM probes p
      JOIN bits b0 ON b0.bit = p.h0
      JOIN bits b1 ON b1.tile = b0.tile AND b1.bit = p.h1
    ),
    truth AS (
      SELECT DISTINCT p.probe, r.tile
      FROM probes p JOIN rows_t r ON r.key = p.probe
    ),
    nt AS (SELECT COUNT(DISTINCT tile) AS n_tiles FROM rows_t)
    SELECT p.probe, MAX(nt.n_tiles) AS n_tiles,
           COUNT(DISTINCT c.tile) AS n_candidates,
           COUNT(DISTINCT t.tile) AS n_true,
           COUNT(DISTINCT c.tile) - COUNT(DISTINCT t.tile) AS n_false_positive
    FROM probes p CROSS JOIN nt
    LEFT JOIN cand c ON c.probe = p.probe
    LEFT JOIN truth t ON t.probe = p.probe
    GROUP BY p.probe
    """,
    tags=("extension", "layout", "diagnostics", "bench"),
)
def layout_bloom_skipping_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter data-skipping audit — the EQUALITY-predicate
    complement of the Z-order min/max audit: per file tile (contiguous
    ingest-order orderkey ranges), a k=2 / m={m} bloom over the
    high-cardinality l_partkey column, probed with a point-lookup
    workload. Min/max footers cannot skip for scattered keys (every
    tile's partkey range spans the domain); the audit measures what the
    bloom buys: per probe key, candidate tiles (bloom hit) vs true tiles
    (actually contain the key) vs false positives — exactly the numbers
    that justify Parquet column bloom filters / Delta BLOOMFILTER
    indexes before paying their bytes. Bit positions are md5-exact
    integers, so the audit is reproducible cross-engine (a real deploy
    swaps xxhash64 in, same audit).

    Spark shape: the bits relation is metadata-sized (≤ tiles × m
    DISTINCT rows, collapsed by map-side partial dedup from the one
    corpus scan); the probe workload is request-sized and BROADCASTS
    into the two bit-membership joins (per-probe candidate resolution
    never shuffles fact rows); truth is one semi-join-shaped distinct.
    At 100 TB the bits relation IS the index file content — building it
    here is the index build, and the audit's FP column prices m."""
    n_par = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # one wide, materialized copy of the (tile, key) projection: it feeds
    # the bloom build, the truth join, and the tile count — and the
    # single-row-group fixture scan is otherwise a one-task stage for
    # every md5 pass (explicit count so AQE can't coalesce the tiny
    # exchange back to one partition; no-op-sized rebalance at scale)
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.expr(f"l_orderkey div {BF_TILE_W}").alias("tile"),
            F.col("l_partkey").alias("key"),
        )
        .repartition(n_par, F.col("key"))
        .persist()
    )

    def bit(j: int, col: str):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"bf{j}:"), F.col(col).cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % BF_M
        )

    # both hash functions in ONE pass over the corpus (a union of two
    # selects is two full md5 scans), deduped and materialized once so the
    # two membership-join sides below never rebuild the index
    bits = (
        li.select(
            "tile",
            F.explode(F.array(bit(0, "key"), bit(1, "key"))).alias("bit"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    probes = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % BF_PROBE_MOD == 0)
        .select(
            F.col("p_partkey").alias("probe"),
            bit(0, "p_partkey").alias("h0"),
            bit(1, "p_partkey").alias("h1"),
        )
    )
    b0 = bits.withColumnRenamed("bit", "bit0")
    b1 = bits.withColumnRenamed("bit", "bit1").withColumnRenamed("tile", "tile1")
    cand = (
        F.broadcast(probes)
        .join(b0, F.col("bit0") == F.col("h0"))
        .join(
            b1,
            (F.col("tile1") == F.col("tile")) & (F.col("bit1") == F.col("h1")),
        )
        .select("probe", "tile")
    )
    truth = (
        F.broadcast(probes.select("probe"))
        .join(li, F.col("key") == F.col("probe"))
        .select("probe", "tile")
        .distinct()
    )
    nt = li.agg(F.countDistinct("tile").alias("n_tiles"))
    result = (
        probes.select("probe")
        .crossJoin(F.broadcast(nt))
        .join(cand, "probe", "left")
        .join(
            truth.withColumnRenamed("tile", "ttile"),
            "probe",
            "left",
        )
        .groupBy("probe")
        .agg(
            F.max("n_tiles").alias("n_tiles"),
            F.countDistinct("tile").alias("n_candidates"),
            F.countDistinct("ttile").alias("n_true"),
            (F.countDistinct("tile") - F.countDistinct("ttile")).alias(
                "n_false_positive"
            ),
        )
    )
    # probe-workload-sized; materialize, then release the per-query caches
    # (the ADVICE r6 cache-pressure hygiene)
    result = result.localCheckpoint(eager=True)
    li.unpersist()
    return result


# ---------------------------------------------------------------------------
# Whole-table column profiler (HLL-register distinct counts per column)
# ---------------------------------------------------------------------------

# Profiled columns of the events table: (name, spark_expr, duckdb_expr),
# each expr yielding the CANONICAL STRING both engines hash identically
# (epochs and cents instead of raw timestamps/doubles — the repo-wide
# oracle stance). The last two are DERIVED cleaning columns with genuine
# nulls, so the null-rate column is exercised, not vacuous.
PROFILE_COLS: tuple[tuple[str, str, str], ...] = (
    ("event_id", "cast(event_id as string)", "event_id::VARCHAR"),
    (
        "ts",
        "cast(unix_timestamp(ts) as string)",
        "CAST(floor(epoch(ts)) AS BIGINT)::VARCHAR",
    ),
    ("user_id", "cast(user_id as string)", "user_id::VARCHAR"),
    ("event_type", "event_type", "event_type"),
    (
        "value",
        "cast(cast(floor(value * 100 + 0.5) as bigint) as string)",
        "CAST(FLOOR(value * 100 + 0.5) AS BIGINT)::VARCHAR",
    ),
    ("props", "props", "props"),
    (
        "k_prop",
        "get_json_object(props, '$.k')",
        "json_extract_string(props, '$.k')",
    ),
    (
        "clean_type",
        "nullif(event_type, 'error')",
        "NULLIF(event_type, 'error')",
    ),
)


def _table_profile_oracle() -> str:
    from kafka_streams_playground_spark.plans.relational import (
        HLL_ALPHA_M2_E6,
        HLL_M,
        HLL_WBITS,
    )

    pairs = "\n      UNION ALL ".join(
        f"SELECT '{name}' AS col_name, {duck} AS val FROM events"
        for name, _, duck in PROFILE_COLS
    )
    return f"""
    WITH pairs AS (
      {pairs}
    ),
    c AS (
      SELECT col_name, COUNT(*) AS n_rows,
             SUM(CASE WHEN val IS NULL THEN 1 ELSE 0 END) AS n_null,
             COUNT(DISTINCT val) AS exact_distinct
      FROM pairs GROUP BY 1
    ),
    h AS (
      SELECT col_name,
             (('0x' || substr(md5(val), 1, 8)))::BIGINT AS hv
      FROM pairs WHERE val IS NOT NULL
    ),
    rho AS (
      SELECT col_name, hv // {2**HLL_WBITS} AS reg,
             CASE WHEN hv % {2**HLL_WBITS} = 0 THEN {HLL_WBITS + 1}
                  ELSE {HLL_WBITS + 1} - length(bin(hv % {2**HLL_WBITS}))
             END AS rho
      FROM h
    ),
    pt AS (SELECT col_name, reg, MAX(rho) AS m FROM rho GROUP BY 1, 2),
    spine AS (
      SELECT s.col_name, gs.g AS reg
      FROM (SELECT DISTINCT col_name FROM pt) s,
           generate_series(0, {HLL_M - 1}) gs(g)
    ),
    dense AS (
      SELECT spine.col_name, spine.reg, COALESCE(pt.m, 0) AS m
      FROM spine LEFT JOIN pt
        ON pt.col_name = spine.col_name AND pt.reg = spine.reg
    ),
    mm AS (SELECT col_name, MAX(m) AS mmax FROM dense GROUP BY 1),
    est AS (
      SELECT d.col_name,
             CAST(({HLL_ALPHA_M2_E6} * (1::BIGINT << mm.mmax))
                  // (SUM(1::BIGINT << (mm.mmax - d.m)) * 1000000) AS BIGINT)
                 AS est_distinct
      FROM dense d JOIN mm ON d.col_name = mm.col_name
      GROUP BY d.col_name, mm.mmax
    )
    SELECT c.col_name, CAST(c.n_rows AS BIGINT) AS n_rows,
           CAST(c.n_null AS BIGINT) AS n_null,
           est.est_distinct,
           CAST(c.exact_distinct AS BIGINT) AS exact_distinct
    FROM c JOIN est ON c.col_name = est.col_name
    """


@query(
    "diag_table_profile",
    oracle=_table_profile_oracle(),
    tags=("northstar", "diag", "sketch", "bench"),
)
def diag_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-table column profiler — the first thing a 100 TB ingest runs
    on a new source: per column, row count, null count, and approximate
    distinct cardinality from the hand-rolled HLL registers
    (``agg_hll_merge_by_type``'s recipe applied per COLUMN instead of per
    group), demonstrating the sketch as a composable building block.
    Derived cleaning columns (JSON-extracted prop, NULLIF'd type) ride
    along so null rates are real, and ``exact_distinct`` is the
    self-report truth a production profile would drop.

    Spark shape: ONE scan; ``stack()`` pivots the row into (col_name,
    canonical-string) pairs map-side (no shuffle, no UDF — the canonical
    casts are the same integer-grid forms every oracle here uses), then
    two bounded aggregations: per-column counters, and per-(column,
    register) max-rho partials — the shuffled sketch state is exactly
    |cols| x 64 rows however wide the scan. The only caveat at 100 TB is
    ``exact_distinct`` (a real distinct per column); drop it and the
    whole profile is one pass with O(cols x 64) state — that IS the HLL
    pitch."""
    from kafka_streams_playground_spark.plans.relational import (
        HLL_ALPHA_M2_E6,
        HLL_M,
        HLL_WBITS,
    )

    n = len(PROFILE_COLS)
    stack_args = ", ".join(f"'{name}', {expr}" for name, expr, _ in PROFILE_COLS)
    pairs = load_table(spark, sf_dir, "events").selectExpr(
        f"stack({n}, {stack_args}) AS (col_name, val)"
    )
    counts = pairs.groupBy("col_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("val").isNull().cast("long")).alias("n_null"),
        F.countDistinct("val").alias("exact_distinct"),
    )
    hv = F.conv(F.substring(F.md5("val"), 1, 8), 16, 10).cast("long")
    w = F.col("hv") % (2**HLL_WBITS)
    rho = (
        pairs.filter(F.col("val").isNotNull())
        .select("col_name", hv.alias("hv"))
        .select(
            "col_name",
            (F.col("hv") / (2**HLL_WBITS)).cast("long").alias("reg"),
            F.when(w == 0, F.lit(HLL_WBITS + 1))
            .otherwise(F.lit(HLL_WBITS + 1) - F.length(F.conv(w, 10, 2)))
            .cast("long")
            .alias("rho"),
        )
    )
    pt = rho.groupBy("col_name", "reg").agg(F.max("rho").alias("m"))
    spine = (
        pt.select("col_name")
        .distinct()
        .crossJoin(spark.range(HLL_M).select(F.col("id").alias("reg")))
    )
    dense = spine.join(pt, ["col_name", "reg"], "left").select(
        "col_name", F.coalesce("m", F.lit(0)).alias("m")
    )
    wmax = Window.partitionBy("col_name")
    est = (
        dense.withColumn("mmax", F.max("m").over(wmax))
        .groupBy("col_name", "mmax")
        .agg(F.sum(F.expr("shiftleft(1L, cast(mmax - m AS INT))")).alias("s_scaled"))
        .select(
            "col_name",
            F.expr(
                f"CAST(({HLL_ALPHA_M2_E6} * shiftleft(1L, mmax))"
                " div (s_scaled * 1000000) AS BIGINT)"
            ).alias("est_distinct"),
        )
    )
    return counts.join(F.broadcast(est), "col_name").select(
        "col_name",
        "n_rows",
        "n_null",
        "est_distinct",
        F.col("exact_distinct").cast("long").alias("exact_distinct"),
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit
# ---------------------------------------------------------------------------

# floor(log10(1 + 1/d) * 1e6) for d = 1..9, baked so neither engine
# evaluates a float log at query time.
BENFORD_PPM = {
    1: 301029, 2: 176091, 3: 124938, 4: 96910, 5: 79181,
    6: 66946, 7: 57991, 8: 51152, 9: 45757,
}
_BENFORD_CASE = "CASE digit " + " ".join(
    f"WHEN {d} THEN {p}" for d, p in BENFORD_PPM.items()
) + " END"


@query(
    "stats_benford_first_digit",
    oracle=f"""
    WITH c AS (
      SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders WHERE o_totalprice > 0
    ),
    d AS (
      SELECT CAST(substr(cents::VARCHAR, 1, 1) AS BIGINT) AS digit,
             COUNT(*) AS n
      FROM c GROUP BY 1
    ),
    spine AS (SELECT g AS digit FROM generate_series(1, 9) gs(g)),
    t AS (SELECT SUM(n) AS total FROM d)
    SELECT spine.digit,
           CAST(COALESCE(d.n, 0) AS BIGINT) AS n_orders,
           CAST(COALESCE(d.n, 0) * 1000000 // t.total AS BIGINT) AS obs_ppm,
           CAST({_BENFORD_CASE.replace('digit', 'spine.digit')} AS BIGINT)
               AS exp_ppm,
           CAST(COALESCE(d.n, 0) * 1000000 // t.total
                - {_BENFORD_CASE.replace('digit', 'spine.digit')} AS BIGINT)
               AS dev_ppm
    FROM spine LEFT JOIN d ON d.digit = spine.digit, t
    """,
    tags=("northstar", "stats", "quality", "bench"),
)
def stats_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the classic
    forensic data-quality screen (fabricated, truncated, or
    unit-mismatched numeric feeds bend the leading-digit distribution
    long before summary stats move). Emits observed vs expected
    frequency per digit 1-9 on the exact ppm grid with the Benford
    expectations baked as integer constants (no float log at query
    time); the DEVIATION column is the audit signal — synthetic TPC-H
    totals are roughly range-uniform, so they deviate, and that showing
    up in dev_ppm is the point of the audit.

    Spark shape: first digit via one codegen'd substring on the cents
    string (exact — no float log10), a 9-group map-side-partial count,
    a broadcast total, and a broadcast 9-row digit spine so absent
    digits still report 0. One scan, one 9-group shuffle, O(9) state —
    at 100 TB this is as cheap as a count(*)."""
    orders = load_table(spark, sf_dir, "orders")
    return benford_from_counts(benford_digit_counts(orders))


def benford_digit_counts(orders: DataFrame) -> DataFrame:
    """Per-first-digit counters of positive order amounts in cents."""
    cents = orders.filter(F.col("o_totalprice") > 0).select(
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents")
    )
    return cents.select(
        F.substring(F.col("cents").cast("string"), 1, 1).cast("long").alias("digit")
    ).groupBy("digit").agg(F.count(F.lit(1)).alias("n"))


def benford_from_counts(d: DataFrame) -> DataFrame:
    """The ppm/expectation epilogue over the (digit, n) counters."""
    spine = d.sparkSession.range(1, 10).select(F.col("id").alias("digit"))
    t = d.agg(F.sum("n").alias("total"))
    return (
        spine.join(F.broadcast(d), "digit", "left")
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


# ---------------------------------------------------------------------------
# Markov-chain event-sequence anomaly score
# ---------------------------------------------------------------------------


@query(
    "stats_markov_sequence_score",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    tr AS (
      SELECT prev_type, event_type, COUNT(*) AS cnt
      FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
    ),
    lp AS (
      SELECT prev_type, event_type,
             CAST(FLOOR(ln(cnt * 1.0 / SUM(cnt) OVER (PARTITION BY prev_type))
                        * 1000000 + 0.5) AS BIGINT) AS lp_e6
      FROM tr
    )
    SELECT s.user_id,
           CAST(COUNT(*) AS BIGINT) AS n_trans,
           CAST(SUM(lp.lp_e6) AS BIGINT) AS sum_lp_e6,
           CAST(SUM(lp.lp_e6) // COUNT(*) AS BIGINT) AS avg_lp_e6
    FROM seq s JOIN lp
      ON s.prev_type = lp.prev_type AND s.event_type = lp.event_type
    WHERE s.prev_type IS NOT NULL
    GROUP BY s.user_id
    """,
    tags=("northstar", "stats", "quality", "bench"),
)
def stats_markov_sequence_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-SEQUENCE anomaly score under a first-order Markov
    chain fit on the whole stream — the sequence-level sibling of the
    value outlier detectors: bots and instrumentation bugs betray
    themselves by improbable TRANSITIONS (purchase→purchase loops,
    signup after purchase) long before any single event looks odd. Fit:
    global transition matrix P(cur|prev) from all adjacent pairs; score:
    each user's mean transition log-likelihood — the per-user average
    makes scores comparable across activity levels (the bigram-LM
    normalization, applied to behavior instead of text).

    Spark shape: one user-keyed sort window (full-precision ts +
    event_id tiebreak — the ADVICE r6 frame lesson) produces lagged
    pairs; the transition matrix is a |types|² aggregate with map-side
    partials, broadcast back onto the pair stream; per-user fold is one
    partial-agg shuffle on integer grid values (ln snapped to the 1e-6
    grid — the LP_GRID ulp dodge — so the order-free sum is bit-stable).
    At 100 TB the only corpus-scale shuffles are the user-keyed window
    and the per-user fold; the matrix state is O(types²)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    wseq = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(wseq).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    tr = seq.groupBy("prev_type", "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wprev = Window.partitionBy("prev_type")
    lp = tr.select(
        "prev_type",
        "event_type",
        F.floor(
            F.log(F.col("cnt") / F.sum("cnt").over(wprev)) * 1000000 + F.lit(0.5)
        )
        .cast("long")
        .alias("lp_e6"),
    )
    return (
        seq.join(F.broadcast(lp), ["prev_type", "event_type"])
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_trans"),
            F.sum("lp_e6").alias("sum_lp_e6"),
        )
        .select(
            "user_id",
            "n_trans",
            "sum_lp_e6",
            F.expr("CAST(sum_lp_e6 div n_trans AS BIGINT)").alias("avg_lp_e6"),
        )
    )


# ---------------------------------------------------------------------------
# Hierarchical HLL rollup: distinct users per hour -> day -> week from one
# register pass
# ---------------------------------------------------------------------------


def _hll_rollup_oracle() -> str:
    from kafka_streams_playground_spark.plans.relational import (
        HLL_ALPHA_M2_E6,
        HLL_M,
        HLL_WBITS,
    )

    return f"""
    WITH ev AS (
      SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hour_b,
             (('0x' || substr(md5(user_id::VARCHAR), 1, 8)))::BIGINT AS hv
      FROM events
    ),
    rho AS (
      SELECT hour_b, hv // {2**HLL_WBITS} AS reg,
             CASE WHEN hv % {2**HLL_WBITS} = 0 THEN {HLL_WBITS + 1}
                  ELSE {HLL_WBITS + 1} - length(bin(hv % {2**HLL_WBITS}))
             END AS rho
      FROM ev
    ),
    hourm AS (SELECT hour_b, reg, MAX(rho) AS m FROM rho GROUP BY 1, 2),
    daym AS (
      SELECT (hour_b * 3600) // 86400 AS day_b, reg, MAX(m) AS m
      FROM hourm GROUP BY 1, 2
    ),
    weekm AS (
      SELECT (day_b * 86400) // 604800 AS week_b, reg, MAX(m) AS m
      FROM daym GROUP BY 1, 2
    ),
    r AS (
      SELECT 'hour' AS grain, hour_b * 3600 AS bucket_epoch, reg, m FROM hourm
      UNION ALL
      SELECT 'day', day_b * 86400, reg, m FROM daym
      UNION ALL
      SELECT 'week', week_b * 604800, reg, m FROM weekm
    ),
    spine AS (
      SELECT s.grain, s.bucket_epoch, gs.g AS reg
      FROM (SELECT DISTINCT grain, bucket_epoch FROM r) s,
           generate_series(0, {HLL_M - 1}) gs(g)
    ),
    dense AS (
      SELECT spine.grain, spine.bucket_epoch, spine.reg, COALESCE(r.m, 0) AS m
      FROM spine LEFT JOIN r
        ON r.grain = spine.grain AND r.bucket_epoch = spine.bucket_epoch
           AND r.reg = spine.reg
    ),
    mm AS (
      SELECT grain, bucket_epoch, MAX(m) AS mmax FROM dense GROUP BY 1, 2
    ),
    est AS (
      SELECT d.grain, d.bucket_epoch,
             CAST(({HLL_ALPHA_M2_E6} * (1::BIGINT << mm.mmax))
                  // (SUM(1::BIGINT << (mm.mmax - d.m)) * 1000000) AS BIGINT)
                 AS est_distinct
      FROM dense d
      JOIN mm ON d.grain = mm.grain AND d.bucket_epoch = mm.bucket_epoch
      GROUP BY d.grain, d.bucket_epoch, mm.mmax
    ),
    ex AS (
      SELECT 'hour' AS grain,
             (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600 AS bucket_epoch,
             COUNT(DISTINCT user_id) AS exact_distinct
      FROM events GROUP BY 1, 2
      UNION ALL
      SELECT 'day', (CAST(floor(epoch(ts)) AS BIGINT) // 86400) * 86400,
             COUNT(DISTINCT user_id)
      FROM events GROUP BY 1, 2
      UNION ALL
      SELECT 'week', (CAST(floor(epoch(ts)) AS BIGINT) // 604800) * 604800,
             COUNT(DISTINCT user_id)
      FROM events GROUP BY 1, 2
    )
    SELECT est.grain, CAST(est.bucket_epoch AS BIGINT) AS bucket_epoch,
           est.est_distinct,
           CAST(ex.exact_distinct AS BIGINT) AS exact_distinct
    FROM est JOIN ex
      ON est.grain = ex.grain AND est.bucket_epoch = ex.bucket_epoch
    """


@query(
    "ts_rollup_distinct_hll",
    oracle=_hll_rollup_oracle(),
    tags=("northstar", "ts", "sketch", "bench"),
)
def ts_rollup_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per hour AND day AND week from ONE register pass —
    the continuous-aggregate pattern for cardinality (Druid / Timescale
    real-time rollups): exact COUNT(DISTINCT) cannot roll up (day ≠ sum
    or max of its hours), but HLL registers can — a day's registers are
    the element-wise MAX of its hours' registers, a week's the max of
    its days', so the raw stream is scanned exactly once at the finest
    grain and every coarser grain derives from the O(buckets x 64)
    register relation, never from raw data. This is the operator that
    lets a 100 TB events store serve distinct-user dashboards at every
    granularity for the cost of one ingest-time pass; its exactness
    contract (register cascade == direct per-grain build) is pinned in
    tests, and ``exact_distinct`` rides along as the self-report truth.

    Spark shape: one scan -> (hour, register, rho) -> hour-grain max
    partials (map-side combinable); the day and week registers are two
    further O(buckets x 64) aggregations of the PERSISTED hour relation
    (no rescan); dense spines, window-free integer estimates as in
    ``agg_hll_merge_by_type``. Truth columns (exact distincts a production
    rollup would drop): r14 ran THREE separate countDistinct aggregates —
    three more full scans of events (guide §2.4); r15 folds them into ONE
    scan + ONE aggregate via an explode over the three grain buckets (the
    multi-grain expand), keeping countDistinct's map-side partial dedup.
    (A cascaded distinct-pair variant — persist distinct (hour, user),
    derive day/week sets from it — was measured SLOWER at sf0.1: the
    cache write + unreduced pair shuffle cost more than the rescans it
    saved; reverted, numbers in OPTIMIZATION_r15.md.)"""
    from kafka_streams_playground_spark.plans.relational import (
        HLL_ALPHA_M2_E6,
        HLL_M,
        HLL_WBITS,
    )

    ev = load_table(spark, sf_dir, "events").select(
        F.expr("unix_timestamp(ts) div 3600").alias("hour_b"),
        "user_id",
    )
    hv = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    w = F.col("hv") % (2**HLL_WBITS)
    rho = ev.select("hour_b", hv.alias("hv")).select(
        "hour_b",
        (F.col("hv") / (2**HLL_WBITS)).cast("long").alias("reg"),
        F.when(w == 0, F.lit(HLL_WBITS + 1))
        .otherwise(F.lit(HLL_WBITS + 1) - F.length(F.conv(w, 10, 2)))
        .cast("long")
        .alias("rho"),
    )
    hourm = rho.groupBy("hour_b", "reg").agg(F.max("rho").alias("m")).persist()
    daym = (
        hourm.withColumn("day_b", F.expr("(hour_b * 3600) div 86400"))
        .groupBy("day_b", "reg")
        .agg(F.max("m").alias("m"))
    )
    weekm = (
        daym.withColumn("week_b", F.expr("(day_b * 86400) div 604800"))
        .groupBy("week_b", "reg")
        .agg(F.max("m").alias("m"))
    )
    r = (
        hourm.select(
            F.lit("hour").alias("grain"),
            (F.col("hour_b") * 3600).alias("bucket_epoch"),
            "reg",
            "m",
        )
        .unionByName(
            daym.select(
                F.lit("day").alias("grain"),
                (F.col("day_b") * 86400).alias("bucket_epoch"),
                "reg",
                "m",
            )
        )
        .unionByName(
            weekm.select(
                F.lit("week").alias("grain"),
                (F.col("week_b") * 604800).alias("bucket_epoch"),
                "reg",
                "m",
            )
        )
    )
    spine = (
        r.select("grain", "bucket_epoch")
        .distinct()
        .crossJoin(spark.range(HLL_M).select(F.col("id").alias("reg")))
    )
    dense = spine.join(r, ["grain", "bucket_epoch", "reg"], "left").select(
        "grain", "bucket_epoch", F.coalesce("m", F.lit(0)).alias("m")
    )
    wmax = Window.partitionBy("grain", "bucket_epoch")
    est = (
        dense.withColumn("mmax", F.max("m").over(wmax))
        .groupBy("grain", "bucket_epoch", "mmax")
        .agg(F.sum(F.expr("shiftleft(1L, cast(mmax - m AS INT))")).alias("s_scaled"))
        .select(
            "grain",
            "bucket_epoch",
            F.expr(
                f"CAST(({HLL_ALPHA_M2_E6} * shiftleft(1L, mmax))"
                " div (s_scaled * 1000000) AS BIGINT)"
            ).alias("est_distinct"),
        )
    )
    # Truth columns: one scan, one aggregate. Each event row explodes to
    # its three grain buckets; countDistinct keeps its map-side partial
    # dedup, so the shuffle carries deduped (grain, bucket, user) triples
    # — the same bytes the r14 form shuffled across three independent
    # aggregates, for a third of the scans.
    exact = (
        ev.select(
            "user_id",
            F.explode(
                F.array(
                    F.struct(
                        F.lit("hour").alias("grain"),
                        (F.col("hour_b") * 3600).alias("bucket_epoch"),
                    ),
                    F.struct(
                        F.lit("day").alias("grain"),
                        F.expr("((hour_b * 3600) div 86400) * 86400").alias(
                            "bucket_epoch"
                        ),
                    ),
                    F.struct(
                        F.lit("week").alias("grain"),
                        F.expr("((hour_b * 3600) div 604800) * 604800").alias(
                            "bucket_epoch"
                        ),
                    ),
                )
            ).alias("g"),
        )
        .select("g.grain", "g.bucket_epoch", "user_id")
        .groupBy("grain", "bucket_epoch")
        .agg(F.countDistinct("user_id").alias("exact_distinct"))
    )
    result = est.join(exact, ["grain", "bucket_epoch"]).select(
        "grain",
        F.col("bucket_epoch").cast("long").alias("bucket_epoch"),
        "est_distinct",
        F.col("exact_distinct").cast("long").alias("exact_distinct"),
    )
    result = result.localCheckpoint(eager=True)
    hourm.unpersist()
    return result


# ---------------------------------------------------------------------------
# Regression influence diagnostics (leverage / Cook-style influence)
# ---------------------------------------------------------------------------

# Top influence points reported per nation.
INFL_TOPK = 3

_INFL_ORACLE = f"""
    WITH pts AS (
      SELECT n_name, l_orderkey, l_linenumber,
             CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS x,
             CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
    ),
    s AS (
      SELECT n_name, COUNT(*) AS n,
             SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy, SUM(x*x) AS sxx
      FROM pts GROUP BY n_name
    ),
    fit AS (
      SELECT n_name, n, sx,
             n*sxx - sx*sx AS den,
             n*sxy - sx*sy AS slope_num,
             sy*sxx - sx*sxy AS icpt_num
      FROM s WHERE n*sxx - sx*sx <> 0
    ),
    diag AS (
      SELECT p.n_name, p.l_orderkey, p.l_linenumber,
             CAST(p.y*f.den - f.icpt_num - f.slope_num*p.x AS DOUBLE)
               / CAST(f.den AS DOUBLE) AS e,
             CAST(f.den + (f.n*p.x - f.sx)*(f.n*p.x - f.sx) AS DOUBLE)
               / CAST(f.n*f.den AS DOUBLE) AS h
      FROM pts p JOIN fit f ON p.n_name = f.n_name
      WHERE f.n*f.den <> f.den + (f.n*p.x - f.sx)*(f.n*p.x - f.sx)
    ),
    scored AS (
      SELECT n_name, l_orderkey, l_linenumber,
             CAST(FLOOR(e + 0.5) AS BIGINT) AS resid_cents,
             CAST(FLOOR(h * 1000000000 + 0.5) AS BIGINT) AS leverage_e9,
             CAST(FLOOR(e * e * h / ((1.0 - h) * (1.0 - h)) + 0.5) AS BIGINT)
               AS influence
      FROM diag
    )
    SELECT * FROM (
      SELECT n_name, l_orderkey, l_linenumber, resid_cents, leverage_e9,
             influence,
             ROW_NUMBER() OVER (PARTITION BY n_name
               ORDER BY influence DESC, l_orderkey, l_linenumber) AS rk
      FROM scored
    ) WHERE rk <= {INFL_TOPK}
"""


@query(
    "stats_ols_influence_outliers",
    oracle=_INFL_ORACLE,
    tags=("extension", "stats", "agg", "bench"),
)
def stats_ols_influence_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Influence diagnostics for the per-nation OLS fit: leverage h_i and a
    Cook-style influence score e_i^2 * h_i / (1-h_i)^2 per line item, top
    INFL_TOPK per nation — the data-valuation pass that surfaces the
    training points that pull a fitted model hardest (mislabeled or outlier
    examples rank first; the LLM-curation use is "audit the rows that
    dominate a quality-regression fit").

    Two passes, both single-shuffle: (1) the OLS sufficient statistics per
    nation (reusing ols_sufficient_stats' mergeable 5-tuple); (2) the
    25-row fit relation joins back to the points by BROADCAST — residual
    and leverage are closed-form per-row expressions in whole-stage
    codegen, no per-group subquery. Exactness: residual*den and the
    leverage numerator/denominator are exact DECIMAL(38,0)/HUGEINT
    integers; the final divisions cast the identical integers to double in
    both engines (the stats_ols_qty_price_by_nation stance), and ranking
    happens on the e9/e6-snapped BIGINTs with a total (influence, orderkey,
    linenumber) order. Headroom: the largest exact product y*den at sf0.1
    is ~1e19 << 1e38.

    Top-k per group is the two-phase schedule: a per-(nation,
    input-partition) partial top-INFL_TOPK window first (composite key, no
    25-key skew wall), then the global per-nation window over the <=
    partitions*25*K survivor rows — the same survivor-set trick as
    tokenizer_vocab_coverage, generalized per group."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.floor(F.col("l_quantity") + 0.5).cast("decimal(38,0)").alias("x"),
        F.floor(F.col("l_extendedprice") * 100 + 0.5)
        .cast("decimal(38,0)")
        .alias("y"),
    )
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    pts = li.join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"]).join(
        F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"]
    )
    s = pts.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    fit = s.filter(den != 0).select(
        "n_name",
        "n",
        "sx",
        den.alias("den"),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("slope_num"),
        (F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")).alias("icpt_num"),
    )
    d = pts.join(F.broadcast(fit), "n_name")
    lev_num = F.col("den") + (F.col("n") * F.col("x") - F.col("sx")) * (
        F.col("n") * F.col("x") - F.col("sx")
    )
    e = (
        F.col("y") * F.col("den") - F.col("icpt_num") - F.col("slope_num") * F.col("x")
    ).cast("double") / F.col("den").cast("double")
    h = lev_num.cast("double") / (F.col("n") * F.col("den")).cast("double")
    scored = (
        d.filter((F.col("n") * F.col("den")) != lev_num)
        .select(
            "n_name",
            "l_orderkey",
            "l_linenumber",
            e.alias("e"),
            h.alias("h"),
        )
        .select(
            "n_name",
            "l_orderkey",
            "l_linenumber",
            F.floor(F.col("e") + 0.5).cast("long").alias("resid_cents"),
            F.floor(F.col("h") * 1_000_000_000 + 0.5).cast("long").alias("leverage_e9"),
            F.floor(
                F.col("e") * F.col("e") * F.col("h")
                / ((F.lit(1.0) - F.col("h")) * (F.lit(1.0) - F.col("h")))
                + 0.5
            )
            .cast("long")
            .alias("influence"),
        )
    )
    order = [F.col("influence").desc(), F.col("l_orderkey"), F.col("l_linenumber")]
    partial = Window.partitionBy("n_name", "pid").orderBy(*order)
    survivors = (
        scored.withColumn("pid", F.spark_partition_id())
        .withColumn("prk", F.row_number().over(partial))
        .filter(F.col("prk") <= INFL_TOPK)
        .drop("pid", "prk")
    )
    final = Window.partitionBy("n_name").orderBy(*order)
    return (
        survivors.withColumn("rk", F.row_number().over(final))
        .filter(F.col("rk") <= INFL_TOPK)
    )


# ---------------------------------------------------------------------------
# Cross-source content-overlap matrix via KMV inclusion-exclusion
# ---------------------------------------------------------------------------

# Sketch size for the per-source shingle sketches. Matches the KMV family
# (plans/relational.py::KMV_K is the single-scope sibling); redeclared here
# to keep this module import-light — the value is pinned equal by
# tests/test_northstar.py::test_source_overlap_kmv_self_consistency.
SRC_KMV_K = 256


def _kmv_est(k_n, kth):
    """The shared KMV estimator expression: exact below K, (K-1)*2^32/kth
    above — bit-identical to agg_kmv_distinct_sketch's Spark and SQL forms."""
    return (
        F.when(k_n < SRC_KMV_K, k_n.cast("long"))
        .otherwise(F.floor((SRC_KMV_K - 1) * float(2**32) / kth).cast("long"))
    )


_SRC_KMV_EST_SQL = (
    f"CASE WHEN k_n < {SRC_KMV_K} THEN CAST(k_n AS BIGINT) "
    f"ELSE CAST(FLOOR(({SRC_KMV_K} - 1) * {2**32}.0 / kth) AS BIGINT) END"
)

_SRC_OVERLAP_ORACLE = f"""
    WITH {T.duck_shingles_cte()},
    hv AS (
      SELECT DISTINCT d.source AS src, h AS hv
      FROM sh JOIN documents d ON sh.doc_id = d.doc_id,
           unnest({T.duck_shingle_hashes()}) AS u(h)
    ),
    sks AS (
      SELECT src, hv FROM (
        SELECT src, hv,
               ROW_NUMBER() OVER (PARTITION BY src ORDER BY hv) AS rn
        FROM hv
      ) WHERE rn <= {SRC_KMV_K}
    ),
    per AS (
      SELECT src, {_SRC_KMV_EST_SQL} AS est FROM (
        SELECT src, COUNT(*) AS k_n, MAX(hv) AS kth FROM sks GROUP BY src
      )
    ),
    prs AS (
      SELECT a.src AS src_a, b.src AS src_b
      FROM per a JOIN per b ON a.src < b.src
    ),
    uni AS (
      SELECT p.src_a, p.src_b, s.hv
      FROM prs p JOIN sks s ON s.src = p.src_a OR s.src = p.src_b
      GROUP BY p.src_a, p.src_b, s.hv
    ),
    uest AS (
      SELECT src_a, src_b, {_SRC_KMV_EST_SQL} AS est_union FROM (
        SELECT src_a, src_b, COUNT(*) AS k_n, MAX(hv) AS kth FROM (
          SELECT src_a, src_b, hv,
                 ROW_NUMBER() OVER (PARTITION BY src_a, src_b ORDER BY hv) AS rn
          FROM uni
        ) WHERE rn <= {SRC_KMV_K}
        GROUP BY src_a, src_b
      )
    )
    SELECT u.src_a, u.src_b, ea.est AS est_a, eb.est AS est_b, u.est_union,
           GREATEST(0, ea.est + eb.est - u.est_union) AS est_intersect,
           CASE WHEN u.est_union > 0
                THEN (GREATEST(0, ea.est + eb.est - u.est_union) * 1000000)
                     // u.est_union
                ELSE 0 END AS jaccard_e6
    FROM uest u
    JOIN per ea ON u.src_a = ea.src
    JOIN per eb ON u.src_b = eb.src
"""


@query(
    "stats_source_overlap_kmv",
    oracle=_SRC_OVERLAP_ORACLE,
    tags=("extension", "stats", "sketch", "northstar", "bench"),
)
def stats_source_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise content-overlap matrix between document SOURCES from KMV
    sketches: per source, the bottom-K distinct 3-gram shingle hashes; per
    source pair, |A∩B| estimated by inclusion-exclusion est(A) + est(B) −
    est(A∪B), where the union sketch is the bottom-K of the two sketches'
    union (the textbook KMV union rule — closed under merge). This is the
    table a curation pass reads to decide which crawls/dumps double-count
    each other BEFORE paying for cross-source dedup.

    Scale shape — the whole point: raw text is touched ONCE (map-side
    shingle+hash inside the scan, one distinct on (source, 8-byte hash)),
    the per-source bottom-K is a source-partitioned rank window, and the
    entire pairwise stage runs on SKETCHES: |sources|^2/2 pairs × ≤2K
    sketch rows — O(config²), independent of corpus size. At 100 TB with
    10^4 sources the pair stage is still ~10^7 sketch-row copies; the
    corpus-sized work stays one scan + one ids-only shuffle. The estimator
    is the same md5/bottom-K arithmetic as agg_kmv_distinct_sketch, so the
    sketch AND the matrix are oracle-checked bit-for-bit (the intersection
    estimate inherits ~1/sqrt(K) relative error vs exact overlap —
    tolerance asserted in tests)."""
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    # One Arrow pass for shingle+hash (bit-identical to the Catalyst
    # shingle_hashes pipeline the streaming twin uses — hashlib md5 == JVM
    # md5 == DuckDB md5; the interpreted higher-order md5 is ~2× slower,
    # the dedup_minhash_lsh precedent).
    sh = F.pandas_udf(T.shingle_hash_fn(), "array<bigint>")
    hv = docs.select(
        F.col("source").alias("src"),
        F.explode(sh("text")).alias("hv"),
    )
    # Bottom-K DISTINCT values per source WITHOUT a corpus-scale distinct
    # exchange (r15, §2.3/§2.4): dense_rank ≤ K over the raw exploded
    # relation is trimmed MAP-SIDE by Spark's partial WindowGroupLimit
    # (only each partition's bottom-K values — plus their local
    # duplicates — ever reach the exchange), and the post-window distinct
    # dedups the K-value survivor set. The former distinct→row_number
    # form shuffled every distinct (src, hash) pair in the corpus first.
    # Bit-identical sketches (bottom-K of a set is partition-invariant).
    sk_w = Window.partitionBy("src").orderBy("hv")
    sks = (
        hv.withColumn("dr", F.dense_rank().over(sk_w))
        .filter(F.col("dr") <= SRC_KMV_K)
        .select("src", "hv")
        .distinct()
        .persist()
    )
    return source_overlap_from_sketches(sks)


def source_overlap_from_sketches(sks: DataFrame) -> DataFrame:
    """The pairwise inclusion-exclusion epilogue over a (src, hv) sketch
    relation (bottom-SRC_KMV_K per source, already truncated) — shared by
    the batch query above and the streaming twin, whose keyed state drains
    to exactly this relation."""
    per = (
        sks.groupBy("src")
        .agg(F.count(F.lit(1)).alias("k_n"), F.max("hv").alias("kth"))
        .select("src", _kmv_est(F.col("k_n"), F.col("kth")).alias("est"))
        .persist()
    )
    # |sources| is O(config) (a corpus has thousands of sources, not
    # billions) — the pair frame is a broadcast nested loop over two
    # |sources|-row relations, never corpus-scale.
    prs = (
        per.select(F.col("src").alias("src_a"))
        .join(F.broadcast(per.select(F.col("src").alias("src_b"))))
        .filter(F.col("src_a") < F.col("src_b"))
    )
    uni = (
        prs.join(sks.withColumnRenamed("src", "src_a"), "src_a")
        .select("src_a", "src_b", "hv")
        .unionByName(
            prs.join(sks.withColumnRenamed("src", "src_b"), "src_b")
            .select("src_a", "src_b", "hv")
        )
        .distinct()
    )
    u_w = Window.partitionBy("src_a", "src_b").orderBy("hv")
    uest = (
        uni.withColumn("rn", F.row_number().over(u_w))
        .filter(F.col("rn") <= SRC_KMV_K)
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("k_n"), F.max("hv").alias("kth"))
        .select("src_a", "src_b", _kmv_est(F.col("k_n"), F.col("kth")).alias("est_union"))
    )
    ea = per.select(F.col("src").alias("src_a"), F.col("est").alias("est_a"))
    eb = per.select(F.col("src").alias("src_b"), F.col("est").alias("est_b"))
    inter = F.greatest(F.lit(0).cast("long"), F.col("est_a") + F.col("est_b") - F.col("est_union"))
    return (
        uest.join(F.broadcast(ea), "src_a")
        .join(F.broadcast(eb), "src_b")
        .select(
            "src_a",
            "src_b",
            "est_a",
            "est_b",
            "est_union",
            inter.alias("est_intersect"),
            F.when(
                F.col("est_union") > 0,
                F.expr(
                    "CAST((GREATEST(CAST(0 AS BIGINT), est_a + est_b - est_union)"
                    " * 1000000) div est_union AS BIGINT)"
                ),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("jaccard_e6"),
        )
    )


# ---------------------------------------------------------------------------
# Gini concentration audit (Lorenz-curve inequality on the value grid)
# ---------------------------------------------------------------------------

_GINI_ORACLE = """
    WITH g AS (
      SELECT event_type,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c,
             COUNT(*) AS cnt
      FROM events
      WHERE value >= 0
      GROUP BY 1, 2
    ),
    w AS (
      SELECT event_type, c, cnt,
             COALESCE(SUM(cnt) OVER (PARTITION BY event_type ORDER BY c
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS cum_before
      FROM g
    ),
    s AS (
      SELECT event_type,
             CAST(SUM(cnt) AS BIGINT) AS n,
             CAST(SUM(c * cnt) AS BIGINT) AS total_cents,
             CAST(SUM(c * (cnt * cum_before + (cnt * (cnt + 1)) // 2))
                  AS BIGINT) AS s1
      FROM w GROUP BY 1
    )
    SELECT event_type, n, total_cents,
           CAST((2 * s1 - (n + 1) * total_cents) * 1000000
                // (n * total_cents) AS BIGINT) AS gini_ppm
    FROM s WHERE total_cents > 0
"""


@query(
    "stats_gini_value_concentration",
    oracle=_GINI_ORACLE,
    tags=("extension", "stats", "agg", "bench"),
)
def stats_gini_value_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration coefficient of event value per type — the
    Lorenz-curve inequality audit ("is this source's volume carried by a
    few whales?") a curation pass runs before trusting per-type averages;
    the same statistic audits token-count concentration across sources or
    shard-size balance before a training run.

    Exact O(grid) formulation — NEVER the O(n²) |x_i − x_j| double sum:
    collapse values to the integer cent grid with counts (one shuffle,
    map-side partials), then on the per-type sorted grid the rank-sum
    Σ i·x_(i) over INDIVIDUALS is recovered from grouped counts exactly:
    the cnt copies of value v occupy ranks cum_before+1 .. cum_before+cnt,
    so their contribution is v·(cnt·cum_before + cnt(cnt+1)/2) — all
    BIGINT (cnt(cnt+1) is even, the /2 is exact). G = (2·S1 − (n+1)·S)
    / (n·S) lands on the ppm grid by one integer floor division of exact
    integers in both engines. Negative values are excluded (Gini is
    defined over nonnegative mass; the filter is shared). The cumulative
    window runs PARTITIONED by event_type over the O(value grid) cents
    relation — the drift_ks/mannwhitney sibling shape. Headroom: n·S at
    100 TB ≈ 1e10 · 1e15 overflows BIGINT — widen the final division to
    DECIMAL(38,0)/HUGEINT per the OLS precedent when n·total_cents
    approaches 2^63 (at the fixture scales it is ~1e12)."""
    ev = (
        load_table(spark, sf_dir, "events")
        # Boundary rule shared with the oracle: filter the RAW value, not the
        # rounded cents — values in (-0.005, 0) round to c=0 and must be
        # excluded by both engines identically (ADVICE r8).
        .filter(F.col("value") >= 0)
        .select(
            "event_type",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("c"),
        )
    )
    g = (
        ev.groupBy("event_type", "c")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("event_type").orderBy("c").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wd = g.select(
        "event_type",
        "c",
        "cnt",
        F.coalesce(F.sum("cnt").over(w), F.lit(0)).alias("cum_before"),
    )
    s = wd.groupBy("event_type").agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum(F.col("c") * F.col("cnt")).cast("long").alias("total_cents"),
        F.sum(
            F.col("c")
            * (
                F.col("cnt") * F.col("cum_before")
                + F.expr("(cnt * (cnt + 1)) div 2")
            )
        )
        .cast("long")
        .alias("s1"),
    )
    return s.filter(F.col("total_cents") > 0).select(
        "event_type",
        "n",
        "total_cents",
        F.expr(
            "CAST((2 * s1 - (n + 1) * total_cents) * 1000000"
            " div (n * total_cents) AS BIGINT)"
        ).alias("gini_ppm"),
    )


# ---------------------------------------------------------------------------
# Simpson repeat-rate concentration of per-user traffic (round 10)
# ---------------------------------------------------------------------------


@query(
    "stats_simpson_user_concentration",
    oracle="""
    WITH c AS (
      SELECT event_type, user_id, COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type,
             CAST(SUM(c) AS BIGINT) AS n_events,
             COUNT(*) AS n_users,
             SUM(CAST(c AS HUGEINT) * (c - 1)) AS rep
      FROM c GROUP BY 1
    )
    SELECT event_type, n_events, CAST(n_users AS BIGINT) AS n_users,
      CAST(rep * 1000000
           // (CAST(n_events AS HUGEINT) * (n_events - 1)) AS BIGINT)
        AS simpson_ppm,
      CASE WHEN rep > 0
           THEN CAST(CAST(n_events AS HUGEINT) * (n_events - 1) * 1000000
                     // rep AS BIGINT)
           ELSE NULL END AS inv_simpson_e6
    FROM s WHERE n_events > 1
    """,
    tags=("northstar", "stats", "curation", "bench"),
)
def stats_simpson_user_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson repeat-rate index of per-user traffic within each event
    type — the COUNT-concentration audit next to Gini's VALUE
    concentration: λ = Σ c_u(c_u−1) / (N(N−1)) is the exact probability
    that two events of the type drawn without replacement come from the
    SAME user (Simpson 1949; the unbiased finite-sample form), and
    1/λ is the "effective user count" — the source-diversity number a
    curation pipeline gates on before trusting a type's volume (a type
    whose traffic is one bot has λ → 1 and effective sources → 1,
    however big N is; the same audit applied to document sources catches
    a single crawler dominating a corpus slice).

    Exactness: both the index and its inverse are ratios of integer
    products of exact counts — one non-negative floor division each onto
    the 1e-6 grid, identical in both engines. The repeat sum Σ c(c−1)
    widens to DECIMAL(38,0)/HUGEINT INSIDE the fold (a 1e10-event hot
    user contributes ~1e20, past 2⁶³ on its own — the Welch stance) and
    N(N−1)·10⁶ rides the same width. The inverse is NULL exactly when
    every user appeared once (rep = 0, diversity is maximal and the
    reciprocal undefined) — spelled identically in both engines.

    Spark shape: two aggregates — (type, user)-keyed counts with
    map-side partials (the only corpus-sized shuffle; the key includes
    user, so hot types spread across the grid), then a |types|-row
    rollup of the O(types·users) count relation. Counters are additive
    ⇒ the same sums merge across partitions, days, or streaming
    micro-batches. At 100 TB the cost IS the first aggregate."""
    c = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return simpson_from_counts(c)


def simpson_from_counts(c: DataFrame) -> DataFrame:
    """|types|-row rollup + index/inverse divisions over a
    (event_type, user_id, c) count relation — shared by the batch query
    and its accumulate-at-ingest streaming twin (a per-(type, user)
    counter is an associative keyed aggregate). Everything here runs on
    the O(types·users) count grid, never event rows."""
    s = c.groupBy("event_type").agg(
        F.sum("c").alias("n_events"),
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.col("c").cast("decimal(38,0)") * (F.col("c") - 1)).alias("rep"),
    )
    return s.filter(F.col("n_events") > 1).select(
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("n_users").cast("bigint").alias("n_users"),
        F.expr(
            "CAST(rep * 1000000"
            " div (CAST(n_events AS DECIMAL(38,0)) * (n_events - 1)) AS BIGINT)"
        ).alias("simpson_ppm"),
        F.expr(
            "CASE WHEN rep > 0"
            " THEN CAST(CAST(n_events AS DECIMAL(38,0)) * (n_events - 1) * 1000000"
            " div rep AS BIGINT) ELSE NULL END"
        ).alias("inv_simpson_e6"),
    )


# ---------------------------------------------------------------------------
# Welch's two-sample t-statistic (unequal variances) between halves
# ---------------------------------------------------------------------------

_WELCH_ORACLE = """
    WITH e AS (
      SELECT event_type, event_id % 2 AS half,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
      FROM events
    ),
    s AS (
      SELECT event_type,
        SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS n0,
        SUM(CASE WHEN half = 0 THEN c ELSE 0 END) AS s0,
        SUM(CASE WHEN half = 0 THEN c * c ELSE 0 END) AS q0,
        SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS n1,
        SUM(CASE WHEN half = 1 THEN c ELSE 0 END) AS s1,
        SUM(CASE WHEN half = 1 THEN c * c ELSE 0 END) AS q1
      FROM e GROUP BY 1
    )
    SELECT event_type,
      CAST(n0 AS BIGINT) AS n_a, CAST(n1 AS BIGINT) AS n_b,
      CAST((s0 * 1000000 - ((s0 * 1000000 % n0 + n0) % n0)) // n0 AS BIGINT)
          AS mean_a_ppm,
      CAST((s1 * 1000000 - ((s1 * 1000000 % n1 + n1) % n1)) // n1 AS BIGINT)
          AS mean_b_ppm,
      CAST(
        (CAST(s0 * n1 - s1 * n0 AS HUGEINT) * CAST(s0 * n1 - s1 * n0 AS HUGEINT)
          * CAST((n0 - 1) * (n1 - 1) AS HUGEINT) * 1000)
        // (CAST(n0 * q0 - s0 * s0 AS HUGEINT) * CAST(n1 * n1 * (n1 - 1) AS HUGEINT)
            + CAST(n1 * q1 - s1 * s1 AS HUGEINT) * CAST(n0 * n0 * (n0 - 1) AS HUGEINT))
        AS BIGINT) AS t2_milli
    FROM s
    -- A = n0q0 - s0^2 and B are >= 0 (Cauchy-Schwarz), D_i > 0 for n_i > 1,
    -- so the denominator is zero iff A + B = 0. DuckDB's SUM(BIGINT)
    -- already returns HUGEINT, so every product here is int128-exact.
    WHERE n0 > 1 AND n1 > 1
      AND (n0 * q0 - s0 * s0) + (n1 * q1 - s1 * s1) > 0
"""


def welch_sufficient_sums(e: DataFrame) -> DataFrame:
    """groupBy(event_type) → the six Welch sufficient sums — shared by the
    batch query and the streaming twin (where the same aggregate runs as
    keyed state with update-mode emission).

    The squared term widens to DECIMAL(38,0) INSIDE the aggregate: Σc²
    adds ~2.5e9 per max-cent row, so the LONG sum passes 2⁶³ near 4e9
    rows per (type, half) and Spark's non-ANSI sum would wrap SILENTLY,
    while the oracle's SUM(BIGINT) auto-promotes to HUGEINT — so the two
    engines would diverge exactly at the scale boundary (ADVICE r9).
    Widening inside the fold aligns Spark's promotion point with the
    oracle's. n and Σc stay LONG: their per-row increments (1, ≤5e4)
    leave ~1e14 rows of documented headroom, and the epilogue widens
    them before any product."""
    c2 = F.col("c").cast("decimal(38,0)") * F.col("c")
    zero = F.lit(0).cast("decimal(38,0)")
    return e.groupBy("event_type").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("half") == 0, F.col("c")).otherwise(0)).alias("s0"),
        F.sum(F.when(F.col("half") == 0, c2).otherwise(zero)).alias("q0"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("half") == 1, F.col("c")).otherwise(0)).alias("s1"),
        F.sum(F.when(F.col("half") == 1, c2).otherwise(zero)).alias("q1"),
    )


def welch_epilogue(s: DataFrame) -> DataFrame:
    """t²/mean arithmetic over the six-sufficient-sums relation — shared
    by the batch query and its accumulate-at-ingest streaming twin.

    Every product WIDENS to DECIMAL(38,0) before multiplying (one cast per
    product is enough — Spark promotes the other operand), mirroring the
    oracle where DuckDB's SUM(BIGINT)→HUGEINT promotion makes the same
    terms int128 automatically: n·q alone passes 2⁶³ near 1e6 rows per
    half × max cents, and Spark's non-ANSI LONG multiply would wrap
    SILENTLY — the one failure mode worse than overflowing loudly."""
    d = "CAST({} AS DECIMAL(38,0))"
    A = f"({d.format('n0')} * q0 - {d.format('s0')} * s0)"
    B = f"({d.format('n1')} * q1 - {d.format('s1')} * s1)"
    D0 = f"({d.format('n0')} * n0 * (n0 - 1))"
    D1 = f"({d.format('n1')} * n1 * (n1 - 1))"
    dn = f"({d.format('s0')} * n1 - {d.format('s1')} * n0)"
    # A, B >= 0 (Cauchy-Schwarz) and D_i > 0 for n_i > 1, so the
    # denominator vanishes iff A + B = 0 — a product-free guard.
    return (
        s.filter(F.expr(f"n0 > 1 AND n1 > 1 AND {A} + {B} > 0"))
        .select(
            "event_type",
            F.col("n0").cast("bigint").alias("n_a"),
            F.col("n1").cast("bigint").alias("n_b"),
            F.expr(
                f"CAST(({d.format('s0')} * 1000000"
                f" - pmod({d.format('s0')} * 1000000, n0)) div n0 AS BIGINT)"
            ).alias("mean_a_ppm"),
            F.expr(
                f"CAST(({d.format('s1')} * 1000000"
                f" - pmod({d.format('s1')} * 1000000, n1)) div n1 AS BIGINT)"
            ).alias("mean_b_ppm"),
            F.expr(
                f"CAST(({dn} * {dn} * CAST((n0 - 1) * (n1 - 1) AS DECIMAL(38,0))"
                f" * 1000) div ({A} * {D1} + {B} * {D0}) AS BIGINT)"
            ).alias("t2_milli"),
        )
    )


@query(
    "stats_welch_ttest_halves",
    oracle=_WELCH_ORACLE,
    tags=("extension", "stats", "drift", "bench"),
)
def stats_welch_ttest_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample t² between the event_id-parity
    halves, per event type — the MEAN-shift member completing the drift
    family (KS = full-distribution sup, Mann-Whitney = rank/stochastic
    dominance, PSI = binned mass; Welch asks the narrower, more sensitive
    question "did the average move?", robust to the halves having
    different variances — Welch 1947, the default two-sample t in every
    stats package).

    Exactness: on the cent grid the statistic is a ratio of integer
    polynomials in the six sufficient statistics (n, Σc, Σc² per half):
    t² = Δ²·(n₀−1)(n₁−1) / (A·D₁ + B·D₀) with Δ = s₀n₁ − s₁n₀,
    A = n₀q₀ − s₀², B = n₁q₁ − s₁², Dᵢ = nᵢ²(nᵢ−1) — the n₀²n₁²
    factor cancels against Δ²'s denominator, which is what keeps the
    HUGEINT/DECIMAL(38,0) products under 38 digits (~1e32 at sf0.1; the
    1e38 ceiling is reached only past ~1e6 rows per half × max cents —
    production re-centers c around a pivot first, shrinking Δ and A
    without changing t²). Numerator and denominator are exact integers in
    both engines; one DECIMAL floor division lands t² on the milli grid.

    Spark shape: ONE shuffle — six conditional map-side-partial sums per
    type; everything after is arithmetic on the 5-row result. The same
    mergeable-sufficient-statistic stance as the OLS family: the six
    sums are associative folds, so the statistic streams and unions for
    free."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.col("event_id") % 2).alias("half"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("c"),
    )
    return welch_epilogue(welch_sufficient_sums(e))
