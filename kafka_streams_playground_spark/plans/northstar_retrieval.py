"""Hybrid retrieval operators (north star, round 7): reciprocal-rank fusion
of the lexical (BM25) and semantic (dense cosine) retrieval legs, and
label-aware hard-negative mining for contrastive training data.

These are the ops a retrieval/training pipeline runs on top of the index
artifacts the scoring/similarity families already build: fusion is how every
production hybrid search combines its two rankings (Cormack et al. 2009,
reciprocal rank fusion), and hard-negative mining is how embedding models
get their contrastive batches (closest vectors with a DIFFERENT label).

Cross-engine conventions follow plans/registry.py: identical aliases, ranks
fused on an exact integer grid (floor(1e6/(k+rank)) — integer division, no
float fold), cosines rounded to 6 before any ordering so rank boundaries are
deterministic, absent ranks carried as 0 (not NULL) to dodge nullable-int
pandas coercion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_streams_playground_spark.plans import northstar_scoring  # noqa: F401  (registers text_bm25_topk before _rrf_oracle() reads it)
from kafka_streams_playground_spark.plans.northstar_similarity import (
    _dot_udf,
    _vectors,
)
from kafka_streams_playground_spark.plans.registry import REGISTRY, query
from kafka_streams_playground_spark.sources.parquet import load_table

# RRF (Cormack/Clarke/Buettcher 2009): score(d) = Σ_systems 1/(K + rank_d).
# K=60 is the paper's constant. Contributions ride as floor(1e6/(K+rank)) —
# exact integers, so the fusion fold is order-free and cross-engine exact.
RRF_K = 60
RRF_TOP = 20
SEM_QUERY_ID = 0  # vec_id 0 plays the dense query vector
SEM_N = 20  # semantic candidate-list depth (= BM25_TOP_K, the lexical depth)

HN_TOP_K = 10
HN_QUERIES = 5  # vec_id < 5 play the query set (sim_topk_bruteforce's set)


def _rrf_oracle() -> str:
    lex_sql = REGISTRY["text_bm25_topk"].oracle  # reuse the EXACT lexical leg
    return f"""
    WITH lex0 AS ({lex_sql}),
    lex AS (
      SELECT doc_id, row_number() OVER (ORDER BY score6 DESC, doc_id) AS lex_rank
      FROM lex0
    ),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
    q AS (SELECT v AS qv, nrm AS qn FROM n WHERE vec_id = {SEM_QUERY_ID}),
    sc AS (
      SELECT c.vec_id AS doc_id,
             ROUND(list_dot_product(q.qv, c.v) / (q.qn * c.nrm), 6) AS cosine
      FROM n c, q WHERE c.vec_id <> {SEM_QUERY_ID}
    ),
    sem0 AS (SELECT * FROM sc ORDER BY cosine DESC, doc_id LIMIT {SEM_N}),
    sem AS (
      SELECT doc_id, row_number() OVER (ORDER BY cosine DESC, doc_id) AS sem_rank
      FROM sem0
    ),
    fused AS (
      SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
             COALESCE(l.lex_rank, 0) AS lex_rank,
             COALESCE(s.sem_rank, 0) AS sem_rank
      FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
    )
    SELECT doc_id, lex_rank, sem_rank,
           CAST(CASE WHEN lex_rank > 0 THEN 1000000 // ({RRF_K} + lex_rank)
                     ELSE 0 END
              + CASE WHEN sem_rank > 0 THEN 1000000 // ({RRF_K} + sem_rank)
                     ELSE 0 END AS BIGINT) AS rrf6
    FROM fused
    ORDER BY rrf6 DESC, doc_id LIMIT {RRF_TOP}
    """


@query(
    "retrieval_rrf_fusion",
    oracle=_rrf_oracle(),
    tags=("northstar", "retrieval", "similarity", "bench"),
)
def retrieval_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal-rank fusion: the BM25 lexical top-k
    (``text_bm25_topk`` — reused verbatim, Spark fn AND oracle CTE) and the
    dense cosine top-k for a query embedding are fused by
    Σ 1/(60 + rank), the standard score-free combination that needs no
    calibration between the two systems' score scales. Absent ranks carry 0,
    contributions are exact floor(1e6/(60+rank)) integers, and the final
    order is (rrf6 desc, doc_id) — fully deterministic cross-engine.

    Spark shape: each leg ends in a TakeOrderedAndProject top-k (heap
    per partition, k-row merge — never a global sort of the corpus); the
    two k-row candidate lists are O(config), so the rank windows and the
    full-outer fusion join run on k+k rows regardless of corpus size. At
    100 TB the legs are index probes (inverted postings / IVF cells — both
    built elsewhere in this repo) and the fusion cost stays the k+k rows it
    is here; this is why RRF is THE hybrid combiner at scale."""
    lex0 = REGISTRY["text_bm25_topk"].fn(spark, sf_dir)  # top-k lexical leg

    n = _vectors(spark, sf_dir)
    qv = n.filter(F.col("vec_id") == SEM_QUERY_ID).select(
        F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    sc = cosine_scores(n.filter(F.col("vec_id") != SEM_QUERY_ID).crossJoin(F.broadcast(qv)))
    sem0 = sc.orderBy(F.col("cosine").desc(), F.col("doc_id").asc()).limit(SEM_N)
    return rrf_fuse(lex0, sem0)


def cosine_scores(pairs: DataFrame) -> DataFrame:
    """(doc_id, cosine): each (vec_id, v, nrm) row's cosine to the query
    vector (qv, qn) on its row, rounded to 6 places."""
    return pairs.select(
        F.col("vec_id").alias("doc_id"),
        F.round(
            _dot_udf(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm")), 6
        ).alias("cosine"),
    )


def rrf_fuse(lex0: DataFrame, sem0: DataFrame) -> DataFrame:
    """Reciprocal-rank fusion of the lexical top-k (doc_id, score6) and the
    dense top-k (doc_id, cosine) candidate lists: the RRF_TOP documents by
    Σ 1e6 // (RRF_K + rank)."""
    w_lex = Window.orderBy(F.col("score6").desc(), F.col("doc_id").asc())
    lex = lex0.select("doc_id", "score6").withColumn(
        "lex_rank", F.row_number().over(w_lex)
    )  # window over BM25_TOP_K rows — O(config), post-limit
    w_sem = Window.orderBy(F.col("cosine").desc(), F.col("doc_id").asc())
    sem = sem0.withColumn("sem_rank", F.row_number().over(w_sem))
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
    "sim_hard_negative_mining",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS negative_id, c.label AS neg_label,
             ROUND(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) AS cosine
      FROM n q JOIN n c ON q.vec_id < {HN_QUERIES} AND c.label <> q.label
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, negative_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, negative_id, neg_label, cosine, rank
    FROM ranked WHERE rank <= {HN_TOP_K}
    """,
    tags=("northstar", "retrieval", "similarity", "training", "bench"),
)
def sim_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query vector,
    the top-k most-similar vectors whose LABEL DIFFERS — the negatives that
    sit closest to the decision boundary, which is what makes contrastive
    batches informative (random negatives are trivially separable). The
    label inequality also subsumes self-exclusion.

    Spark shape: identical to ``sim_topk_bruteforce`` — the Q-row query set
    broadcasts, candidates never shuffle (each partition scores its
    residents via the Arrow-batched dot UDF), the label predicate prunes
    pair rows before ranking, and the per-query rank window is partitioned
    by query_id. At 100 TB the candidate scan is replaced by an
    over-fetched ANN probe (IVF top-(k·labels) then filter — the standard
    filtered-search recipe); the mining logic downstream of the score
    column is unchanged."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    n = _vectors(spark, sf_dir).join(emb, "vec_id")
    q = n.filter(F.col("vec_id") < HN_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    c = n.select(
        F.col("vec_id").alias("negative_id"),
        F.col("label").alias("neg_label"),
        "v",
        "nrm",
    )
    scored = c.join(F.broadcast(q), F.col("neg_label") != F.col("q_label")).select(
        "query_id",
        "negative_id",
        "neg_label",
        F.round(
            _dot_udf(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm")), 6
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("negative_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= HN_TOP_K)
        .select("query_id", "negative_id", "neg_label", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# MMR diversity re-ranking (round 7)
# ---------------------------------------------------------------------------

# Maximal Marginal Relevance (Carbonell & Goldstein 1998): greedily pick the
# candidate maximizing λ·rel − (1−λ)·max_sim_to_selected. λ=0.7 rides as the
# integer pair (7, 3) over 1e-6-grid cosines, so every MMR score is an exact
# BIGINT — no float fold, no cross-engine tie ambiguity (ties break by id).
MMR_POOL = 20  # candidate pool = dense top-20 for the query vector
MMR_K = 5  # picks (fixed, unrolled at plan-build time)
MMR_REL10 = 7  # λ·10
MMR_DIV10 = 3  # (1−λ)·10


def _mmr_oracle() -> str:
    steps = []
    prev = "sel1"
    for i in range(2, MMR_K + 1):
        steps.append(f"""
    p{i} AS (
      SELECT c.doc_id, {MMR_REL10} * c.rel6 - {MMR_DIV10} * MAX(m.sim6) AS mmr6
      FROM cand c
      JOIN sims m ON m.ca = c.doc_id
                 AND m.cb IN (SELECT doc_id FROM {prev})
      WHERE c.doc_id NOT IN (SELECT doc_id FROM {prev})
      GROUP BY c.doc_id, c.rel6
      ORDER BY mmr6 DESC, c.doc_id LIMIT 1
    ),
    sel{i} AS (
      SELECT * FROM {prev}
      UNION ALL SELECT doc_id, {i} AS pick_no FROM p{i}
    )""")
        prev = f"sel{i}"
    chain = ",".join(steps)
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
    q AS (SELECT v AS qv, nrm AS qn FROM n WHERE vec_id = {SEM_QUERY_ID}),
    cand AS (
      SELECT c.vec_id AS doc_id,
             CAST(FLOOR(list_dot_product(q.qv, c.v) / (q.qn * c.nrm)
                        * 1000000 + 0.5) AS BIGINT) AS rel6
      FROM n c, q WHERE c.vec_id <> {SEM_QUERY_ID}
      ORDER BY rel6 DESC, doc_id LIMIT {MMR_POOL}
    ),
    sims AS (
      SELECT a.doc_id AS ca, b.doc_id AS cb,
             CAST(FLOOR(list_dot_product(na.v, nb.v) / (na.nrm * nb.nrm)
                        * 1000000 + 0.5) AS BIGINT) AS sim6
      FROM cand a JOIN cand b ON a.doc_id <> b.doc_id
      JOIN n na ON na.vec_id = a.doc_id
      JOIN n nb ON nb.vec_id = b.doc_id
    ),
    sel1 AS (
      SELECT doc_id, 1 AS pick_no FROM cand ORDER BY rel6 DESC, doc_id LIMIT 1
    ),{chain}
    SELECT s.pick_no, s.doc_id, c.rel6
    FROM {prev} s JOIN cand c USING (doc_id)
    """


@query(
    "retrieval_mmr_rerank",
    oracle=_mmr_oracle(),
    tags=("northstar", "retrieval", "similarity", "bench"),
)
def retrieval_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance re-ranking: from the dense top-20 pool,
    greedily select 5 results maximizing 7·relevance − 3·max-similarity-to-
    already-selected (λ=0.7 on the exact integer grid) — the classic
    redundancy-suppressing rerank every RAG/search stack applies after
    first-stage retrieval, and the selection shape SemDeDup-style diverse
    sampling uses for training batches.

    Spark shape: the POOL is distributed work — a broadcast-query scored
    scan ending in TakeOrderedAndProject (top-20, never a global sort).
    The greedy selection is inherently sequential AND bounded (O(K·POOL²)
    integer ops on 20 rows), so it runs as ONE Arrow ``mapInPandas`` stage
    over the single post-limit partition — hand-scheduling K distributed
    jobs for 20 rows would cost ~20 exchanges of pure stage overhead (the
    first cut of this operator did exactly that and spent 6 s scheduling
    400 rows). Pairwise sims use the dimension-ordered sequential fold,
    bit-identical to DuckDB's list_dot_product; all MMR scores are exact
    BIGINTs. At 100 TB only the pool scan grows — the same index-probe
    scan every top-k here rides; the rerank stays a one-task epilogue."""
    n = _vectors(spark, sf_dir)
    qv = n.filter(F.col("vec_id") == SEM_QUERY_ID).select(
        F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    cand = (
        n.filter(F.col("vec_id") != SEM_QUERY_ID)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            "v",
            F.floor(
                _dot_udf(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))
                * 1000000
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("rel6"),
        )
        .orderBy(F.col("rel6").desc(), F.col("doc_id").asc())
        .limit(MMR_POOL)
        # the greedy below MUST see the whole pool in one task; global limit
        # already yields one partition — coalesce(1) pins that invariant
        .coalesce(1)
    )

    k, rel10, div10 = MMR_K, MMR_REL10, MMR_DIV10

    def mmr_batches(batches):
        import numpy as np
        import pandas as pd

        pdf = pd.concat(list(batches), ignore_index=True)  # bounded: MMR_POOL rows
        if pdf.empty:
            yield pd.DataFrame({"pick_no": [], "doc_id": [], "rel6": []})
            return
        ids = pdf["doc_id"].to_list()
        rel = dict(zip(ids, pdf["rel6"].to_list()))
        vecs = {i: np.asarray(v, dtype=np.float64) for i, v in zip(ids, pdf["v"])}

        def sim6(a, b):  # dim-ordered sequential fold == list_dot_product
            va, vb = vecs[a], vecs[b]
            dot = 0.0
            na = 0.0
            nb = 0.0
            for d in range(len(va)):
                dot += va[d] * vb[d]
                na += va[d] * va[d]
                nb += vb[d] * vb[d]
            import math

            return int(math.floor(dot / (math.sqrt(na) * math.sqrt(nb)) * 1000000 + 0.5))

        sel = [min(ids, key=lambda i: (-rel[i], i))]
        while len(sel) < k and len(sel) < len(ids):
            rest = [i for i in ids if i not in sel]
            best = min(
                rest,
                key=lambda i: (
                    -(rel10 * rel[i] - div10 * max(sim6(i, s) for s in sel)),
                    i,
                ),
            )
            sel.append(best)
        yield pd.DataFrame(
            {
                "pick_no": pd.Series(range(1, len(sel) + 1), dtype="int32"),
                "doc_id": pd.Series(sel, dtype="int64"),
                "rel6": pd.Series([rel[i] for i in sel], dtype="int64"),
            }
        )

    return cand.mapInPandas(mmr_batches, "pick_no int, doc_id bigint, rel6 bigint")
