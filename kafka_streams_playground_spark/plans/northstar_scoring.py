"""Model-informed curation operators (north star, round 4): the scoring
passes a large-scale LLM data pipeline runs once the heuristic gates are in
place — corpus-LM perplexity-style scoring (CCNet-style, with a unigram LM
standing in for the external KenLM), per-domain curation rollups (the
report a data team actually reads), and SemDeDup-style semantic pruning
over embeddings (cluster-then-prune).

Cross-engine conventions follow plans/registry.py: identical aliases, exact
integer folds before sums (order-free), ``FLOOR(x*10^k + 0.5)/10^k``
instead of bare ROUND where double summation order could differ, and every
DuckDB integer SUM wrapped in CAST(... AS BIGINT).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_streams_playground_spark.functions import text as T
from kafka_streams_playground_spark.plans.northstar_dedup import (
    MINHASH_PAIRS_CTES,
    minhash_verified_pairs,
)
from kafka_streams_playground_spark.plans.northstar_text import STOPWORDS
from kafka_streams_playground_spark.plans.registry import query
from kafka_streams_playground_spark.sources.parquet import load_table

# SemDeDup (Abbas et al. 2023) shape: K cluster centroids, prune a vector
# when a lower-id member of ITS cluster is more similar than the threshold.
# The cluster assignment IS the IVF coarse quantizer (northstar_similarity.
# _ivf_members — same fixed K=64 centroids, same rounded-argmax tiebreak,
# same persisted member index), so ANN search and semantic dedup share one
# index build, exactly as a production pipeline would. The threshold sits
# just under the fixtures' max pairwise cosine (~0.51 at sf0.01) so real
# pairs qualify — same stance as dedup_embedding_cosine.
SEMDEDUP_TH = 0.45

# Unigram-LM scoring: per-token log-probs are quantized to an integer
# 1e-6 grid BEFORE the per-document sum, so the fold is an exact integer
# sum (order-free across engines); ln() itself differs by ≤1 ulp between
# libm implementations, ~1e-9 on the 1e6 grid — far inside the 0.5
# rounding margin.
LP_GRID = 1_000_000


@query(
    "text_unigram_lm_score",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    v AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
    v2 AS (
      SELECT tok,
             CAST(FLOOR(ln(cnt * 1.0 / (SUM(cnt) OVER ())) * {LP_GRID} + 0.5)
                  AS BIGINT) AS lp6
      FROM v
    )
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(lp6) AS BIGINT) AS sum_lp6,
           FLOOR(CAST(SUM(lp6) AS BIGINT) * 1.0 / COUNT(*) / 100 + 0.5) / 10000
               AS avg_logprob
    FROM tok JOIN v2 USING (tok)
    GROUP BY doc_id
    """,
    tags=("northstar", "scoring", "text", "bench"),
)
def text_unigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring with a corpus-trained unigram model:
    two passes over the corpus — (1) train: token → count → log-prob table;
    (2) score: every document's mean token log-prob. Low-probability (junky,
    off-distribution) documents surface at the bottom, exactly how CCNet
    buckets Common Crawl by wikipedia-LM perplexity (a real pipeline swaps
    the unigram table for KenLM scores; the dataflow is identical).

    Scale shape: the model table is vocabulary-sized (≪ corpus — low
    single-digit GB even at web scale) so it BROADCASTS to the scoring join;
    the corpus side explodes to (doc_id, token) and re-aggregates with
    map-side partials — one shuffle on doc_id, one on token, none carrying
    text. The corpus token total is a partial-aggregated scalar attached
    by a 1-row broadcast cross join — NOT a `SUM OVER ()` window, which
    would move the full vocabulary (10⁸⁺ terms at web scale) onto one
    task (the round-6 sweep caught this as the last unbounded
    unpartitioned window; the q22 scalar-mean precedent). Log-probs ride
    as 1e-6-grid integers so the per-doc sum is order-free and
    cross-engine exact."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    v = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    tot = v.agg(F.sum("cnt").alias("tot"))
    v2 = v.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.floor(F.log(F.col("cnt") / F.col("tot")) * LP_GRID + F.lit(0.5))
        .cast("bigint")
        .alias("lp6"),
    )
    agg = tok.join(F.broadcast(v2), "tok").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"), F.sum("lp6").alias("sum_lp6")
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "sum_lp6",
        (F.floor(F.col("sum_lp6") / F.col("n_tokens") / 100 + F.lit(0.5)) / 10000).alias(
            "avg_logprob"
        ),
    )


_STOP_SQL = "'the','a','of','and','to','in'"


@query(
    "domain_quality_stats",
    oracle=f"""
    WITH {MINHASH_PAIRS_CTES},
    dupset AS (SELECT DISTINCT doc_b AS doc_id FROM verified),
    feat AS (
      SELECT d.doc_id, d.source, len(t.toks) AS n_tokens,
             CAST(FLOOR((0.5 * (len(list_distinct(t.toks)) * 1.0 / len(t.toks))
                   + 0.3 * (len([x for x in t.toks
                                 if list_contains([{_STOP_SQL}], x)])
                            * 1.0 / len(t.toks))
                   + 0.2 * LEAST(len(t.toks) / 256.0, 1.0)) * 10000 + 0.5)
                  AS BIGINT) AS qi
      FROM documents d JOIN tok t USING (doc_id)
    )
    SELECT f.source,
           COUNT(*) AS n_docs,
           CAST(SUM(f.n_tokens) AS BIGINT) AS n_tokens,
           FLOOR(CAST(SUM(f.qi) AS BIGINT) * 1.0 / COUNT(*) + 0.5) / 10000
               AS avg_quality,
           COUNT(ds.doc_id) AS n_near_dup,
           FLOOR(COUNT(ds.doc_id) * 10000.0 / COUNT(*) + 0.5) / 10000
               AS near_dup_frac
    FROM feat f LEFT JOIN dupset ds USING (doc_id)
    GROUP BY f.source
    """,
    tags=("northstar", "scoring", "curation", "bench"),
)
def domain_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain curation rollup: for every ``source`` (the domain/crawl-
    host analogue), document and token counts, mean heuristic quality, and
    the near-duplicate rate — the dashboard table that decides which domains
    get up-/down-weighted or dropped before training (every production
    curation run publishes exactly this report).

    Composition: quality is ``text_quality_score``'s formula (identical
    literals) quantized to an integer 1e-4 grid per doc so the per-domain
    mean is an exact-integer fold; the dup set is the shared
    ``minhash_verified_pairs`` edge list (doc_b side = the copies a dedup
    pass would drop). Scale shape: one narrow feature projection (map-side);
    the dup set is bounded only by near-dup density — a fraction of the
    corpus that grows linearly with data — so it carries NO broadcast hint
    (a hint has no fallback and would OOM at scale, VERDICT r14 item 1):
    AQE broadcasts it from measured runtime stats when genuinely small and
    keeps the doc_id co-shuffle otherwise; and the final rollup
    aggregates to |domains| rows with map-side partials — nothing carries
    text past the first projection."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    toks = F.split("text", " ")
    stop_arr = F.array(*[F.lit(s) for s in ("the", "a", "of", "and", "to", "in")])
    ttr = F.size(F.array_distinct(toks)) / F.size(toks)
    stop_ratio = F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x))) / F.size(
        toks
    )
    qi = F.floor(
        (
            0.5 * ttr
            + 0.3 * stop_ratio
            + 0.2 * F.least(F.size(toks) / 256.0, F.lit(1.0))
        )
        * 10000
        + F.lit(0.5)
    ).cast("bigint")
    feat = docs.select(
        "doc_id", "source", F.size(toks).cast("bigint").alias("n_tokens"), qi.alias("qi")
    )
    dupset = (
        minhash_verified_pairs(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    j = feat.join(dupset, "doc_id", "left")
    return j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        (F.floor(F.sum("qi") / F.count(F.lit(1)) + F.lit(0.5)) / 10000).alias(
            "avg_quality"
        ),
        F.count("is_dup").alias("n_near_dup"),
        (F.floor(F.count("is_dup") * 10000.0 / F.count(F.lit(1)) + F.lit(0.5)) / 10000).alias(
            "near_dup_frac"
        ),
    )


def _semdedup_oracle() -> str:
    from kafka_streams_playground_spark.plans.northstar_similarity import (
        _IVF_INDEX_CTES,
    )

    return f"""{_IVF_INDEX_CTES},
    pruned AS (
      SELECT b.vec_id AS vec_b,
             MAX(list_dot_product(a.v, b.v) / (a.nrm * b.nrm)) AS mx
      FROM members a JOIN members b
        ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
      WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= {SEMDEDUP_TH}
      GROUP BY b.vec_id
    )
    SELECT m.vec_id, m.cent_id AS cluster,
           CAST(p.vec_b IS NOT NULL AS INT) AS pruned,
           ROUND(p.mx, 4) AS max_dup_cosine
    FROM members m LEFT JOIN pruned p ON m.vec_id = p.vec_b
    """


@query(
    "semdedup_embedding_prune",
    oracle=_semdedup_oracle(),
    tags=("northstar", "scoring", "embedding", "dedup", "bench"),
)
def semdedup_embedding_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster embeddings, then prune a vector
    when another vector IN THE SAME CLUSTER with a smaller id is more
    cosine-similar than the threshold — semantic dedup that catches
    paraphrases exact/MinHash dedup cannot see. Clustering is the whole
    scale trick: the quadratic comparison runs within clusters only
    (Σ|cluster|² ≪ N²), never across the corpus.

    Spark shape: the cluster assignment IS the IVF coarse quantizer —
    ``_ivf_members`` (northstar_similarity): one ``mapInPandas`` pass with
    the fixed-K centroid matrix closed over (no crossJoin, no per-vector
    window), yielding the same persisted member index the ANN queries
    probe. The intra-cluster pair join co-shuffles on the cell id and
    scores pairs with the Arrow dot-product twin (``_dot_udf`` — the
    dimension-ordered fold that is bit-identical to DuckDB's
    ``list_dot_product``), so both engines agree on every cosine. Norms
    are computed once per vector (O(N·d)) before any join; the only
    quadratic work is within cells, which production keeps constant-size
    by scaling K with N."""
    from kafka_streams_playground_spark.plans.northstar_similarity import (
        _dot_udf,
        _ivf_members,
    )

    members = _ivf_members(spark, sf_dir)
    a, b = members.alias("a"), members.alias("b")
    pruned = (
        a.join(
            b,
            (F.col("a.cent_id") == F.col("b.cent_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .withColumn(
            "cos",
            _dot_udf(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm")),
        )
        .filter(F.col("cos") >= SEMDEDUP_TH)
        .groupBy(F.col("b.vec_id").alias("vec_b"))
        .agg(F.max("cos").alias("mx"))
    )
    # pruned is the near-dup (pruned-vector) set — bounded only by dup
    # density, i.e. a fraction of the corpus that grows linearly with
    # data, so NO broadcast hint (a hint has no fallback and would OOM at
    # scale, VERDICT r14 item 1): AQE broadcasts from measured runtime
    # stats when genuinely small, else the vec_id co-shuffle stands.
    return members.join(
        pruned, members["vec_id"] == pruned["vec_b"], "left"
    ).select(
        "vec_id",
        F.col("cent_id").alias("cluster"),
        F.col("vec_b").isNotNull().cast("int").alias("pruned"),
        F.round("mx", 4).alias("max_dup_cosine"),
    )


@query(
    "index_inverted_postings",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    )
    SELECT token,
           COUNT(DISTINCT doc_id) AS doc_freq,
           CAST(COUNT(*) AS BIGINT) AS term_freq,
           array_to_string(list_sort(list(DISTINCT doc_id)), '|') AS postings
    FROM tok GROUP BY token
    """,
    tags=("northstar", "text", "index", "bench"),
)
def index_inverted_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: token → sorted postings list (+ document and
    term frequencies) — the core artifact of retrieval, BM25 scoring, and
    n-gram-overlap decontamination at lookup time (contamination_check's
    shingle join IS a probe of exactly this structure).

    Spark shape: explode → one shuffle keyed on token with map-side partial
    aggregation; ``collect_set`` + ``sort_array`` builds each postings list
    inside the final aggregate — per-token state, never a global sort. The
    postings ship as a '|'-joined STRING, not a raw array column: same
    content, but hashable by the driver's pandas canonicalizer, which
    cannot factorize array cells (the ``orders_products_array`` lesson —
    round 4's only red row was this exact representation bug). The
    100 TB caveat is posting-list skew: stopword tokens accumulate
    postings ∝ corpus size, so a production index SPLITS hot tokens into
    fixed-size posting blocks ((token, block_no) keys — the same
    salted-key recipe as agg_salted_skew) and stores block ranges; the
    fixture vocabulary is 31 tokens, all hot, making this the worst-case
    shape the blocking would apply to."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    return tok.groupBy("token").agg(
        F.countDistinct("doc_id").alias("doc_freq"),
        F.count(F.lit(1)).alias("term_freq"),
        F.array_join(F.sort_array(F.collect_set("doc_id")), "|").alias("postings"),
    )


# BM25 (Robertson/Sparck Jones; the Lucene-default flavor): standard free
# parameters, a small fixed query-term set (one rare + two common fixture
# tokens so the ranking exercises both idf extremes), and per-(doc, term)
# contributions quantized to an integer 1e-6 grid BEFORE the per-doc sum —
# the same order-free-fold dodge as LP_GRID (ln/division differ by ≤1 ulp
# across libms; the 0.5 rounding margin absorbs it).
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERMS = ("dup", "vector", "stream")
BM25_TOP_K = 20
_BM25_TERMS_SQL = ",".join(f"'{t}'" for t in BM25_TERMS)


@query(
    "text_bm25_topk",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
    tot AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl),
    tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM tok
      WHERE token IN ({_BM25_TERMS_SQL}) GROUP BY doc_id, token
    ),
    dfq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
    c AS (
      SELECT tf.doc_id,
             CAST(FLOOR(
               ln(1.0 + (tot.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
               * (tf.tf * ({BM25_K1} + 1.0))
               / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                  + {BM25_B} * dl.dl / (tot.sum_dl * 1.0 / tot.n_docs)))
               * 1000000 + 0.5) AS BIGINT) AS c6
      FROM tf JOIN dfq USING (token) JOIN dl USING (doc_id) CROSS JOIN tot
    )
    SELECT doc_id, COUNT(*) AS n_hit_terms, CAST(SUM(c6) AS BIGINT) AS score6
    FROM c GROUP BY doc_id
    ORDER BY score6 DESC, doc_id ASC
    LIMIT {BM25_TOP_K}
    """,
    tags=("northstar", "scoring", "text", "index", "bench"),
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval over the corpus — score every document against a fixed
    query-term set with the standard k1/b formula and return the top-k. The
    natural completion of the retrieval family: ``index_inverted_postings``
    builds exactly the doc_freq/term_freq statistics this consumes, and a
    contamination/retrieval pass runs THIS query against THAT index.

    Spark shape, inside-out: the query-term ``isin`` filter lands on the
    exploded token stream map-side, so only matching tokens ever shuffle
    (at 100 TB the posting-list index replaces the scan entirely; here the
    scan-side prune is the honest equivalent). Per-term document
    frequencies are a |Q|-row table → broadcast; corpus size and average
    document length are a 1-row aggregate → broadcast crossJoin (O(1)
    state, the same bounded-scalar stance as the IVF centroid table). The
    per-doc length join co-shuffles on doc_id, contributions quantize to
    1e-6-grid integers so the per-doc fold is order-free, and the top-k is
    TakeOrderedAndProject — per-partition heap + k-row driver merge, never
    a global sort."""
    tok = bm25_tokens(load_table(spark, sf_dir, "documents"))
    return bm25_topk(bm25_doc_lengths(tok), bm25_term_freqs(tok))


def bm25_tokens(documents: DataFrame) -> DataFrame:
    """(doc_id, token): the whitespace tokens of batch or streaming documents."""
    docs = documents.select("doc_id", "text")
    return docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))


def bm25_doc_lengths(tok: DataFrame) -> DataFrame:
    """(doc_id, dl): each document's length in tokens."""
    return tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))


def bm25_term_freqs(tok: DataFrame) -> DataFrame:
    """(doc_id, token, tf): each document's count of every BM25_TERMS term."""
    return (
        tok.filter(F.col("token").isin(*BM25_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def bm25_topk(dl: DataFrame, tf: DataFrame) -> DataFrame:
    """The BM25_TOP_K documents by BM25 score over the index statistics
    ``dl`` and ``tf`` (scores on a 1e-6 integer grid)."""
    tot = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    dfq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + BM25_K1 * (
        1.0 - BM25_B + BM25_B * F.col("dl") / (F.col("sum_dl") * 1.0 / F.col("n_docs"))
    )
    c6 = F.floor(
        idf * (F.col("tf") * (BM25_K1 + 1.0)) / denom * 1000000 + F.lit(0.5)
    ).cast("bigint")
    c = (
        tf.join(F.broadcast(dfq), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", c6.alias("c6"))
    )
    return (
        c.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit_terms"), F.sum("c6").alias("score6"))
        .orderBy(F.col("score6").desc(), F.col("doc_id").asc())
        .limit(BM25_TOP_K)
    )


@query(
    "embedding_quantize_int8",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    d AS (SELECT vec_id, generate_subscripts(v, 1) AS dim, unnest(v) AS x FROM e),
    s AS (SELECT dim, MIN(x) AS lo, MAX(x) AS hi FROM d GROUP BY dim),
    q AS (
      SELECT d.vec_id, d.dim,
             CAST(FLOOR(COALESCE((d.x - s.lo) * 255.0 / NULLIF(s.hi - s.lo, 0.0),
                                 0.0) + 0.5) AS BIGINT)
                 AS code
      FROM d JOIN s USING (dim)
    )
    SELECT vec_id,
           CAST(SUM(code * (dim % 7 + 1)) AS BIGINT) AS code_checksum,
           MIN(code) AS code_min,
           MAX(code) AS code_max
    FROM q GROUP BY vec_id
    """,
    tags=("northstar", "scoring", "embedding", "bench"),
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INT8 scalar quantization of the embedding corpus — per-DIMENSION
    min-max calibration (the asymmetric-quantization recipe vector indexes
    use to cut memory 4×), then each vector's uint8 codes summarized as a
    dim-weighted integer checksum plus code range. The checksum makes the
    whole quantized corpus oracle-comparable without shipping N×d code
    arrays through the compare.

    Spark shape: ``posexplode`` → per-dimension min/max aggregate (d rows —
    broadcast back), one co-partitioned join, and a per-vector integer
    aggregate. Two corpus passes, both map-side-partial; the calibration
    table is O(d) — at 100 TB the same two passes, with the quantile-based
    (p999) calibration variant swapping MIN/MAX for approx_percentile.
    Codes are exact integers after one double rounding, so every aggregate
    is order-free and cross-engine exact."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    d = emb.select("vec_id", F.posexplode("v").alias("pos", "x")).select(
        "vec_id", (F.col("pos") + 1).alias("dim"), "x"
    )
    s = d.groupBy("dim").agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    # A constant dimension (hi == lo) would divide by zero: Spark yields
    # NaN/Infinity while DuckDB errors/NULLs — a silent cross-engine
    # mismatch (ADVICE r4). Pin the degenerate case to code 0 in both
    # engines (NULLIF + COALESCE on the oracle side).
    span = F.col("hi") - F.col("lo")
    code = F.floor(
        F.when(span != 0, (F.col("x") - F.col("lo")) * 255.0 / span).otherwise(0.0)
        + F.lit(0.5)
    ).cast("long")
    q = d.join(F.broadcast(s), "dim").select("vec_id", "dim", code.alias("code"))
    return q.groupBy("vec_id").agg(
        F.sum(F.col("code") * (F.col("dim") % 7 + 1)).alias("code_checksum"),
        F.min("code").alias("code_min"),
        F.max("code").alias("code_max"),
    )


@query(
    "tokenizer_bpe_pair_counts",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    p AS (
      SELECT unnest([toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))])
                 AS pair
      FROM t WHERE len(toks) >= 2
    )
    SELECT pair, COUNT(*) AS cnt FROM p GROUP BY pair
    """,
    tags=("northstar", "scoring", "text", "tokenizer", "bench"),
)
def tokenizer_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide adjacent-token-pair counts — the scoring table behind a
    BPE tokenizer-training step: the highest-count pair is the next merge
    (text_vocabulary is the unigram table this iterates against). One
    explode → one token-pair-keyed shuffle with map-side partials; the
    per-row pair list is a linear Catalyst array expression (same slice
    recipe as text_repetition_stats' 2-grams, corpus-aggregated instead of
    per-doc). At web scale the pair vocabulary, like the token vocabulary,
    is ≪ corpus and the shuffle carries one row per (partition, pair)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split("text", " ")
    pairs = (
        docs.filter(F.size(toks) >= 2)
        .select(F.explode(T.adjacent_pair_structs(toks)).alias("z"))
        .select(F.concat_ws(" ", F.col("z")["0"], F.col("z")["1"]).alias("pair"))
    )
    return pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("cnt"))


TFIDF_TOP = 3


@query(
    "text_tfidf_topterms",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    tot AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tok),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
    dfq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
    s AS (
      SELECT tf.doc_id, tf.token,
             CAST(FLOOR(tf.tf * ln(tot.n_docs * 1.0 / dfq.df) * 1000000 + 0.5)
                  AS BIGINT) AS score6
      FROM tf JOIN dfq USING (token) CROSS JOIN tot
    ),
    r AS (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score6 DESC, token ASC) AS rank
      FROM s
    )
    SELECT doc_id,
           string_agg(token, '|' ORDER BY rank) AS top_terms,
           MAX(score6) AS top_score6
    FROM r WHERE rank <= {TFIDF_TOP}
    GROUP BY doc_id
    """,
    tags=("northstar", "scoring", "text", "index", "bench"),
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF keyword extraction: each document's top
    TFIDF_TOP (= 3) terms by tf·ln(N/df), rank-ordered — the classic
    document-representation pass (keyword indexing, topic drift monitoring,
    cheap relevance features) that consumes the same corpus statistics as
    ``index_inverted_postings`` and ``text_bm25_topk``.

    Spark shape: (doc, term) tf table → broadcast |vocabulary|-row df table
    → 1-row corpus total (broadcast crossJoin) → scores quantized to
    1e-6-grid integers → per-doc rank window (one shuffle on doc_id, the
    same partitioning the tf aggregate already produced) → top-3 assembled
    IN RANK ORDER via sort_array(collect_list(struct(rank, token))) and
    emitted as a '|'-joined string (driver-hashable; DuckDB mirrors with
    ORDER-BY'd string_agg). Tie scores break on token text in both
    engines, so the assembled string is deterministic."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    tot = tf.agg(F.countDistinct("doc_id").alias("n_docs"))
    score6 = F.floor(
        F.col("tf") * F.log(F.col("n_docs") * 1.0 / F.col("df")) * 1000000
        + F.lit(0.5)
    ).cast("bigint")
    s = (
        tf.join(F.broadcast(dfq), "token")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", "token", score6.alias("score6"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score6").desc(), F.col("token").asc())
    r = s.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= TFIDF_TOP)
    return r.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rank", "token"))),
                lambda x: x["token"],
            ),
            "|",
        ).alias("top_terms"),
        F.max("score6").alias("top_score6"),
    )


@query(
    "text_bigram_lm_score",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    vocab AS (
      SELECT COUNT(DISTINCT token) AS v FROM (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
      )
    ),
    bg AS (
      SELECT doc_id,
             unnest([toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))])
                 AS pair
      FROM t WHERE len(toks) >= 2
    ),
    pc AS (SELECT pair, COUNT(*) AS cnt FROM bg GROUP BY pair),
    w1c AS (
      SELECT string_split(pair, ' ')[1] AS w1, CAST(SUM(cnt) AS BIGINT) AS w1cnt
      FROM pc GROUP BY 1
    ),
    lp AS (
      SELECT pc.pair,
             CAST(FLOOR(ln((pc.cnt + 1.0) / (w1c.w1cnt + vocab.v))
                        * {LP_GRID} + 0.5) AS BIGINT) AS lp6
      FROM pc JOIN w1c ON string_split(pc.pair, ' ')[1] = w1c.w1
      CROSS JOIN vocab
    )
    SELECT bg.doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM(lp.lp6) AS BIGINT) AS sum_lp6,
           FLOOR(CAST(SUM(lp.lp6) AS BIGINT) * 1.0 / COUNT(*) / 100 + 0.5) / 10000
               AS avg_logprob
    FROM bg JOIN lp USING (pair)
    GROUP BY bg.doc_id
    """,
    tags=("northstar", "scoring", "text", "bench"),
)
def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality scoring — the next rung above
    ``text_unigram_lm_score`` on the CCNet ladder: per-document mean
    conditional log-prob ln P(w2|w1) under an add-one-smoothed bigram model
    trained on the corpus itself. Word-order damage (shuffled/boilerplate
    text) that unigram scoring cannot see collapses the bigram score, which
    is why perplexity filters use context models.

    Spark shape: the bigram table reuses ``tokenizer_bpe_pair_counts``'s
    linear array-slice recipe; the model is TWO vocabulary-sized tables
    (pair counts, first-word totals) that broadcast to the scoring join;
    smoothing needs |V| — a 1-row aggregate crossJoined in. Log-probs
    quantize to the shared 1e-6 grid (LP_GRID) before the per-doc sum, so
    the fold is order-free and cross-engine exact. Documents with a single
    token have no bigrams and drop out (same stance as the oracle's
    len >= 2 filter)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split("text", " ")
    bg = (
        docs.filter(F.size(toks) >= 2)
        .select("doc_id", F.explode(T.adjacent_pair_structs(toks)).alias("z"))
        .select("doc_id", F.concat_ws(" ", F.col("z")["0"], F.col("z")["1"]).alias("pair"))
        # bg feeds the model build AND the scoring join — persist caps the
        # corpus explode at one pass (it previously ran twice).
        .persist()
    )
    # The pair-count model table feeds BOTH lp (directly) and w1c (re-agg);
    # without materialization Spark would re-explode the corpus for each
    # consumer. persist() caps that at one corpus pass — the table itself is
    # pair-vocabulary-sized (≤|V|², ≪ corpus), the same persisted-index
    # stance as the IVF member table (northstar_similarity._ivf_members).
    pc = bg.groupBy("pair").agg(F.count(F.lit(1)).alias("cnt")).persist()
    w1 = F.split(F.col("pair"), " ").getItem(0)
    w1c = pc.groupBy(w1.alias("w1")).agg(F.sum("cnt").alias("w1cnt"))
    vocab = (
        docs.select(F.explode(toks).alias("token"))
        .agg(F.countDistinct("token").alias("v"))
    )
    lp = (
        pc.join(F.broadcast(w1c), w1 == F.col("w1"))
        .crossJoin(F.broadcast(vocab))
        .select(
            "pair",
            F.floor(
                F.log((F.col("cnt") + 1.0) / (F.col("w1cnt") + F.col("v")))
                * LP_GRID
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("lp6"),
        )
    )
    agg = bg.join(F.broadcast(lp), "pair").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"), F.sum("lp6").alias("sum_lp6")
    )
    return agg.select(
        "doc_id",
        "n_bigrams",
        "sum_lp6",
        (
            F.floor(F.col("sum_lp6") / F.col("n_bigrams") / 100 + F.lit(0.5)) / 10000
        ).alias("avg_logprob"),
    )


VOCAB_COVER_NS = (5, 10, 20)  # candidate vocabulary sizes to audit
_VOCAB_NS_SQL = ", ".join(str(n) for n in VOCAB_COVER_NS)


@query(
    "tokenizer_vocab_coverage",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    c AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
    r AS (
      SELECT token, cnt,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, token ASC) AS rk
      FROM c
    ),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total_tokens FROM c),
    n AS (SELECT unnest([{_VOCAB_NS_SQL}]) AS n_vocab)
    SELECT n.n_vocab,
           CAST(SUM(r.cnt) AS BIGINT) AS covered_tokens,
           tot.total_tokens,
           CAST(SUM(r.cnt) * 1000000 // tot.total_tokens AS BIGINT)
               AS coverage_ppm
    FROM n JOIN r ON r.rk <= n.n_vocab CROSS JOIN tot
    GROUP BY n.n_vocab, tot.total_tokens
    """,
    tags=("northstar", "scoring", "text", "tokenizer", "bench"),
)
def tokenizer_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-size sweep: for each candidate vocab size N, the fraction
    of corpus token OCCURRENCES covered by the top-N unigrams (rank by
    count desc, token asc) — the coverage/OOV curve a tokenizer build
    inspects to size its vocabulary before committing to BPE merges
    (``tokenizer_bpe_pair_counts`` is the next step after this one picks N).

    Spark shape: one token-keyed shuffle with map-side partials to unigram
    counts, then — because coverage only ever reads ranks ≤ max(N) — a
    distributed two-phase top-k (``orderBy().limit(max_n)`` compiles to
    TakeOrderedAndProject: per-partition top-max_n, merged once) and a rank
    window over that max_n-row survivor set only. No window ever sees the
    full vocabulary (a web-scale vocab is 10⁸⁺ terms — the r5 verdict's
    single-partition risk; max_n is the largest SWEPT size, a config
    constant). The N-sweep is a broadcast theta-join of the 3-row size
    spine against the ranked top set; coverage divides on an exact integer
    ppm grid with a DECIMAL(38,0) numerator (covered_tokens × 10⁶ exceeds
    int64 near ~10¹³ corpus tokens; DuckDB's HUGEINT sum is exact, so the
    decimal path keeps both engines' overflow behavior aligned)."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    tok = docs.select(F.explode(F.split("text", " ")).alias("token"))
    c = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    max_n = max(VOCAB_COVER_NS)
    top = c.orderBy(F.col("cnt").desc(), F.col("token").asc()).limit(max_n)
    w = Window.orderBy(F.col("cnt").desc(), F.col("token").asc())
    r = top.select("token", "cnt", F.row_number().over(w).alias("rk"))
    tot = c.agg(F.sum("cnt").cast("bigint").alias("total_tokens"))
    sizes = spark.range(1).select(
        F.explode(F.array(*[F.lit(n) for n in VOCAB_COVER_NS])).alias("n_vocab")
    )
    return (
        r.join(F.broadcast(sizes), F.col("rk") <= F.col("n_vocab"))
        .groupBy("n_vocab")
        .agg(F.sum("cnt").cast("bigint").alias("covered_tokens"))
        .crossJoin(F.broadcast(tot))
        .select(
            "n_vocab",
            "covered_tokens",
            "total_tokens",
            F.expr(
                "cast(cast(covered_tokens as decimal(38,0)) * 1000000"
                " div total_tokens as bigint)"
            ).alias("coverage_ppm"),
        )
    )


PPL_BUCKETS = 3  # CCNet's head / middle / tail


def _ppl_buckets_oracle() -> str:
    from kafka_streams_playground_spark.plans.registry import REGISTRY

    base = REGISTRY["text_unigram_lm_score"].oracle
    return f"""
    WITH base AS ({base}),
    b2 AS (
      SELECT d.lang, base.doc_id,
             CAST(FLOOR(base.sum_lp6 * 1.0 / base.n_tokens / 100 + 0.5)
                  AS BIGINT) AS alp4
      FROM base JOIN documents d USING (doc_id)
    ),
    b3 AS (
      SELECT lang, doc_id, alp4,
             NTILE({PPL_BUCKETS}) OVER (
               PARTITION BY lang ORDER BY alp4 DESC, doc_id ASC) AS bucket
      FROM b2
    )
    SELECT lang, bucket, COUNT(*) AS n_docs,
           MIN(alp4) AS min_alp4, MAX(alp4) AS max_alp4
    FROM b3 GROUP BY lang, bucket
    """


@query(
    "text_perplexity_buckets",
    oracle=_ppl_buckets_oracle(),
    tags=("northstar", "scoring", "text", "curation", "bench"),
)
def text_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail split: per language, documents ranked by
    unigram-LM mean log-prob and cut into ``PPL_BUCKETS`` equal tiles
    (head = most in-distribution; CCNet trains on head+middle and drops or
    down-weights tail). Emits the per-(lang, bucket) doc count and the
    exact 1e-4-grid log-prob boundaries — the cut table a sampling pass
    consumes.

    Spark shape: composes the LM scoring plan (broadcast vocabulary model,
    map-side-partial folds), one co-shuffled join to attach lang, one
    NTILE window per language, then a |langs|×|buckets| aggregate. The
    ordering key is the already-exact integer mean log-prob with doc_id
    tiebreak, so tile boundaries are bit-deterministic cross-engine.
    Honest 100 TB note: NTILE sorts each language partition; at corpus
    scale production replaces the per-doc tile with bucket THRESHOLDS from
    a quantile pass (the agg_price_percentiles machinery) and a map-side
    comparison — same output table, no global sort. The fixture-scale
    NTILE keeps the oracle exact."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    base = text_unigram_lm_score(spark, sf_dir)
    b2 = base.join(docs, "doc_id").select(
        "lang",
        "doc_id",
        F.floor(F.col("sum_lp6") / F.col("n_tokens") / 100 + F.lit(0.5))
        .cast("bigint")
        .alias("alp4"),
    )
    w = Window.partitionBy("lang").orderBy(F.col("alp4").desc(), F.col("doc_id").asc())
    b3 = b2.select("lang", "alp4", F.ntile(PPL_BUCKETS).over(w).alias("bucket"))
    return b3.groupBy("lang", "bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("alp4").alias("min_alp4"),
        F.max("alp4").alias("max_alp4"),
    )


# Linear quality classifier (the fasttext-style model-based filter of the
# GPT-3 / LLaMA data pipelines, run here with PRETRAINED weights as fixed
# literals — training the model is an offline step, scoring the corpus is
# the 100 TB pass). Exact-integer stance: every term is a nonnegative
# integer product followed by integer division (truncation == floor on
# nonnegative operands in BOTH engines), so the logit is bit-equal across
# engines and partition counts — no sigmoid, no float dot product; the
# decision boundary compares logits to a grid threshold, which is the same
# classification the sigmoid form yields (monotone transform).
QC_W_TTR_E6 = 2_000_000  # type-token ratio weight
QC_W_STOP_E6 = 1_500_000  # stopword-ratio penalty
QC_W_LEN_E6 = 800_000  # length-saturation weight
QC_BIAS_E6 = -400_000
QC_TH_E6 = 1_200_000


@query(
    "quality_classifier_filter",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    f AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
             CAST(len([x for x in toks if list_contains([{_STOP_SQL}], x)])
                  AS BIGINT) AS n_stop
      FROM t
    )
    SELECT doc_id,
           CAST(({QC_W_TTR_E6} * n_distinct) // n_tokens
                - ({QC_W_STOP_E6} * n_stop) // n_tokens
                + ({QC_W_LEN_E6} * LEAST(n_tokens, 256)) // 256
                + {QC_BIAS_E6} AS BIGINT) AS logit_e6,
           CAST(({QC_W_TTR_E6} * n_distinct) // n_tokens
                - ({QC_W_STOP_E6} * n_stop) // n_tokens
                + ({QC_W_LEN_E6} * LEAST(n_tokens, 256)) // 256
                + {QC_BIAS_E6} >= {QC_TH_E6} AS INT) AS keep
    FROM f
    """,
    tags=("northstar", "scoring", "classifier", "bench"),
)
def quality_classifier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering: score every document with a linear
    classifier over lexical features (type-token ratio, stopword ratio,
    length saturation) and keep docs above the decision threshold — the
    classifier-filter stage of the GPT-3/LLaMA-style pipelines (there a
    fasttext model scored against a high-quality reference corpus; the
    serving pass is this exact shape: fixed weights, per-doc features, one
    linear score).

    Spark shape: pure Catalyst, zero shuffle — features come from one
    projection over the scan, the logit is integer arithmetic, and the
    filter decision is a comparison (the heuristic twin
    ``text_quality_score`` shares the feature extraction pattern; this is
    its learned-model counterpart). At 100 TB this class of operator is
    scan-bound and embarrassingly parallel; the weights table generalizes
    to a broadcast row when the model grows beyond literals (the
    ``text_unigram_lm_score`` recipe)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    stop_arr = F.lit(list(STOPWORDS)).cast("array<string>")
    f = docs.select(
        "doc_id",
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
    return f.select(
        "doc_id",
        logit.cast("bigint").alias("logit_e6"),
        (logit >= QC_TH_E6).cast("int").alias("keep"),
    )



# One BPE training iteration: select the highest-count adjacent pair and
# apply the merge corpus-wide, emitting the updated pair-count table (the
# input to the NEXT selection — tokenizer training is this loop run
# vocab-size times). Selection is restricted to non-self pairs (A != B):
# non-self occurrences are provably disjoint (an overlap at i, i+1 would
# need toks[i+1] = A and = B), so greedy left-to-right merge = merge-ALL —
# order-free, hence expressible identically in both engines. Self-pairs
# (A == B) need the sequential within-run rule (merge floor(run/2)) and are
# excluded from SELECTION here — a documented contract choice, not a bug;
# counts still include them. The merge executes as TWO plain-string
# replace() passes over the space-padded text (PLAIN string matching, not
# regex — tokens containing regex metacharacters ('.', '+', '(', '\')
# would mis-match or diverge between Java regex and DuckDB RE2; ADVICE
# r5): leftmost-non-overlapping replacement shares the delimiting space
# between back-to-back occurrences ("A B A B" — pass 1 merges the
# 1st/3rd/5th... of a chain), and the survivors are then isolated by
# merged tokens, so pass 2 always finishes (proof: after pass 1 no two
# remaining occurrences are adjacent).
_BPE_MERGE_SEP = "_"


def _bpe_merge_text_sql(src: str, sel: str) -> str:
    """DuckDB fragment: apply ``sel``'s (a, b) merge to ``src.text`` via the
    two plain-replace passes (same construction as the Spark side)."""
    pat = f"' ' || {sel}.a || ' ' || {sel}.b || ' '"
    rep = f"' ' || {sel}.a || '{_BPE_MERGE_SEP}' || {sel}.b || ' '"
    return (
        f"trim(replace(replace(' ' || {src}.text || ' ', {pat}, {rep}),"
        f" {pat}, {rep}))"
    )


@query(
    "tokenizer_bpe_merge_step",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks, text FROM documents),
    p0 AS (
      SELECT unnest([toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))])
                 AS pair
      FROM t WHERE len(toks) >= 2
    ),
    pc AS (SELECT pair, COUNT(*) AS c FROM p0 GROUP BY pair),
    top AS (
      SELECT string_split(pair, ' ')[1] AS a, string_split(pair, ' ')[2] AS b
      FROM pc
      WHERE string_split(pair, ' ')[1] <> string_split(pair, ' ')[2]
      ORDER BY c DESC, pair ASC LIMIT 1
    ),
    m AS (
      SELECT string_split({_bpe_merge_text_sql('t', 'top')}, ' ') AS mt
      FROM t CROSS JOIN top
    ),
    p1 AS (
      SELECT unnest([mt[i] || ' ' || mt[i+1] for i in range(1, len(mt))]) AS pair
      FROM m WHERE len(mt) >= 2
    )
    SELECT pair, COUNT(*) AS cnt FROM p1 GROUP BY pair
    """,
    tags=("northstar", "scoring", "text", "tokenizer", "iterative", "bench"),
)
def tokenizer_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full BPE training iteration: pick the top-count pair from
    ``tokenizer_bpe_pair_counts``'s table, MERGE it corpus-wide, and emit
    the updated pair counts — the loop body tokenizer training runs
    vocab-size times (select → merge → recount). The merge exploits a
    disjointness proof: for a non-self pair (A ≠ B), two occurrences can
    never overlap, so greedy left-to-right merging equals merging every
    occurrence — realized as two codegen'd PLAIN-STRING replace passes
    over the padded text (see the module comment for why two always
    suffice and why plain replace, not regexp — token text never becomes
    pattern syntax; self-pairs would need the sequential within-run rule
    and are excluded from selection). An earlier higher-order-array
    formulation (filter/transform/array_contains per element) was 100×+
    slower — Catalyst interprets array lambdas per element (the
    verify-notes gotcha), while replace runs inside whole-stage codegen.

    Spark shape: the selection is a 1-row TakeOrderedAndProject collect
    (O(1) driver state, the k-means-centroid stance — each training
    iteration round-trips one merge decision, exactly how fastBPE/
    sentencepiece drive their loop); the merge is one map-side projection,
    and the recount reuses the pair-counts aggregate shape: one explode →
    one pair-keyed shuffle with map-side partials. At 100 TB the real
    bookkeeping trick is incremental count maintenance (only pairs
    touching a merged occurrence change); this operator recounts fully —
    the honest batch form — and the incremental deltas ((prev,A)−,
    (prev,AB)+, (B,next)−, (AB,next)+) are the optimization a production
    trainer layers on."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split("text", " ")
    pc = (
        docs.filter(F.size(toks) >= 2)
        .select(F.explode(T.adjacent_pair_structs(toks)).alias("z"))
        .select(F.concat_ws(" ", F.col("z")["0"], F.col("z")["1"]).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ab = F.split("pair", " ")
    top = (
        pc.filter(ab.getItem(0) != ab.getItem(1))
        .orderBy(F.col("c").desc(), F.col("pair").asc())
        .limit(1)
        .collect()
    )
    a, b = top[0]["pair"].split(" ")
    pat = f" {a} {b} "
    rep = f" {a}{_BPE_MERGE_SEP}{b} "
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    merged = F.replace(
        F.replace(padded, F.lit(pat), F.lit(rep)), F.lit(pat), F.lit(rep)
    )
    m = docs.select(F.split(F.trim(merged), " ").alias("mt")).filter(
        F.size("mt") >= 2
    )
    return (
        m.select(F.explode(T.adjacent_pair_structs(F.col("mt"))).alias("z"))
        .select(F.concat_ws(" ", F.col("z")["0"], F.col("z")["1"]).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# Multi-iteration BPE training (the loop ``tokenizer_bpe_merge_step`` is
# one body of, run to completion): select the top pair, merge corpus-wide,
# recount, repeat. Output is the learned MERGE TABLE — (iteration, pair,
# merged token, count at selection) — i.e. the trained-tokenizer artifact
# itself. Correctness of row i+1 transitively pins the iteration-i merge:
# the next selection is computed over the merged corpus, so a wrong
# replace would surface as a diverging later row.
_BPE_TRAIN_ITERS = 3


def _bpe_train_ctes(n_iters: int) -> list:
    """CTE fragments for n_iters of (pair-count → top-1 select → two-pass
    plain replace); t{i} is the corpus after i merges, s{i} the i-th
    selection. Shared by the merge-table and compression-curve oracles."""
    ctes = ["t0 AS (SELECT doc_id, text FROM documents)"]
    for i in range(n_iters):
        ctes.append(
            f"k{i} AS (SELECT string_split(text, ' ') AS toks FROM t{i})"
        )
        ctes.append(
            f"p{i} AS (SELECT unnest([toks[j] || ' ' || toks[j+1]"
            f" for j in range(1, len(toks))]) AS pair"
            f" FROM k{i} WHERE len(toks) >= 2)"
        )
        ctes.append(f"c{i} AS (SELECT pair, COUNT(*) AS c FROM p{i} GROUP BY pair)")
        ctes.append(
            f"s{i} AS (SELECT pair, string_split(pair, ' ')[1] AS a,"
            f" string_split(pair, ' ')[2] AS b, c FROM c{i}"
            f" WHERE string_split(pair, ' ')[1] <> string_split(pair, ' ')[2]"
            f" ORDER BY c DESC, pair ASC LIMIT 1)"
        )
        ctes.append(
            f"t{i + 1} AS (SELECT doc_id,"
            f" {_bpe_merge_text_sql(f't{i}', f's{i}')} AS text"
            f" FROM t{i} CROSS JOIN s{i})"
        )
    return ctes


def _bpe_train_oracle(n_iters: int) -> str:
    """Self-contained DuckDB CTE chain emitting the merge table."""
    ctes = _bpe_train_ctes(n_iters)
    rows = " UNION ALL ".join(
        f"SELECT {i + 1} AS it, pair,"
        f" a || '{_BPE_MERGE_SEP}' || b AS merged,"
        f" CAST(c AS BIGINT) AS cnt FROM s{i}"
        for i in range(n_iters)
    )
    return f"WITH {', '.join(ctes)} {rows}"


def _bpe_compression_oracle(n_iters: int) -> str:
    """Self-contained DuckDB CTE chain emitting the compression curve:
    total corpus token count after 0..n_iters merges."""
    ctes = _bpe_train_ctes(n_iters)
    rows = " UNION ALL ".join(
        f"SELECT {i} AS it, CAST(SUM(len(string_split(text, ' ')))"
        f" AS BIGINT) AS n_tokens FROM t{i}"
        for i in range(n_iters + 1)
    )
    return f"WITH {', '.join(ctes)} {rows}"


@query(
    "tokenizer_bpe_train3",
    oracle=_bpe_train_oracle(_BPE_TRAIN_ITERS),
    tags=("northstar", "scoring", "text", "tokenizer", "iterative", "bench"),
)
def tokenizer_bpe_train3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING, three full iterations of the select → merge
    → recount loop (``tokenizer_bpe_merge_step`` run to completion, the
    way ``kmeans_ivf_train`` completes the IVF story): each round picks
    the highest-count non-self adjacent pair (count desc, pair asc
    tie-break) and merges it corpus-wide with the two-pass plain-string
    replace (disjointness proof in the module comment). The output is the
    learned merge table — (it, pair, merged, cnt) — the exact artifact a
    BPE tokenizer ships; later rows transitively verify earlier merges
    because each selection is computed over the previously merged corpus.

    Spark shape: per iteration, one pair-keyed shuffle with map-side
    partials (the recount) and a 1-row TakeOrderedAndProject collect
    (O(1) driver state per round — the centroid-collect stance fastBPE /
    sentencepiece training loops share); the merge itself is a map-side
    codegen'd projection. The merged corpus is persisted each round so
    iteration i+1's recount scans materialized batches instead of
    replaying i rounds of lineage — at 100 TB a trainer checkpoints the
    merged corpus the same way (and layers on incremental pair-delta
    maintenance, the documented optimization this honest batch form
    omits)."""
    from pyspark import StorageLevel

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    cur = docs
    persisted = []
    merges = []
    try:
        for it in range(1, _BPE_TRAIN_ITERS + 1):
            toks = F.split("text", " ")
            pc = (
                cur.filter(F.size(toks) >= 2)
                .select(F.explode(T.adjacent_pair_structs(toks)).alias("z"))
                .select(
                    F.concat_ws(" ", F.col("z")["0"], F.col("z")["1"]).alias("pair")
                )
                .groupBy("pair")
                .agg(F.count(F.lit(1)).alias("c"))
            )
            ab = F.split("pair", " ")
            top = (
                pc.filter(ab.getItem(0) != ab.getItem(1))
                .orderBy(F.col("c").desc(), F.col("pair").asc())
                .limit(1)
                .collect()
            )
            a, b = top[0]["pair"].split(" ")
            merges.append((it, top[0]["pair"], a + _BPE_MERGE_SEP + b, top[0]["c"]))
            pat = f" {a} {b} "
            rep = f" {a}{_BPE_MERGE_SEP}{b} "
            padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
            merged = F.replace(
                F.replace(padded, F.lit(pat), F.lit(rep)), F.lit(pat), F.lit(rep)
            )
            cur = cur.select("doc_id", F.trim(merged).alias("text")).persist(
                StorageLevel.MEMORY_AND_DISK
            )
            persisted.append(cur)
    finally:
        # the returned DataFrame is driver-local (the merge table), so the
        # intermediate corpora can be released eagerly
        for df in persisted:
            df.unpersist()
    return spark.createDataFrame(
        merges, "it int, pair string, merged string, cnt bigint"
    )


@query(
    "tokenizer_bpe_compression_curve",
    oracle=_bpe_compression_oracle(_BPE_TRAIN_ITERS),
    tags=("northstar", "scoring", "text", "tokenizer", "iterative", "bench"),
)
def tokenizer_bpe_compression_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The merge-table's OBJECTIVE curve: total corpus token count after
    0..{n} BPE merges — each merge of a pair with count c removes exactly
    c tokens, so this is the compression-per-merge report a tokenizer
    build reads to decide when additional merges stop paying (the
    diminishing-returns curve next to ``tokenizer_vocab_coverage``'s
    OOV sweep). Shares ``tokenizer_bpe_train3``'s loop machinery verbatim
    (same selections, same two-pass plain-string merges, same per-round
    persist); the output invariant n_tokens(it) = n_tokens(it−1) −
    cnt(it) against the merge table is pinned by a unit test.

    Spark shape: per iteration one pair-keyed shuffle (the recount), a
    1-row selection collect, and ONE extra map-side token-count aggregate
    over the persisted merged corpus — O(iters) passes total, the honest
    cost of the honest training loop."""
    from pyspark import StorageLevel

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def _ntok(df):
        return df.agg(
            F.sum(F.size(F.split("text", " "))).cast("bigint").alias("n")
        ).first()["n"]

    cur = docs
    persisted = []
    curve = [(0, _ntok(docs))]
    try:
        for it in range(1, _BPE_TRAIN_ITERS + 1):
            toks = F.split("text", " ")
            pc = (
                cur.filter(F.size(toks) >= 2)
                .select(F.explode(T.adjacent_pair_structs(toks)).alias("z"))
                .select(
                    F.concat_ws(" ", F.col("z")["0"], F.col("z")["1"]).alias("pair")
                )
                .groupBy("pair")
                .agg(F.count(F.lit(1)).alias("c"))
            )
            ab = F.split("pair", " ")
            top = (
                pc.filter(ab.getItem(0) != ab.getItem(1))
                .orderBy(F.col("c").desc(), F.col("pair").asc())
                .limit(1)
                .collect()
            )
            a, b = top[0]["pair"].split(" ")
            pat = f" {a} {b} "
            rep = f" {a}{_BPE_MERGE_SEP}{b} "
            padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
            merged = F.replace(
                F.replace(padded, F.lit(pat), F.lit(rep)), F.lit(pat), F.lit(rep)
            )
            cur = cur.select("doc_id", F.trim(merged).alias("text")).persist(
                StorageLevel.MEMORY_AND_DISK
            )
            persisted.append(cur)
            curve.append((it, _ntok(cur)))
    finally:
        for df in persisted:
            df.unpersist()
    return spark.createDataFrame(curve, "it int, n_tokens bigint")


def _pair_counts(df: DataFrame) -> DataFrame:
    """(pair, c) adjacent-pair counts of a (doc_id, text) corpus — the
    recount kernel shared by the full and delta-maintained BPE trainers."""
    toks = F.split("text", " ")
    return (
        df.filter(F.size(toks) >= 2)
        .select(F.explode(T.adjacent_pair_structs(toks)).alias("z"))
        .select(F.concat_ws(" ", F.col("z")["0"], F.col("z")["1"]).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )


@query(
    "tokenizer_bpe_train3_delta",
    oracle=_bpe_train_oracle(_BPE_TRAIN_ITERS),
    tags=("northstar", "scoring", "text", "tokenizer", "iterative", "bench"),
)
def tokenizer_bpe_train3_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``tokenizer_bpe_train3`` with INCREMENTAL pair-count maintenance —
    the optimization every production BPE trainer layers on (and the one
    the full-recount form documents as omitted): after a merge, only
    documents that CONTAIN the merged pair can change any count, so the
    counts table updates as counts − pairs(affected-before) +
    pairs(affected-after) instead of a corpus-wide recount. The merge
    table output — and therefore the oracle — is IDENTICAL to the full
    trainer's (same selections, same two-pass plain-string merges); a
    unit additionally pins the maintained counts table against a from-
    scratch recount after all iterations.

    Spark shape: one full pair count (the unavoidable first pass), then
    per iteration: a contains() filter prunes the corpus to affected
    docs BEFORE any explode (codegen'd substring scan — at 100 TB this
    is the whole point: after the first few merges most selected pairs
    live in a shrinking fraction of documents, so the recount cost
    tracks the affected set, not the corpus), two delta counts over that
    subset, and a three-way unionByName + groupBy-sum fold into the new
    counts table (persisted; extinct pairs filtered at exactly zero).
    The merged corpus itself still applies map-side to all rows —
    replace() is a no-op on unaffected documents."""
    from pyspark import StorageLevel

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    cur = docs
    counts = _pair_counts(docs).persist(StorageLevel.MEMORY_AND_DISK)
    persisted = [counts]
    merges = []
    try:
        for it in range(1, _BPE_TRAIN_ITERS + 1):
            ab = F.split("pair", " ")
            top = (
                counts.filter(ab.getItem(0) != ab.getItem(1))
                .orderBy(F.col("c").desc(), F.col("pair").asc())
                .limit(1)
                .collect()
            )
            a, b = top[0]["pair"].split(" ")
            merges.append((it, top[0]["pair"], a + _BPE_MERGE_SEP + b, top[0]["c"]))
            pat = f" {a} {b} "
            rep = f" {a}{_BPE_MERGE_SEP}{b} "
            padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
            merged = F.trim(
                F.replace(
                    F.replace(padded, F.lit(pat), F.lit(rep)), F.lit(pat), F.lit(rep)
                )
            )
            affected = cur.filter(F.contains(padded, F.lit(pat))).persist(
                StorageLevel.MEMORY_AND_DISK
            )
            persisted.append(affected)
            delta_minus = _pair_counts(affected).select(
                "pair", (-F.col("c")).alias("c")
            )
            delta_plus = _pair_counts(
                affected.select("doc_id", merged.alias("text"))
            )
            counts = (
                counts.unionByName(delta_minus)
                .unionByName(delta_plus)
                .groupBy("pair")
                .agg(F.sum("c").alias("c"))
                .filter(F.col("c") > 0)
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            persisted.append(counts)
            cur = cur.select("doc_id", merged.alias("text")).persist(
                StorageLevel.MEMORY_AND_DISK
            )
            persisted.append(cur)
    finally:
        for df in persisted:
            df.unpersist()
    return spark.createDataFrame(
        merges, "it int, pair string, merged string, cnt bigint"
    )


# ---------------------------------------------------------------------------
# Stupid Backoff trigram scoring (round 7)
# ---------------------------------------------------------------------------

# Brants et al. 2007 ("Large Language Models in Machine Translation"): the
# score designed FOR distributed n-gram serving — no normalization pass, a
# fixed 0.4 backoff multiplier per order drop, counts served from sharded
# tables. Train on doc_id%10<9, score the held-out %10==9 slice so backoff
# genuinely fires (self-scoring would always hit the trigram table).
SB_ALPHA_NUM = 4  # 0.4 as 4/10 — documentation only; the score uses 0.4
SB_HOLDOUT_MOD = 10
SB_HOLDOUT_SLOT = 9


@query(
    "text_stupid_backoff_trigram",
    oracle=f"""
    WITH train AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      WHERE doc_id % {SB_HOLDOUT_MOD} <> {SB_HOLDOUT_SLOT}
    ),
    held AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      WHERE doc_id % {SB_HOLDOUT_MOD} = {SB_HOLDOUT_SLOT} AND len(string_split(text, ' ')) >= 3
    ),
    t_uni AS (
      SELECT w, COUNT(*) AS c
      FROM (SELECT unnest(toks) AS w FROM train) GROUP BY w
    ),
    t_tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM t_uni),
    t_bi AS (
      SELECT toks[i] || ' ' || toks[i+1] AS g, COUNT(*) AS c
      FROM train, unnest(range(1, len(toks))) AS u(i) GROUP BY 1
    ),
    t_tri AS (
      SELECT toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g, COUNT(*) AS c
      FROM train, unnest(range(1, len(toks) - 1)) AS u(i) GROUP BY 1
    ),
    pos AS (
      SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2, toks[i+2] AS w3
      FROM held, unnest(range(1, len(toks) - 1)) AS u(i)
    ),
    scored AS (
      SELECT p.doc_id,
             CASE WHEN tri.c IS NOT NULL THEN 0
                  WHEN b23.c IS NOT NULL THEN 1
                  ELSE 2 END AS backoff,
             CAST(FLOOR(ln(
               CASE WHEN tri.c IS NOT NULL
                    THEN CAST(tri.c AS DOUBLE) / b12.c
                    WHEN b23.c IS NOT NULL
                    THEN 0.4 * (CAST(b23.c AS DOUBLE) / u2.c)
                    WHEN u3.c IS NOT NULL
                    THEN 0.16 * (CAST(u3.c AS DOUBLE) / t_tot.n)
                    ELSE 0.16 * (0.5 / t_tot.n) END
             ) * 1000000 + 0.5) AS BIGINT) AS lp6
      FROM pos p
      LEFT JOIN t_tri tri ON tri.g = p.w1 || ' ' || p.w2 || ' ' || p.w3
      LEFT JOIN t_bi b12 ON b12.g = p.w1 || ' ' || p.w2
      LEFT JOIN t_bi b23 ON b23.g = p.w2 || ' ' || p.w3
      LEFT JOIN t_uni u2 ON u2.w = p.w2
      LEFT JOIN t_uni u3 ON u3.w = p.w3
      CROSS JOIN t_tot
    )
    SELECT doc_id, COUNT(*) AS n_trigrams,
           CAST(SUM(lp6) AS BIGINT) AS sum_lp6,
           CAST(SUM(CASE WHEN backoff = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tri_hits,
           CAST(SUM(CASE WHEN backoff = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bi_backoffs,
           CAST(SUM(CASE WHEN backoff = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_uni_backoffs
    FROM scored GROUP BY doc_id
    """,
    tags=("northstar", "scoring", "text", "lm", "bench"),
)
def text_stupid_backoff_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-Backoff trigram LM scoring (Brants et al. 2007) — the LM score
    invented FOR web-scale distributed serving: no discounting or
    normalization pass over the model (which is what makes 10¹²-token
    models trainable as plain count tables), a fixed 0.4 multiplier per
    backoff level, and counts resolvable from independently-sharded n-gram
    tables. Trains on 90% of the corpus and scores the held-out 10% so the
    backoff chain (trigram → bigram → unigram → unseen floor) genuinely
    executes; per-doc backoff-level counts ride along as the model-coverage
    diagnostic.

    Spark shape: the three count tables build with one explode each
    (codegen'd arrays_zip n-gram lists, the bigram-LM recipe) and map-side
    partial aggregation; they are vocabulary-sized (≪ corpus) and BROADCAST
    to the held-out position stream — five broadcast-hash left joins, zero
    shuffle of the scored positions, then one doc_id re-aggregation of
    exact 1e-6-grid integers. At web scale the model tables outgrow
    broadcast and the joins become co-shuffled lookups against n-gram-keyed
    shards — exactly the serving layout the paper describes; the score
    algebra is unchanged."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split("text", " ")
    train = docs.filter(F.col("doc_id") % SB_HOLDOUT_MOD != SB_HOLDOUT_SLOT)
    held = docs.filter(
        (F.col("doc_id") % SB_HOLDOUT_MOD == SB_HOLDOUT_SLOT) & (F.size(toks) >= 3)
    )

    t_uni = (
        train.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    t_tot = t_uni.agg(F.sum("c").alias("n"))
    bi = lambda df: (  # noqa: E731
        df.filter(F.size(toks) >= 2)
        .select(F.explode(T.adjacent_pair_structs(toks)).alias("z"))
        .select(F.concat_ws(" ", F.col("z")["0"], F.col("z")["1"]).alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    t_bi = bi(train)
    t_tri = (
        train.filter(F.size(toks) >= 3)
        .select(F.explode(T.adjacent_triple_structs(toks)).alias("z"))
        .select(
            F.concat_ws(" ", F.col("z")["0"], F.col("z")["1"], F.col("z")["2"]).alias("g")
        )
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("c"))
    )

    pos = held.select(
        "doc_id", F.explode(T.adjacent_triple_structs(toks)).alias("z")
    ).select(
        "doc_id",
        F.col("z")["0"].alias("w1"),
        F.col("z")["1"].alias("w2"),
        F.col("z")["2"].alias("w3"),
    )
    j = (
        pos.join(
            F.broadcast(t_tri.select(F.col("g").alias("g3"), F.col("c").alias("c3"))),
            F.concat_ws(" ", "w1", "w2", "w3") == F.col("g3"),
            "left",
        )
        .join(
            F.broadcast(t_bi.select(F.col("g").alias("g12"), F.col("c").alias("c12"))),
            F.concat_ws(" ", "w1", "w2") == F.col("g12"),
            "left",
        )
        .join(
            F.broadcast(t_bi.select(F.col("g").alias("g23"), F.col("c").alias("c23"))),
            F.concat_ws(" ", "w2", "w3") == F.col("g23"),
            "left",
        )
        .join(
            F.broadcast(t_uni.select(F.col("w").alias("wu2"), F.col("c").alias("c2"))),
            F.col("w2") == F.col("wu2"),
            "left",
        )
        .join(
            F.broadcast(t_uni.select(F.col("w").alias("wu3"), F.col("c").alias("c3u"))),
            F.col("w3") == F.col("wu3"),
            "left",
        )
        .crossJoin(F.broadcast(t_tot))
    )
    s = (
        F.when(F.col("c3").isNotNull(), F.col("c3").cast("double") / F.col("c12"))
        .when(F.col("c23").isNotNull(), 0.4 * (F.col("c23").cast("double") / F.col("c2")))
        .when(F.col("c3u").isNotNull(), 0.16 * (F.col("c3u").cast("double") / F.col("n")))
        .otherwise(0.16 * (F.lit(0.5) / F.col("n")))
    )
    backoff = (
        F.when(F.col("c3").isNotNull(), F.lit(0))
        .when(F.col("c23").isNotNull(), F.lit(1))
        .otherwise(F.lit(2))
    )
    scored = j.select(
        "doc_id",
        backoff.alias("backoff"),
        F.floor(F.log(s) * 1000000 + F.lit(0.5)).cast("bigint").alias("lp6"),
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_trigrams"),
        F.sum("lp6").alias("sum_lp6"),
        F.sum(F.when(F.col("backoff") == 0, 1).otherwise(0)).cast("bigint").alias("n_tri_hits"),
        F.sum(F.when(F.col("backoff") == 1, 1).otherwise(0)).cast("bigint").alias("n_bi_backoffs"),
        F.sum(F.when(F.col("backoff") == 2, 1).otherwise(0)).cast("bigint").alias("n_uni_backoffs"),
    )


# ---------------------------------------------------------------------------
# WordPiece greedy longest-match encoding
# ---------------------------------------------------------------------------

WP_NGRAM_MAX = 4  # longest candidate piece
WP_TOP_MULTIGRAMS = 50  # multigram vocab budget (chars are always in-vocab)


def _wp_oracle() -> str:
    return f"""
    WITH RECURSIVE
    w0 AS (
      SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ),
    wc AS (
      SELECT word, COUNT(*) AS cnt FROM w0 WHERE length(word) > 0 GROUP BY 1
    ),
    chars AS (
      SELECT DISTINCT substr(word, CAST(gs AS INT), 1) AS piece
      FROM (
        SELECT word, unnest(range(1, length(word) + 1)) AS gs FROM wc
      )
    ),
    mg AS (
      SELECT substr(word, CAST(gs AS INT), CAST(n AS INT)) AS piece,
             SUM(cnt) AS c
      FROM (
        SELECT word, cnt, n,
               unnest(range(1, length(word) - n + 2)) AS gs
        FROM wc CROSS JOIN (VALUES (2), (3), (4)) nn(n)
      )
      GROUP BY 1
    ),
    top AS (
      SELECT piece FROM mg
      ORDER BY c DESC, piece ASC LIMIT {WP_TOP_MULTIGRAMS}
    ),
    vocab AS (
      SELECT piece, length(piece) AS len FROM top
      UNION
      SELECT piece, 1 FROM chars
    ),
    st(word, cnt, pos, plen) AS (
      SELECT word, cnt, 1, 0 FROM wc
      UNION ALL
      SELECT st.word, st.cnt, st.pos + m.ml, m.ml
      FROM st JOIN LATERAL (
        SELECT MAX(v.len) AS ml FROM vocab v
        WHERE v.piece = substr(st.word, st.pos, v.len)
      ) m ON true
      WHERE st.pos <= length(st.word)
    ),
    uses AS (
      SELECT substr(word, pos - plen, plen) AS piece, SUM(cnt) AS u
      FROM st WHERE plen > 0 GROUP BY 1
    ),
    tot AS (SELECT SUM(u) AS total FROM uses)
    SELECT v.piece, v.len AS piece_len,
           CAST(COALESCE(u.u, 0) AS BIGINT) AS n_uses,
           CAST(COALESCE(u.u, 0) * 1000000 // tot.total AS BIGINT)
             AS share_ppm
    FROM vocab v LEFT JOIN uses u USING (piece) CROSS JOIN tot
    """


@query(
    "tokenizer_wordpiece_encode",
    oracle=_wp_oracle(),
    tags=("northstar", "scoring", "tokenizer", "bench"),
)
def tokenizer_wordpiece_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece-style greedy longest-match-first encoding (Wu et al.
    2016; the BERT tokenizer's inference rule) driven by a corpus-derived
    vocab: every single character (guaranteeing total coverage — no UNK
    path) plus the top-{WP_TOP_MULTIGRAMS} word-internal 2..4-grams by
    occurrence weight. Reports per-piece usage counts and corpus share
    under the greedy segmentation — the "which pieces does the encoder
    actually spend" audit that decides vocab pruning (pieces with zero
    uses are shadowed by longer matches and can be dropped for free).
    Complements the BPE family: BPE *trains* merges bottom-up;
    WordPiece *encodes* top-down against a fixed vocab.

    Spark shape: token counts collapse to DISTINCT words first (one
    token-keyed shuffle; segmentation cost then scales with |vocabulary
    of words|, not corpus tokens — the corpus multiplicities ride along
    as weights). Candidate grams explode off distinct words via
    codegen'd sequence/substring (positions × 3 gram sizes), top-K picks
    via TakeOrderedAndProject (per-partition top-K, single merge — the
    vocab-coverage two-phase pattern, no global window). The greedy
    matcher is the genuinely-iterative per-word loop Spark built-ins
    can't express: an Arrow-batched mapInPandas over distinct words
    against a BROADCAST frozen vocab set (bounded: ≤ {WP_TOP_MULTIGRAMS}
    multigrams + |alphabet| chars — an O(config) collect, stated here).
    At 100 TB the distinct-word table is the Zipf head — millions of
    rows, kilobytes of vocab — so the encode pass is embarrassingly
    parallel and the only corpus-sized work is the first token count."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select("text")
    words = docs.select(F.explode(F.split("text", " ")).alias("word")).filter(
        F.length("word") > 0
    )
    wc = words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))

    grams = None
    for n in range(2, WP_NGRAM_MAX + 1):
        g = (
            wc.filter(F.length("word") >= n)
            .select(
                "cnt",
                F.explode(F.expr(f"sequence(1, length(word) - {n} + 1)")).alias("p"),
                F.expr(f"substr(word, p, {n})").alias("piece"),
            )
            .select("piece", "cnt")
        )
        grams = g if grams is None else grams.unionByName(g)
    mg = grams.groupBy("piece").agg(F.sum("cnt").alias("c"))
    top = mg.orderBy(F.col("c").desc(), F.col("piece").asc()).limit(
        WP_TOP_MULTIGRAMS
    )
    chars = (
        wc.select(
            F.explode(F.expr("sequence(1, length(word))")).alias("p"),
            F.expr("substr(word, p, 1)").alias("piece"),
        )
        .select("piece")
        .distinct()
    )
    vocab_df = (
        top.select("piece")
        .unionByName(chars)
        .distinct()
        .select("piece", F.length("piece").alias("len"))
    )
    # O(config) collect: <= WP_TOP_MULTIGRAMS + |alphabet| pieces.
    vocab = frozenset(r["piece"] for r in vocab_df.collect())

    def encode(batches):
        acc: dict[str, int] = {}
        for pdf in batches:
            for word, cnt in zip(pdf["word"], pdf["cnt"]):
                pos = 0
                L = len(word)
                while pos < L:
                    for n in range(min(WP_NGRAM_MAX, L - pos), 0, -1):
                        piece = word[pos : pos + n]
                        if piece in vocab:
                            acc[piece] = acc.get(piece, 0) + int(cnt)
                            pos += n
                            break
        yield pd.DataFrame(
            {"piece": list(acc), "u": list(acc.values())}
            if acc
            else {"piece": pd.Series(dtype="object"), "u": pd.Series(dtype="int64")}
        )

    uses = (
        wc.mapInPandas(encode, "piece string, u long")
        .groupBy("piece")
        .agg(F.sum("u").alias("u"))
    )
    tot = uses.agg(F.sum("u").cast("bigint").alias("total"))
    return (
        vocab_df.join(uses, "piece", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "piece",
            F.col("len").alias("piece_len"),
            F.coalesce(F.col("u"), F.lit(0)).cast("bigint").alias("n_uses"),
            F.expr("cast(coalesce(u, 0) * 1000000 div total as bigint)").alias(
                "share_ppm"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Unigram-LM Viterbi word scoring (SentencePiece's other half)
# ---------------------------------------------------------------------------


def _uv_oracle() -> str:
    # piece of length k ending at pos+1 starts at pos-k+2 and pairs with
    # best(pos+1-k) = b{k-1}; NULL b-columns guard the pos+1-k < 0 edge and
    # GREATEST ignores NULL candidates.
    cands = ",\n      ".join(
        f"b{k - 1} + (SELECT lp6 FROM v WHERE v.piece"
        f" = substr(st.word, st.pos - {k} + 2, {k}))"
        for k in range(1, WP_NGRAM_MAX + 1)
    )
    return f"""
    WITH RECURSIVE
    w0 AS (
      SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ),
    wc AS (
      SELECT word, COUNT(*) AS cnt FROM w0 WHERE length(word) > 0 GROUP BY 1
    ),
    cg AS (
      SELECT substr(word, CAST(gs AS INT), 1) AS piece, SUM(cnt) AS c
      FROM (
        SELECT word, cnt, unnest(range(1, length(word) + 1)) AS gs FROM wc
      )
      GROUP BY 1
    ),
    mg AS (
      SELECT substr(word, CAST(gs AS INT), CAST(n AS INT)) AS piece,
             SUM(cnt) AS c
      FROM (
        SELECT word, cnt, n,
               unnest(range(1, length(word) - n + 2)) AS gs
        FROM wc CROSS JOIN (VALUES (2), (3), (4)) nn(n)
      )
      GROUP BY 1
    ),
    top AS (
      SELECT piece, c FROM mg ORDER BY c DESC, piece ASC
      LIMIT {WP_TOP_MULTIGRAMS}
    ),
    vocab AS (
      SELECT piece, length(piece) AS len, c FROM top
      UNION ALL
      SELECT piece, 1, c FROM cg
    ),
    tot AS (SELECT SUM(c) AS t FROM vocab),
    v AS (
      SELECT piece, len,
             CAST(FLOOR((ln(CAST(c AS DOUBLE))
                         - ln(CAST((SELECT t FROM tot) AS DOUBLE)))
                        * 1000000 + 0.5) AS BIGINT) AS lp6
      FROM vocab
    ),
    st(word, pos, b0, b1, b2, b3) AS (
      SELECT word, 0, CAST(0 AS BIGINT), NULL, NULL, NULL FROM wc
      UNION ALL
      SELECT word, pos + 1,
             GREATEST(
      {cands}
             ),
             b0, b1, b2
      FROM st WHERE pos < length(word)
    )
    SELECT wc.word, wc.cnt AS n_occ, st.b0 AS viterbi_lp6
    FROM st JOIN wc USING (word)
    WHERE st.pos = length(st.word)
    """


@query(
    "tokenizer_unigram_viterbi_score",
    oracle=_uv_oracle(),
    tags=("northstar", "scoring", "tokenizer", "bench"),
)
def tokenizer_unigram_viterbi_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM Viterbi scoring (Kudo 2018 — the SentencePiece unigram
    model's decode half): every word's BEST segmentation log-probability
    under a piece unigram model whose probabilities come from corpus
    piece counts (all single chars + the top-WP_TOP_MULTIGRAMS 2..4-grams
    — the same candidate set the WordPiece encoder next door matches
    greedily; Viterbi is provably ≥ greedy per word, pinned by unit
    test). Log-probs quantize to the 1e-6 grid (ln of counts, the
    drift_psi precedent) so the DP is exact integer max-plus algebra —
    deterministic across engines, no float-order sensitivity.

    Spark shape: identical substrate economics to the WordPiece encoder
    (distinct-word collapse, codegen'd gram explosion,
    TakeOrderedAndProject top-K, O(config) vocab broadcast); the DP
    itself — best(i) = max_k best(i−k) + lp(piece ending at i) — is the
    genuinely-sequential per-word loop, an Arrow-batched mapInPandas over
    distinct words. The oracle runs the SAME DP as a recursive CTE
    carrying a sliding window of the last 4 best values. At 100 TB the
    encode pass is embarrassingly parallel over the Zipf-head word table;
    scores for repeated words are computed once and fan out by count."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select("text")
    words = docs.select(F.explode(F.split("text", " ")).alias("word")).filter(
        F.length("word") > 0
    )
    wc = words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))

    cg = (
        wc.select(
            "cnt",
            F.explode(F.expr("sequence(1, length(word))")).alias("p"),
            F.expr("substr(word, p, 1)").alias("piece"),
        )
        .groupBy("piece")
        .agg(F.sum("cnt").alias("c"))
    )
    grams = None
    for n in range(2, WP_NGRAM_MAX + 1):
        g = (
            wc.filter(F.length("word") >= n)
            .select(
                "cnt",
                F.explode(F.expr(f"sequence(1, length(word) - {n} + 1)")).alias("p"),
                F.expr(f"substr(word, p, {n})").alias("piece"),
            )
            .select("piece", "cnt")
        )
        grams = g if grams is None else grams.unionByName(g)
    mg = grams.groupBy("piece").agg(F.sum("cnt").alias("c"))
    top = mg.orderBy(F.col("c").desc(), F.col("piece").asc()).limit(
        WP_TOP_MULTIGRAMS
    )
    vocab_df = top.select("piece", "c").unionByName(cg.select("piece", "c"))
    tot = vocab_df.agg(F.sum("c").cast("double").alias("t"))
    v = vocab_df.crossJoin(F.broadcast(tot)).select(
        "piece",
        F.floor(
            (F.log(F.col("c").cast("double")) - F.log("t")) * 1000000 + F.lit(0.5)
        )
        .cast("bigint")
        .alias("lp6"),
    )
    # O(config) collect: <= WP_TOP_MULTIGRAMS + |alphabet| pieces.
    lp = {r["piece"]: r["lp6"] for r in v.collect()}

    def score(batches):
        out_w, out_c, out_s = [], [], []
        for pdf in batches:
            for word, cnt in zip(pdf["word"], pdf["cnt"]):
                L = len(word)
                best = [0] + [None] * L
                for i in range(1, L + 1):
                    b = None
                    for k in range(1, min(WP_NGRAM_MAX, i) + 1):
                        prev = best[i - k]
                        if prev is None:
                            continue
                        p = lp.get(word[i - k : i])
                        if p is None:
                            continue
                        cand = prev + p
                        if b is None or cand > b:
                            b = cand
                    best[i] = b
                out_w.append(word)
                out_c.append(int(cnt))
                out_s.append(int(best[L]))
        yield pd.DataFrame({"word": out_w, "n_occ": out_c, "viterbi_lp6": out_s})

    return wc.mapInPandas(score, "word string, n_occ long, viterbi_lp6 long")


# ---------------------------------------------------------------------------
# Evaluation / annotation-QA family (round 12): inter-rater agreement and
# score calibration — the two audits a labeling pipeline runs before trusting
# a classifier's keep/drop decisions at corpus scale. Both are exact-integer
# end to end (ppm grids, sign-safe floors), shared symbol-for-symbol with the
# DuckDB oracles.
# ---------------------------------------------------------------------------

# Rater B — the cheap lexical-diversity rule an annotation rubric would
# hand a human team: keep iff type-token ratio >= 0.72 AND stopword
# density <= 0.10 (both on the exact ppm grid). Deliberately NOT the
# classifier's feature weighting, so agreement is informative.
RATER_B_TTR_E6 = 720_000
RATER_B_STOP_E6 = 100_000

# Calibration mapping for the classifier score: logit_e6 clamped onto
# [CAL_LO_E6, CAL_LO_E6 + CAL_SPAN_E6] then scaled to a ppm confidence —
# a fixed monotone score->probability map (the serving-time calibration
# table, one row here because the map is affine).
CAL_LO_E6 = 300_000
CAL_SPAN_E6 = 1_300_000
CAL_BIN_W = 100_000  # 10 equal-width confidence bins
CAL_BIN_MAX = 9

# Shared per-doc feature CTE (mirrors quality_classifier_filter's feature
# block): n_tokens / n_distinct / n_stop, the classifier logit, and both
# raters' verdicts on the exact integer grid.
_RATERS_SQL = f"""
    t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    f AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
             CAST(len([x for x in toks if list_contains([{_STOP_SQL}], x)])
                  AS BIGINT) AS n_stop
      FROM t
    ),
    r AS (
      SELECT doc_id,
             ({QC_W_TTR_E6} * n_distinct) // n_tokens
               - ({QC_W_STOP_E6} * n_stop) // n_tokens
               + ({QC_W_LEN_E6} * LEAST(n_tokens, 256)) // 256
               + {QC_BIAS_E6} AS logit_e6,
             CASE WHEN ({QC_W_TTR_E6} * n_distinct) // n_tokens
                    - ({QC_W_STOP_E6} * n_stop) // n_tokens
                    + ({QC_W_LEN_E6} * LEAST(n_tokens, 256)) // 256
                    + {QC_BIAS_E6} >= {QC_TH_E6}
                  THEN 1 ELSE 0 END AS ra,
             CASE WHEN (1000000 * n_distinct) // n_tokens >= {RATER_B_TTR_E6}
                   AND (1000000 * n_stop) // n_tokens <= {RATER_B_STOP_E6}
                  THEN 1 ELSE 0 END AS rb
      FROM f
    )
"""


def _rater_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc (logit_e6, ra, rb): the classifier rater (A, the
    quality_classifier_filter rule verbatim) and the heuristic rater (B)
    — the Spark twin of the ``_RATERS_SQL`` CTE chain. One projection
    over the scan, zero shuffle."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    stop_arr = F.lit(list(STOPWORDS)).cast("array<string>")
    f = docs.select(
        "doc_id",
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
    return f.select(
        "doc_id",
        logit.cast("bigint").alias("logit_e6"),
        (logit >= QC_TH_E6).cast("int").alias("ra"),
        (
            (F.expr("(1000000 * n_distinct) div n_tokens") >= RATER_B_TTR_E6)
            & (F.expr("(1000000 * n_stop) div n_tokens") <= RATER_B_STOP_E6)
        )
        .cast("int")
        .alias("rb"),
    )


@query(
    "eval_rater_agreement_kappa",
    oracle=f"""
    WITH {_RATERS_SQL},
    c AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(ra * rb) AS HUGEINT) AS a,
             CAST(SUM(ra * (1 - rb)) AS HUGEINT) AS b,
             CAST(SUM((1 - ra) * rb) AS HUGEINT) AS c,
             CAST(SUM((1 - ra) * (1 - rb)) AS HUGEINT) AS d
      FROM r
    ),
    k AS (
      SELECT n, a, b, c, d,
             (a + b) * (a + c) + (c + d) * (b + d) AS pe_num,
             n * (a + d) AS po_num
      FROM c
    )
    SELECT CAST(n AS BIGINT) AS n_docs,
           CAST(a AS BIGINT) AS both_keep,
           CAST(b AS BIGINT) AS only_classifier,
           CAST(c AS BIGINT) AS only_heuristic,
           CAST(d AS BIGINT) AS both_drop,
           CAST(1000000 * po_num // (n * n) AS BIGINT) AS po_ppm,
           CAST(1000000 * pe_num // (n * n) AS BIGINT) AS pe_ppm,
           CAST((1000000 * (po_num - pe_num)
                 - ((1000000 * (po_num - pe_num)) % NULLIF(n * n - pe_num, 0)
                    + NULLIF(n * n - pe_num, 0))
                   % NULLIF(n * n - pe_num, 0))
                // NULLIF(n * n - pe_num, 0) AS BIGINT) AS kappa_ppm
    FROM k
    """,
    tags=("northstar", "scoring", "eval", "stats", "bench"),
)
def eval_rater_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa inter-rater agreement (Cohen 1960) between the learned
    quality classifier (rater A = ``quality_classifier_filter``'s keep
    rule, reused verbatim) and an independent heuristic rubric (rater B:
    TTR >= 0.72 AND stopword density <= 0.10) — the annotation-QA audit
    run before trusting either gate: kappa corrects raw agreement for the
    agreement two biased coins would produce by chance. Exact arithmetic:
    kappa = (n·(a+d) − pe_num) / (n² − pe_num) with
    pe_num = (a+b)(a+c) + (c+d)(b+d) over the four confusion cells —
    a ratio of integers, reported as one sign-safe pmod floor division
    onto the ppm grid (the Theil-Sen convention; kappa is negative when
    raters disagree beyond chance, so the sign-safe form matters). The
    cells and n² are DECIMAL(38,0)/HUGEINT so the n² product is exact to
    n ≈ 1e16 docs; kappa_ppm is NULL in the degenerate pe = 1 case (both
    raters constant).

    Spark shape: one scan → one projection (array features, no UDF) →
    ONE all-reduce to four conditional sums — map-side partials carry the
    whole corpus, the driver sees one row. At 100 TB this is scan-bound,
    shuffle-free, and embarrassingly parallel; the epilogue is O(1)
    integer arithmetic on one row."""
    r = _rater_verdicts(spark, sf_dir)
    c = r.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.col("ra") * F.col("rb")).cast("decimal(38,0)").alias("a"),
        F.sum(F.col("ra") * (1 - F.col("rb"))).cast("decimal(38,0)").alias("b"),
        F.sum((1 - F.col("ra")) * F.col("rb")).cast("decimal(38,0)").alias("c"),
        F.sum((1 - F.col("ra")) * (1 - F.col("rb")))
        .cast("decimal(38,0)")
        .alias("d"),
    )
    k = c.select(
        "n",
        "a",
        "b",
        "c",
        "d",
        F.expr("(a + b) * (a + c) + (c + d) * (b + d)").alias("pe_num"),
        F.expr("n * (a + d)").alias("po_num"),
    )
    den = "nullif(n * n - pe_num, 0)"
    num = "1000000 * (po_num - pe_num)"
    return k.select(
        F.col("n").cast("bigint").alias("n_docs"),
        F.col("a").cast("bigint").alias("both_keep"),
        F.col("b").cast("bigint").alias("only_classifier"),
        F.col("c").cast("bigint").alias("only_heuristic"),
        F.col("d").cast("bigint").alias("both_drop"),
        F.expr("1000000 * po_num div (n * n)").cast("bigint").alias("po_ppm"),
        F.expr("1000000 * pe_num div (n * n)").cast("bigint").alias("pe_ppm"),
        F.expr(f"({num} - pmod({num}, {den})) div {den}")
        .cast("bigint")
        .alias("kappa_ppm"),
    )


@query(
    "eval_score_calibration_ece",
    oracle=f"""
    WITH {_RATERS_SQL},
    conf AS (
      SELECT LEAST(GREATEST(logit_e6 - {CAL_LO_E6}, 0) * 1000000
                   // {CAL_SPAN_E6}, 1000000) AS conf_ppm,
             rb AS label
      FROM r
    ),
    binned AS (
      SELECT LEAST(conf_ppm // {CAL_BIN_W}, {CAL_BIN_MAX}) AS bin,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(conf_ppm) AS BIGINT) AS sum_conf_ppm,
             CAST(SUM(label) AS BIGINT) AS n_pos
      FROM conf GROUP BY 1
    ),
    per_bin AS (
      SELECT bin, n_docs, sum_conf_ppm, n_pos,
             ABS(sum_conf_ppm - 1000000 * n_pos) // n_docs AS gap_ppm
      FROM binned
    )
    SELECT * FROM per_bin
    UNION ALL
    SELECT CAST(-1 AS BIGINT) AS bin,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(SUM(sum_conf_ppm) AS BIGINT) AS sum_conf_ppm,
           CAST(SUM(n_pos) AS BIGINT) AS n_pos,
           CAST(SUM(ABS(sum_conf_ppm - 1000000 * n_pos)) // SUM(n_docs)
                AS BIGINT) AS gap_ppm
    FROM binned
    """,
    tags=("northstar", "scoring", "eval", "stats", "bench"),
)
def eval_score_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected Calibration Error of the quality classifier's score against
    the independent heuristic rater's verdicts (Naeini et al. 2015's ECE,
    the reliability-diagram summary) — the audit that decides whether the
    cheap score can REPLACE the expensive gate at a chosen threshold: the
    affine ppm confidence map over logit_e6 is cut into 10 equal-width
    bins; each bin row reports its population, confidence mass, positive
    count, and |avg confidence − accuracy| gap; the bin = -1 row is the
    headline ECE = Σ_b |sum_conf_b − 1e6·pos_b| / N. Every column is an
    exact BIGINT (nonnegative floors, so truncation == floor in both
    engines); sums are exact to ~9.2e12 docs (1e6-grid confidence mass
    vs the int64 cap — the DECIMAL widening recipe applies beyond that).

    Spark shape: one scan → projection → 10-group aggregate with
    map-side partials; the O(10)-row grid is localCheckpointed (bounded)
    and the headline row is one aggregate over it — no second corpus
    scan for the total. Scan-bound at any scale."""
    r = _rater_verdicts(spark, sf_dir)
    conf = r.select(
        F.expr(
            f"least(greatest(logit_e6 - {CAL_LO_E6}, 0) * 1000000"
            f" div {CAL_SPAN_E6}, 1000000)"
        ).alias("conf_ppm"),
        F.col("rb").alias("label"),
    )
    binned = (
        conf.groupBy(
            F.expr(f"least(conf_ppm div {CAL_BIN_W}, {CAL_BIN_MAX})").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("conf_ppm").cast("bigint").alias("sum_conf_ppm"),
            F.sum("label").cast("bigint").alias("n_pos"),
        )
        # O(10) rows; checkpoint so the headline row reuses the computed
        # grid instead of re-scanning the corpus through the union branch
        .localCheckpoint(eager=True)
    )
    per_bin = binned.select(
        "bin",
        "n_docs",
        "sum_conf_ppm",
        "n_pos",
        F.expr("abs(sum_conf_ppm - 1000000 * n_pos) div n_docs").alias("gap_ppm"),
    )
    total = binned.agg(
        F.lit(-1).cast("bigint").alias("bin"),
        F.sum("n_docs").alias("n_docs"),
        F.sum("sum_conf_ppm").alias("sum_conf_ppm"),
        F.sum("n_pos").alias("n_pos"),
        F.expr(
            "sum(abs(sum_conf_ppm - 1000000 * n_pos)) div sum(n_docs)"
        ).alias("gap_ppm"),
    )
    return per_bin.unionByName(total)
