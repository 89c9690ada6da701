"""Corpus-curation operators (north star, round 3): the remaining passes a
large-scale LLM data pipeline runs between quality filtering and tokenized
batch writing — Gopher-style repetition filtering, temperature-weighted
language mixture sampling, deterministic global training shuffle/sharding,
and payload identifier scrubbing (the PII-redaction surface).

Cross-engine conventions follow plans/registry.py: identical aliases, exact
integer folds before sums (order-free), ``FLOOR(x*10^k + 0.5)/10^k`` instead
of bare ROUND, and every DuckDB integer SUM wrapped in CAST(... AS BIGINT)
(DuckDB SUM(integer) returns HUGEINT, which the driver's pandas canonicalizer
coerces to float64 and hash-mismatches Spark's int64).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_streams_playground_spark.functions import text as T
from kafka_streams_playground_spark.plans.registry import query
from kafka_streams_playground_spark.sources.parquet import load_table

# Repetition-filter thresholds (Gopher-style "repetitive document" signals,
# Rae et al. 2021 §A1.1): flag when the duplicated-2-gram fraction or the
# most-frequent-token share is high. Chosen so the sf fixtures carry both
# flag classes (p90 rep2 ≈ 0.065, p90 top-token ≈ 0.14 at sf0.01).
REP_2GRAM_TH = 0.05
TOP_TOKEN_TH = 0.125

# Temperature-weighted mixture sampling (multilingual-LM style, e.g. XLM-R):
# per-language sampling weight ∝ p^ALPHA with ALPHA=0.5 (sqrt), flattening
# the head. SAMPLE_BUDGET is the target document count to draw.
SAMPLE_BUDGET = 10_000

# Deterministic global shuffle: md5-keyed shard + in-shard position. At
# 100 TB the shard count scales with the cluster (shards stay ~fixed-size);
# 8 keeps the fixture output readable.
N_SHARDS = 8


@query(
    "text_repetition_stats",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    b AS (
      SELECT doc_id, len(toks) AS n_tokens,
             CASE WHEN len(toks) >= 2
               THEN [array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))]
               ELSE [] END AS g2
      FROM t
    ),
    r AS (
      SELECT doc_id, n_tokens,
             CASE WHEN len(g2) > 0
               THEN (len(g2) - len(list_distinct(g2))) * 1.0 / len(g2)
               ELSE 0.0 END AS rep2
      FROM b
    ),
    c AS (
      SELECT doc_id, tok, COUNT(*) AS cnt
      FROM (SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY 1, 2
    ),
    m AS (SELECT doc_id, MAX(cnt) AS top_tok_n FROM c GROUP BY 1)
    SELECT r.doc_id, r.n_tokens,
           FLOOR(rep2 * 10000 + 0.5) / 10000 AS rep_2gram_frac,
           m.top_tok_n,
           FLOOR(m.top_tok_n * 10000.0 / r.n_tokens + 0.5) / 10000
               AS top_token_frac,
           CAST(rep2 >= {REP_2GRAM_TH}
                OR m.top_tok_n * 1.0 / r.n_tokens >= {TOP_TOKEN_TH} AS INT)
               AS flagged
    FROM r JOIN m USING (doc_id)
    """,
    tags=("northstar", "curation", "text", "bench"),
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: fraction of 2-gram
    occurrences that are within-doc duplicates, and the most-frequent-token
    share; docs exceeding either threshold are flagged repetitive.

    Spark shape: the 2-gram fraction is a pure per-row Catalyst array
    expression (``size(g2) - size(array_distinct(g2))`` — linear in doc
    length, whole-stage codegen, zero shuffle). The token mode needs true
    per-(doc, token) counts, which per-row expressions would make O(n²) on
    long docs — instead explode → two-level partial-aggregated groupBy
    (one shuffle keyed on doc_id, map-side combine does most of the work)
    and a broadcast-free join back on doc_id. At 100 TB both branches scale
    linearly; the join co-shuffles on doc_id.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = docs.select("doc_id", T.tokens("text").alias("toks"))
    # Pair structs, not concat'd strings: array_distinct compares structs
    # fieldwise, so the dup-fraction needs no string build at all — and the
    # codegen'd zip form avoids the per-element HOF lambda (5× on sf0.1;
    # see functions/text.py::adjacent_pair_structs).
    g2 = T.adjacent_pair_structs(F.col("toks"))
    base = t.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        F.when(F.size("toks") >= 2, g2).otherwise(F.array()).alias("g2"),
    ).select(
        "doc_id",
        "n_tokens",
        F.when(
            F.size("g2") > 0,
            (F.size("g2") - F.size(F.array_distinct("g2"))) / F.size("g2"),
        )
        .otherwise(F.lit(0.0))
        .alias("rep2"),
    )
    top = (
        t.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(F.max("cnt").alias("top_tok_n"))
    )
    j = base.join(top, "doc_id")
    ttf = F.col("top_tok_n") / F.col("n_tokens")
    return j.select(
        "doc_id",
        "n_tokens",
        (F.floor(F.col("rep2") * 10000 + F.lit(0.5)) / 10000).alias("rep_2gram_frac"),
        "top_tok_n",
        (F.floor(F.col("top_tok_n") * 10000.0 / F.col("n_tokens") + F.lit(0.5)) / 10000).alias(
            "top_token_frac"
        ),
        ((F.col("rep2") >= REP_2GRAM_TH) | (ttf >= TOP_TOKEN_TH)).cast("int").alias("flagged"),
    )


@query(
    "sample_temperature_mix",
    oracle=f"""
    WITH t AS (SELECT lang, len(string_split(text, ' ')) AS n FROM documents),
    a AS (
      SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS n_tokens
      FROM t GROUP BY 1
    ),
    b AS (
      SELECT lang, n_docs, n_tokens,
             n_tokens * 1.0 / (SUM(n_tokens) OVER ()) AS p,
             CAST(FLOOR(SQRT(n_tokens * 1.0 / (SUM(n_tokens) OVER ())) * 1e9
                        + 0.5) AS BIGINT) AS sq9
      FROM a
    ),
    c AS (SELECT *, CAST(SUM(sq9) OVER () AS BIGINT) AS sqtot FROM b)
    SELECT lang, n_docs, n_tokens,
           FLOOR(p * 1e6 + 0.5) / 1e6 AS p_tokens,
           FLOOR(sq9 * 1e6 * 1.0 / sqtot + 0.5) / 1e6 AS weight,
           CAST(FLOOR(sq9 * 1.0 / sqtot * {SAMPLE_BUDGET}) AS BIGINT) AS target_n
    FROM c
    """,
    tags=("northstar", "curation", "sampling", "bench"),
)
def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted language mixture (XLM-R style): per-language
    token share p, sampling weight ∝ p^0.5 (ALPHA=0.5 flattens the head so
    low-resource languages are upsampled), and the per-language document
    budget out of {SAMPLE_BUDGET}.

    Cross-engine determinism: the corpus-wide reduction is an exact integer
    token SUM (order-free); sqrt(p) is quantized to an exact integer grid
    (``floor(sqrt(p)·1e9 + 0.5)``) BEFORE the normalizing sum, so both
    normalizations sum integers — no float-accumulation-order hazard. The
    per-language table after the first aggregate is |languages| rows
    (driver-scale by construction), so the unpartitioned window over it is
    not a scale concern; the only corpus-wide pass is the first
    partial-aggregated groupBy.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("lang", F.size(T.tokens("text")).cast("bigint").alias("n"))
    a = t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n").alias("n_tokens")
    )
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    p = F.col("n_tokens") / F.sum("n_tokens").over(wall)
    b = a.select(
        "lang",
        "n_docs",
        "n_tokens",
        p.alias("p"),
        F.floor(F.sqrt(p) * 1e9 + F.lit(0.5)).cast("bigint").alias("sq9"),
    )
    c = b.withColumn("sqtot", F.sum("sq9").over(wall))
    return c.select(
        "lang",
        "n_docs",
        "n_tokens",
        (F.floor(F.col("p") * 1e6 + F.lit(0.5)) / 1e6).alias("p_tokens"),
        (F.floor(F.col("sq9") * 1e6 / F.col("sqtot") + F.lit(0.5)) / 1e6).alias("weight"),
        F.floor(F.col("sq9") / F.col("sqtot") * SAMPLE_BUDGET)
        .cast("bigint")
        .alias("target_n"),
    )


@query(
    "train_shuffle_shards",
    oracle=f"""
    WITH h AS (
      SELECT doc_id,
             ('0x' || substr(md5('shuf:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                 AS hkey
      FROM documents
    )
    SELECT doc_id,
           hkey % {N_SHARDS} AS shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY hkey % {N_SHARDS}
                                   ORDER BY hkey, doc_id) AS BIGINT) AS pos
    FROM h
    """,
    tags=("northstar", "curation", "shuffle", "bench"),
)
def train_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training shuffle: every document gets a
    reproducible pseudo-random position — shard = md5(salt‖doc_id) mod
    {N_SHARDS}, position = rank of the hash within the shard. A tokenized-
    batch writer consumes this map to emit shards whose internal order is
    decorrelated from crawl order, with NO global sort.

    Spark shape: one narrow projection computes the hash key, then a
    row_number window partitioned BY SHARD — each shard sorts independently
    (hash-shuffle on shard, per-partition sort), so the work is
    embarrassingly parallel across shards. At 100 TB: shard count scales
    with the cluster (fixed-size shards ⇒ per-partition sort fits memory;
    spill-safe regardless), which is exactly how distributed training
    shuffles (e.g. webdataset shard writers) are laid out. The md5 key is
    the cross-engine-deterministic stand-in for a seeded PRNG permutation.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    hkey = F.conv(
        F.substring(F.md5(F.concat(F.lit("shuf:"), F.col("doc_id").cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")
    h = docs.select("doc_id", hkey.alias("hkey"), (hkey % N_SHARDS).alias("shard"))
    w = Window.partitionBy("shard").orderBy("hkey", "doc_id")
    return h.select(
        "doc_id", "shard", F.row_number().over(w).cast("bigint").alias("pos")
    )


@query(
    "pii_scrub_events",
    oracle="""
    SELECT event_id,
           regexp_replace(props, '[0-9]+', '#', 'g') AS masked_props,
           CAST(len(regexp_extract_all(props, '[0-9]+')) AS BIGINT)
               AS n_digit_runs,
           CAST(length(props) - length(regexp_replace(props, '[0-9]', '', 'g'))
                AS BIGINT) AS n_digits
    FROM events
    """,
    tags=("northstar", "curation", "pii", "bench"),
)
def pii_scrub_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payload identifier scrubbing (the PII-redaction surface): mask every
    digit run in the raw event payload and report how much was redacted —
    the audit a pipeline runs before raw payloads may enter a training
    corpus. The regex subset used ('[0-9]+', '[0-9]') means the same thing
    in Java regex (Spark) and RE2 (DuckDB), so the oracle is exact.

    Spark shape: pure per-row codegen'd JVM expressions (regexp_replace /
    regexp_extract_all are Catalyst expressions, NOT UDFs) — zero shuffle,
    linear scan, trivially scale-safe. On real corpora the same operator
    carries the email/phone/SSN pattern bank; the fixture payloads exercise
    the numeric-identifier class.
    """
    events = load_table(spark, sf_dir, "events").select("event_id", "props")
    return events.select(
        "event_id",
        F.regexp_replace("props", "[0-9]+", "#").alias("masked_props"),
        F.size(F.regexp_extract_all("props", F.lit("[0-9]+"), F.lit(0)))
        .cast("bigint")
        .alias("n_digit_runs"),
        (
            F.length("props")
            - F.length(F.regexp_replace("props", "[0-9]", ""))
        )
        .cast("bigint")
        .alias("n_digits"),
    )


# Length-histogram bucket width (tokens). Fixture docs run ~5-120 tokens;
# 10-token buckets give a readable ~12-bucket histogram at every SF.
HIST_BUCKET_TOKENS = 10


@query(
    "text_length_histogram",
    oracle=f"""
    WITH f AS (
      SELECT len(string_split(text, ' ')) AS n_tokens FROM documents
    )
    SELECT CAST(n_tokens // {HIST_BUCKET_TOKENS} AS BIGINT) AS bucket,
           CAST(n_tokens // {HIST_BUCKET_TOKENS} * {HIST_BUCKET_TOKENS} AS BIGINT)
               AS bucket_lo,
           COUNT(*) AS n_docs,
           CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
           CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
    FROM f GROUP BY 1, 2
    """,
    tags=("northstar", "curation", "text", "bench"),
)
def text_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram (HIST_BUCKET_TOKENS = 10-token buckets):
    the length-distribution panel on every curation dashboard — where the
    too-short/too-long gate thresholds (``pipeline_quality_filter``'s
    MIN/MAX_TOKENS) come from in the first place, and the before/after
    picture a filtering change is judged by.

    Spark shape: one narrow map-side projection (token count only — text
    never leaves the scan stage) and one shuffle to |buckets| rows with
    map-side partials; integer division gives identical bucket boundaries
    in both engines. O(N) with a ~dozen-row output at any corpus size —
    at 100 TB this runs as a side output of whatever pass is already
    scanning the corpus."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    n_tokens = F.size(F.split("text", " "))
    f = docs.select(n_tokens.alias("n_tokens"))
    bucket = F.floor(F.col("n_tokens") / HIST_BUCKET_TOKENS).cast("bigint")
    return f.groupBy(
        bucket.alias("bucket"),
        (bucket * HIST_BUCKET_TOKENS).alias("bucket_lo"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_tokens").cast("bigint").alias("min_tokens"),
        F.max("n_tokens").cast("bigint").alias("max_tokens"),
    )


# Deterministic held-out split: md5(salt‖doc_id) mod 100 buckets → 90/5/5.
# The salt namespaces this hash family away from train_shuffle_shards'.
SPLIT_TRAIN_PCT = 90
SPLIT_VAL_PCT = 95  # train < 90 ≤ val < 95 ≤ test


@query(
    "sample_hash_split",
    oracle=f"""
    WITH h AS (
      SELECT ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                 % 100 AS bucket,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
    )
    SELECT CASE WHEN bucket < {SPLIT_TRAIN_PCT} THEN 'train'
                WHEN bucket < {SPLIT_VAL_PCT} THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           FLOOR(COUNT(*) * 10000.0
                 / (SELECT COUNT(*) FROM documents) + 0.5) / 10000 AS frac
    FROM h GROUP BY 1
    """,
    tags=("northstar", "curation", "sampling", "bench"),
)
def sample_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/validation/test holdout: every document lands in
    a split by md5(salt‖doc_id) mod 100 (90/5/5) — the standard
    content-stable split mechanism for training corpora. Hash-assignment
    (vs random) is what makes the split REPRODUCIBLE across reruns,
    incremental ingests, and engines: a document's split never changes when
    the corpus around it does, which is exactly the property eval
    decontamination depends on.

    Spark shape: the bucket is computed map-side in the scan stage from the
    same md5-prefix integer recipe as ``train_shuffle_shards`` (different
    salt → independent hash family); one shuffle to 3 rollup rows with
    map-side partials. The corpus-total for the fraction column is a 1-row
    scalar aggregate (cross-joined, broadcast). O(N), no data movement
    beyond the 3-row rollup — the manifest a 100 TB split pass writes next
    to the shard directory."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    h = docs.select(
        F.when(bucket < SPLIT_TRAIN_PCT, "train")
        .when(bucket < SPLIT_VAL_PCT, "val")
        .otherwise("test")
        .alias("split"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    tot = docs.agg(F.count(F.lit(1)).alias("n_total"))
    agg = h.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("n_tokens")
    )
    return agg.crossJoin(F.broadcast(tot)).select(
        "split",
        "n_docs",
        "n_tokens",
        (F.floor(F.col("n_docs") * 10000.0 / F.col("n_total") + F.lit(0.5)) / 10000).alias(
            "frac"
        ),
    )


@query(
    "pipeline_dataset_card",
    oracle="""
    WITH t AS (
      SELECT lang, source, len(string_split(text, ' ')) AS n, md5(text) AS h
      FROM documents
    ),
    a AS (
      SELECT COUNT(*) AS n_docs,
             COUNT(DISTINCT lang) AS n_langs,
             COUNT(DISTINCT source) AS n_sources,
             CAST(SUM(n) AS BIGINT) AS total_tokens,
             COUNT(DISTINCT h) AS n_unique_texts
      FROM t
    )
    SELECT n_docs, n_langs, n_sources, total_tokens, n_unique_texts,
           (n_docs - n_unique_texts) * 1000000 // n_docs AS dup_ppm,
           total_tokens * 1000000 // n_docs AS tokens_per_doc_e6
    FROM a
    """,
    tags=("northstar", "curation", "bench"),
)
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset card: the one-row corpus summary a curated release publishes —
    document/language/source counts, total whitespace tokens, distinct-text
    count, exact-duplicate rate and mean document length (both in
    parts-per-million fixed point, BIGINT floor division in both engines —
    no float path at all).

    Spark shape: a single global aggregate over one narrow projection of the
    scan; every measure (count, conditional counts, sum, distinct-md5 count)
    folds map-side first, so the final exchange carries one partial row per
    task. ``count_distinct`` over md5 is the only shuffle-wide state and is
    bounded by |distinct texts| — at 100 TB swap in HLL/KMV
    (``agg_kmv_distinct_sketch``) if an approximate card suffices; the
    exact form is the publishable one."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "lang", "source", F.size(T.tokens("text")).alias("n"), F.md5("text").alias("h")
    )
    a = t.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("n").cast("bigint").alias("total_tokens"),
        F.countDistinct("h").alias("n_unique_texts"),
    )
    return a.select(
        "n_docs",
        "n_langs",
        "n_sources",
        "total_tokens",
        "n_unique_texts",
        F.expr("(n_docs - n_unique_texts) * 1000000 div n_docs").alias("dup_ppm"),
        F.expr("total_tokens * 1000000 div n_docs").alias("tokens_per_doc_e6"),
    )


@query(
    "sample_quality_weighted",
    oracle="""
    WITH f AS (
      SELECT doc_id, lang,
             CAST(FLOOR((0.5 * (len(list_distinct(string_split(text, ' ')))
                                * 1.0 / len(string_split(text, ' ')))
                   + 0.3 * (len([x for x in string_split(text, ' ')
                                 if list_contains(['the','a','of','and','to','in'], x)])
                            * 1.0 / len(string_split(text, ' ')))
                   + 0.2 * LEAST(len(string_split(text, ' ')) / 256.0, 1.0))
                   * 10000 + 0.5) AS BIGINT) AS qi4
      FROM documents
    )
    SELECT doc_id, lang, qi4
    FROM f
    WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT * 10000
          < qi4 * 4294967296
    """,
    tags=("northstar", "curation", "sampling", "bench"),
)
def sample_quality_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-proportional importance sampling: each document survives with
    probability equal to its heuristic quality score — the SOFT alternative
    to the hard gate (``pipeline_quality_filter``), the curation move
    DataComp/FineWeb-style pipelines use to up-weight good text without a
    cliff at the threshold. Membership is the md5-uniform u32 of the
    stratified sampler compared against the doc's own 1e-4-grid quality —
    pure function of doc_id, reproducible across engines, runs, and
    cluster sizes, and the comparison ``u32 · 10^4 < qi4 · 2^32`` is
    integer-exact (no float-rounding divergence at the keep boundary).

    Spark shape: entirely map-side — one projection computes the quality
    features and the hash, the filter fuses into the scan stage, zero
    shuffle. At 100 TB this is the cheapest possible corpus pass; swapping
    the heuristic for a model score changes one column, not the plan."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    toks = F.split("text", " ")
    stop_arr = F.array(*[F.lit(s) for s in ("the", "a", "of", "and", "to", "in")])
    ttr = F.size(F.array_distinct(toks)) / F.size(toks)
    stop_ratio = F.size(
        F.filter(toks, lambda x: F.array_contains(stop_arr, x))
    ) / F.size(toks)
    qi4 = F.floor(
        (0.5 * ttr + 0.3 * stop_ratio + 0.2 * F.least(F.size(toks) / 256.0, F.lit(1.0)))
        * 10000
        + F.lit(0.5)
    ).cast("bigint")
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    return (
        docs.select("doc_id", "lang", qi4.alias("qi4"), h.alias("h"))
        .filter(F.col("h") * 10000 < F.col("qi4") * F.lit(4294967296))
        .select("doc_id", "lang", "qi4")
    )


# Context-window chunking: training-prep splits every document into
# CHUNK_WIN-token windows advancing by CHUNK_STRIDE (overlap = WIN - STRIDE
# tokens preserves cross-boundary context, the standard LM-pretraining
# chunking). Starts run 1, 1+S, ... up to n_tokens, so the final window may
# be shorter than WIN; every token is covered by >= 1 chunk.
CHUNK_WIN = 32
CHUNK_STRIDE = 24


@query(
    "chunk_documents_overlap",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    c AS (
      SELECT doc_id,
             CAST((s - 1) / {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
             CAST(s AS BIGINT) AS start_tok,
             CAST(LEAST({CHUNK_WIN}, len(t) - s + 1) AS BIGINT) AS n_tok,
             md5(array_to_string(t[s:s + {CHUNK_WIN - 1}], ' ')) AS fp
      FROM (
        SELECT doc_id, t, unnest(generate_series(1, len(t), {CHUNK_STRIDE})) AS s
        FROM toks
      )
    )
    SELECT doc_id, chunk_idx, start_tok, n_tok, fp FROM c
    """,
    tags=("northstar", "curation", "chunking", "bench"),
)
def chunk_documents_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking manifest: every document sliced into
    CHUNK_WIN(=32)-token windows advancing by CHUNK_STRIDE(=24) — the
    overlapping-window split LM pretraining feeds the tokenizer (overlap
    keeps cross-boundary n-grams learnable; cf. the fixed-stride chunking
    in GPT-style pipelines). Output is the chunk MANIFEST (doc, index,
    start, length, content fingerprint), the unit downstream packing /
    dedup / retrieval passes key on — ``pack_sequences`` packs these,
    ``dedup_substring_chunks`` dedups them, BM25 indexes them.

    Spark shape: entirely map-side — one scan, sequence→explode→slice, no
    shuffle AT ALL (the manifest inherits the scan's partitioning; verify
    with .explain: no Exchange). The window text itself collapses to a
    32-hex md5 fingerprint before anything leaves the operator, so the
    output is narrow regardless of window width. At 100 TB this is the
    ideal operator class: embarrassingly parallel, output ∝ input, zero
    coordination; chunk rows land partition-aligned with their source
    docs for free."""
    return chunk_rows(load_table(spark, sf_dir, "documents"))


def chunk_rows(documents: DataFrame) -> DataFrame:
    """Each document's overlapping CHUNK_WIN-token windows at CHUNK_STRIDE,
    on batch or streaming documents (row-local, no shuffle)."""
    docs = documents.select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    c = docs.select(
        "doc_id",
        toks.alias("t"),
        F.explode(F.sequence(F.lit(1), n, F.lit(CHUNK_STRIDE))).alias("s"),
    )
    nt = F.size(F.col("t"))
    return c.select(
        "doc_id",
        (((F.col("s") - 1) / CHUNK_STRIDE).cast("bigint")).alias("chunk_idx"),
        F.col("s").cast("bigint").alias("start_tok"),
        F.least(F.lit(CHUNK_WIN), nt - F.col("s") + 1).cast("bigint").alias("n_tok"),
        F.md5(F.array_join(F.slice(F.col("t"), F.col("s"), CHUNK_WIN), " ")).alias("fp"),
    )


# Data-mixing plan: fixed per-source target weights (the hand-tuned mixture
# table of a pretraining run) and a global token budget; each source's
# repeat factor ("epochs") is how many passes over its data the sampler
# takes to hit its share — >1e4 (q4 grid) means upsampling, the standard
# treatment of small high-quality sources.
MIX_BUDGET_TOKENS = 200_000
MIX_WEIGHTS = tuple((f"src{i}", (i % 5) + 1) for i in range(20))
_MIX_W_SQL = ", ".join(f"('{s}', {w})" for s, w in MIX_WEIGHTS)
_MIX_W_SUM = sum(w for _, w in MIX_WEIGHTS)


@query(
    "pipeline_epoch_mixture_plan",
    oracle=f"""
    WITH w(source, wt) AS (VALUES {_MIX_W_SQL}),
    t AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    )
    SELECT t.source, t.n_docs, t.n_tokens,
           CAST({MIX_BUDGET_TOKENS} * w.wt // {_MIX_W_SUM} AS BIGINT)
               AS target_tokens,
           CAST(({MIX_BUDGET_TOKENS} * w.wt // {_MIX_W_SUM}) * 10000
                // t.n_tokens AS BIGINT) AS epochs_q4
    FROM t JOIN w USING (source)
    """,
    tags=("northstar", "curation", "mixture", "bench"),
)
def pipeline_epoch_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-mixing plan: given hand-tuned per-source weights and a
    global token budget, emit each source's target token share and repeat
    factor ("epochs", q4 fixed-point) — the mixture table a pretraining
    run publishes (upweighted small high-quality sources show epochs > 1,
    the standard practice reported by LLaMA-class data recipes;
    ``sample_temperature_mix`` next door derives weights from frequency,
    this operator APPLIES a chosen mixture). All integer arithmetic —
    budget × weight floor-divides, then the q4 epoch ratio — so the plan
    is bit-equal across engines.

    Spark shape: one map-side token count + a |sources|-row aggregate,
    joined against the literal weight table (broadcast by construction).
    At 100 TB the plan stays |sources| rows; its downstream consumer is
    the sampler (md5-uniform keep rule of ``sample_quality_weighted``)
    run with rate = epochs for epochs < 1 and full passes + fractional
    tail for epochs > 1."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    t = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("n_tokens"),
    )
    w = docs.sparkSession.createDataFrame(
        list(MIX_WEIGHTS), ["source", "wt"]
    )
    tgt = F.expr(f"cast({MIX_BUDGET_TOKENS} * wt div {_MIX_W_SUM} as bigint)")
    return (
        t.join(F.broadcast(w), "source")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            tgt.alias("target_tokens"),
            F.expr(
                f"cast(({MIX_BUDGET_TOKENS} * wt div {_MIX_W_SUM}) * 10000"
                " div n_tokens as bigint)"
            ).alias("epochs_q4"),
        )
    )


# C4-style line-level boilerplate filtering (Raffel et al. 2020 §2.2): the
# rules C4 applies per LINE before document-level filters — drop lines with
# fewer than MIN_WORDS words, drop lines containing policy strings
# ("javascript" — the cookie/JS-warning boilerplate class), count lines
# lacking terminal punctuation, and drop whole documents containing
# "lorem ipsum" or a curly brace (code leakage). The fixture corpus has no
# newlines, so line structure is synthesized deterministically: one
# codegen'd regexp_replace turns every LINE_TOKENS-th inter-token space
# into '\n' (leftmost non-overlapping — identical in Java regex and RE2),
# and both engines then split on '\n'. A real crawl corpus already has the
# '\n's and skips the segmentation pass. The terminal-punctuation rule is
# REPORTED (n_no_punct) but not part of the keep predicate here — the
# token-soup fixture has no punctuation, so gating on it would zero the
# output; a production profile moves it into the predicate (documented
# adaptation, same stance as the multimodal decode stubs).
C4_LINE_TOKENS = 12
C4_MIN_WORDS = 3
C4_MIN_KEPT_LINES = 2
_C4_SEG_RE = r"((?:\S+ ){%d}\S+) " % (C4_LINE_TOKENS - 1)

# ASCII-exact casefold for the C4 policy-phrase gates (round 12): the
# needles ('lorem ipsum', 'javascript') are ASCII, but full-Unicode
# lower() is NOT engine-portable — Java lowercases 'İ' (U+0130) to
# 'i' + COMBINING DOT (two codepoints) and applies final-form sigma
# ('Σ' → 'ς' at word end), while DuckDB's utf8proc maps 'İ' → 'i' and
# 'Σ' → 'σ' unconditionally — so a doc containing 'LOREM İPSUM' tripped
# the gate in DuckDB but not in Spark (probed, round 12). translate()
# over [A-Z] is the same pure table lookup in both engines and is the
# faithful reading of C4's rule (case-insensitive ENGLISH phrase match).
_ASCII_UP = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_ASCII_LO = "abcdefghijklmnopqrstuvwxyz"


def ascii_lower(col) -> "F.Column":
    """Engine-portable ASCII-only lowercase (see the casefold note above)."""
    return F.translate(col, _ASCII_UP, _ASCII_LO)


def _ascii_lower_sql(x: str) -> str:
    return f"translate({x}, '{_ASCII_UP}', '{_ASCII_LO}')"


@query(
    "text_line_filter",
    oracle=f"""
    WITH seg AS (
      SELECT doc_id,
             string_split(regexp_replace(text, '{_C4_SEG_RE}',
                                         '\\1' || chr(10), 'g'),
                          chr(10)) AS lines,
             CAST(contains({_ascii_lower_sql('text')}, 'lorem ipsum')
                  OR contains(text, '{{')
                  AS INT) AS doc_flag
      FROM documents
    ),
    l AS (
      SELECT doc_id, doc_flag, unnest(lines) AS line,
             generate_subscripts(lines, 1) AS i
      FROM seg
    ),
    r AS (
      SELECT doc_id, doc_flag, line, i,
             len(string_split(line, ' ')) >= {C4_MIN_WORDS} AS words_ok,
             NOT contains({_ascii_lower_sql('line')}, 'javascript') AS policy_ok,
             (line LIKE '%.' OR line LIKE '%!' OR line LIKE '%?'
              OR line LIKE '%"') AS punct_ok
      FROM l
    )
    SELECT doc_id,
           COUNT(*) AS n_lines,
           CAST(SUM(CASE WHEN words_ok AND policy_ok THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN NOT words_ok THEN 1 ELSE 0 END) AS BIGINT)
               AS n_short,
           CAST(SUM(CASE WHEN NOT punct_ok THEN 1 ELSE 0 END) AS BIGINT)
               AS n_no_punct,
           string_agg(CASE WHEN words_ok AND policy_ok THEN line END,
                      '|' ORDER BY i) AS kept_text,
           CAST(MAX(doc_flag) = 0
                AND SUM(CASE WHEN words_ok AND policy_ok THEN 1 ELSE 0 END)
                    >= {C4_MIN_KEPT_LINES} AS INT) AS keep_doc
    FROM r GROUP BY doc_id
    """,
    tags=("northstar", "curation", "text", "bench"),
)
def text_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level boilerplate filtering (Raffel et al. 2020 §2.2):
    per document, segment into lines, apply per-line keep rules (≥3 words;
    no 'javascript' policy string), count terminal-punctuation violations,
    re-assemble the surviving lines in order, and gate the document on
    doc-level rules ('lorem ipsum', curly braces — code/boilerplate
    leakage) plus a minimum kept-line count. This is the one standard
    curation pass that runs BELOW document granularity — doc-level
    quality/PII/dedup passes keep or drop whole documents; C4's insight is
    that most crawl boilerplate is line-shaped (menus, cookie banners).

    Spark shape: zero joins, two shuffles total, all string work codegen'd
    (no HOF lambdas — the r5 perf lesson): one regexp_replace injects the
    line breaks (a real corpus arrives with them), posexplode yields
    (line_idx, line), the rule columns are plain string expressions, and
    the per-doc re-aggregation is one doc_id-keyed shuffle where
    ``listagg(... ) within group (order by line_idx)`` rebuilds the kept
    text in order and conditional sums produce the per-rule drop counts —
    map-side partials throughout, nothing ever carries the corpus through
    more than one wide exchange. At 100 TB this is scan-bound; the reported
    per-rule counts aggregate into exactly the per-rule removal dashboard
    the C4 paper publishes."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    seg = docs.select(
        "doc_id",
        F.split(
            F.regexp_replace("text", _C4_SEG_RE, "$1\n"), "\n"
        ).alias("lines"),
        (
            F.contains(ascii_lower("text"), F.lit("lorem ipsum"))
            | F.contains("text", F.lit("{"))
        )
        .cast("int")
        .alias("doc_flag"),
    )
    l = seg.select(
        "doc_id", "doc_flag", F.posexplode("lines").alias("i", "line")
    )
    words_ok = F.size(F.split("line", " ")) >= C4_MIN_WORDS
    policy_ok = ~F.contains(ascii_lower("line"), F.lit("javascript"))
    punct_ok = (
        F.endswith("line", F.lit("."))
        | F.endswith("line", F.lit("!"))
        | F.endswith("line", F.lit("?"))
        | F.endswith("line", F.lit('"'))
    )
    r = l.select(
        "doc_id",
        "doc_flag",
        "line",
        "i",
        words_ok.alias("words_ok"),
        policy_ok.alias("policy_ok"),
        punct_ok.alias("punct_ok"),
    )
    return r.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum((F.col("words_ok") & F.col("policy_ok")).cast("bigint")).alias(
            "n_kept"
        ),
        F.sum((~F.col("words_ok")).cast("bigint")).alias("n_short"),
        F.sum((~F.col("punct_ok")).cast("bigint")).alias("n_no_punct"),
        F.expr(
            "listagg(case when words_ok and policy_ok then line end, '|') "
            "within group (order by i)"
        ).alias("kept_text"),
        (
            (F.max("doc_flag") == 0)
            & (
                F.sum((F.col("words_ok") & F.col("policy_ok")).cast("bigint"))
                >= C4_MIN_KEPT_LINES
            )
        )
        .cast("int")
        .alias("keep_doc"),
    )


# Global exact line-level dedup (the C4 move one granularity below
# document dedup: C4 removes any three-sentence span occurring more than
# once in the corpus; at line granularity this is "keep only the FIRST
# occurrence of every distinct line"). First = minimum (doc_id, line_idx),
# encoded as doc_id * LINE_KEY_BASE + idx — exact int64 for corpora to
# ~9e12 docs of < 10^6 lines each; the encoding is monotone in
# (doc_id, idx) so both engines select the same occurrence regardless of
# their 0-/1-based index origin.
LINE_KEY_BASE = 1_000_000


@query(
    "dedup_lines_global",
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
             generate_subscripts(lines, 1) AS i
      FROM seg
    ),
    k AS (
      SELECT doc_id, line, i,
             doc_id * {LINE_KEY_BASE} + i AS key
      FROM l
    ),
    f AS (SELECT line, MIN(key) AS first_key FROM k GROUP BY line)
    SELECT k.doc_id,
           COUNT(*) AS n_lines,
           CAST(SUM(CASE WHEN k.key = f.first_key THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN k.key <> f.first_key THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup_dropped,
           string_agg(CASE WHEN k.key = f.first_key THEN k.line END,
                      '|' ORDER BY k.i) AS kept_text
    FROM k JOIN f USING (line)
    GROUP BY k.doc_id
    """,
    tags=("northstar", "curation", "dedup", "text", "bench"),
)
def dedup_lines_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global exact line deduplication: every distinct line survives only
    at its FIRST corpus occurrence (minimum (doc_id, line_idx)); later
    copies — the mirrored navigation/boilerplate lines C4's span-dedup
    targets — are dropped, and each document reports its kept/dropped
    counts plus the re-assembled surviving text. Complements
    ``text_line_filter`` (rule-based, per-line) and
    ``dedup_substring_chunks`` (ExactSubstr at chunk granularity): this is
    the corpus-global exact-match tier of the line-level story.

    Spark shape: lines explode off the same codegen'd segmentation pass as
    ``text_line_filter``; the first-occurrence table is a line-keyed
    groupBy-min — map-side partial combine makes the hot boilerplate lines
    (exactly the skew risk of this operator at 100 TB) pre-collapse per
    partition before the shuffle — and survivors resolve with one
    co-shuffled join back (AQE skew-join splits any still-hot line key on
    the probe side; a WINDOW min-over-line formulation would put every
    copy of a hot line on one task with no partial aggregation — the
    rejected shape). Re-assembly is the ordered-listagg doc_id rollup.
    Keys ride as int64 (doc_id × 10⁶ + idx), monotone in (doc_id, idx) in
    both engines."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    seg = docs.select(
        "doc_id",
        F.split(F.regexp_replace("text", _C4_SEG_RE, "$1\n"), "\n").alias("lines"),
    )
    k = seg.select(
        "doc_id", F.posexplode("lines").alias("i", "line")
    ).withColumn("key", F.col("doc_id") * LINE_KEY_BASE + F.col("i"))
    f = k.groupBy("line").agg(F.min("key").alias("first_key"))
    j = k.join(f, "line")
    kept = F.col("key") == F.col("first_key")
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(kept.cast("bigint")).alias("n_kept"),
        F.sum((~kept).cast("bigint")).alias("n_dup_dropped"),
        F.expr(
            "listagg(case when key = first_key then line end, '|') "
            "within group (order by i)"
        ).alias("kept_text"),
    )


SPAN_MAX = 32  # corruption span cap (tokens)


@query(
    "text_span_corruption_manifest",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
    ),
    p AS (
      SELECT doc_id, n_tokens,
             LEAST({SPAN_MAX}, n_tokens // 5 + 1) AS span_len,
             (('0x' || substr(md5(doc_id::VARCHAR), 1, 8)))::BIGINT AS seed
      FROM t WHERE n_tokens >= 2
    )
    SELECT doc_id, n_tokens, span_len,
           CAST(seed % (n_tokens - span_len + 1) AS BIGINT) AS span_start,
           CAST(span_len * 1000000 // n_tokens AS BIGINT) AS corrupt_ppm
    FROM p
    """,
    tags=("northstar", "curation", "augmentation", "bench"),
)
def text_span_corruption_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5/UL2-style span-corruption manifest: for every document, ONE
    deterministic corruption span (start, length, corrupted-token ppm) —
    the denoising-objective plan a training-data builder materializes so
    every epoch/restart masks the SAME spans (reproducible pretraining,
    and the span choice is auditable). Determinism comes from the md5
    integer seed (the sample_hash_split convention): seed mod the valid
    start range — no RNG, bit-equal across engines, partitionings, and
    reruns. Span length is min(SPAN_MAX, ~20% of the doc), the T5 ratio.

    Spark shape: ONE narrow projection over the documents scan — no
    shuffle, no UDF (md5/conv/pmod are codegen'd); at 100 TB this is a
    map-only pass whose output rides partition-local. The actual masking
    happens at data-loading time from this manifest; a multi-span variant
    iterates the same seeded recurrence per span."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n = F.size(F.split("text", " "))
    t = docs.select("doc_id", n.cast("long").alias("n_tokens")).filter(
        F.col("n_tokens") >= 2
    )
    span_len = F.least(F.lit(SPAN_MAX), F.expr("n_tokens div 5") + 1)
    seed = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    p = t.select(
        "doc_id",
        "n_tokens",
        span_len.alias("span_len"),
        seed.alias("seed"),
    )
    return p.select(
        "doc_id",
        "n_tokens",
        "span_len",
        (F.col("seed") % (F.col("n_tokens") - F.col("span_len") + 1))
        .cast("long")
        .alias("span_start"),
        F.expr("CAST(span_len * 1000000 div n_tokens AS BIGINT)").alias(
            "corrupt_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# DSIR-style importance weighting (round 7)
# ---------------------------------------------------------------------------

# Data Selection via Importance Resampling (Xie et al. 2023): score raw
# documents by the log-likelihood ratio of a TARGET-domain bag-of-hashed-
# unigrams model vs the RAW-corpus model. Buckets via the md5-prefix recipe
# (namespaced 'dsir:'), add-one smoothing, and per-bucket log-ratios frozen
# to an exact 1e-6 integer grid BEFORE the per-doc sum, so the fold is
# order-free and cross-engine exact (the LP_GRID convention). Target domain:
# English documents — the "select more of this" slice.
DSIR_BUCKETS = 256
DSIR_TARGET_LANG = "en"


@query(
    "dsir_importance_weights",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    b AS (
      SELECT doc_id, lang,
             ('0x' || substr(md5('dsir:' || tok), 1, 8))::BIGINT
                 % {DSIR_BUCKETS} AS bucket
      FROM tok
    ),
    tcnt AS (
      SELECT bucket, COUNT(*) AS tc FROM b
      WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY bucket
    ),
    rcnt AS (SELECT bucket, COUNT(*) AS rc FROM b GROUP BY bucket),
    tots AS (
      SELECT CAST(SUM(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS t_tot,
             COUNT(*) AS r_tot
      FROM b
    ),
    lr AS (
      SELECT r.bucket,
             CAST(FLOOR(ln(((COALESCE(t.tc, 0) + 1.0) * (tots.r_tot + {DSIR_BUCKETS}))
                           / ((r.rc + 1.0) * (tots.t_tot + {DSIR_BUCKETS})))
                        * 1000000 + 0.5) AS BIGINT) AS lr6
      FROM rcnt r LEFT JOIN tcnt t USING (bucket) CROSS JOIN tots
    )
    SELECT b.doc_id, COUNT(*) AS n_tokens,
           CAST(SUM(lr.lr6) AS BIGINT) AS dsir6,
           CASE WHEN SUM(lr.lr6) > 0 THEN 1 ELSE 0 END AS selected
    FROM b JOIN lr USING (bucket)
    GROUP BY b.doc_id
    """,
    tags=("northstar", "curation", "scoring", "sampling", "bench"),
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weighting (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): every document scored by
    Σ_tokens log(p_target(bucket)/p_raw(bucket)) over hashed-unigram
    features — the cheap proxy for "does this raw document look like the
    target domain" that decides what a domain-targeted pretraining mix
    keeps. Positive scores mark target-like documents (`selected`).

    Spark shape: two bounded model tables — bucket counts for the target
    slice and the full corpus (each ≤ DSIR_BUCKETS rows by construction:
    the hashing is what makes DSIR scale-free in vocabulary) — built with
    map-side partial aggregation, fused into one BROADCAST log-ratio
    table; scoring is the exploded token stream joined map-side against
    that broadcast and re-aggregated per doc (one doc_id shuffle carrying
    two integers per token). Totals attach by 1-row broadcast crossJoin.
    The ln() argument is assembled with IDENTICAL operation order in both
    engines and frozen to the 1e-6 grid per BUCKET (O(256) lns, not per
    token), so the per-doc integer sum is order-free. At 100 TB: identical
    plan; the model tables stay 256 rows."""
    b = dsir_token_buckets(load_table(spark, sf_dir, "documents"))
    lr = dsir_model(b)
    return (
        b.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lr6").alias("dsir6"),
            F.when(F.sum("lr6") > 0, 1).otherwise(0).alias("selected"),
        )
    )


def dsir_token_buckets(documents: DataFrame) -> DataFrame:
    """(doc_id, lang, bucket): every token hashed into one of DSIR_BUCKETS."""
    docs = documents.select("doc_id", "lang", "text")
    tok = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    return tok.select(
        "doc_id",
        "lang",
        (
            F.conv(
                F.substring(F.md5(F.concat(F.lit("dsir:"), F.col("tok"))), 1, 8),
                16,
                10,
            ).cast("long")
            % DSIR_BUCKETS
        ).alias("bucket"),
    )


def dsir_model(b: DataFrame) -> DataFrame:
    """The (bucket, lr6) model: the +1-smoothed target-vs-raw log ratio of
    each bucket's token share, on a 1e-6 integer grid — DSIR_BUCKETS rows."""
    tcnt = (
        b.filter(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("tc"))
    )
    rcnt = b.groupBy("bucket").agg(F.count(F.lit(1)).alias("rc"))
    tots = b.agg(
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, 1).otherwise(0)
        ).alias("t_tot"),
        F.count(F.lit(1)).alias("r_tot"),
    )
    return (
        rcnt.join(tcnt, "bucket", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "bucket",
            F.floor(
                F.log(
                    (
                        (F.coalesce(F.col("tc"), F.lit(0)) + 1.0)
                        * (F.col("r_tot") + DSIR_BUCKETS)
                    )
                    / ((F.col("rc") + 1.0) * (F.col("t_tot") + DSIR_BUCKETS))
                )
                * 1000000
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("lr6"),
        )
    )


# ---------------------------------------------------------------------------
# Right-to-be-forgotten cascade planning
# ---------------------------------------------------------------------------

# Deterministic stand-in for the operator's real input — an erasure-request
# keyset table of customer keys (here: every 97th key).
GDPR_KEY_MOD = 97


@query(
    "gdpr_delete_cascade_plan",
    oracle="""
    WITH del AS (
      SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0
    ),
    dor AS (
      SELECT o_orderkey FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM del)
    ),
    m AS (
      SELECT 'customer' AS table_name,
             (SELECT COUNT(*) FROM del) AS n_delete,
             (SELECT COUNT(*) FROM customer) AS n_total
      UNION ALL
      SELECT 'orders', (SELECT COUNT(*) FROM dor),
             (SELECT COUNT(*) FROM orders)
      UNION ALL
      SELECT 'lineitem',
             (SELECT COUNT(*) FROM lineitem
              WHERE l_orderkey IN (SELECT o_orderkey FROM dor)),
             (SELECT COUNT(*) FROM lineitem)
    )
    SELECT table_name, n_delete, n_total - n_delete AS n_retain,
           (n_delete * 2000000 + n_total) // (n_total * 2) AS delete_ppm
    FROM m
    """,
    tags=("extension", "governance", "curation", "bench"),
)
def gdpr_delete_cascade_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten (GDPR Art. 17) cascade planner: given an
    erasure-request keyset of customers, compute the per-table delete
    manifest — how many rows each downstream table loses through the
    foreign-key cascade (customer → orders → lineitem) and the fraction
    of each table the deletion touches. This is the dry-run a lakehouse
    runs BEFORE issuing the actual DELETEs (the cdc_merge_upsert /
    upsert sink machinery applies them): the ppm column is what decides
    rewrite-vs-tombstone per table.

    Spark shape: the keyset is request-sized → broadcast LEFT SEMI joins
    push the membership test map-side into every fact scan (no fact-side
    shuffle at all for customer/orders); the lineitem hop semi-joins the
    derived deleted-order keys — still request-bounded, still broadcast.
    Each table contributes one count aggregate; nothing shuffles fact
    rows. At 100 TB the same plan runs per ingest of the erasure queue,
    and the semi-join keysets are exactly what gets pushed into parquet
    row-group bloom/min-max pruning so untouched files are never opened."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # Keysets are erasure-request-sized — materialize each once so the
    # per-table manifest aggregates never re-derive them (the naive
    # count-the-deleted/count-the-total formulation measured 17 fact
    # scans; this one is ONE scan per fact table + the keyset builds).
    del_keys = (
        cust.filter(F.col("c_custkey") % GDPR_KEY_MOD == 0)
        .select("c_custkey")
        .localCheckpoint(eager=True)
    )
    del_orders = (
        orders.join(
            F.broadcast(del_keys), orders.o_custkey == del_keys.c_custkey, "left_semi"
        )
        .select("o_orderkey")
        .localCheckpoint(eager=True)
    )

    def manifest(name: str, flagged: DataFrame) -> DataFrame:
        # one scan: total and flag counts ride the same aggregate
        return flagged.agg(
            F.lit(name).alias("table_name"),
            F.count("del_flag").alias("n_delete"),
            (F.count(F.lit(1)) - F.count("del_flag")).alias("n_retain"),
            F.expr(
                "(count(del_flag) * 2000000 + count(*)) div (count(*) * 2)"
            ).alias("delete_ppm"),
        ).select("table_name", "n_delete", "n_retain", "delete_ppm")

    c_flagged = cust.select(
        F.when(F.col("c_custkey") % GDPR_KEY_MOD == 0, F.lit(1)).alias("del_flag")
    )
    o_flagged = orders.join(
        F.broadcast(
            del_keys.withColumn("hit", F.lit(1)).withColumnRenamed(
                "c_custkey", "o_custkey"
            )
        ),
        "o_custkey",
        "left",
    ).select(F.col("hit").alias("del_flag"))
    l_flagged = li.join(
        F.broadcast(
            del_orders.withColumn("hit", F.lit(1)).withColumnRenamed(
                "o_orderkey", "l_orderkey"
            )
        ),
        "l_orderkey",
        "left",
    ).select(F.col("hit").alias("del_flag"))
    return (
        manifest("customer", c_flagged)
        .unionByName(manifest("orders", o_flagged))
        .unionByName(manifest("lineitem", l_flagged))
    )


# ---------------------------------------------------------------------------
# Content-addressed dataset versioning
# ---------------------------------------------------------------------------

CV_MOD = 4294967296  # fold the content sum back to 32 bits


@query(
    "pipeline_content_version",
    oracle="""
    WITH h AS (
      SELECT 'customer' AS table_name,
             ('0x' || substr(md5(
               CAST(c_custkey AS VARCHAR) || ':' || CAST(c_nationkey AS VARCHAR)
               || ':' || CAST(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS VARCHAR)
               || ':' || c_mktsegment), 1, 8))::BIGINT AS hv
      FROM customer
      UNION ALL
      SELECT 'orders',
             ('0x' || substr(md5(
               CAST(o_orderkey AS VARCHAR) || ':' || CAST(o_custkey AS VARCHAR)
               || ':' || o_orderstatus
               || ':' || CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR)
               || ':' || CAST(CAST(floor(epoch(o_orderdate::TIMESTAMP)) AS BIGINT) AS VARCHAR)), 1, 8))::BIGINT
      FROM orders
      UNION ALL
      SELECT 'lineitem',
             ('0x' || substr(md5(
               CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)
               || ':' || CAST(l_partkey AS VARCHAR) || ':' || CAST(l_suppkey AS VARCHAR)
               || ':' || CAST(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT) AS VARCHAR)
               || ':' || CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS VARCHAR)
               || ':' || l_returnflag || ':' || l_linestatus), 1, 8))::BIGINT
      FROM lineitem
      UNION ALL
      SELECT 'documents',
             ('0x' || substr(md5(
               CAST(doc_id AS VARCHAR) || ':' || md5(text) || ':' || lang
               || ':' || source), 1, 8))::BIGINT
      FROM documents
    )
    SELECT COALESCE(table_name, 'dataset') AS table_name,
           COUNT(*) AS n_rows,
           CAST(SUM(hv) % 4294967296 AS BIGINT) AS content_ver
    FROM h GROUP BY ROLLUP (table_name)
    """,
    tags=("northstar", "pipeline", "governance", "bench"),
)
def pipeline_content_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed dataset versioning: an ORDER-INSENSITIVE content
    hash per table (sum of per-row 32-bit digests over a canonical row
    serialization, folded mod 2³²) plus a whole-dataset rollup version —
    the fingerprint a training pipeline records in its run manifest so
    "same version ⇒ same bytes" holds across re-shards, repartitions, and
    engine swaps (row order never changes the sum). A changed row changes
    its digest, so any edit moves the table version with probability
    1 − 2⁻³²; the per-table rows localize WHICH input moved.

    Spark shape: pure map-side row hashing (md5 over a codegen'd concat
    of grid-snapped columns — doubles ride the cent grid, timestamps the
    floor-epoch grid, so the canonical string is bit-identical across
    engines) and ONE rollup aggregate with map-side partials; the sum
    rides DECIMAL(38,0) so 10¹² rows × 2³² cannot overflow, then folds
    to 32 bits. No shuffle carries data rows — only per-partition digest
    partials. At 100 TB this is scan-bound and embarrassingly parallel,
    and per-partition sums memoize under the incremental-maintenance
    pattern (new files add their partial sums; the ivm precedent)."""
    cents = lambda c: F.floor(F.col(c) * 100 + F.lit(0.5)).cast("bigint").cast("string")  # noqa: E731

    def h(canon):
        return F.conv(F.substring(F.md5(canon), 1, 8), 16, 10).cast("bigint")

    cust = load_table(spark, sf_dir, "customer").select(
        F.lit("customer").alias("table_name"),
        h(
            F.concat_ws(
                ":",
                F.col("c_custkey").cast("string"),
                F.col("c_nationkey").cast("string"),
                cents("c_acctbal"),
                "c_mktsegment",
            )
        ).alias("hv"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.lit("orders").alias("table_name"),
        h(
            F.concat_ws(
                ":",
                F.col("o_orderkey").cast("string"),
                F.col("o_custkey").cast("string"),
                "o_orderstatus",
                cents("o_totalprice"),
                F.unix_timestamp("o_orderdate").cast("string"),
            )
        ).alias("hv"),
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.lit("lineitem").alias("table_name"),
        h(
            F.concat_ws(
                ":",
                F.col("l_orderkey").cast("string"),
                F.col("l_linenumber").cast("string"),
                F.col("l_partkey").cast("string"),
                F.col("l_suppkey").cast("string"),
                cents("l_quantity"),
                cents("l_extendedprice"),
                "l_returnflag",
                "l_linestatus",
            )
        ).alias("hv"),
    )
    docs = load_table(spark, sf_dir, "documents").select(
        F.lit("documents").alias("table_name"),
        h(
            F.concat_ws(
                ":", F.col("doc_id").cast("string"), F.md5("text"), "lang", "source"
            )
        ).alias("hv"),
    )
    allh = cust.unionByName(orders).unionByName(li).unionByName(docs)
    return (
        allh.rollup("table_name")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr(
                f"cast(sum(cast(hv as decimal(38,0))) % {CV_MOD} as bigint)"
            ).alias("content_ver"),
        )
        .select(
            F.coalesce("table_name", F.lit("dataset")).alias("table_name"),
            "n_rows",
            "content_ver",
        )
    )


# ---------------------------------------------------------------------------
# Per-source document cap (domain balancing)
# ---------------------------------------------------------------------------

# Keep at most this many documents per source, best-quality-first. Chosen
# so the cap BINDS at every fixture SF (20 sources; 25 docs/source at
# sf0.01, 250 at sf0.1) — a cap the gate never exercises proves nothing.
CAP_PER_SOURCE = 16


def _source_cap_oracle() -> str:
    from kafka_streams_playground_spark.plans.northstar_scoring import (
        _STOP_SQL,
        QC_BIAS_E6,
        QC_TH_E6,
        QC_W_LEN_E6,
        QC_W_STOP_E6,
        QC_W_TTR_E6,
    )

    return f"""
    WITH t AS (
      SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents
    ),
    f AS (
      SELECT doc_id, source,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
             CAST(len([x for x in toks if list_contains([{_STOP_SQL}], x)])
                  AS BIGINT) AS n_stop
      FROM t
    ),
    s AS (
      SELECT doc_id, source,
             CAST(({QC_W_TTR_E6} * n_distinct) // n_tokens
                  - ({QC_W_STOP_E6} * n_stop) // n_tokens
                  + ({QC_W_LEN_E6} * LEAST(n_tokens, 256)) // 256
                  + {QC_BIAS_E6} AS BIGINT) AS logit_e6
      FROM f
    ),
    r AS (
      SELECT source, doc_id, logit_e6,
             CAST(ROW_NUMBER() OVER (PARTITION BY source
                                     ORDER BY logit_e6 DESC, doc_id ASC)
                  AS BIGINT) AS quality_rank
      FROM s
    )
    SELECT source, doc_id, logit_e6, quality_rank,
           CAST(quality_rank <= {CAP_PER_SOURCE} AS INT) AS kept
    FROM r
    """


@query(
    "curation_source_cap",
    oracle=_source_cap_oracle(),
    tags=("northstar", "curation", "bench"),
)
def curation_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap — the domain-balancing pass (C4 / RefinedWeb
    / Gopher all bound any single domain's share of the corpus so one
    crawler-friendly site cannot dominate training): rank each source's
    documents by the learned quality logit (same fixed-weight linear
    classifier as ``quality_classifier_filter`` — integer-exact, so the
    rank order is bit-stable across engines), keep the top
    CAP_PER_SOURCE, and emit every document with its rank and kept flag
    so the audit trail shows exactly WHAT the cap cut. Ties cannot occur
    ambiguously: the window orders by (logit DESC, doc_id ASC) and doc_id
    is unique.

    Spark shape: one scan → per-doc integer features → ONE window
    partitioned by source (never global; the shuffle key is the source —
    the natural partitioning this table would already be bucketed by in a
    curation pipeline, making the window shuffle-free there). Hot-domain
    skew is the classic worry at 100 TB: a single source with 10⁹ docs
    puts its whole partition in one task, and the standard fix — since
    only ranks ≤ CAP matter for the KEPT set — is a per-partition
    pre-top-K (salt, rank, keep ≤ CAP per salt, re-rank the ≤ CAP×salts
    survivors); the full-rank audit output here is the small-tenant
    variant. Zero UDFs, all codegen."""
    w = Window.partitionBy("source").orderBy(
        F.desc("logit_e6"), F.asc("doc_id")
    )
    return (
        quality_logits(load_table(spark, sf_dir, "documents"))
        .withColumn("quality_rank", F.row_number().over(w).cast("bigint"))
        .select(
            "source",
            "doc_id",
            "logit_e6",
            "quality_rank",
            (F.col("quality_rank") <= CAP_PER_SOURCE).cast("int").alias("kept"),
        )
    )


def quality_logits(documents: DataFrame) -> DataFrame:
    """(source, doc_id, logit_e6): the fixed-weight quality logit of each
    batch or streaming document, from integer token features."""
    from kafka_streams_playground_spark.plans.northstar_scoring import (
        QC_BIAS_E6,
        QC_W_LEN_E6,
        QC_W_STOP_E6,
        QC_W_TTR_E6,
    )
    from kafka_streams_playground_spark.plans.northstar_text import STOPWORDS

    docs = documents.select("doc_id", "source", "text")
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
    return f.select("source", "doc_id", logit.cast("bigint").alias("logit_e6"))


# ---------------------------------------------------------------------------
# Pareto-frontier document selection (multi-objective curation)
# ---------------------------------------------------------------------------

# Quality-axis bucket width for the two-phase dominance check; the bucket
# relation is O(logit range / width) ~ tens of rows, never corpus-scale.
PARETO_BUCKET_W = 50000


def _pareto_oracle() -> str:
    from kafka_streams_playground_spark.plans.northstar_scoring import (
        _STOP_SQL,
        QC_BIAS_E6,
        QC_W_LEN_E6,
        QC_W_STOP_E6,
        QC_W_TTR_E6,
    )

    # The oracle is the quadratic NOT-EXISTS dominance definition — the
    # textbook skyline semantics, O(n^2) but exact at gate scale.
    return f"""
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
    ),
    s AS (
      SELECT doc_id, n_tokens,
             CAST(({QC_W_TTR_E6} * n_distinct) // n_tokens
                  - ({QC_W_STOP_E6} * n_stop) // n_tokens
                  + ({QC_W_LEN_E6} * LEAST(n_tokens, 256)) // 256
                  + {QC_BIAS_E6} AS BIGINT) AS logit_e6
      FROM f
    )
    SELECT a.doc_id, a.logit_e6, a.n_tokens
    FROM s a
    WHERE NOT EXISTS (
      SELECT 1 FROM s b
      WHERE b.logit_e6 >= a.logit_e6 AND b.n_tokens >= a.n_tokens
        AND (b.logit_e6 > a.logit_e6 OR b.n_tokens > a.n_tokens)
    )
    """


@query(
    "curation_pareto_frontier",
    oracle=_pareto_oracle(),
    tags=("northstar", "curation", "bench"),
)
def curation_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto frontier (skyline) of the corpus under (quality logit,
    token length), both maximized — multi-objective data selection: a
    document is kept iff NO other document is at least as good on both
    axes and strictly better on one. Where ``curation_source_cap`` ranks
    on a single scalar, the frontier is what a curation team inspects
    when two objectives genuinely trade off (short pristine docs vs long
    decent ones) before committing to a scalarization.

    Spark shape — the skyline decomposes into bounded windows instead of
    the O(n²) dominance join (which the oracle runs as ground truth):
    sort-free bucketing on the quality axis (logit div W), then a doc is
    dominated iff a better token count exists (1) in a strictly higher
    bucket — per-bucket max(n_tokens) is an O(buckets) relation whose
    strictly-above prefix max is ONE tiny unpartitioned window
    (whitelisted: bucket relation, never corpus rows), broadcast back;
    (2) at strictly higher logit within its own bucket — a RANGE frame
    (1 FOLLOWING, UNBOUNDED) ordered by logit, partitioned by bucket;
    or (3) at its exact logit with strictly more tokens — a (bucket,
    logit) partition max. Equal (logit, n_tokens) duplicates dominate
    neither and both stay, matching the NOT-EXISTS semantics. Every
    window partitions by bucket, so the corpus-scale work is two
    bucket-keyed shuffles; skew = the hottest logit bucket, tunable via
    PARETO_BUCKET_W. Zero UDFs, all codegen."""
    from kafka_streams_playground_spark.plans.northstar_scoring import (
        QC_BIAS_E6,
        QC_W_LEN_E6,
        QC_W_STOP_E6,
        QC_W_TTR_E6,
    )
    from kafka_streams_playground_spark.plans.northstar_text import STOPWORDS

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
    s = f.select(
        "doc_id",
        logit.cast("bigint").alias("logit_e6"),
        "n_tokens",
    ).withColumn(
        "bucket", F.expr(f"logit_e6 div {PARETO_BUCKET_W}").cast("bigint")
    )
    bmax = s.groupBy("bucket").agg(F.max("n_tokens").alias("bucket_max_t"))
    w_hi = (
        Window.orderBy(F.desc("bucket"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = bmax.select(
        "bucket", F.max("bucket_max_t").over(w_hi).alias("hi_bucket_max")
    )
    w_in = (
        Window.partitionBy("bucket")
        .orderBy("logit_e6")
        .rangeBetween(1, Window.unboundedFollowing)
    )
    w_same = Window.partitionBy("bucket", "logit_e6")
    flagged = (
        s.join(F.broadcast(prefix), "bucket")
        .withColumn("hi_in_bucket_max", F.max("n_tokens").over(w_in))
        .withColumn("same_l_max", F.max("n_tokens").over(w_same))
    )
    return flagged.filter(
        (F.col("n_tokens") == F.col("same_l_max"))
        & (
            F.col("hi_in_bucket_max").isNull()
            | (F.col("n_tokens") > F.col("hi_in_bucket_max"))
        )
        & (
            F.col("hi_bucket_max").isNull()
            | (F.col("n_tokens") > F.col("hi_bucket_max"))
        )
    ).select("doc_id", "logit_e6", "n_tokens")


# ---------------------------------------------------------------------------
# Weighted reservoir sampling (round 8)
# ---------------------------------------------------------------------------

# One-pass weighted sampling without replacement (Efraimidis & Spirakis
# 2006, "Weighted random sampling with a reservoir"): each item draws
# u ~ U(0,1) and the k largest u^(1/w) win — equivalently the k largest
# ln(u)/w (ln u < 0, w > 0 preserves order), the "exponential clocks"
# form. u derives from md5 so both engines draw the same sample; the
# clock lands on a 1e-9 grid before ranking (the BM25 idf precedent:
# F.log vs DuckDB ln agree to well under a grid step).
AES_K = 20  # reservoir size per language stratum
AES_U_DEN = 4294967296.0  # 2^32: u = (h + 0.5) / 2^32, never 0 or 1


@query(
    "sample_weighted_reservoir",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang, n_chars,
             (('0x' || substr(md5('aes:' || CAST(doc_id AS VARCHAR)), 1, 8)))::BIGINT
                 AS h
      FROM documents
      -- A-ES contract: a zero-weight item is never drawn (its clock is
      -- -inf); excluding it up front keeps the division total (the
      -- adversarial empty-doc fixture crashed the unguarded form)
      WHERE n_chars > 0
    ),
    k AS (
      SELECT doc_id, lang, n_chars,
             CAST(FLOOR(ln((h + 0.5) / {AES_U_DEN}) / n_chars * 1000000000
                        + 0.5) AS BIGINT) AS clock9
      FROM d
    ),
    r AS (
      SELECT *, row_number() OVER (
        PARTITION BY lang ORDER BY clock9 DESC, doc_id ASC) AS rank
      FROM k
    )
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars, clock9,
           CAST(rank AS BIGINT) AS rank
    FROM r WHERE rank <= {AES_K}
    """,
    tags=("northstar", "curation", "sampling", "bench"),
)
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reservoir sampling per language stratum — the third member
    of the sampling family next to ``sample_hash_split`` (uniform holdout)
    and ``sample_quality_weighted`` (Bernoulli by quality, unbounded
    output size): Efraimidis-Spirakis exponential clocks give an EXACTLY
    size-k without-replacement sample where inclusion probability tracks
    the weight (here n_chars, so the sample is length-proportional — the
    token-budget-aware pick a mixture builder wants). One deterministic
    md5 draw per document; the k largest ln(u)/w per stratum win.

    Spark shape: one map-side pass computes the clock (codegen'd md5 +
    log — no UDF, no state), then a lang-partitioned rank window keeps
    k per stratum — the same per-group top-K shape as
    ``curation_source_cap``, with the same scale stance: strata counts
    are small and the window sorts only within its stratum partition;
    at extreme per-stratum volume the standard refinement is a two-phase
    top-K (per-partition k-heaps, then rank the P·k survivors) which
    changes no semantics because clocks are independent per row. The
    deterministic draw also makes the sample REPRODUCIBLE and
    delta-stable: re-running over an appended corpus re-draws nothing,
    exactly the property distributed samplers want (the paper's reservoir
    maintenance, expressed relationally)."""
    # A-ES contract: zero-weight items are never drawn (clock -inf) —
    # filter them before the 1/w division so it is total (an empty doc
    # crashed the unguarded form under ANSI division; oracle matches)
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "n_chars")
        .filter(F.col("n_chars") > 0)
    )
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("aes:"), F.col("doc_id").cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")
    k = d.select(
        "doc_id",
        "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.floor(
            F.log((h + 0.5) / AES_U_DEN) / F.col("n_chars") * 1000000000 + F.lit(0.5)
        )
        .cast("long")
        .alias("clock9"),
    )
    w = Window.partitionBy("lang").orderBy(F.col("clock9").desc(), F.col("doc_id").asc())
    return (
        k.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= AES_K)
        .select("doc_id", "lang", "n_chars", "clock9", "rank")
    )


# ---------------------------------------------------------------------------
# Formal privacy audit: k-anonymity / l-diversity (round 8)
# ---------------------------------------------------------------------------

# Sweeney 2002 (k-anonymity) / Machanavajjhala et al. 2007 (l-diversity):
# a released table is k-anonymous iff every quasi-identifier equivalence
# class holds >= k rows, and l-diverse iff each class carries >= l distinct
# sensitive values. Quasi-identifiers here: (nation, market segment);
# sensitive attribute: the account-balance sign band (negative / low /
# high) — the audit a training-data release runs AFTER PII scrubbing
# (pii_scrub_events) to catch re-identification by attribute combination,
# which scrubbing cannot see.
KANON_K = 20
LDIV_L = 3
ACCTBAL_LOW_CENTS = 500000  # $5000.00 boundary between the low/high bands


@query(
    "privacy_k_anonymity_audit",
    oracle=f"""
    WITH c AS (
      SELECT c_nationkey AS nation, c_mktsegment AS segment,
             CASE WHEN c_acctbal < 0 THEN 'neg'
                  WHEN CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)
                       < {ACCTBAL_LOW_CENTS} THEN 'low'
                  ELSE 'high' END AS sens
      FROM customer
    ),
    cls AS (
      SELECT nation, segment, COUNT(*) AS class_size,
             COUNT(DISTINCT sens) AS n_sensitive
      FROM c GROUP BY 1, 2
    )
    SELECT CAST(nation AS BIGINT) AS nation, segment,
           CAST(class_size AS BIGINT) AS class_size,
           CAST(n_sensitive AS BIGINT) AS n_sensitive,
           CAST(class_size >= {KANON_K} AS INT) AS k_anonymous,
           CAST(n_sensitive >= {LDIV_L} AS INT) AS l_diverse,
           CAST(CASE WHEN class_size >= {KANON_K} THEN 'release'
                     WHEN class_size >= {KANON_K} // 2 THEN 'generalize'
                     ELSE 'suppress' END AS VARCHAR) AS action
    FROM cls
    """,
    tags=("northstar", "curation", "privacy", "bench"),
)
def privacy_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Formal re-identification audit — k-anonymity (Sweeney 2002) and
    l-diversity (Machanavajjhala et al. 2007) over the quasi-identifier
    classes of the customer dimension: per (nation, segment) equivalence
    class, its size, its sensitive-value diversity (account-balance
    band), both predicate flags, and the release decision a privacy
    office applies (release / generalize the QIs / suppress the class).
    Completes the privacy family: ``pii_scrub_events`` removes direct
    identifiers, ``gdpr_delete_cascade_plan`` erases named subjects —
    THIS catches the attribute-combination leaks neither can see.

    Spark shape: one groupBy on the QI tuple with map-side partials
    (COUNT + a 3-value COUNT(DISTINCT) that Catalyst expands to the
    standard two-phase distinct aggregate); flags and the decision are
    per-row projections of the aggregate. |classes| = |nations|×|segments|
    — dashboard-sized whatever the corpus, so at 100 TB the audit costs
    one pass over the release candidate. The sensitive band lands on the
    integer cent grid before comparison so the class assignment is
    bit-stable cross-engine."""
    c = kanon_bands(load_table(spark, sf_dir, "customer"))
    cls = c.groupBy("nation", "segment").agg(
        F.count(F.lit(1)).alias("class_size"),
        F.countDistinct("sens").alias("n_sensitive"),
    )
    return kanon_verdict(cls)


def kanon_bands(customer: DataFrame) -> DataFrame:
    """(nation, segment, sens): each customer's quasi-identifiers and
    sensitive balance band."""
    return customer.select(
        F.col("c_nationkey").cast("long").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.when(F.col("c_acctbal") < 0, F.lit("neg"))
        .when(
            F.floor(F.col("c_acctbal") * 100 + 0.5).cast("long")
            < ACCTBAL_LOW_CENTS,
            F.lit("low"),
        )
        .otherwise(F.lit("high"))
        .alias("sens"),
    )


def kanon_verdict(cls: DataFrame) -> DataFrame:
    """The k-anonymity / l-diversity flags and release ladder of each
    (nation, segment, class_size, n_sensitive) class."""
    return cls.select(
        "nation",
        "segment",
        "class_size",
        F.col("n_sensitive").cast("long").alias("n_sensitive"),
        (F.col("class_size") >= KANON_K).cast("int").alias("k_anonymous"),
        (F.col("n_sensitive") >= LDIV_L).cast("int").alias("l_diverse"),
        F.when(F.col("class_size") >= KANON_K, F.lit("release"))
        .when(F.col("class_size") >= KANON_K // 2, F.lit("generalize"))
        .otherwise(F.lit("suppress"))
        .alias("action"),
    )
