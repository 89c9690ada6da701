"""Deduplication operators over the ``documents`` table (north star).

Five dedup families, each a registered query with a DuckDB oracle:

* exact — hash-groupBy (the 100 TB workhorse: one shuffle on a 16-byte key)
* MinHash + LSH — shingle → signature → band → bucket-join: the *scale path*
  for near-dup at 100 TB (candidates ∝ collisions, not N²)
* n-gram Jaccard — the quadratic baseline the LSH path is checked against
* SimHash — bit-fingerprint + Hamming ball
* embedding cosine — near-dup in vector space

The fixtures contain planted near-dup pairs (3-gram shingle Jaccard ≈ 0.99
probed at sf0.01), so thresholds below select real structure, not noise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_streams_playground_spark.functions import text as T
from kafka_streams_playground_spark.functions.simhash import (
    simhash_banded_pairs_sql,
    simhash_pairs_sql,
)
from kafka_streams_playground_spark.plans.registry import query
from kafka_streams_playground_spark.sources.parquet import load_table

JACCARD_THRESHOLD = 0.8
MINHASH_K = 16
ROWS_PER_BAND = 4
# embeddings have no planted near-dups (max pairwise cosine ≈ 0.51 at
# sf0.01), so the "near-dup" cut sits just under that to stay non-trivial.
COSINE_DUP_THRESHOLD = 0.45


@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY 1
    """,
    tags=("northstar", "dedup"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content hash, keep the smallest doc_id as the
    canonical representative. At 100 TB: hashing happens map-side in the
    scan, the shuffle carries (16-byte hash, id) pairs only — this is the
    cheapest possible full-corpus dedup and the first pass of any pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def _shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.select("doc_id", T.shingles(T.tokens("text")).alias("sh"))


# CTE chain ending in verified(doc_a, doc_b, jaccard) — shared verbatim by
# the dedup_minhash_lsh oracle and the connected-components clustering oracle
# (northstar_pipeline.py), so both engines' edge sets provably agree.
MINHASH_PAIRS_CTES = f"""{T.duck_shingles_cte()},
    hv AS (
      SELECT doc_id, list_distinct({T.duck_shingle_hashes()}) AS hs FROM sh
    ),
    sig AS (
      SELECT doc_id,
        {T.duck_minhash_select(MINHASH_K)}
      FROM hv
    ),
    bands AS (
      SELECT doc_id,
        {T.duck_band_select(MINHASH_K, ROWS_PER_BAND)}
      FROM sig
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.doc_id < b.doc_id
        AND ({" OR ".join(f"a.b{j} = b.b{j}" for j in range(MINHASH_K // ROWS_PER_BAND))})
    ),
    verified AS (
      SELECT doc_a, doc_b,
        ROUND(len(list_intersect(a.hs, b.hs)) * 1.0
              / (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))), 4) AS jaccard
      FROM pairs JOIN hv a ON doc_a = a.doc_id JOIN hv b ON doc_b = b.doc_id
      WHERE len(list_intersect(a.hs, b.hs)) * 1.0
            / (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))) >= {JACCARD_THRESHOLD}
    )"""

_MINHASH_ORACLE = f"""
    WITH {MINHASH_PAIRS_CTES}
    SELECT doc_a, doc_b, jaccard FROM verified
"""


def band_bucket_expr():
    """(band_idx, bucket) posexplode over a ``sig`` column — the ONE band
    construction every LSH consumer (batch pair join, incremental probe,
    streaming ingest probe) shares, so bucket ids are bit-identical
    everywhere."""
    return F.posexplode(
        F.array(
            *[
                F.concat_ws(
                    "|",
                    *[
                        F.col("sig")[j * ROWS_PER_BAND + t]
                        for t in range(ROWS_PER_BAND)
                    ],
                )
                for j in range(MINHASH_K // ROWS_PER_BAND)
            ]
        )
    )


def _minhash_hv_bands(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Shared MinHash front front-half: the persisted per-doc (hs, sig)
    index and its exploded (doc_id, band_idx, bucket) band table — the
    unit the full-corpus pair join AND the incremental new-vs-base probe
    both build on."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ss = F.pandas_udf(T.shingle_sig_fn(MINHASH_K), "hs: array<bigint>, sig: array<bigint>")
    hv = (
        docs.select("doc_id", ss("text").alias("ss"))
        .select("doc_id", "ss.hs", "ss.sig")
        .persist()
    )
    bands = hv.select("doc_id", band_bucket_expr().alias("band_idx", "bucket"))
    return hv, bands


def _minhash_hv_pairs(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Shared MinHash front half: the persisted per-doc (hs, sig) index and
    the LSH band-collision candidate pair list (doc_a < doc_b, distinct) —
    consumed by :func:`minhash_verified_pairs` (exact-Jaccard gate) and by
    the signature-calibration audit (``dedup_minhash_estimate_audit``)."""
    hv, bands = _minhash_hv_bands(spark, sf_dir)
    pairs = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return hv, pairs


def minhash_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash-LSH near-dup pipeline up to its verified pair list
    (doc_a < doc_b, exact Jaccard ≥ threshold) — the edge set consumed both
    by :func:`dedup_minhash_lsh` and by the cluster-identification query
    (``dedup_cluster_components``). See :func:`dedup_minhash_lsh` for the
    full scale rationale."""
    hv, pairs = _minhash_hv_pairs(spark, sf_dir)
    cand = (
        pairs.join(hv.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hsa")), "doc_a")
        .join(hv.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hsb")), "doc_b")
    )
    jac = T.jaccard(F.col("hsa"), F.col("hsb"))
    return (
        cand.filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


@query("dedup_minhash_lsh", oracle=_MINHASH_ORACLE, tags=("northstar", "dedup", "bench"))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup: shingle → 16-hash MinHash signature → 4 bands of
    4 → band-bucket join for candidates → exact-Jaccard verification.

    Scale shape (the whole point vs the quadratic baseline): candidates come
    from ``groupBy(band, bucket)`` collisions, so compare cost tracks the
    number of *colliding* pairs. Four deliberate choices for 100 TB:

    * each shingle is md5'd ONCE into a 32-bit int; the k permutations are
      integer affine maps (functions/text.py) — hashing cost is O(tokens),
      not O(tokens × k);
    * the hashed-shingle index (doc_id, hs) is **persisted** — it is the
      MinHash index a production pipeline would build once and reuse; every
      downstream branch (signatures, both verification sides) reads it
      instead of re-scanning + re-hashing the corpus;
    * the band self-join carries only (doc_id, band_idx, bucket) — the
      shingle arrays never ride the candidate shuffle; they are joined back
      for exactly the (few) surviving candidate pairs;
    * verification Jaccard runs over the int arrays (array_intersect on
      longs), not the shingle strings — same set semantics, ~10× less data.

    The oracle recomputes signatures bit-for-bit in DuckDB (same literals,
    same BIGINT arithmetic). Shingling + hashing + signatures run in ONE
    Arrow-batched UDF pass (functions/text.py::shingle_sig_fn — hashlib md5
    == JVM md5 == DuckDB md5; Catalyst higher-order expressions are
    interpreted per element, the UDF is ~2× faster at identical bits; the
    Catalyst twin remains the reference implementation, equated by
    tests/test_northstar.py::test_udf_matches_catalyst_pipeline)."""
    return minhash_verified_pairs(spark, sf_dir)


_NGRAM_ORACLE = f"""
    WITH {T.duck_shingles_cte()}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      ROUND(len(list_intersect(a.sh, b.sh)) * 1.0
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh)) * 1.0
          / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= {JACCARD_THRESHOLD}
"""


@query("dedup_ngram_jaccard", oracle=_NGRAM_ORACLE, tags=("northstar", "dedup", "quadratic"))
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quadratic all-pairs n-gram Jaccard — the ground-truth baseline that
    validates the LSH path's recall (their outputs are compared in tests).
    Deliberately NOT in the bench headline set: O(N²) does not survive a
    100× scale-up; it exists to measure what LSH trades away (nothing, at
    threshold 0.8 with these band parameters)."""
    sh = _shingled(spark, sf_dir)
    a, b = sh.alias("a"), sh.alias("b")
    pairs = a.join(b, F.col("a.doc_id") < F.col("b.doc_id")).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.sh").alias("sha"),
        F.col("b.sh").alias("shb"),
    )
    jac = T.jaccard(F.col("sha"), F.col("shb"))
    return (
        pairs.filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


@query(
    "dedup_simhash",
    oracle=simhash_pairs_sql("documents", "duckdb"),
    tags=("northstar", "dedup"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 63-bit frequency-weighted fingerprints, pairs within
    Hamming distance 8. Spark and DuckDB run SQL from the SAME generator
    (functions/simhash.py) so the fingerprints match bit-for-bit. At 100 TB
    the pair join is pre-bucketed by fingerprint prefix (same banding idea as
    MinHash-LSH); here the corpus is small enough to join directly."""
    path = f"{sf_dir}/documents.parquet"
    return spark.sql(simhash_pairs_sql(f"parquet.`{path}`", "spark"))


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cosine
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= {COSINE_DUP_THRESHOLD}
    """,
    tags=("northstar", "dedup", "embedding"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs. Dot products via ``zip_with`` +
    ``aggregate`` in **double** (cast before multiply — both engines then do
    the identical sequential fold, so doubles agree bit-for-bit with the
    oracle). Norms computed once per vector before the pair join — O(N·d) not
    O(N²·d); the join itself is the quadratic part, which the LSH-bucketed
    ANN variant (northstar_similarity) replaces at scale."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )

    n = emb.select("vec_id", "v", F.sqrt(dot(F.col("v"), F.col("v"))).alias("nrm"))
    a, b = n.alias("a"), n.alias("b")
    cos = dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .filter(cos >= COSINE_DUP_THRESHOLD)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cos, 4).alias("cosine"),
        )
    )


SIMHASH_BANDED_MAX_HAMMING = 4


@query(
    "dedup_simhash_banded",
    oracle=simhash_banded_pairs_sql("documents", "duckdb", SIMHASH_BANDED_MAX_HAMMING),
    tags=("northstar", "dedup", "bench"),
)
def dedup_simhash_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup through LSH banding — the scale path the direct pair
    join (``dedup_simhash``) documents but doesn't take. 5 bands over the
    63-bit fingerprint: by pigeonhole every pair within Hamming ≤ 4 agrees on
    a whole band, so banding is EXACT at this threshold (recall proven, not
    sampled — tests/test_northstar.py equates it with the filtered direct
    join). Spark plan: fingerprints (one explode + grouped bit votes), bands
    exploded to (doc_id, band, value, fp) rows, equi-join on (band, value) —
    a co-partitioned hash join whose candidate count tracks band collisions,
    not N²; fp (8 bytes) rides the shuffle for the Hamming verification."""
    from kafka_streams_playground_spark.functions.simhash import (
        band_bounds,
        simhash_fingerprint_sql,
    )

    path = f"{sf_dir}/documents.parquet"
    # Persisted: the fingerprint index is built once and read by both sides
    # of the band self-join (at 100 TB it is a materialized index table).
    fps = spark.sql(simhash_fingerprint_sql(f"parquet.`{path}`", "spark")).persist()
    bounds = band_bounds(SIMHASH_BANDED_MAX_HAMMING + 1)
    # Integer shiftright, NOT float division: fp has up to 63 significant
    # bits, beyond float64's mantissa — a float quotient can corrupt band
    # values and silently drop qualifying pairs (pigeonhole broken).
    bands = fps.select(
        "doc_id",
        "fp",
        F.posexplode(
            F.array(*[F.shiftright(F.col("fp"), lo) % (2**w) for lo, w in bounds])
        ).alias("band_idx", "bv"),
    )
    pairs = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp"))).cast("long").alias("hamming"),
        )
        # Hamming filter BEFORE the pair-distinct: hamming is functionally
        # determined by the pair, so order is semantics-free — but Catalyst
        # can't push a non-grouping-column predicate through the distinct
        # itself, and filtering first shrinks the distinct's shuffle from
        # every band collision (~680k rows at sf0.1) to qualifying pairs
        # (~5k): the map side discards candidates the moment they fail.
        .filter(F.col("hamming") <= SIMHASH_BANDED_MAX_HAMMING)
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return pairs


@query(
    "dedup_keep_best_by_quality",
    oracle="""
    WITH t AS (SELECT doc_id, md5(text) AS text_hash,
                      string_split(text, ' ') AS toks FROM documents),
    scored AS (
      SELECT doc_id, text_hash,
             ROUND(len(list_distinct(toks)) * 1.0 / len(toks), 6) AS q
      FROM t
    )
    SELECT text_hash,
           MIN(doc_id) FILTER (WHERE rnk = 1) AS keep_id,
           COUNT(*) AS n_copies,
           ROUND(MAX(q), 6) AS best_quality
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY text_hash ORDER BY q DESC, doc_id ASC) AS rnk
      FROM scored
    ) GROUP BY text_hash
    """,
    tags=("northstar", "dedup", "quality"),
)
def dedup_keep_best_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical selection: among exact-duplicate copies keep the highest-
    quality one (type-token ratio; doc_id tiebreak) — the standard "dedup
    keeps the best copy, not an arbitrary one" pipeline stage. One narrow
    scoring projection + one shuffle on the 16-byte hash; ``max_by`` over a
    (quality, -doc_id) struct would fold the window away entirely — the
    window form is kept for cross-engine tiebreak parity."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    scored = docs.select(
        "doc_id",
        F.md5("text").alias("text_hash"),
        F.round(F.size(F.array_distinct(toks)) / F.size(toks), 6).alias("q"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("text_hash").orderBy(F.col("q").desc(), F.col("doc_id").asc())
    ranked = scored.withColumn("rnk", F.row_number().over(w))
    return ranked.groupBy("text_hash").agg(
        F.min(F.when(F.col("rnk") == 1, F.col("doc_id"))).alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
        F.round(F.max("q"), 6).alias("best_quality"),
    )


FUZZY_MAX_EDITS = 2


@query(
    "dedup_fuzzy_part_names",
    oracle=f"""
    WITH v AS (
      SELECT p_name, COUNT(*) AS n_rows FROM part GROUP BY p_name
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edits,
           a.n_rows AS n_rows_a, b.n_rows AS n_rows_b
    FROM v a JOIN v b
      ON abs(len(a.p_name) - len(b.p_name)) <= {FUZZY_MAX_EDITS}
         AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= {FUZZY_MAX_EDITS}
    """,
    tags=("northstar", "dedup", "fuzzy", "entity", "bench"),
)
def dedup_fuzzy_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching — near-identical part names within edit
    distance FUZZY_MAX_EDITS (= 2), the record-linkage/entity-dedup pass
    (catalog dedup, author-name merging) that string-exact and shingle
    dedup both miss for short strings. Each matched name pair carries both
    names' row cardinalities — entity resolution merges the rare variant
    into the common one.

    Scale shape — distinct-first, then pair: the corpus collapses to its
    NAME VOCABULARY with one map-side-partial aggregate before any pair
    work, so the Levenshtein join runs over |vocabulary|² candidates
    (pruned by the sound |len(a)−len(b)| ≤ k bound — edit distance ≥
    length difference), never rows². Entity vocabularies grow
    sub-linearly in corpus size (64 names at every fixture SF; catalog
    vocabularies are ~10⁶ at web scale, still pair-joinable blocked by
    length/prefix/phonetic keys). ``levenshtein`` is the same classic
    edit distance in both engines, so the oracle is exact."""
    v = (
        load_table(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    a, b = v.alias("a"), v.alias("b")
    lev = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(
            b,
            (
                F.abs(F.length(F.col("a.p_name")) - F.length(F.col("b.p_name")))
                <= FUZZY_MAX_EDITS
            )
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .filter(lev <= FUZZY_MAX_EDITS)
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            lev.cast("bigint").alias("edits"),
            F.col("a.n_rows").alias("n_rows_a"),
            F.col("b.n_rows").alias("n_rows_b"),
        )
    )


_SIG_MATCH_SQL = " + ".join(
    f"CAST(sa.h{i} = sb.h{i} AS INT)" for i in range(MINHASH_K)
)


@query(
    "dedup_minhash_estimate_audit",
    oracle=f"""
    WITH {MINHASH_PAIRS_CTES},
    est AS (
      SELECT p.doc_a, p.doc_b,
             CAST({_SIG_MATCH_SQL} AS BIGINT) AS n_match
      FROM pairs p
      JOIN sig sa ON p.doc_a = sa.doc_id
      JOIN sig sb ON p.doc_b = sb.doc_id
    )
    SELECT e.doc_a, e.doc_b, e.n_match,
           ROUND(e.n_match / {MINHASH_K}.0, 4) AS est_jaccard,
           ROUND(len(list_intersect(a.hs, b.hs)) * 1.0
                 / (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))), 4)
               AS true_jaccard
    FROM est e JOIN hv a ON e.doc_a = a.doc_id JOIN hv b ON e.doc_b = b.doc_id
    """,
    tags=("northstar", "dedup", "audit", "bench"),
)
def dedup_minhash_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH index-calibration audit: for every band-collision CANDIDATE pair
    (pre-verification), the signature-estimated Jaccard (matching MinHash
    components / K) next to the exact shingle Jaccard. This is the table a
    production pipeline reads to TUNE the index — the est-vs-true spread at
    the threshold is what decides K and the band/row split (the S-curve),
    and a drifting spread flags a broken hash family before it silently
    changes recall.

    Spark shape: reuses the shared persisted (hs, sig) index and the
    band-collision pair list (``_minhash_hv_pairs`` — same plan as
    ``dedup_minhash_lsh``); the estimate is a K-element zip_with fold over
    the two signatures, the truth the same array-intersect the verify gate
    runs. Cost ∝ collisions (the LSH contract), never N²."""
    hv, pairs = _minhash_hv_pairs(spark, sf_dir)
    cand = (
        pairs.join(
            hv.select(
                F.col("doc_id").alias("doc_a"),
                F.col("hs").alias("hsa"),
                F.col("sig").alias("siga"),
            ),
            "doc_a",
        )
        .join(
            hv.select(
                F.col("doc_id").alias("doc_b"),
                F.col("hs").alias("hsb"),
                F.col("sig").alias("sigb"),
            ),
            "doc_b",
        )
    )
    n_match = F.aggregate(
        F.zip_with(F.col("siga"), F.col("sigb"), lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    ).cast("bigint")
    jac = T.jaccard(F.col("hsa"), F.col("hsb"))
    return cand.select(
        "doc_a",
        "doc_b",
        n_match.alias("n_match"),
        F.round(n_match / MINHASH_K, 4).alias("est_jaccard"),
        F.round(jac, 4).alias("true_jaccard"),
    )


CONTAINMENT_TH = 0.85  # asymmetric near-dup gate: |A∩B| / |smaller side's set|


@query(
    "dedup_containment_lsh",
    oracle=f"""
    WITH {{PAIRS}}
    SELECT doc_a, doc_b,
           ROUND(len(list_intersect(a.hs, b.hs)) * 1.0 / len(a.hs), 4)
               AS contain_a_in_b,
           ROUND(len(list_intersect(a.hs, b.hs)) * 1.0 / len(b.hs), 4)
               AS contain_b_in_a
    FROM pairs JOIN hv a ON doc_a = a.doc_id JOIN hv b ON doc_b = b.doc_id
    WHERE GREATEST(len(list_intersect(a.hs, b.hs)) * 1.0 / len(a.hs),
                   len(list_intersect(a.hs, b.hs)) * 1.0 / len(b.hs))
          >= {CONTAINMENT_TH}
    """.replace("{PAIRS}", MINHASH_PAIRS_CTES),
    tags=("northstar", "dedup", "bench"),
)
def dedup_containment_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup detection: on the MinHash-LSH candidate pairs,
    compute the ASYMMETRIC containment C(A,B) = |A∩B| / |A| in both
    directions and keep pairs where either side is ≥ ``CONTAINMENT_TH`` —
    the quote/superset detector Jaccard misses (a short doc embedded
    verbatim in a long one has high containment but LOW Jaccard, because
    the union is dominated by the long side; cf. Broder's resemblance vs
    containment distinction).

    Spark shape: identical scale discipline to ``dedup_minhash_lsh`` — the
    persisted (doc_id, hs) index and the band-bucket candidate join are
    SHARED code (``_minhash_hv_pairs``); shingle-hash arrays are joined
    back only for surviving candidates, and the containment arithmetic
    runs on int arrays. One caveat at 100 TB, stated honestly: LSH on
    min-hash signatures targets high-JACCARD pairs, so high-containment /
    low-Jaccard pairs can miss the candidate net; production containment
    hunts use suffix-array or seed-shingle indexes. On the fixtures every
    threshold-passing containment pair also band-collides, so the oracle
    is exact."""
    hv, pairs = _minhash_hv_pairs(spark, sf_dir)
    cand = (
        pairs.join(hv.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hsa")), "doc_a")
        .join(hv.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hsb")), "doc_b")
    )
    inter = F.size(F.array_intersect("hsa", "hsb"))
    ca = inter / F.size("hsa")
    cb = inter / F.size("hsb")
    return (
        cand.filter(F.greatest(ca, cb) >= CONTAINMENT_TH)
        .select(
            "doc_a",
            "doc_b",
            F.round(ca, 4).alias("contain_a_in_b"),
            F.round(cb, 4).alias("contain_b_in_a"),
        )
    )


# Substring-chunk dedup (Lee et al. 2022, "Deduplicating Training Data Makes
# Language Models Better" — the ExactSubstr family). True suffix-array
# substring matching needs an external index; the production-practical Spark
# form dedups at fixed-width disjoint token chunks: a repeated chunk hash IS a
# repeated substring of >= CHUNK_W tokens (a conservative, index-free
# approximation of the suffix-array pass).
CHUNK_W = 8
CHUNK_DUP_FLAG_RATIO = 0.5


@query(
    "dedup_substring_chunks",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    c AS (
      SELECT doc_id,
             md5(array_to_string(t[s:s + {CHUNK_W - 1}], ' ')) AS h
      FROM (
        SELECT doc_id, t,
               unnest(generate_series(1, len(t) - {CHUNK_W} + 1, {CHUNK_W}))
                   AS s
        FROM toks
      )
    ),
    freq AS (SELECT h, COUNT(*) AS n_total FROM c GROUP BY h),
    agg AS (
      SELECT c.doc_id,
             COUNT(*) AS n_chunks,
             CAST(SUM(CASE WHEN freq.n_total > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_dup_chunks
      FROM c JOIN freq USING (h) GROUP BY c.doc_id
    )
    SELECT d.doc_id,
           COALESCE(agg.n_chunks, 0) AS n_chunks,
           COALESCE(agg.n_dup_chunks, 0) AS n_dup_chunks,
           ROUND(COALESCE(agg.n_dup_chunks * 1.0 / agg.n_chunks, 0.0), 4)
               AS dup_chunk_ratio,
           CAST(COALESCE(agg.n_dup_chunks * 1.0 / agg.n_chunks, 0.0)
                >= {CHUNK_DUP_FLAG_RATIO} AS INT) AS flagged
    FROM documents d LEFT JOIN agg USING (doc_id)
    """,
    tags=("northstar", "dedup", "substring", "bench"),
)
def dedup_substring_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact dedup (the ExactSubstr stance of Lee et al.
    2022): slice every document into disjoint CHUNK_W(=8)-token chunks,
    hash each chunk, and report per document how many of its chunks occur
    anywhere else in the corpus (including elsewhere in the same document)
    — the repeated-substring signal doc-level MinHash cannot see (a
    boilerplate paragraph shared by 1% of docs never moves doc-level
    Jaccard, but lights up here).

    Spark shape, two narrow shuffles: (1) chunks explode map-side from one
    scan (sequence→explode→slice→md5, all Catalyst; the chunk TEXT never
    leaves the map side — only the 32-hex hash rides the shuffle), keyed
    on chunk hash for the global frequency count with map-side partials;
    (2) the (chunk, freq) join is a self-co-shuffle on the same hash key
    (both sides exit shuffle (1) hash-partitioned on ``h``, so AQE reuses
    the partitioning), then one doc_id-keyed re-aggregate. The frequency
    table is corpus-sized — deliberately NOT broadcast. Docs shorter than
    CHUNK_W (none in the fixtures: min 10 tokens) surface with n_chunks=0
    via the left join rather than vanishing. At 100 TB the trailing
    partial chunk is dropped (< W tokens can't witness a W-token repeat),
    chunk width trades recall for index size exactly as in Lee et al., and
    the flagged docs feed the same removal step as ``decontaminate_corpus``."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    starts = F.when(
        n >= CHUNK_W, F.sequence(F.lit(1), n - CHUNK_W + 1, F.lit(CHUNK_W))
    ).otherwise(F.array().cast("array<int>"))
    chunks = (
        docs.select("doc_id", toks.alias("t"), F.explode(starts).alias("s"))
        .select(
            "doc_id",
            F.md5(F.array_join(F.slice(F.col("t"), F.col("s"), CHUNK_W), " ")).alias("h"),
        )
    )
    freq = chunks.groupBy("h").agg(F.count(F.lit(1)).alias("n_total"))
    agg = (
        chunks.join(freq, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum((F.col("n_total") > 1).cast("int")).alias("n_dup_chunks"),
        )
    )
    ratio = F.coalesce(F.col("n_dup_chunks") / F.col("n_chunks"), F.lit(0.0))
    return (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_chunks", F.lit(0)).alias("n_chunks"),
            F.coalesce("n_dup_chunks", F.lit(0)).alias("n_dup_chunks"),
            F.round(ratio, 4).alias("dup_chunk_ratio"),
            (ratio >= CHUNK_DUP_FLAG_RATIO).cast("int").alias("flagged"),
        )
    )


# LSH band/row tuning sweep: K = 16 hashes arranged as (bands, rows) in
# {(16,1), (8,2), (4,4)} — the S-curve knob (collision prob = 1-(1-j^r)^b).
# Looser bands (small r) catch more true pairs at more candidate cost; the
# sweep table is how a pipeline picks its operating point. Recall is
# measured against the (16,1) true set, a PROVABLE superset: an r-row band
# collision implies equality at each of its r signature positions, hence a
# 1-row collision — so every pair any config catches, (16,1) catches.
LSH_TUNING_CONFIGS = ((16, 1), (8, 2), (4, 4))


def _lsh_tuning_oracle() -> str:
    from kafka_streams_playground_spark.functions import text as T

    parts = []
    for b, r in LSH_TUNING_CONFIGS:
        ors = " OR ".join(f"a.b{j} = b.b{j}" for j in range(b))
        parts.append(f"""bands_{b}_{r} AS (
      SELECT doc_id, {T.duck_band_select(MINHASH_K, r)} FROM sig
    ),
    pairs_{b}_{r} AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands_{b}_{r} a JOIN bands_{b}_{r} b
        ON a.doc_id < b.doc_id AND ({ors})
    ),
    stat_{b}_{r} AS (
      SELECT CAST({b} AS BIGINT) AS n_bands, CAST({r} AS BIGINT) AS rows_per_band,
             COUNT(*) AS n_candidates,
             CAST(SUM(CASE WHEN len(list_intersect(ha.hs, hb.hs)) * 1.0
                  / (len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs)))
                  >= {JACCARD_THRESHOLD} THEN 1 ELSE 0 END) AS BIGINT) AS n_true
      FROM pairs_{b}_{r} p
      JOIN hv ha ON p.doc_a = ha.doc_id JOIN hv hb ON p.doc_b = hb.doc_id
    )""")
    union = " UNION ALL ".join(
        f"SELECT * FROM stat_{b}_{r}" for b, r in LSH_TUNING_CONFIGS
    )
    return f"""
    WITH {T.duck_shingles_cte()},
    hv AS (
      SELECT doc_id, list_distinct({T.duck_shingle_hashes()}) AS hs FROM sh
    ),
    sig AS (
      SELECT doc_id,
        {T.duck_minhash_select(MINHASH_K)}
      FROM hv
    ),
    {",".join(parts)},
    allstats AS ({union})
    SELECT n_bands, rows_per_band, n_candidates, n_true,
           CAST(CASE WHEN n_candidates > 0
                THEN n_true * 1000000 // n_candidates ELSE 0 END AS BIGINT)
               AS precision_ppm,
           CAST(n_true * 1000000
                // (SELECT n_true FROM stat_16_1) AS BIGINT) AS recall_ppm
    FROM allstats
    """


@query(
    "dedup_lsh_band_tuning",
    oracle=_lsh_tuning_oracle(),
    tags=("northstar", "dedup", "lsh", "eval", "bench"),
)
def dedup_lsh_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH operating-point sweep: candidate volume, true-pair yield,
    precision, and recall for three (bands, rows-per-band) arrangements of
    the SAME 16-hash signatures — the S-curve tuning table (collision
    probability 1-(1-j^r)^b) that decides a near-dup pipeline's
    cost/recall trade before it ships (the tuning sibling of
    ``dedup_minhash_estimate_audit``'s calibration). Recall is exact
    against the (16,1) true set, a provable superset of every config's
    catch (band collision ⇒ per-position collision).

    Spark shape: ONE persisted (hs, sig) index feeds all three configs —
    signatures are never recomputed; each config re-bands the 16 ints
    map-side and runs the same narrow (band_idx, bucket) self-join as
    ``dedup_minhash_lsh`` (ids-only shuffle, arrays joined back only for
    surviving candidates). Cost scales with collisions per config — the
    sweep's entire point is measuring exactly that. Output: 3 rows."""
    hv0, _ = _minhash_hv_pairs(spark, sf_dir)
    stats = []
    for b, r in LSH_TUNING_CONFIGS:
        bands = hv0.select(
            "doc_id",
            F.posexplode(
                F.array(
                    *[
                        F.concat_ws(
                            "|", *[F.col("sig")[j * r + t] for t in range(r)]
                        )
                        for j in range(b)
                    ]
                )
            ).alias("band_idx", "bucket"),
        )
        pairs = (
            bands.alias("a")
            .join(
                bands.alias("b"),
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .dropDuplicates(["doc_a", "doc_b"])
        )
        cand = (
            pairs.join(
                hv0.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hsa")),
                "doc_a",
            ).join(
                hv0.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hsb")),
                "doc_b",
            )
        )
        jac = T.jaccard(F.col("hsa"), F.col("hsb"))
        stats.append(
            cand.agg(
                F.lit(b).cast("bigint").alias("n_bands"),
                F.lit(r).cast("bigint").alias("rows_per_band"),
                F.count(F.lit(1)).alias("n_candidates"),
                F.sum((jac >= JACCARD_THRESHOLD).cast("int"))
                .cast("bigint")
                .alias("n_true"),
            )
        )
    allstats = stats[0].unionAll(stats[1]).unionAll(stats[2])
    denom = allstats.filter(F.col("rows_per_band") == 1).select(
        F.col("n_true").alias("denom")
    )
    return allstats.crossJoin(F.broadcast(denom)).select(
        "n_bands",
        "rows_per_band",
        "n_candidates",
        "n_true",
        F.when(
            F.col("n_candidates") > 0,
            F.expr("cast(n_true * 1000000 div n_candidates as bigint)"),
        )
        .otherwise(F.lit(0).cast("bigint"))
        .alias("precision_ppm"),
        F.expr("cast(n_true * 1000000 div denom as bigint)").alias("recall_ppm"),
    )


# Incremental (new-snapshot-vs-base) near-dup: tonight's crawl probed
# against the standing corpus index. The split is a deterministic hash rule
# so both engines agree on membership.
NEW_SNAPSHOT_PRED = "doc_id % 10 >= 8"  # ~20% "new", rest "base"


@query(
    "dedup_incremental_new_vs_base",
    oracle=f"""
    WITH {MINHASH_PAIRS_CTES},
    cross_pairs AS (
      SELECT CASE WHEN doc_a % 10 >= 8 THEN doc_b ELSE doc_a END AS base_id,
             CASE WHEN doc_a % 10 >= 8 THEN doc_a ELSE doc_b END AS new_id,
             jaccard
      FROM verified
      WHERE (doc_a % 10 >= 8) <> (doc_b % 10 >= 8)
    ),
    r AS (
      SELECT *, row_number() OVER (
        PARTITION BY new_id ORDER BY jaccard DESC, base_id ASC) AS rn
      FROM cross_pairs
    )
    SELECT new_id AS doc_id, base_id AS dup_of, jaccard FROM r WHERE rn = 1
    """,
    tags=("northstar", "dedup", "incremental", "bench"),
)
def dedup_incremental_new_vs_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup — the production nightly shape: a new snapshot
    (here the deterministic ~20% slice ``{NEW_SNAPSHOT_PRED}``) is probed
    against the standing base corpus, and each new doc that near-duplicates
    a base doc gets its best match (highest exact Jaccard, ties to the
    lowest base id) — the drop/link manifest an ingest pipeline applies
    before admitting tonight's crawl.

    Scale shape — why this is NOT dedup_minhash_lsh re-run on the union:
    the band join is ASYMMETRIC. Only cross-snapshot band collisions are
    generated (new bands x base bands), so candidate cost tracks
    |new| x collision rate, not the quadratic-in-corpus full pair join;
    new-new and base-base collisions never exist as rows. At 100 TB the
    base side's (hs, sig, band) index is the PERSISTED artifact of the
    previous run — stored bucketed by (band_idx, bucket), it is read, not
    recomputed, and the nightly cost is one shingle+signature pass over
    the new slice plus a co-located probe join; here both sides derive
    from one shared signature pass (the fixture is one table). Verified
    the same way as the full pipeline: exact Jaccard on the persisted
    shingle sets, signatures never ride the candidate shuffle. The oracle
    reuses the full-corpus verified-pairs CTE chain restricted to
    cross-snapshot pairs — same collision physics, independently derived."""
    hv, bands = _minhash_hv_bands(spark, sf_dir)
    is_new = (F.col("doc_id") % 10) >= 8
    new_b = bands.filter(is_new)
    base_b = bands.filter(~is_new)
    cand = (
        new_b.alias("n")
        .join(
            base_b.alias("b"),
            (F.col("n.band_idx") == F.col("b.band_idx"))
            & (F.col("n.bucket") == F.col("b.bucket")),
        )
        .select(
            F.col("b.doc_id").alias("base_id"), F.col("n.doc_id").alias("new_id")
        )
        .dropDuplicates(["base_id", "new_id"])
    )
    verified = (
        cand.join(
            hv.select(F.col("doc_id").alias("base_id"), F.col("hs").alias("hsb")),
            "base_id",
        )
        .join(
            hv.select(F.col("doc_id").alias("new_id"), F.col("hs").alias("hsn")),
            "new_id",
        )
    )
    return best_base_match(verified_pairs(verified))


def verified_pairs(cand: DataFrame) -> DataFrame:
    """(new_id, base_id, jaccard) of the candidates whose exact shingle-set
    Jaccard (``hsb`` vs ``hsn``) reaches JACCARD_THRESHOLD."""
    jac = T.jaccard(F.col("hsb"), F.col("hsn"))
    return cand.filter(jac >= JACCARD_THRESHOLD).select(
        "new_id", "base_id", F.round(jac, 4).alias("jaccard")
    )


def best_base_match(scored: DataFrame) -> DataFrame:
    """Each new document's best base match (highest Jaccard, then lowest
    base_id) as (doc_id, dup_of, jaccard)."""
    from pyspark.sql import Window as _W

    best = scored.withColumn(
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


# ---------------------------------------------------------------------------
# Prefix-filtering set-similarity join (exact, no LSH false negatives)
# ---------------------------------------------------------------------------


@query(
    "dedup_prefix_filter_jaccard",
    oracle=f"""
    WITH {T.duck_shingles_cte()},
    hv AS (
      SELECT doc_id, list_distinct({T.duck_shingle_hashes()}) AS hs FROM sh
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      ROUND(len(list_intersect(a.hs, b.hs)) * 1.0
            / (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))), 4)
          AS jaccard
    FROM hv a JOIN hv b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.hs, b.hs)) * 1.0
          / (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs)))
          >= {JACCARD_THRESHOLD}
    """,
    tags=("northstar", "dedup", "bench"),
)
def dedup_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard-threshold near-dup join via prefix filtering
    (Chaudhuri et al. ICDE'06 / Xiao et al. PPJoin) — the deterministic
    alternative to MinHash-LSH: where LSH trades false negatives for
    speed, prefix filtering is complete BY CONSTRUCTION, so its verified
    pair set IS the ground truth (the oracle runs the quadratic
    definition; this plan must reproduce it exactly — and the LSH
    family's output must be a subset, pinned in tests).

    The principle: order the element universe by ascending global
    frequency (rarest first); if J(a,b) >= t then |a∩b| >= ceil(t·|a|),
    so b must hit one of a's first |a| - ceil(t·|a|) + 1 elements in
    that order — docs whose RAREST-element prefixes are disjoint cannot
    qualify and are never paired. Candidates therefore come from an
    equi-join on prefix elements, and rare elements have few owners, so
    the join fan-out tracks the true near-dup density, not n².

    Spark shape: reuses the dedup family's hashed-shingle sets (one
    Arrow pass, md5 == DuckDB); element frequencies are one map-side
    partial count (never a global rank — the canonical order is
    consumed only inside per-doc windows, bounded by doc size); the
    ceil is the integer form (4n+4) div 5 (a float 0.8·n would round
    0.8·25 up a ULP and silently lengthen prefixes); the candidate
    equi-join carries only (h, doc_id) — the sets ride in just for the
    surviving pairs, same economics as the LSH verify. Skew lever at
    100 TB: a stop-shingle whose frequency puts it in many prefixes is
    exactly what the frequency order pushes OUT of prefixes; residual
    hot elements can be salted or capped (drop elements with cnt >
    bound from prefixes is NOT admissible without widening them — noted
    so nobody 'optimizes' completeness away)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    hv = docs.select(
        "doc_id",
        F.array_distinct(T.shingle_hashes(T.shingles(T.tokens("text")))).alias(
            "hs"
        ),
    ).persist()
    el = hv.select(
        "doc_id",
        F.size("hs").alias("n"),
        F.explode("hs").alias("h"),
    )
    freq = el.groupBy("h").agg(F.count(F.lit(1)).alias("cnt"))
    from pyspark.sql import Window

    wdoc = Window.partitionBy("doc_id").orderBy(F.asc("cnt"), F.asc("h"))
    # integer ceil(0.8*n) = (4n+4) div 5; prefix = n - ceil(t*n) + 1
    prefix = (
        el.join(freq, "h")
        .withColumn("rn", F.row_number().over(wdoc))
        .filter(F.col("rn") <= F.col("n") - F.expr("(4 * n + 4) div 5") + 1)
        .select("doc_id", "h")
    )
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    verified = (
        cand.join(
            hv.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hsa")),
            "doc_a",
        )
        .join(
            hv.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hsb")),
            "doc_b",
        )
    )
    jac = T.jaccard(F.col("hsa"), F.col("hsb"))
    result = verified.filter(jac >= JACCARD_THRESHOLD).select(
        "doc_a", "doc_b", F.round(jac, 4).alias("jaccard")
    )
    result = result.localCheckpoint(eager=True)
    hv.unpersist()
    return result


# ---------------------------------------------------------------------------
# Near-dup method agreement audit
# ---------------------------------------------------------------------------


def _method_agreement_oracle() -> str:
    sim_sql = simhash_banded_pairs_sql(
        "documents", "duckdb", SIMHASH_BANDED_MAX_HAMMING
    )
    return f"""
    WITH {MINHASH_PAIRS_CTES},
    truth AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM hv a JOIN hv b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.hs, b.hs)) * 1.0
            / (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs)))
            >= {JACCARD_THRESHOLD}
    ),
    mh AS (SELECT doc_a, doc_b FROM verified),
    sb AS (SELECT doc_a, doc_b FROM ({sim_sql})),
    tn AS (SELECT COUNT(*) AS n_truth FROM truth)
    SELECT m.method, m.n_pairs, tn.n_truth, m.n_true,
           CAST(m.n_true * 1000000 // tn.n_truth AS BIGINT) AS recall_ppm,
           CAST(m.n_true * 1000000 // m.n_pairs AS BIGINT) AS precision_ppm
    FROM (
      SELECT 'minhash_lsh' AS method,
             (SELECT COUNT(*) FROM mh) AS n_pairs,
             (SELECT COUNT(*) FROM mh JOIN truth USING (doc_a, doc_b))
                 AS n_true
      UNION ALL
      SELECT 'simhash_banded',
             (SELECT COUNT(*) FROM sb),
             (SELECT COUNT(*) FROM sb JOIN truth USING (doc_a, doc_b))
    ) m, tn
    """


@query(
    "dedup_method_agreement",
    oracle=_method_agreement_oracle(),
    tags=("northstar", "dedup", "diagnostics", "bench"),
)
def dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-method near-dup AGREEMENT audit — the report a curation team
    reads before trusting a dedup config: each approximate method's pair
    set measured against the exact Jaccard>=threshold ground truth that
    ``dedup_prefix_filter_jaccard`` computes completely (no sampling, no
    banding probability). MinHash-LSH verifies candidates with the same
    exact Jaccard, so its precision is 1e6 by construction and the
    audit exposes its RECALL (pairs lost to band non-collision);
    SimHash banding answers a different similarity question (fingerprint
    Hamming <= 4 ~ cosine over hashed features), so both its recall and
    precision against the Jaccard truth are informative — the number
    that tells you the two families do NOT interchange.

    Spark shape: three pair sets from their already-proven plans (exact
    prefix-filter, LSH band join, SimHash band join — the first
    localCheckpoints and releases its caches; the other two persist the
    shared signature substrates by design), then one-row count
    aggregates combined by broadcast cross joins; ppm on the exact
    integer grid. The audit itself adds no corpus-scale work beyond the
    methods it audits."""
    truth = (
        dedup_prefix_filter_jaccard(spark, sf_dir)
        .select("doc_a", "doc_b")
        .persist()
    )
    tn = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    mh = minhash_verified_pairs(spark, sf_dir).select("doc_a", "doc_b")
    sb = dedup_simhash_banded(spark, sf_dir).select("doc_a", "doc_b")

    def method_row(name: str, p: DataFrame) -> DataFrame:
        n_pairs = p.agg(F.count(F.lit(1)).alias("n_pairs"))
        n_true = p.join(F.broadcast(truth), ["doc_a", "doc_b"]).agg(
            F.count(F.lit(1)).alias("n_true")
        )
        return (
            n_pairs.crossJoin(F.broadcast(n_true))
            .select(F.lit(name).alias("method"), "n_pairs", "n_true")
        )

    out = (
        method_row("minhash_lsh", mh)
        .unionByName(method_row("simhash_banded", sb))
        .crossJoin(F.broadcast(tn))
        .select(
            "method",
            "n_pairs",
            "n_truth",
            "n_true",
            F.expr("CAST(n_true * 1000000 div n_truth AS BIGINT)").alias(
                "recall_ppm"
            ),
            F.expr("CAST(n_true * 1000000 div n_pairs AS BIGINT)").alias(
                "precision_ppm"
            ),
        )
    )
    out = out.localCheckpoint(eager=True)
    truth.unpersist()
    return out


# ---------------------------------------------------------------------------
# Sorted-neighborhood method (SNM) blocking
# ---------------------------------------------------------------------------

# Neighbors compared after each document in sort order (the SNM window w).
SNM_WINDOW = 5
# Block = this many leading characters of the sorted-token key; documents
# never compare across blocks (the distributed-SNM partition boundary).
SNM_BLOCK_CHARS = 8

_SNM_ORACLE = f"""
    WITH {T.duck_shingles_cte()},
    skey AS (
      SELECT doc_id,
             array_to_string(list_sort(string_split(text, ' ')), ' ') AS skey
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, substr(skey, 1, {SNM_BLOCK_CHARS}) AS blk,
             ROW_NUMBER() OVER (PARTITION BY substr(skey, 1, {SNM_BLOCK_CHARS})
                                ORDER BY skey, doc_id) AS rn
      FROM skey
    ),
    cand AS (
      SELECT DISTINCT LEAST(a.doc_id, b.doc_id) AS doc_a,
                      GREATEST(a.doc_id, b.doc_id) AS doc_b
      FROM ranked a JOIN ranked b
        ON a.blk = b.blk AND b.rn > a.rn AND b.rn <= a.rn + {SNM_WINDOW}
    )
    SELECT c.doc_a, c.doc_b,
      ROUND(len(list_intersect(a.sh, b.sh)) * 1.0
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4)
        AS jaccard
    FROM cand c JOIN sh a ON c.doc_a = a.doc_id JOIN sh b ON c.doc_b = b.doc_id
    WHERE len(list_intersect(a.sh, b.sh)) * 1.0
          / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
          >= {JACCARD_THRESHOLD}
"""


def _snm_pass(keyed: DataFrame, key_col: str) -> DataFrame:
    """One SNM pass over a pre-keyed relation: block on the key prefix
    (SNM_BLOCK_CHARS), rank within the block, compare each doc to its next
    SNM_WINDOW neighbors. The rank window and the w-band self-join both
    key on the block — no global sort, ids-only shuffle."""
    from pyspark.sql import Window

    blocked = keyed.select(
        "doc_id",
        F.col(key_col).alias("skey"),
        F.substring(key_col, 1, SNM_BLOCK_CHARS).alias("blk"),
    )
    rn_w = Window.partitionBy("blk").orderBy("skey", "doc_id")
    ranked = blocked.select("doc_id", "blk", F.row_number().over(rn_w).alias("rn"))
    a, b = ranked.alias("a"), ranked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("b.rn") > F.col("a.rn"))
            & (F.col("b.rn") <= F.col("a.rn") + SNM_WINDOW),
        )
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )


def snm_candidates(docs: DataFrame, key: "F.Column") -> DataFrame:
    """Single-pass SNM candidate pairs for an ad-hoc sort key."""
    return _snm_pass(docs.select("doc_id", key.alias("skey")), "skey")


@query(
    "dedup_sorted_neighborhood",
    oracle=_SNM_ORACLE,
    tags=("northstar", "dedup", "bench"),
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood-method near-dup (Hernández & Stolfo, SIGMOD'95):
    sort documents by a normalization key (the space-joined SORTED token
    list — a bag-of-words canonical form, so reordered/near-identical texts
    land adjacent), then compare each document only to the next
    SNM_WINDOW neighbors in sort order. The third classic candidate
    generator next to banded LSH (dedup_minhash_lsh) and prefix filtering
    (dedup_prefix_filter_jaccard): O(n·w) comparisons, no signature
    tuning, catches exactly the near-dups whose canonical forms collate
    together.

    Distributed form: the sort is BLOCKED — key prefix (SNM_BLOCK_CHARS
    chars) partitions the corpus, the rank window and the w-band self-join
    both key on the block, so no global sort and no single-partition
    window ever materializes (pairs straddling a block boundary are the
    method's documented blind spot; production runs do a second pass with
    a shifted key, exactly like multi-probe LSH). The w-band join carries
    (block, rn, doc_id) only — shingle arrays join back for surviving
    candidates, the same ids-only-shuffle stance as the LSH path. A hot
    block (skewed canonical prefix) is a salting candidate, but per-row
    work stays O(w) regardless. Verification is the shared exact-Jaccard
    gate at JACCARD_THRESHOLD."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    cand = snm_candidates(docs, F.concat_ws(" ", F.array_sort(T.tokens("text"))))
    sh = _shingled(spark, sf_dir)
    pairs = cand.join(
        sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha")), "doc_a"
    ).join(sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb")), "doc_b")
    jac = T.jaccard(F.col("sha"), F.col("shb"))
    return (
        pairs.filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


_SNM_MULTI_ORACLE = f"""
    WITH {{shingles}},
    skeys AS (
      SELECT doc_id,
             array_to_string(list_sort(string_split(text, ' ')), ' ') AS k1,
             array_to_string(list_reverse(list_sort(string_split(text, ' '))),
                             ' ') AS k2
      FROM documents
    ),
    r1 AS (
      SELECT doc_id, substr(k1, 1, {SNM_BLOCK_CHARS}) AS blk,
             ROW_NUMBER() OVER (PARTITION BY substr(k1, 1, {SNM_BLOCK_CHARS})
                                ORDER BY k1, doc_id) AS rn
      FROM skeys
    ),
    r2 AS (
      SELECT doc_id, substr(k2, 1, {SNM_BLOCK_CHARS}) AS blk,
             ROW_NUMBER() OVER (PARTITION BY substr(k2, 1, {SNM_BLOCK_CHARS})
                                ORDER BY k2, doc_id) AS rn
      FROM skeys
    ),
    cand AS (
      SELECT doc_a, doc_b, MAX(p1) AS p1, MAX(p2) AS p2 FROM (
        SELECT LEAST(a.doc_id, b.doc_id) AS doc_a,
               GREATEST(a.doc_id, b.doc_id) AS doc_b, 1 AS p1, 0 AS p2
        FROM r1 a JOIN r1 b
          ON a.blk = b.blk AND b.rn > a.rn AND b.rn <= a.rn + {SNM_WINDOW}
        UNION ALL
        SELECT LEAST(a.doc_id, b.doc_id), GREATEST(a.doc_id, b.doc_id), 0, 1
        FROM r2 a JOIN r2 b
          ON a.blk = b.blk AND b.rn > a.rn AND b.rn <= a.rn + {SNM_WINDOW}
      ) GROUP BY 1, 2
    )
    SELECT c.doc_a, c.doc_b,
      ROUND(len(list_intersect(a.sh, b.sh)) * 1.0
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4)
        AS jaccard,
      CAST(c.p1 + 2 * c.p2 AS BIGINT) AS passes
    FROM cand c JOIN sh a ON c.doc_a = a.doc_id JOIN sh b ON c.doc_b = b.doc_id
    WHERE len(list_intersect(a.sh, b.sh)) * 1.0
          / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
          >= {JACCARD_THRESHOLD}
""".format(shingles=T.duck_shingles_cte())


@query(
    "dedup_snm_multipass",
    oracle=_SNM_MULTI_ORACLE,
    tags=("northstar", "dedup", "bench"),
)
def dedup_snm_multipass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-pass sorted-neighborhood near-dup — Hernández & Stolfo's own
    production fix for single-pass SNM's cross-block blind spot (SIGMOD'95
    §4.2 runs SEVERAL passes with independent keys and unions the matches;
    the multi-probe-LSH analogue). Pass 1 sorts on the canonical
    bag-of-words key; pass 2 on the REVERSED sorted-token key, so
    documents sharing suffix vocabulary collate together even when their
    leading tokens (hence pass-1 blocks) differ. A pair straddling a
    pass-1 block boundary is exactly the pair whose first sorted tokens
    diverge — the reversed key starts from the other end of the
    vocabulary, making the two blind spots (near-)disjoint. The union of
    both candidate sets feeds the shared exact-Jaccard gate (precision
    stays 1.0 by construction — the gate re-verifies every candidate);
    ``passes`` reports which pass(es) produced each surviving pair
    (1 = sort-key only, 2 = reverse-key only, 3 = both) — the recall
    telemetry a production run tracks to decide whether a third key is
    worth its scan.

    Scale stance: each pass is the single-pass plan verbatim (blocked rank
    window, O(n·w) ids-only band join — ``snm_candidates``); two passes =
    2× that, still no global sort, and the union + max-bitmask collapse is
    one (doc_a, doc_b)-keyed aggregate over candidate ids. Shingle arrays
    join back only for surviving candidates."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # Each pass recomputes its key map-side from the scan: the keys are
    # document-sized strings, so recompute-over-store wins — materializing
    # a (doc_id, k1, k2) relation (localCheckpoint) measured SLOWER at
    # sf0.1 (4.6 s vs 4.0 s) and doubles the memory footprint at scale.
    sorted_toks = F.array_sort(T.tokens("text"))
    c1 = snm_candidates(docs, F.concat_ws(" ", sorted_toks)).select(
        "doc_a", "doc_b", F.lit(1).alias("p1"), F.lit(0).alias("p2")
    )
    c2 = snm_candidates(docs, F.concat_ws(" ", F.reverse(sorted_toks))).select(
        "doc_a", "doc_b", F.lit(0).alias("p1"), F.lit(1).alias("p2")
    )
    cand = (
        c1.unionByName(c2)
        .groupBy("doc_a", "doc_b")
        .agg(F.max("p1").alias("p1"), F.max("p2").alias("p2"))
    )
    sh = _shingled(spark, sf_dir)
    pairs = cand.join(
        sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha")), "doc_a"
    ).join(sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb")), "doc_b")
    jac = T.jaccard(F.col("sha"), F.col("shb"))
    return pairs.filter(jac >= JACCARD_THRESHOLD).select(
        "doc_a",
        "doc_b",
        F.round(jac, 4).alias("jaccard"),
        (F.col("p1") + 2 * F.col("p2")).cast("bigint").alias("passes"),
    )


# ---------------------------------------------------------------------------
# Content-defined chunking (CDC) dedup
# ---------------------------------------------------------------------------

# A token OPENS a new chunk when hash32(token) % CDC_P == 0 — boundaries
# depend on content alone, so an insertion re-chunks only its local
# neighborhood (the LBFS/rsync shift-resistance property fixed-width
# chunking lacks). Expected chunk length ≈ CDC_P tokens.
CDC_P = 8

_CDC_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
             generate_subscripts(string_split(text, ' '), 1) AS idx
      FROM documents
    ),
    f AS (
      SELECT doc_id, idx, tok,
             CASE WHEN (('0x' || substr(md5(tok), 1, 8)))::BIGINT % {CDC_P} = 0
                  THEN 1 ELSE 0 END AS b
      FROM t
    ),
    c AS (
      SELECT doc_id, idx, tok,
             SUM(b) OVER (PARTITION BY doc_id ORDER BY idx
                          ROWS UNBOUNDED PRECEDING) AS chunk_no
      FROM f
    ),
    ch AS (
      SELECT doc_id, chunk_no, string_agg(tok, ' ' ORDER BY idx) AS chunk
      FROM c GROUP BY doc_id, chunk_no
    )
    SELECT md5(chunk) AS chunk_hash,
           CAST(MIN(len(string_split(chunk, ' '))) AS BIGINT) AS n_tokens,
           COUNT(*) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           MIN(doc_id) AS first_doc
    FROM ch GROUP BY 1 HAVING COUNT(*) >= 2
"""


@query(
    "dedup_cdc_chunks",
    oracle=_CDC_ORACLE,
    tags=("northstar", "dedup", "bench"),
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking dedup (the LBFS/rsync/restic chunker,
    Muthitacharoen et al. SOSP'01, applied to text): chunk boundaries fall
    where a token's content hash ≡ 0 (mod CDC_P), so identical passages
    chunk identically HOWEVER they are shifted by upstream edits — the
    shift-resistant complement to ``dedup_substring_chunks``' fixed-width
    grid (insert one token before a fixed-width grid and every downstream
    chunk changes; here only the edited chunk does). Reports every chunk
    text that repeats anywhere in the corpus — the storage/dedup view of
    boilerplate.

    Spark shape: chunking is per-document-LOCAL, so it runs entirely
    map-side in ONE Arrow ``mapInPandas`` pass (per-batch token-hash memo —
    md5 each distinct token once per batch; no posexplode + doc-keyed
    window shuffle just to compute a per-doc prefix sum); only the 32-hex
    chunk hash and doc_id ride the single corpus shuffle, keyed on the
    chunk hash with map-side partial counts — the exact-dedup stance. The
    oracle recomputes boundaries bit-for-bit in SQL (same md5-derived
    32-bit hash, same inclusive-boundary rule)."""
    import pandas as pd  # noqa: PLC0415

    def chunker(batches):
        import hashlib

        memo: dict[str, bool] = {}

        def is_boundary(tok: str) -> bool:
            b = memo.get(tok)
            if b is None:
                b = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % CDC_P == 0
                memo[tok] = b
            return b

        for pdf in batches:
            doc_ids, chunks = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = text.split(" ")
                cur: list[str] = []
                for t in toks:
                    if is_boundary(t) and cur:
                        doc_ids.append(doc_id)
                        chunks.append(" ".join(cur))
                        cur = []
                    cur.append(t)
                if cur:
                    doc_ids.append(doc_id)
                    chunks.append(" ".join(cur))
            yield pd.DataFrame({"doc_id": doc_ids, "chunk": chunks})

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ch = docs.mapInPandas(chunker, "doc_id bigint, chunk string")
    return (
        ch.groupBy(F.md5("chunk").alias("chunk_hash"))
        .agg(
            F.min(F.size(F.split("chunk", " "))).cast("long").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_occurrences") >= 2)
    )
