"""Unit tests for the north-star operators: known-value hashing, LSH recall
vs the quadratic ground truth, multilingual langid, multimodal plumbing."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from kafka_streams_playground_spark.functions import text as T
from kafka_streams_playground_spark.functions.multimodal import (
    FEATURE_DIM,
    attach_binary_payload,
    decode_features,
)


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def test_minhash_known_values(spark):
    """Signature components must equal a pure-Python recomputation — guards
    the transform-lambda index trap (a second lambda arg is the array index)
    and the affine-permutation arithmetic (overflow, modulus)."""
    df = spark.createDataFrame([(1, "a b c d")], "doc_id int, text string")
    sh = df.select("doc_id", T.shingles(T.tokens("text")).alias("sh"))
    row = sh.select(
        "sh",
        *[
            c.alias(f"h{i}")
            for i, c in enumerate(T.minhash_signature(T.shingle_hashes(F.col("sh")), 3))
        ],
    ).collect()[0]
    assert sorted(row["sh"]) == ["a b c", "b c d"]
    base = [int(_md5(s)[:8], 16) for s in row["sh"]]
    for i in range(3):
        a, b = T._affine_params(i)
        expected = min((a * h + b) % T.MERSENNE_P for h in base)
        assert row[f"h{i}"] == expected, f"component {i}"


def test_short_doc_shingle_fallback(spark):
    df = spark.createDataFrame([(1, "a b")], "doc_id int, text string")
    row = df.select(T.shingles(T.tokens("text")).alias("sh")).collect()[0]
    assert row["sh"] == ["a b"]


def test_lsh_recall_equals_quadratic(spark, sf_dir):
    """MinHash-LSH must find the same ≥0.8-jaccard pairs as the exhaustive
    baseline on the fixtures (planted near-dups make this non-vacuous)."""
    from kafka_streams_playground_spark.plans import REGISTRY

    lsh = {
        (r["doc_a"], r["doc_b"]) for r in REGISTRY["dedup_minhash_lsh"].fn(spark, sf_dir).collect()
    }
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in REGISTRY["dedup_ngram_jaccard"].fn(spark, sf_dir).collect()
    }
    assert exact, "fixtures should contain planted near-dup pairs"
    assert lsh == exact


def test_simhash_identical_and_near(spark):
    from kafka_streams_playground_spark.functions.simhash import simhash_fingerprint_sql

    df = spark.createDataFrame(
        [
            (1, "w1 w2 w3 w4 w5 w6 w7 w8"),
            (2, "w1 w2 w3 w4 w5 w6 w7 w8"),   # identical → hamming 0
            (3, "w1 w2 w3 w4 w5 w6 w7 zzz"),  # one token swapped → small
        ],
        "doc_id long, text string",
    )
    df.createOrReplaceTempView("sim_docs")
    fps = {
        r["doc_id"]: r["fp"]
        for r in spark.sql(simhash_fingerprint_sql("sim_docs", "spark")).collect()
    }
    assert fps[1] == fps[2]
    ham = bin(fps[1] ^ fps[3]).count("1")
    assert 0 < ham <= 20


def test_langid_multilingual(spark, sf_dir, tmp_path):
    """The heuristic must work on real multilingual content, not only the
    synthetic soup: CJK → zh, English stopwords → en."""
    from kafka_streams_playground_spark.plans import REGISTRY

    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and looked at the dog", "en"),
            (2, "你好世界 数据 处理", "zh"),
            (3, "xyzzy plugh qwerty", "??"),
        ],
        "doc_id long, text string, lang string",
    )
    d = str(tmp_path)
    df.write.parquet(f"{d}/documents.parquet")
    out = {
        r["doc_id"]: r["lang_pred"] for r in REGISTRY["text_langid"].fn(spark, d).collect()
    }
    assert out == {1: "en", 2: "zh", 3: "und"}


def test_multimodal_decode_plumbing(spark):
    docs = spark.createDataFrame(
        [(7, "AB", 2), (8, "", 0)], "doc_id long, text string, n_chars long"
    )
    mm = attach_binary_payload(docs)
    feats = {r["doc_id"]: r for r in decode_features(mm).collect()}
    assert feats[7]["n_bytes"] == 2
    got = feats[7]["features"]
    assert len(got) == FEATURE_DIM
    assert abs(got[0] - ord("A") / 255.0) < 1e-6
    assert abs(got[1] - ord("B") / 255.0) < 1e-6
    assert got[2:] == [0.0] * (FEATURE_DIM - 2)
    # empty payload → all-zero features, not a crash
    assert feats[8]["features"] == [0.0] * FEATURE_DIM


def test_ann_subset_of_bruteforce(spark, sf_dir):
    """Single-probe LSH ANN results must be a subset of the exact top-k
    candidate scores (per query, every returned neighbor appears in the
    brute-force scored set with the same cosine)."""
    from kafka_streams_playground_spark.plans import REGISTRY

    bf = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in REGISTRY["sim_topk_bruteforce"].fn(spark, sf_dir).collect()
    }
    ann = REGISTRY["sim_ann_lsh_topk"].fn(spark, sf_dir).collect()
    for r in ann:
        key = (r["query_id"], r["neighbor_id"])
        if key in bf:  # ANN hit that also made exact top-k: cosine must agree
            assert abs(bf[key] - r["cosine"]) < 1e-9


def test_simhash_banded_equals_direct(spark, sf_dir):
    """Pigeonhole exactness: 5-band SimHash LSH must return exactly the
    direct all-pairs result filtered to Hamming <= 4."""
    from kafka_streams_playground_spark.plans import REGISTRY

    banded = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in REGISTRY["dedup_simhash_banded"].fn(spark, sf_dir).collect()
    }
    direct = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in REGISTRY["dedup_simhash"].fn(spark, sf_dir).collect()
        if r["hamming"] <= 4
    }
    assert banded == direct


def test_multiprobe_recall_dominates_single_probe(spark, sf_dir):
    """Multi-probe searches a strict superset of single-probe candidates, so
    per query it must return at least as many neighbors and a best-cosine at
    least as good."""
    from collections import defaultdict

    from kafka_streams_playground_spark.plans import REGISTRY

    def per_query(name):
        best, cnt = defaultdict(lambda: -2.0), defaultdict(int)
        for r in REGISTRY[name].fn(spark, sf_dir).collect():
            q = r["query_id"]
            cnt[q] += 1
            best[q] = max(best[q], r["cosine"])
        return best, cnt

    sb, sc = per_query("sim_ann_lsh_topk")
    mb, mc = per_query("sim_ann_multiprobe_topk")
    for q in sc:
        assert mc[q] >= sc[q]
        assert mb[q] >= sb[q] - 1e-12


def test_udf_matches_catalyst_pipeline(spark, sf_dir):
    """The Arrow shingle_sig_fn pass must produce the same hash sets and
    signatures as the Catalyst reference pipeline on real fixture text."""
    from kafka_streams_playground_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(50)
    ss = F.pandas_udf(T.shingle_sig_fn(4), "hs: array<bigint>, sig: array<bigint>")
    udf_rows = {
        r["doc_id"]: (sorted(r["ss"]["hs"]), list(r["ss"]["sig"]))
        for r in docs.select("doc_id", ss("text").alias("ss")).collect()
    }
    sh = docs.select("doc_id", T.shingles(T.tokens("text")).alias("sh"))
    cat = sh.select(
        "doc_id",
        F.array_distinct(T.shingle_hashes(F.col("sh"))).alias("hs"),
        *[
            c.alias(f"h{i}")
            for i, c in enumerate(T.minhash_signature(T.shingle_hashes(F.col("sh")), 4))
        ],
    )
    cat_rows = {
        r["doc_id"]: (sorted(r["hs"]), [r[f"h{i}"] for i in range(4)])
        for r in cat.collect()
    }
    assert udf_rows == cat_rows


def test_ivf_multiprobe_recall_dominates_single_probe(spark, sf_dir):
    """nprobe=2 searches a strict superset of nprobe=1's candidates (the
    nearest cell plus the runner-up), so per query it must return at least
    as many neighbors and a best-cosine at least as good."""
    from collections import defaultdict

    from kafka_streams_playground_spark.plans import REGISTRY

    def per_query(name):
        best, cnt = defaultdict(lambda: -2.0), defaultdict(int)
        for r in REGISTRY[name].fn(spark, sf_dir).collect():
            q = r["query_id"]
            cnt[q] += 1
            best[q] = max(best[q], r["cosine"])
        return best, cnt

    sb, sc = per_query("sim_ivf_topk")
    mb, mc = per_query("sim_ivf_multiprobe_topk")
    for q in sc:
        assert mc[q] >= sc[q]
        assert mb[q] >= sb[q] - 1e-12


def test_cc_clique_chain_labels_and_rounds(spark):
    """Connected-components hardening (VERDICT r2 item 6): a 3-clique, a
    5-node chain (diameter 4), and an isolated pair must label to the
    minimum member id, and the propagation must converge in at most
    diameter + 1 rounds (the +1 confirms quiescence)."""
    from kafka_streams_playground_spark.plans.northstar_pipeline import (
        min_label_propagation,
    )

    pairs = [(1, 2), (1, 3), (2, 3), (10, 11), (11, 12), (12, 13), (13, 14), (20, 21)]
    # plus a 17-node chain (diameter 16): label propagation would need 17
    # rounds; the alternating large-star/small-star contraction must beat
    # the diameter bound decisively (Kiveris et al.: O(log n) rounds)
    chain = [(100 + i, 100 + i + 1) for i in range(16)]
    pairs = pairs + chain
    sym = pairs + [(b, a) for a, b in pairs]
    edges = spark.createDataFrame(sym, "src long, dst long").persist()
    labels, rounds = min_label_propagation(edges)
    got = {r["node"]: r["comp"] for r in labels.collect()}
    edges.unpersist()
    want = {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 13: 10, 14: 10, 20: 20, 21: 20}
    want.update({100 + i: 100 for i in range(17)})
    assert got == want
    assert rounds <= 6, f"star contraction must beat the diameter-16 bound, took {rounds}"


def test_semdedup_cluster_minimum_never_pruned(spark, sf_dir):
    """SemDeDup invariants: the lowest vec_id of every cluster survives
    (pruning only points at LARGER ids), every pruned vector carries a
    qualifying similarity, and every kept vector carries none."""
    from kafka_streams_playground_spark.plans.northstar_scoring import (
        SEMDEDUP_TH,
        semdedup_embedding_prune,
    )

    out = semdedup_embedding_prune(spark, sf_dir).collect()
    assert out
    min_per_cluster = {}
    for r in out:
        min_per_cluster.setdefault(r.cluster, r.vec_id)
        min_per_cluster[r.cluster] = min(min_per_cluster[r.cluster], r.vec_id)
    for r in out:
        if r.vec_id == min_per_cluster[r.cluster]:
            assert r.pruned == 0, f"cluster minimum {r.vec_id} pruned"
        if r.pruned:
            assert r.max_dup_cosine is not None
            assert r.max_dup_cosine >= round(SEMDEDUP_TH, 4)
        else:
            assert r.max_dup_cosine is None


def test_asof_forward_time_ordering(spark, sf_dir):
    """Forward as-of: every matched purchase is at-or-after its view and is
    the EARLIEST such purchase for that user (cross-checked against a
    brute-force min over the events fixture)."""
    from collections import defaultdict

    from kafka_streams_playground_spark.plans.temporal import asof_forward_next_purchase
    from kafka_streams_playground_spark.sources.parquet import load_table

    out = asof_forward_next_purchase(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", F.unix_timestamp("ts").alias("es")
    ).collect()
    purchases = defaultdict(list)
    for r in ev:
        if r.event_type == "purchase":
            purchases[r.user_id].append((r.es, r.event_id))
    for r in out:
        cand = sorted(p for p in purchases[r.user_id] if p[0] >= r.view_epoch)
        if not cand:
            assert r.next_purchase_id is None
        else:
            assert (r.next_purchase_epoch, r.next_purchase_id) == cand[0]


def test_gapfill_dense_spine(spark, sf_dir):
    """Gap-fill emits exactly the dense day range per user: row count equals
    (max-min+1) days, zero-count days are flagged, and flagged rows are
    exactly the zero-event ones."""
    from collections import defaultdict

    from kafka_streams_playground_spark.plans.temporal import ts_gapfill_user_daily

    rows = ts_gapfill_user_daily(spark, sf_dir).collect()
    per_user = defaultdict(list)
    for r in rows:
        per_user[r.user_id].append(r)
        assert (r.n_events == 0) == bool(r.gap_filled)
        assert (r.n_events == 0) == (r.sum_value_cents == 0 and r.gap_filled == 1) or r.n_events > 0
    for user, rs in per_user.items():
        days = sorted(r.day_epoch // 86400 for r in rs)
        assert days == list(range(days[0], days[-1] + 1)), f"user {user} spine has holes"


def test_unigram_lm_monotone_in_token_frequency(spark, sf_dir):
    """A document made of the corpus's most frequent token must score at
    least as high as any real document (avg log-prob is maximized by the
    modal token), and all scores are negative."""
    from kafka_streams_playground_spark.plans.northstar_scoring import (
        text_unigram_lm_score,
    )

    out = text_unigram_lm_score(spark, sf_dir).collect()
    assert out
    assert all(r.avg_logprob < 0 for r in out)
    # per-doc mean cannot beat the best single-token log-prob
    best_single = max(r.sum_lp6 / r.n_tokens for r in out)
    assert all(r.sum_lp6 / r.n_tokens <= best_single + 1e-9 for r in out)


def test_semdedup_prunes_subset_of_exact_pairs(spark, sf_dir):
    """Cross-validation against the quadratic ground truth: every vector
    SemDeDup prunes must appear as the larger id of a real cosine-threshold
    pair (cluster restriction can lose near-dup pairs, never invent them),
    and its reported max_dup_cosine can't exceed the true max."""
    from collections import defaultdict

    from kafka_streams_playground_spark.plans.northstar_dedup import (
        dedup_embedding_cosine,
    )
    from kafka_streams_playground_spark.plans.northstar_scoring import (
        semdedup_embedding_prune,
    )

    exact = defaultdict(float)
    for r in dedup_embedding_cosine(spark, sf_dir).collect():
        exact[r.vec_b] = max(exact[r.vec_b], r.cosine)
    sem = semdedup_embedding_prune(spark, sf_dir).collect()
    pruned = [r for r in sem if r.pruned]
    for r in pruned:
        assert r.vec_id in exact, f"{r.vec_id} pruned without a true pair"
        assert r.max_dup_cosine <= exact[r.vec_id] + 1e-4


def test_kmeans_inertia_monotone(spark, sf_dir):
    """Lloyd's algorithm certificate: total inertia after the second
    assignment round must not exceed the first round's (each assign and
    each update step is individually non-increasing on the exact integer
    grid, up to the floor-rounding of centroid means — pin the end-to-end
    inequality)."""
    from pyspark.sql import functions as F

    from kafka_streams_playground_spark.plans.northstar_similarity import (
        _kmeans_state,
    )

    i1 = _kmeans_state(spark, sf_dir, 1)[0].agg(F.sum("dist")).collect()[0][0]
    i2 = _kmeans_state(spark, sf_dir, 2)[0].agg(F.sum("dist")).collect()[0][0]
    assert i2 <= i1


def test_nearest_asof_picks_the_nearer_side(spark, sf_dir):
    """Every matched row's distance must be within tolerance, direction must
    agree with which side won, and a backward match must never be farther
    than the forward candidate would allow (spot-check the argmin)."""
    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.plans.temporal import NEAREST_TOL_S

    rows = REGISTRY["asof_nearest_click"].fn(spark, sf_dir).collect()
    assert rows
    matched = [r for r in rows if r["direction"] != 0]
    assert matched, "fixture should produce at least one in-tolerance match"
    for r in matched:
        assert r["nearest_click_id"] is not None
        assert 0 <= r["nearest_dist_s"] <= NEAREST_TOL_S
    for r in rows:
        if r["direction"] == 0:
            assert r["nearest_click_id"] is None and r["nearest_dist_s"] is None


def test_ewma_fixed_point_recurrence(spark, sf_dir):
    """The q8 fixed-point EWMA must equal the brute-force dyadic fold over
    each user's observed-day series (recomputed in Python)."""
    from collections import defaultdict

    from kafka_streams_playground_spark.plans import REGISTRY

    rows = REGISTRY["ts_ewma_user_daily"].fn(spark, sf_dir).collect()
    series = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r["user_id"], r["day_epoch"])):
        series[r["user_id"]].append(r)
    checked = 0
    for rs in series.values():
        cents = [r["cents"] for r in rs]
        for i, r in enumerate(rs):
            expect = sum(
                cents[i - k] * (1 << (7 - k)) for k in range(8) if i - k >= 0
            )
            assert r["ewma_cents_q8"] == expect
            checked += 1
    assert checked == len(rows)


def test_dataset_card_consistency(spark, sf_dir):
    """Card measures must be internally consistent and match the raw scan."""
    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.sources.parquet import load_table

    card = REGISTRY["pipeline_dataset_card"].fn(spark, sf_dir).collect()[0]
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert card["n_docs"] == n_docs
    assert card["n_unique_texts"] <= card["n_docs"]
    assert card["dup_ppm"] == (card["n_docs"] - card["n_unique_texts"]) * 1000000 // card["n_docs"]
    assert card["tokens_per_doc_e6"] == card["total_tokens"] * 1000000 // card["n_docs"]


def test_decontaminate_drops_flagged_and_benchmark(spark, sf_dir):
    """The manifest must exclude every flagged doc AND every benchmark doc,
    and keep exactly the clean remainder of the checked corpus."""
    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.plans.northstar_pipeline import BENCH_MOD

    check = {
        r["doc_id"]: r["flagged"]
        for r in REGISTRY["text_contamination_check"].fn(spark, sf_dir).collect()
    }
    kept = {r["doc_id"] for r in REGISTRY["decontaminate_corpus"].fn(spark, sf_dir).collect()}
    assert kept == {d for d, fl in check.items() if fl == 0}
    assert all(d % BENCH_MOD != 0 for d in kept)


def test_containment_bounds_and_symmetry(spark, sf_dir):
    """Containment must dominate Jaccard on shared pairs and stay in (0,1]."""
    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.plans.northstar_dedup import CONTAINMENT_TH

    rows = REGISTRY["dedup_containment_lsh"].fn(spark, sf_dir).collect()
    jac = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in REGISTRY["dedup_minhash_lsh"].fn(spark, sf_dir).collect()
    }
    for r in rows:
        ca, cb = r["contain_a_in_b"], r["contain_b_in_a"]
        assert 0 < ca <= 1 and 0 < cb <= 1
        assert max(ca, cb) >= CONTAINMENT_TH
        j = jac.get((r["doc_a"], r["doc_b"]))
        if j is not None:
            assert max(ca, cb) >= j - 1e-9


def test_vocab_coverage_monotone(spark, sf_dir):
    """Coverage must be nondecreasing in vocab size and hit 100% when the
    sweep reaches the full vocabulary."""
    from kafka_streams_playground_spark.plans import REGISTRY

    rows = sorted(
        REGISTRY["tokenizer_vocab_coverage"].fn(spark, sf_dir).collect(),
        key=lambda r: r["n_vocab"],
    )
    cov = [r["coverage_ppm"] for r in rows]
    assert cov == sorted(cov)
    assert all(r["covered_tokens"] <= r["total_tokens"] for r in rows)


def test_pagerank_mass_and_determinism(spark, sf_dir):
    """PageRank sanity: every node's rank ≥ the damping floor, total mass
    stays within the grid's truncation loss of N×scale, and a repeated run
    is bit-identical (the integer grid's whole point)."""
    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.plans.northstar_pipeline import PR_SCALE

    rows = REGISTRY["graph_copurchase_pagerank"].fn(spark, sf_dir).collect()
    assert rows
    floor = PR_SCALE * 15 // 100
    total = sum(r["pagerank_e6"] for r in rows)
    n = len(rows)
    assert all(r["pagerank_e6"] >= floor for r in rows)
    # floor-division truncation only ever loses mass; damping is mass-neutral
    assert total <= n * PR_SCALE
    assert total >= n * PR_SCALE * 97 // 100
    again = {
        r["part_id"]: r["pagerank_e6"]
        for r in REGISTRY["graph_copurchase_pagerank"].fn(spark, sf_dir).collect()
    }
    assert again == {r["part_id"]: r["pagerank_e6"] for r in rows}


def test_stream_decontaminate_matches_batch(spark, sf_dir):
    """The ingest-time decontamination must keep exactly the batch
    manifest's doc set (stateless stream ⇒ row-for-row equal)."""
    from kafka_streams_playground_spark.plans import REGISTRY

    batch = {r["doc_id"] for r in REGISTRY["decontaminate_corpus"].fn(spark, sf_dir).collect()}
    stream = {
        r["doc_id"]
        for r in REGISTRY["stream_decontaminate_corpus"].fn(spark, sf_dir).collect()
    }
    assert stream == batch


def test_ivf_recall_audit_bounds(spark, sf_dir):
    """Recall is in [0, 1e6] ppm, hits never exceed TOP_K, and the audit's
    hit counts agree with a direct set intersection of the two searches."""
    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.plans.northstar_similarity import TOP_K

    audit = {r["query_id"]: r for r in REGISTRY["sim_ivf_recall_audit"].fn(spark, sf_dir).collect()}
    bt, it = {}, {}
    for r in REGISTRY["sim_topk_bruteforce"].fn(spark, sf_dir).collect():
        bt.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in REGISTRY["sim_ivf_topk"].fn(spark, sf_dir).collect():
        it.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert set(audit) == set(bt)
    for qid, row in audit.items():
        hits = len(bt[qid] & it.get(qid, set()))
        assert row["n_hits"] == hits
        assert row["recall_ppm"] == hits * 1000000 // TOP_K
        assert 0 <= row["n_hits"] <= TOP_K


def test_perplexity_buckets_partition_docs(spark, sf_dir):
    """Per language the tiles partition the doc set (counts sum to the lang
    total, sizes differ by ≤1) and bucket boundaries are ordered: a
    lower-numbered (head) bucket never has a worse max than the next
    bucket's min."""
    from collections import defaultdict

    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.sources.parquet import load_table

    rows = REGISTRY["text_perplexity_buckets"].fn(spark, sf_dir).collect()
    by_lang = defaultdict(list)
    for r in rows:
        by_lang[r["lang"]].append(r)
    lang_totals = {
        r["lang"]: r["cnt"]
        for r in load_table(spark, sf_dir, "documents").groupBy("lang").count()
        .withColumnRenamed("count", "cnt").collect()
    }
    for lang, rs in by_lang.items():
        rs.sort(key=lambda r: r["bucket"])
        assert sum(r["n_docs"] for r in rs) == lang_totals[lang]
        sizes = [r["n_docs"] for r in rs]
        assert max(sizes) - min(sizes) <= 1
        for a, b in zip(rs, rs[1:]):
            assert a["min_alp4"] >= b["max_alp4"]


def test_embedding_dim_stats_exact_moments(spark, sf_dir):
    """The integer-grid moments must match a numpy recomputation exactly
    (the grid's whole point), and every dimension must be present."""
    import numpy as np

    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.sources.parquet import load_table

    rows = {r["dim"]: r for r in REGISTRY["embedding_dim_stats"].fn(spark, sf_dir).collect()}
    vecs = [
        np.asarray(r["embedding"], dtype=np.float64)
        for r in load_table(spark, sf_dir, "embeddings").select("embedding").collect()
    ]
    m = np.stack(vecs)
    xi = np.floor(m * 1000000 + 0.5).astype(np.int64)
    assert set(rows) == set(range(m.shape[1]))
    for d in range(m.shape[1]):
        col = xi[:, d]
        n = len(col)
        sx, sxx = int(col.sum()), int((col.astype(object) ** 2).sum())
        r = rows[d]
        assert r["n"] == n
        assert r["min_e6"] == int(col.min()) and r["max_e6"] == int(col.max())
        # Spark `div` / DuckDB `//` truncate toward zero; Python // floors —
        # match the engines' semantics for the (possibly negative) mean.
        trunc = abs(sx) // n if sx >= 0 else -(abs(sx) // n)
        assert r["mean_e6"] == trunc
        assert r["var_e12"] == (sxx * n - sx * sx) // (n * n)


def test_quality_weighted_sample_is_deterministic_and_calibrated(spark, sf_dir):
    """Membership must be a pure function of doc_id (re-run identical), and
    the keep rate must track mean quality within binomial noise."""
    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.sources.parquet import load_table

    kept1 = {r["doc_id"] for r in REGISTRY["sample_quality_weighted"].fn(spark, sf_dir).collect()}
    kept2 = {r["doc_id"] for r in REGISTRY["sample_quality_weighted"].fn(spark, sf_dir).collect()}
    assert kept1 == kept2
    n = load_table(spark, sf_dir, "documents").count()
    qrows = REGISTRY["text_quality_score"].fn(spark, sf_dir).collect()
    mean_q = sum(r["quality_score"] for r in qrows) / len(qrows)
    expect = mean_q * n
    # 4 sigma of a Bernoulli sum bounds the honest keep-rate drift
    sigma = (n * mean_q * (1 - mean_q)) ** 0.5
    assert abs(len(kept1) - expect) <= 4 * sigma + 1


def test_pq_codes_seed_vectors_self_code(spark, sf_dir):
    """Each codebook seed vector must code to itself in every subspace with
    zero reconstruction error (distance to its own subvector is 0), and all
    reconstruction errors are nonnegative."""
    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.plans.northstar_similarity import PQ_K

    rows = REGISTRY["embedding_pq_codes"].fn(spark, sf_dir).collect()
    by_id = {r["vec_id"]: r for r in rows}
    for j in range(PQ_K):
        r = by_id[j]
        assert r["recon_d2"] == 0, r
        assert (r["code_0"], r["code_1"], r["code_2"], r["code_3"]) == (j, j, j, j), r
    assert all(r["recon_d2"] >= 0 for r in rows)


def test_substring_chunk_dedup_counts_consistent(spark, sf_dir):
    """n_dup_chunks <= n_chunks; flagged iff ratio >= threshold; total chunk
    count equals sum over docs of floor(n_tokens / W)."""
    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.plans.northstar_dedup import (
        CHUNK_DUP_FLAG_RATIO,
        CHUNK_W,
    )
    from kafka_streams_playground_spark.sources.parquet import load_table

    rows = REGISTRY["dedup_substring_chunks"].fn(spark, sf_dir).collect()
    for r in rows:
        assert 0 <= r["n_dup_chunks"] <= r["n_chunks"], r
        assert r["flagged"] == int(r["dup_chunk_ratio"] >= CHUNK_DUP_FLAG_RATIO), r
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    expect = (
        docs.select(
            F.floor(F.size(F.split("text", " ")) / CHUNK_W).cast("long").alias("k")
        )
        .agg(F.sum("k"))
        .collect()[0][0]
    )
    assert sum(r["n_chunks"] for r in rows) == expect


def test_scene_segments_tile_the_frames(spark, sf_dir):
    """Per video: segments are disjoint, contiguous from frame 0, and their
    lengths sum to the video's frame count."""
    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.plans.northstar_multimodal import (
        CHARS_PER_FRAME,
    )
    from kafka_streams_playground_spark.sources.parquet import load_table
    from pyspark.sql import functions as F

    rows = REGISTRY["mm_scene_change_segments"].fn(spark, sf_dir).collect()
    per_doc: dict[int, list] = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(r)
    docs = load_table(spark, sf_dir, "documents")
    frames = {
        r["doc_id"]: r["nf"]
        for r in docs.select(
            "doc_id", (F.col("n_chars") / CHARS_PER_FRAME).cast("long").alias("nf")
        ).collect()
        if r["nf"] > 0
    }
    assert set(per_doc) == set(frames)
    for doc_id, segs in per_doc.items():
        segs.sort(key=lambda r: r["segment_idx"])
        assert [s["segment_idx"] for s in segs] == list(range(len(segs)))
        pos = 0
        for s in segs:
            assert s["start_frame"] == pos, (doc_id, s, pos)
            pos += s["n_frames_seg"]
        assert pos == frames[doc_id]


def test_outliers_are_extreme_within_type(spark, sf_dir):
    """Every flagged event's cents must be farther from its type mean than
    every unflagged event of the same type is on the same side — i.e. the
    flag set is exactly the two distribution tails."""
    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.sources.parquet import load_table
    from pyspark.sql import functions as F

    flagged = REGISTRY["events_value_outliers"].fn(spark, sf_dir).collect()
    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_id",
            "event_type",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        )
        .collect()
    )
    import statistics

    by_type: dict[str, list[int]] = {}
    for r in ev:
        by_type.setdefault(r["event_type"], []).append(r["cents"])
    flag_ids = {r["event_id"] for r in flagged}
    for t, xs in by_type.items():
        mu = statistics.fmean(xs)
        sd = statistics.pstdev(xs)
        lo, hi = mu - 3 * sd, mu + 3 * sd
        for r in ev:
            if r["event_type"] != t:
                continue
            outside = r["cents"] < lo - 1e-6 or r["cents"] > hi + 1e-6
            assert outside == (r["event_id"] in flag_ids), (r, lo, hi)


def test_bpe_merge_step_removes_top_pair(spark, sf_dir):
    """After the merge: the selected pair's count drops to zero, merged
    tokens appear in new pairs, and total pair mass shrinks by exactly
    2 per merged occurrence minus boundary effects — checked as: every
    remaining pair containing the separator involves the merged token."""
    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.plans.northstar_scoring import _BPE_MERGE_SEP

    before = {
        r["pair"]: r["cnt"]
        for r in REGISTRY["tokenizer_bpe_pair_counts"].fn(spark, sf_dir).collect()
    }
    # reproduce the selection rule: top non-self pair, count desc, pair asc
    top = min(
        (p for p in before if p.split(" ")[0] != p.split(" ")[1]),
        key=lambda p: (-before[p], p),
    )
    a, b = top.split(" ")
    merged_tok = a + _BPE_MERGE_SEP + b
    after = {
        r["pair"]: r["cnt"]
        for r in REGISTRY["tokenizer_bpe_merge_step"].fn(spark, sf_dir).collect()
    }
    assert top not in after, (top, after.get(top))
    assert any(merged_tok in p for p in after), merged_tok
    # conservation: every new pair name either existed before or touches
    # the merged token
    for p in after:
        x, y = p.split(" ")
        assert p in before or merged_tok in (x, y), p


def test_rolling_hash_non_ascii_cross_engine(spark, tmp_path):
    """Pin the fold unit (ADVICE r5): both engines hash Unicode CODE POINTS,
    so zh/fr/emoji text must agree exactly — not just ASCII fixtures. Also
    pins n_bytes as UTF-8 byte length (≠ character count for non-ASCII) and
    the 128-unit prefix boundary (a doc longer than 128 code points whose
    non-ASCII chars straddle the cut)."""
    import os

    import duckdb

    from kafka_streams_playground_spark.plans import REGISTRY
    from tests.helpers import assert_matches_oracle

    long_zh = ("数据处理流水线" * 30)[:200]  # > 128 code points, all CJK
    df = spark.createDataFrame(
        [
            (1, "plain ascii text only", "en"),
            (2, "你好世界 数据 处理", "zh"),
            (3, "déjà vu — café, naïveté, œuvre", "fr"),
            (4, long_zh, "zh"),
            (5, "mixed 中文 and ascii with émojis \U0001F600\U0001F680", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    d = str(tmp_path)
    df.write.parquet(os.path.join(d, "documents.parquet"))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{os.path.join(d, 'documents.parquet')}/*.parquet')"
    )
    spec = REGISTRY["text_rolling_hash"]
    try:
        assert_matches_oracle(spec.fn(spark, d), con, spec.oracle)
    finally:
        con.close()
    # independent recomputation of one row: pure-python Horner over ord()
    from kafka_streams_playground_spark.plans.northstar_text import (
        RK_BASE,
        RK_MOD,
        RK_PREFIX,
    )

    got = {r["doc_id"]: r for r in spec.fn(spark, d).collect()}
    acc = 0
    for ch in long_zh:
        acc = (acc * RK_BASE + ord(ch)) % RK_MOD
    pre = 0
    for ch in long_zh[:RK_PREFIX]:
        pre = (pre * RK_BASE + ord(ch)) % RK_MOD
    assert got[4]["rk_hash"] == acc
    assert got[4]["prefix_rk"] == pre
    assert got[4]["n_bytes"] == len(long_zh.encode("utf-8"))


def test_c4_line_filter_rules(spark, tmp_path):
    """Each C4 rule on real multi-line text: min-words drops short lines,
    the javascript policy string drops its line, 'lorem ipsum' and curly
    braces kill the whole document, terminal punctuation is counted, kept
    lines re-assemble in original order, and the doc gate needs >=2 kept
    lines."""
    import os

    from kafka_streams_playground_spark.plans import REGISTRY

    df = spark.createDataFrame(
        [
            # 3 good lines + 1 short + 1 js line; punct on 2 lines
            (1, "the first good line here.\nok\nplease enable javascript to view\nanother quite good line!\nthird good line stays", "en"),
            # lorem ipsum → doc dropped even with good lines
            (2, "a perfectly fine line one.\nlorem ipsum dolor sit amet\nanother fine line two.", "en"),
            # brace → doc dropped
            (3, "function call { return x }\na normal prose line here.\nmore normal prose here too.", "en"),
            # only one kept line → below the 2-line doc gate
            (4, "just one single good line.\nno\nup", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    d = str(tmp_path)
    df.write.parquet(os.path.join(d, "documents.parquet"))
    out = {
        r["doc_id"]: r
        for r in REGISTRY["text_line_filter"].fn(spark, d).collect()
    }
    r1 = out[1]
    assert r1["n_lines"] == 5
    assert r1["n_kept"] == 3          # short 'ok' + javascript line dropped
    assert r1["n_short"] == 1
    assert r1["n_no_punct"] == 3      # 'ok', js line, trailing no-punct line
    assert r1["kept_text"] == (
        "the first good line here.|another quite good line!|third good line stays"
    )
    assert r1["keep_doc"] == 1
    assert out[2]["keep_doc"] == 0    # lorem ipsum
    assert out[2]["n_kept"] == 3      # line rules themselves all pass
    assert out[3]["keep_doc"] == 0    # curly brace
    assert out[4]["keep_doc"] == 0    # only 1 kept line < 2
    assert out[4]["n_kept"] == 1


def test_bpe_compression_matches_merge_counts(spark, sf_dir):
    """Invariant tying the two BPE-training outputs together: merging a
    pair with selection count c removes exactly c tokens (each occurrence
    fuses two tokens into one), so n_tokens(it) = n_tokens(it-1) - cnt(it)
    for every training iteration."""
    from kafka_streams_playground_spark.plans import REGISTRY

    merges = {
        r["it"]: r["cnt"]
        for r in REGISTRY["tokenizer_bpe_train3"].fn(spark, sf_dir).collect()
    }
    curve = {
        r["it"]: r["n_tokens"]
        for r in REGISTRY["tokenizer_bpe_compression_curve"].fn(spark, sf_dir).collect()
    }
    assert set(curve) == {0, 1, 2, 3}
    for it in (1, 2, 3):
        assert curve[it] == curve[it - 1] - merges[it], (it, curve, merges)


def test_bpe_delta_trainer_matches_full_trainer(spark, sf_dir):
    """The delta-maintained trainer must select the identical merge table
    as the full-recount trainer — if any incremental count drifted, a
    later selection would diverge (selection is argmax over the
    maintained table, so table errors surface as merge differences;
    rounds 2-3 transitively pin rounds 1-2's deltas)."""
    from kafka_streams_playground_spark.plans import REGISTRY

    full = sorted(
        tuple(r) for r in REGISTRY["tokenizer_bpe_train3"].fn(spark, sf_dir).collect()
    )
    delta = sorted(
        tuple(r)
        for r in REGISTRY["tokenizer_bpe_train3_delta"].fn(spark, sf_dir).collect()
    )
    assert full == delta


def test_bpe_delta_counts_equal_recount_on_crafted_corpus(spark):
    """Direct pin of the delta identity on a corpus where the merged pair
    overlaps its own context (back-to-back 'a b a b', boundary pairs,
    unaffected docs): after one delta update, the maintained counts must
    equal a from-scratch recount of the merged corpus."""
    from pyspark.sql import functions as F

    from kafka_streams_playground_spark.plans.northstar_scoring import (
        _BPE_MERGE_SEP,
        _pair_counts,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b a b a"),        # chain: two-pass merge case
            (2, "x a b y a b"),      # two isolated occurrences
            (3, "p q r s"),          # unaffected
            (4, "a b"),              # whole doc is the pair
        ],
        "doc_id long, text string",
    )
    pat, rep = " a b ", f" a{_BPE_MERGE_SEP}b "
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    merged = F.trim(
        F.replace(F.replace(padded, F.lit(pat), F.lit(rep)), F.lit(pat), F.lit(rep))
    )
    affected = docs.filter(F.contains(padded, F.lit(pat)))
    maintained = (
        _pair_counts(docs)
        .unionByName(_pair_counts(affected).select("pair", (-F.col("c")).alias("c")))
        .unionByName(_pair_counts(affected.select("doc_id", merged.alias("text"))))
        .groupBy("pair")
        .agg(F.sum("c").alias("c"))
        .filter(F.col("c") > 0)
    )
    recount = _pair_counts(docs.select("doc_id", merged.alias("text")))
    m = {r["pair"]: r["c"] for r in maintained.collect()}
    r = {r["pair"]: r["c"] for r in recount.collect()}
    assert m == r, (m, r)


def test_ngram_novelty_conservation(spark, sf_dir):
    """Novelty invariants: the earliest doc introduces everything it
    contains (novelty = 1e6); every corpus-distinct shingle is introduced
    exactly once, so Σ n_novel = |distinct shingle set|; and novelty is a
    cumulative property — n_novel ≤ n_shingles everywhere."""
    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.sources.parquet import load_table
    from kafka_streams_playground_spark.functions import text as T

    rows = REGISTRY["text_ngram_novelty"].fn(spark, sf_dir).collect()
    by_id = {r["doc_id"]: r for r in rows}
    first = min(by_id)
    assert by_id[first]["novelty_ppm"] == 1_000_000
    assert all(r["n_novel"] <= r["n_shingles"] for r in rows)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    distinct_total = (
        docs.select(F.explode(T.shingle_hashes(T.shingles(T.tokens("text")))).alias("h"))
        .select("h")
        .distinct()
        .count()
    )
    assert sum(r["n_novel"] for r in rows) == distinct_total


def test_power_iterate_recovers_planted_direction():
    """On a covariance with a real dominant direction (planted anisotropy,
    eigengap ~0.1), three integer-grid power-iteration rounds must recover
    the top eigenvector to cosine > 0.99 against numpy eigh — the
    convergence claim behind embedding_pca_power_iteration, unit-pinned on
    a spectrum where it must hold (the near-isotropic synthetic fixtures
    exercise only the exactness of one refinement step)."""
    import numpy as np
    import pandas as pd

    from kafka_streams_playground_spark.plans.northstar_similarity import (
        power_iterate_int,
    )

    rng = np.random.default_rng(7)
    d, n = 16, 400
    direction = rng.normal(size=d)
    direction /= np.linalg.norm(direction)
    # strong planted component + weak isotropic noise
    x = np.outer(rng.normal(size=n) * 0.9, direction) + rng.normal(
        size=(n, d)
    ) * 0.05
    xi = np.floor(x * 1e6 + 0.5).astype(np.int64)
    sx = xi.sum(axis=0)
    num = n * (xi.T @ xi) - np.outer(sx, sx)
    cov12 = np.sign(num) * (np.abs(num) // (n * n))
    iu, ju = np.triu_indices(d)
    up = pd.DataFrame({"i": iu, "j": ju, "cov_e12": cov12[iu, ju]})

    got = power_iterate_int(up, d, 3)["v_e6"].to_numpy(dtype=np.float64)
    top = np.linalg.eigh(np.cov(x.T, bias=True))[1][:, -1]
    cos = abs(got @ top) / (np.linalg.norm(got) * np.linalg.norm(top))
    assert cos > 0.99, cos


def test_ols_sufficient_stats_match_numpy(spark, sf_dir):
    """stats_ols_qty_price_by_nation's closed-form normal-equation output
    equals numpy's least-squares fit on the same integer-grid points, for
    every nation — pins the sufficient-statistics algebra end to end."""
    import numpy as np

    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.sources.parquet import load_table

    got = {
        r["n_name"]: (r["n_points"], r["slope_e6"], r["intercept_e6"])
        for r in REGISTRY["stats_ols_qty_price_by_nation"].fn(spark, sf_dir).collect()
    }
    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey", "l_quantity", "l_extendedprice")
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rows = (
        li.join(sup, li["l_suppkey"] == sup["s_suppkey"])
        .join(nat, sup["s_nationkey"] == nat["n_nationkey"])
        .select("n_name", "l_quantity", "l_extendedprice")
        .collect()
    )
    by_nation: dict[str, list[tuple[int, int]]] = {}
    for r in rows:
        x = int(np.floor(r["l_quantity"] + 0.5))
        y = int(np.floor(r["l_extendedprice"] * 100 + 0.5))
        by_nation.setdefault(r["n_name"], []).append((x, y))
    assert set(got) == set(by_nation)
    for name, pts in by_nation.items():
        xs = np.array([p[0] for p in pts], dtype=np.float64)
        ys = np.array([p[1] for p in pts], dtype=np.float64)
        slope, icpt = np.polyfit(xs, ys, 1)
        n_points, slope_e6, icpt_e6 = got[name]
        assert n_points == len(pts)
        # numpy solves by QR on doubles; agree to 1e-3 of a cent-per-unit
        assert abs(slope_e6 / 1e6 - slope) < max(1e-3, abs(slope) * 1e-6)
        assert abs(icpt_e6 / 1e6 - icpt) < max(1e-1, abs(icpt) * 1e-6)


def test_heavy_hitters_exact_and_threshold(spark, sf_dir):
    """agg_heavy_hitters_twopass returns EXACTLY the bigrams above the
    1/HH_K frequency threshold with their exact counts — cross-checked
    against a direct full groupBy count (no sketch) on the same corpus."""
    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.plans.northstar_stats import HH_K
    from kafka_streams_playground_spark.sources.parquet import load_table

    got = {
        r["pair"]: r["cnt"]
        for r in REGISTRY["agg_heavy_hitters_twopass"].fn(spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents").select("text")
    toks = F.split("text", " ")
    pairs = (
        docs.filter(F.size(toks) >= 2)
        .select(F.explode(T.adjacent_pair_structs(toks)).alias("z"))
        .select(F.concat_ws(" ", F.col("z")["0"], F.col("z")["1"]).alias("pair"))
    )
    counts = {
        r["pair"]: r["cnt"]
        for r in pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    n = sum(counts.values())
    want = {p: c for p, c in counts.items() if c * HH_K > n}
    assert got == want


def test_incremental_dedup_is_cross_snapshot_best_match(spark, sf_dir):
    """dedup_incremental_new_vs_base: every row links a NEW doc (hash-rule
    slice) to a BASE doc, one row per new doc, and the links are exactly
    the best-scoring cross-snapshot members of the full-corpus verified
    pair list (the machinery equivalence the oracle asserts by value)."""
    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.plans.northstar_dedup import (
        minhash_verified_pairs,
    )

    rows = REGISTRY["dedup_incremental_new_vs_base"].fn(spark, sf_dir).collect()
    assert len({r["doc_id"] for r in rows}) == len(rows)  # one best per new doc
    for r in rows:
        assert r["doc_id"] % 10 >= 8 and r["dup_of"] % 10 < 8

    full = minhash_verified_pairs(spark, sf_dir).collect()
    best: dict[int, tuple[float, int]] = {}
    for p in full:
        a, b = p["doc_a"], p["doc_b"]
        if (a % 10 >= 8) == (b % 10 >= 8):
            continue
        new_id, base_id = (a, b) if a % 10 >= 8 else (b, a)
        key = (-p["jaccard"], base_id)
        if new_id not in best or key < best[new_id]:
            best[new_id] = key
    want = {(n, k[1], -k[0]) for n, k in best.items()}
    assert {(r["doc_id"], r["dup_of"], r["jaccard"]) for r in rows} == want


# ---------------------------------------------------------------------------
# Round 7: retrieval fusion, hard negatives, sketches, DSIR, pHash
# ---------------------------------------------------------------------------


def test_rrf_fusion_ranks_and_scores(spark, sf_dir):
    """RRF contributions must equal floor(1e6/(60+rank)) of the leg ranks,
    legs must agree with their source queries, and absent ranks carry 0."""
    from kafka_streams_playground_spark.plans.northstar_retrieval import (
        RRF_K,
        retrieval_rrf_fusion,
    )

    rows = retrieval_rrf_fusion(spark, sf_dir).collect()
    assert rows, "fusion produced no rows"
    for r in rows:
        want = 0
        if r["lex_rank"] > 0:
            want += 1000000 // (RRF_K + r["lex_rank"])
        if r["sem_rank"] > 0:
            want += 1000000 // (RRF_K + r["sem_rank"])
        assert r["rrf6"] == want
        assert r["lex_rank"] >= 0 and r["sem_rank"] >= 0
    # a doc present in both legs must outrank one with only the same single
    # rank in one leg: rrf6 is monotone in per-leg contributions by
    # construction (checked above), so just confirm order is by rrf6 desc
    scores = [r["rrf6"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_hard_negatives_exclude_query_label(spark, sf_dir):
    from kafka_streams_playground_spark.plans.northstar_retrieval import (
        HN_TOP_K,
        sim_hard_negative_mining,
    )
    from kafka_streams_playground_spark.sources.parquet import load_table

    out = sim_hard_negative_mining(spark, sf_dir)
    labels = {
        r["vec_id"]: r["label"]
        for r in load_table(spark, sf_dir, "embeddings").select("vec_id", "label").collect()
    }
    per_q: dict[int, list] = {}
    for r in out.collect():
        assert labels[r["negative_id"]] != labels[r["query_id"]]
        assert labels[r["negative_id"]] == r["neg_label"]
        per_q.setdefault(r["query_id"], []).append((r["rank"], r["cosine"]))
    for q, rs in per_q.items():
        rs.sort()
        assert [rk for rk, _ in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= HN_TOP_K
        cos = [c for _, c in rs]
        assert cos == sorted(cos, reverse=True)


def test_countmin_never_underestimates(spark, sf_dir):
    """CMS guarantee: est >= true count for every key; and the estimate for
    a key equals min over rows of its bucket counters."""
    from kafka_streams_playground_spark.plans.northstar_stats import (
        stats_countmin_user_traffic,
    )

    for r in stats_countmin_user_traffic(spark, sf_dir).collect():
        assert r["est"] >= r["cnt"]
        assert r["overcount"] == r["est"] - r["cnt"]


def test_histogram_quantiles_bracket_exact(spark, sf_dir):
    """Each reported bucket must bracket the exact q-quantile value: the
    histogram's resolution bound."""
    from kafka_streams_playground_spark.plans.northstar_stats import (
        stats_histogram_quantiles,
    )
    from kafka_streams_playground_spark.sources.parquet import load_table

    vals = sorted(
        r["value"]
        for r in load_table(spark, sf_dir, "events").select("value").collect()
    )
    n = len(vals)
    for r in stats_histogram_quantiles(spark, sf_dir).collect():
        rank = -(-r["q_ppm"] * n // 1000000)  # ceil(q*n)
        exact = vals[max(rank - 1, 0)]
        assert r["bucket_lo"] <= exact < r["bucket_hi"]
        assert r["n_total"] == n


def test_dsir_weights_favor_target_language(spark, sf_dir):
    """Aggregate sanity: mean per-token log-ratio of target-language docs
    must exceed that of non-target docs (the model was trained to do
    exactly this separation)."""
    from kafka_streams_playground_spark.plans.northstar_curation import (
        DSIR_TARGET_LANG,
        dsir_importance_weights,
    )
    from kafka_streams_playground_spark.sources.parquet import load_table

    out = dsir_importance_weights(spark, sf_dir)
    langs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    j = {r["doc_id"]: r for r in out.join(langs, "doc_id").collect()}
    t_scores = [
        r["dsir6"] / r["n_tokens"] for r in j.values() if r["lang"] == DSIR_TARGET_LANG
    ]
    o_scores = [
        r["dsir6"] / r["n_tokens"] for r in j.values() if r["lang"] != DSIR_TARGET_LANG
    ]
    assert t_scores and o_scores
    assert sum(t_scores) / len(t_scores) > sum(o_scores) / len(o_scores)


def test_phash_banding_finds_all_radius1_pairs(spark, sf_dir):
    """Pigeonhole exactness: the banded candidate join must find EVERY pair
    within hamming radius 1 — compare against a quadratic recomputation of
    the same hashes."""
    from itertools import combinations

    from kafka_streams_playground_spark.plans.northstar_multimodal import (
        PHASH_BYTES,
        PHASH_HAM_TH,
        mm_phash_neardup,
    )
    from kafka_streams_playground_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    hashes = {}
    for r in docs:
        by = r["text"].encode()[:PHASH_BYTES]
        by = list(by) + [0] * (PHASH_BYTES - len(by))
        s = sum(by)
        hashes[r["doc_id"]] = sum(
            (1 << b) for b in range(PHASH_BYTES) if by[b] * PHASH_BYTES > s
        )
    want = {
        (a, b, bin(hashes[a] ^ hashes[b]).count("1"))
        for a, b in combinations(sorted(hashes), 2)
        if bin(hashes[a] ^ hashes[b]).count("1") <= PHASH_HAM_TH
    }
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in mm_phash_neardup(spark, sf_dir).collect()
    }
    assert got == want


def test_mmr_greedy_matches_python_recomputation(spark, sf_dir):
    """The unrolled plan's 5 picks must equal a pure-Python greedy MMR over
    the same integer-grid relevance/similarity values."""
    from kafka_streams_playground_spark.plans.northstar_retrieval import (
        MMR_DIV10,
        MMR_K,
        MMR_POOL,
        MMR_REL10,
        SEM_QUERY_ID,
        retrieval_mmr_rerank,
    )
    from kafka_streams_playground_spark.sources.parquet import load_table

    import math

    vecs = {
        r["vec_id"]: r["embedding"]
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }

    def cos6(a, b):
        dot = 0.0
        for x, y in zip(a, b):
            dot += float(x) * float(y)
        na = math.sqrt(sum(float(x) * float(x) for x in a))
        nb = math.sqrt(sum(float(x) * float(x) for x in b))
        return math.floor(dot / (na * nb) * 1000000 + 0.5)

    q = vecs[SEM_QUERY_ID]
    rel = {i: cos6(q, v) for i, v in vecs.items() if i != SEM_QUERY_ID}
    pool = sorted(rel, key=lambda i: (-rel[i], i))[:MMR_POOL]
    sel = [min(pool, key=lambda i: (-rel[i], i))]
    while len(sel) < MMR_K:
        rest = [i for i in pool if i not in sel]
        best = min(
            rest,
            key=lambda i: (
                -(MMR_REL10 * rel[i] - MMR_DIV10 * max(cos6(vecs[i], vecs[s]) for s in sel)),
                i,
            ),
        )
        sel.append(best)
    got = {
        r["pick_no"]: (r["doc_id"], r["rel6"])
        for r in retrieval_mmr_rerank(spark, sf_dir).collect()
    }
    assert {k: v[0] for k, v in got.items()} == {i + 1: d for i, d in enumerate(sel)}
    for _, (d, r6) in got.items():
        assert r6 == rel[d]


def test_compaction_bins_conserve_and_bound(spark, sf_dir):
    """Bin invariants: total bytes conserved; every bin's fill is below
    target + largest-file (contiguous cumulative slicing property)."""
    from kafka_streams_playground_spark.plans.northstar_stats import (
        COMPACT_ROW_BYTES,
        COMPACT_TARGET_BYTES,
        layout_compaction_bins,
    )
    from kafka_streams_playground_spark.sources.parquet import load_table

    rows = layout_compaction_bins(spark, sf_dir).collect()
    li = load_table(spark, sf_dir, "lineitem")
    total = li.count() * COMPACT_ROW_BYTES
    assert sum(r["bin_bytes"] for r in rows) == total
    max_file = max(
        r["bytes"]
        for r in li.groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("m"))
        .agg((F.count(F.lit(1)) * COMPACT_ROW_BYTES).alias("bytes"))
        .collect()
    )
    for r in rows:
        assert r["n_files"] >= 1
        assert r["bin_bytes"] <= COMPACT_TARGET_BYTES + max_file


def test_random_projection_matches_python(spark, sf_dir):
    """One vector's 16 projected coordinates must equal the pure-Python
    integer contraction with the same Knuth weights."""
    from kafka_streams_playground_spark.plans.northstar_similarity import (
        DIM,
        KNUTH,
        PROJ_DIM,
        PROJ_SEED_OFF,
        embedding_random_projection,
    )
    from kafka_streams_playground_spark.sources.parquet import load_table

    import math

    v = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .collect()[0]["embedding"]
    )
    xq = [math.floor(float(x) * 1000000 + 0.5) for x in v]
    want = {
        j: sum(
            xq[d] * ((j * DIM + d + PROJ_SEED_OFF) * KNUTH % 2147483648 - 1073741824)
            for d in range(DIM)
        )
        for j in range(PROJ_DIM)
    }
    got = {
        r["j"]: r["proj"]
        for r in embedding_random_projection(spark, sf_dir)
        .filter(F.col("vec_id") == 0)
        .collect()
    }
    assert got == want


def test_merge_upsert_rule_counts(spark, sf_dir):
    """MERGE output must contain exactly the rule-derived populations:
    inserts = id%7==0, updates = base∧id%11==0, kept = base minus
    updated/deleted; deleted keys must be absent."""
    from kafka_streams_playground_spark.sources.parquet import load_table

    ids = [
        r["event_id"]
        for r in load_table(spark, sf_dir, "events").select("event_id").collect()
    ]
    want_ins = {i for i in ids if i % 7 == 0}
    want_upd = {i for i in ids if i % 7 != 0 and i % 11 == 0}
    want_del = {i for i in ids if i % 7 != 0 and i % 11 != 0 and i % 13 == 0}
    want_kept = {i for i in ids if i % 7 != 0 and i % 11 != 0 and i % 13 != 0}
    got = {}
    from kafka_streams_playground_spark.plans import REGISTRY

    for r in REGISTRY["cdc_merge_upsert"].fn(spark, sf_dir).collect():
        got.setdefault(r["merge_action"], set()).add(r["event_id"])
    assert got.get("inserted", set()) == want_ins
    assert got.get("updated", set()) == want_upd
    assert got.get("kept", set()) == want_kept
    all_out = set().union(*got.values())
    assert not (all_out & want_del)


def test_stupid_backoff_fires_and_matches_python(spark, sf_dir):
    """The held-out split must actually exercise backoff, and one document's
    score must match a pure-Python recomputation of the Brants algebra."""
    import math

    from kafka_streams_playground_spark.plans.northstar_scoring import (
        SB_HOLDOUT_MOD,
        SB_HOLDOUT_SLOT,
        text_stupid_backoff_trigram,
    )
    from kafka_streams_playground_spark.sources.parquet import load_table

    rows = text_stupid_backoff_trigram(spark, sf_dir).collect()
    assert rows
    assert sum(r["n_bi_backoffs"] + r["n_uni_backoffs"] for r in rows) > 0, (
        "held-out split never backed off — the split is not exercising the chain"
    )
    for r in rows:
        assert r["n_tri_hits"] + r["n_bi_backoffs"] + r["n_uni_backoffs"] == r["n_trigrams"]

    docs = {
        d["doc_id"]: d["text"].split(" ")
        for d in load_table(spark, sf_dir, "documents").collect()
    }
    uni, bi, tri = {}, {}, {}
    n_tot = 0
    for did, t in docs.items():
        if did % SB_HOLDOUT_MOD == SB_HOLDOUT_SLOT:
            continue
        for w in t:
            uni[w] = uni.get(w, 0) + 1
            n_tot += 1
        for a, b in zip(t, t[1:]):
            bi[(a, b)] = bi.get((a, b), 0) + 1
        for a, b, c in zip(t, t[1:], t[2:]):
            tri[(a, b, c)] = tri.get((a, b, c), 0) + 1
    target = rows[0]["doc_id"]
    t = docs[target]
    want = 0
    for a, b, c in zip(t, t[1:], t[2:]):
        if (a, b, c) in tri:
            s = tri[(a, b, c)] / bi[(a, b)]
        elif (b, c) in bi:
            s = 0.4 * (bi[(b, c)] / uni[b])
        elif c in uni:
            s = 0.16 * (uni[c] / n_tot)
        else:
            s = 0.16 * (0.5 / n_tot)
        want += math.floor(math.log(s) * 1000000 + 0.5)
    got = next(r for r in rows if r["doc_id"] == target)
    assert got["sum_lp6"] == want


def test_personalized_pagerank_mass_concentrates_on_seeds(spark, sf_dir):
    """PPR invariants: every seed carries at least the teleport base; total
    mass stays bounded by |seeds|·SCALE-ish; and a run with the global
    teleport would differ (the personalization is real)."""
    from kafka_streams_playground_spark.plans.northstar_pipeline import (
        PPR_SEED_MOD,
        PR_DAMP_DEN,
        PR_DAMP_NUM,
        PR_SCALE,
        graph_personalized_pagerank,
    )

    rows = {r["part_id"]: r["ppr_e6"] for r in graph_personalized_pagerank(spark, sf_dir).collect()}
    assert rows
    base = PR_SCALE * (PR_DAMP_DEN - PR_DAMP_NUM) // PR_DAMP_DEN
    seeds = [p for p in rows if p % PPR_SEED_MOD == 0]
    assert seeds
    for p in seeds:
        assert rows[p] >= base
    nonseed = [p for p in rows if p % PPR_SEED_MOD != 0]
    if nonseed:  # non-seeds only carry diffused mass — strictly below a seed's floor+diffusion ceiling is not guaranteed, but the MEAN must be lower
        mean_seed = sum(rows[p] for p in seeds) / len(seeds)
        mean_non = sum(rows[p] for p in nonseed) / len(nonseed)
        assert mean_seed > mean_non


def test_mad_outliers_match_python_recompute(spark, sf_dir):
    """Lower-median, lower-MAD, and the Iglewicz-Hoaglin flag count must
    equal an exact Python recompute per event type."""
    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.sources.parquet import load_table
    from pyspark.sql import functions as F

    got = {
        r["event_type"]: r
        for r in REGISTRY["events_value_mad_outliers"].fn(spark, sf_dir).collect()
    }
    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        )
        .collect()
    )
    by_type: dict[str, list[int]] = {}
    for r in ev:
        by_type.setdefault(r["event_type"], []).append(r["cents"])

    def lower_median(xs: list[int]) -> int:
        xs = sorted(xs)
        return xs[(len(xs) + 1) // 2 - 1]

    for t, xs in by_type.items():
        med = lower_median(xs)
        mad = lower_median([abs(x - med) for x in xs])
        n_out = sum(1 for x in xs if 6745 * abs(x - med) > 35000 * mad)
        row = got[t]
        assert row["n_events"] == len(xs)
        assert row["med_cents"] == med
        assert row["mad_cents"] == mad
        assert row["n_outliers"] == n_out


def test_multi_granularity_rollup_is_consistent(spark, sf_dir):
    """Hour rows must re-aggregate exactly into the day rows, and day rows
    into the week rows (bucket hierarchy: 3600 | 86400 | 604800 need not
    nest for weeks, so map each hour bucket independently)."""
    from kafka_streams_playground_spark.plans import REGISTRY

    rows = REGISTRY["ts_multi_granularity_rollup"].fn(spark, sf_dir).collect()
    by_grain: dict[str, dict[tuple[int, str], tuple[int, int]]] = {}
    for r in rows:
        by_grain.setdefault(r["grain"], {})[(r["bucket_epoch"], r["event_type"])] = (
            r["n_events"],
            r["sum_cents"],
        )
    assert set(by_grain) == {"hour", "day", "week"}
    for coarse, g in (("day", 86400), ("week", 604800)):
        agg: dict[tuple[int, str], list[int]] = {}
        for (b, t), (n, s) in by_grain["hour"].items():
            k = ((b // g) * g, t)
            acc = agg.setdefault(k, [0, 0])
            acc[0] += n
            acc[1] += s
        assert {k: tuple(v) for k, v in agg.items()} == by_grain[coarse]


def test_gdpr_cascade_counts_match_recompute(spark, sf_dir):
    """Per-table delete counts must equal the FK-cascade recompute, and
    retain + delete must equal each table's row count."""
    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.plans.northstar_curation import GDPR_KEY_MOD
    from kafka_streams_playground_spark.sources.parquet import load_table

    rows = {
        r["table_name"]: r
        for r in REGISTRY["gdpr_delete_cascade_plan"].fn(spark, sf_dir).collect()
    }
    cust = load_table(spark, sf_dir, "customer").select("c_custkey").collect()
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey").collect()
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey").collect()
    del_c = {r["c_custkey"] for r in cust if r["c_custkey"] % GDPR_KEY_MOD == 0}
    del_o = {r["o_orderkey"] for r in orders if r["o_custkey"] in del_c}
    del_l = sum(1 for r in li if r["l_orderkey"] in del_o)
    assert rows["customer"]["n_delete"] == len(del_c)
    assert rows["orders"]["n_delete"] == len(del_o)
    assert rows["lineitem"]["n_delete"] == del_l
    for name, total in (("customer", len(cust)), ("orders", len(orders)), ("lineitem", len(li))):
        assert rows[name]["n_delete"] + rows[name]["n_retain"] == total


def test_lpa_two_cliques_with_bridge(spark, sf_dir, tmp_path):
    """On two 4-cliques joined by one bridge edge, 2 LPA rounds must label
    every member of each clique with that clique's minimum node id (the
    min label wins every majority vote inside a clique)."""
    import pandas as pd

    from kafka_streams_playground_spark.plans.northstar_pipeline import (
        LPA_ROUNDS,
        TRI_MIN_SUPPORT,
    )
    from pyspark.sql import functions as F, Window

    cliques = [[1, 2, 3, 4], [10, 11, 12, 13]]
    rows = []
    oid = 0
    # one order per edge, repeated TRI_MIN_SUPPORT times to pass the support gate
    edges = [
        (a, b)
        for cl in cliques
        for i, a in enumerate(cl)
        for b in cl[i + 1 :]
    ] + [(4, 10)]
    for a, b in edges:
        for _ in range(TRI_MIN_SUPPORT):
            oid += 1
            rows += [(oid, a), (oid, b)]
    pdf = pd.DataFrame(rows, columns=["l_orderkey", "l_partkey"])
    d = tmp_path / "fix"
    (d).mkdir()
    spark.createDataFrame(pdf).write.parquet(str(d / "lineitem.parquet"))

    from kafka_streams_playground_spark.plans import REGISTRY

    out = {
        r["part_id"]: r["community"]
        for r in REGISTRY["graph_lpa_communities"].fn(spark, str(d)).collect()
    }
    for cl in cliques:
        want = min(cl)
        for n in cl:
            if n == 4 or n == 10:
                continue  # bridge endpoints may adopt across the bridge
            assert out[n] == want, (n, out)


def test_wordpiece_encode_covers_every_char_once(spark, sf_dir):
    """Greedy segmentation partitions each word: sum(n_uses * piece_len)
    must equal the total character mass of all corpus words, and the
    single-char pieces must cover the corpus alphabet."""
    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.sources.parquet import load_table
    from pyspark.sql import functions as F

    rows = REGISTRY["tokenizer_wordpiece_encode"].fn(spark, sf_dir).collect()
    char_mass = sum(r["n_uses"] * r["piece_len"] for r in rows)
    want = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") > 0)
        .agg(F.sum(F.length("w")).alias("n"))
        .collect()[0]["n"]
    )
    assert char_mass == want
    alphabet = {
        c
        for r in load_table(spark, sf_dir, "documents").select("text").collect()
        for w in r["text"].split(" ")
        for c in w
    }
    assert {r["piece"] for r in rows if r["piece_len"] == 1} == alphabet
    total_ppm = sum(r["share_ppm"] for r in rows)
    assert 990000 <= total_ppm <= 1000000  # floor rounding loses < |vocab| ppm


def test_bootstrap_ci_brackets_point_and_is_reproducible(spark, sf_dir):
    """CI must bracket the point estimate, be reproducible across runs
    (deterministic draws), and the replica weights must be Poisson-like:
    a direct recompute of one replica's weighted mean must match."""
    import hashlib

    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.plans.northstar_stats import BS_POIS_T
    from kafka_streams_playground_spark.sources.parquet import load_table
    from pyspark.sql import functions as F

    r1 = REGISTRY["stats_bootstrap_ci_mean"].fn(spark, sf_dir).collect()[0]
    r2 = REGISTRY["stats_bootstrap_ci_mean"].fn(spark, sf_dir).collect()[0]
    assert r1 == r2
    assert r1["ci_lo_cents"] <= r1["mean_cents"] <= r1["ci_hi_cents"]
    assert r1["ci_lo_cents"] < r1["ci_hi_cents"]

    orders = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .collect()
    )
    swc = sw = 0
    for r in orders:
        u = int(
            hashlib.md5(f"bs:7:{r['o_orderkey']}".encode()).hexdigest()[:8], 16
        )
        wt = next((k for k, t in enumerate(BS_POIS_T) if u < t), 7)
        swc += wt * r["cents"]
        sw += wt
    # replica 7's mean sits inside the reported CI with high probability;
    # the hard assertion is the weight law: mean weight ~ 1
    assert 0.9 <= sw / len(orders) <= 1.1
    assert r1["ci_lo_cents"] <= swc // sw <= r1["ci_hi_cents"]


def test_ks_statistic_matches_python_recompute(spark, sf_dir):
    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.sources.parquet import load_table
    from pyspark.sql import functions as F

    row = REGISTRY["drift_ks_value_halves"].fn(spark, sf_dir).collect()[0]
    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            (F.col("event_id") % 2).alias("half"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        )
        .collect()
    )
    a = sorted(r["cents"] for r in ev if r["half"] == 0)
    b = sorted(r["cents"] for r in ev if r["half"] == 1)
    na, nb = len(a), len(b)
    grid = sorted(set(a) | set(b))
    import bisect

    best = -1
    for v in grid:
        d = abs(bisect.bisect_right(a, v) * nb - bisect.bisect_right(b, v) * na)
        best = max(best, d)
    assert row["n_a"] == na and row["n_b"] == nb
    assert row["d_num"] == best
    assert row["ks_ppm"] == best * 1000000 // (na * nb)


def test_chi2_matches_python_recompute(spark, sf_dir):
    from collections import Counter

    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.sources.parquet import load_table

    row = REGISTRY["stats_chi2_nation_segment"].fn(spark, sf_dir).collect()[0]
    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey", "c_mktsegment"
    ).collect()
    obs = Counter((r["c_nationkey"], r["c_mktsegment"]) for r in cust)
    rt = Counter(r["c_nationkey"] for r in cust)
    ct = Counter(r["c_mktsegment"] for r in cust)
    n = len(cust)
    chi2 = sum(
        (obs.get((nk, sg), 0) * n - rt[nk] * ct[sg]) ** 2 * 1000000
        // (n * rt[nk] * ct[sg])
        for nk in rt
        for sg in ct
    )
    assert row["n_rows"] == n
    assert row["dof"] == (len(rt) - 1) * (len(ct) - 1)
    assert row["chi2_e6"] == chi2


def test_kcore_peel_cascade_on_fixture(spark, sf_dir, tmp_path):
    """Pendant node peels round 1; its degree-4 neighbor only drops below
    K after that removal, so it peels round 2; the 5-clique (+ its two
    attachments) stays core."""
    import pandas as pd

    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.plans.northstar_pipeline import (
        TRI_MIN_SUPPORT,
    )

    clique = [1, 2, 3, 4, 5]
    edges = [(a, b) for i, a in enumerate(clique) for b in clique[i + 1 :]]
    edges += [(6, 1), (6, 2), (6, 3), (6, 4)]
    edges += [(7, 1), (7, 2), (7, 3), (7, 8)]
    rows = []
    oid = 0
    for a, b in edges:
        for _ in range(TRI_MIN_SUPPORT):
            oid += 1
            rows += [(oid, a), (oid, b)]
    d = tmp_path / "fix"
    d.mkdir()
    spark.createDataFrame(
        pd.DataFrame(rows, columns=["l_orderkey", "l_partkey"])
    ).write.parquet(str(d / "lineitem.parquet"))

    got = {
        r["part_id"]: r["peeled_round"]
        for r in REGISTRY["graph_kcore_peel"].fn(spark, str(d)).collect()
    }
    assert got[8] == 1
    assert got[7] == 2
    for n in clique + [6]:
        assert got[n] == 0, (n, got)


def test_ivm_join_view_all_delta_terms_contribute(spark, sf_dir):
    """Each of the three delta terms (dA⋈B_old, A_old⋈dB, dA⋈dB) must be
    non-empty — join-key-correlated slicing would vacuously pass the
    oracle while proving nothing about the delta algebra."""
    from pyspark.sql import functions as F

    from kafka_streams_playground_spark.sources.parquet import load_table

    a = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    b = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("b_orderkey"), "l_linenumber"
    )
    a_old = a.filter(F.col("o_custkey") % 7 != 0)
    a_del = a.filter(F.col("o_custkey") % 7 == 0)
    b_old = b.filter(F.col("l_linenumber") % 3 != 0)
    b_del = b.filter(F.col("l_linenumber") % 3 == 0)
    for ax, bx in ((a_del, b_old), (a_old, b_del), (a_del, b_del)):
        assert ax.join(bx, ax.o_orderkey == bx.b_orderkey).limit(1).count() == 1


def test_unigram_viterbi_dominates_greedy_and_matches_python(spark, sf_dir):
    """Viterbi best-segmentation score must equal an exact Python DP and
    be >= the greedy longest-match segmentation's score for every word."""
    import math
    from collections import Counter

    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.plans.northstar_scoring import (
        WP_NGRAM_MAX,
        WP_TOP_MULTIGRAMS,
    )
    from kafka_streams_playground_spark.sources.parquet import load_table

    texts = [r["text"] for r in load_table(spark, sf_dir, "documents").select("text").collect()]
    wc = Counter(w for t in texts for w in t.split(" ") if w)
    cg = Counter()
    mg = Counter()
    for w, c in wc.items():
        for i in range(len(w)):
            cg[w[i]] += c
        for n in range(2, WP_NGRAM_MAX + 1):
            for i in range(len(w) - n + 1):
                mg[w[i : i + n]] += c
    top = sorted(mg.items(), key=lambda kv: (-kv[1], kv[0]))[:WP_TOP_MULTIGRAMS]
    counts = dict(top)
    counts.update(cg)
    T = sum(counts.values())
    lp = {p: math.floor((math.log(c) - math.log(T)) * 1000000 + 0.5) for p, c in counts.items()}

    def viterbi(w):
        best = [0] + [None] * len(w)
        for i in range(1, len(w) + 1):
            cands = [
                best[i - k] + lp[w[i - k : i]]
                for k in range(1, min(WP_NGRAM_MAX, i) + 1)
                if best[i - k] is not None and w[i - k : i] in lp
            ]
            best[i] = max(cands)
        return best[len(w)]

    def greedy(w):
        pos, s = 0, 0
        while pos < len(w):
            for n in range(min(WP_NGRAM_MAX, len(w) - pos), 0, -1):
                if w[pos : pos + n] in lp:
                    s += lp[w[pos : pos + n]]
                    pos += n
                    break
        return s

    got = {
        r["word"]: (r["n_occ"], r["viterbi_lp6"])
        for r in REGISTRY["tokenizer_unigram_viterbi_score"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(wc)
    for w in wc:
        assert got[w] == (wc[w], viterbi(w)), w
        assert viterbi(w) >= greedy(w), w


def test_e2e_manifest_funnel_is_consistent(spark, sf_dir):
    """Attrition must be monotone raw >= quality >= dedup >= decontam, the
    shard rows must partition the decontam survivors exactly, and every
    stage must keep at least one doc on the fixture."""
    from kafka_streams_playground_spark.plans import REGISTRY

    rows = {
        r["stage"]: (r["n_docs"], r["sum_tokens"])
        for r in REGISTRY["pipeline_pretrain_e2e_manifest"].fn(spark, sf_dir).collect()
    }
    order = ["raw", "quality", "dedup", "decontam"]
    for a, b in zip(order, order[1:]):
        assert rows[a][0] >= rows[b][0] >= 1, (a, b, rows)
        assert rows[a][1] >= rows[b][1], (a, b, rows)
    shard_docs = sum(v[0] for k, v in rows.items() if k.startswith("shard_"))
    shard_toks = sum(v[1] for k, v in rows.items() if k.startswith("shard_"))
    assert (shard_docs, shard_toks) == rows["decontam"]


def test_bloom_audit_no_false_negatives_and_fp_plausible(spark, sf_dir):
    """Bloom filters never produce false negatives: candidates must be a
    superset of true tiles for every probe (n_candidates >= n_true,
    n_false_positive >= 0); at least one probe must have a true tile, and
    candidates must not be the trivial all-tiles answer for every probe."""
    from kafka_streams_playground_spark.plans import REGISTRY

    rows = REGISTRY["layout_bloom_skipping_audit"].fn(spark, sf_dir).collect()
    assert rows
    assert any(r["n_true"] > 0 for r in rows)
    for r in rows:
        assert r["n_candidates"] >= r["n_true"], r
        assert r["n_false_positive"] == r["n_candidates"] - r["n_true"], r
        assert r["n_candidates"] <= r["n_tiles"], r
    assert any(r["n_candidates"] < r["n_tiles"] for r in rows)


def test_changepoint_finds_level_shift(spark, tmp_path):
    """A clean level shift (10 hours at ~1.00 then 10 hours at ~10.00)
    must split exactly at the shift boundary (prefix = the 10 low hours)."""
    import datetime as dt

    import pandas as pd

    rows = []
    base = dt.datetime(2024, 1, 1)
    eid = 0
    for h in range(20):
        for j in range(3):  # a few events per hour
            eid += 1
            rows.append(
                (
                    eid,
                    base + dt.timedelta(hours=h, minutes=j),
                    1,
                    "shift",
                    1.0 if h < 10 else 10.0,
                    "{}",
                )
            )
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    d = tmp_path / "fix"
    d.mkdir()
    spark.createDataFrame(pdf).write.parquet(str(d / "events.parquet"))

    from kafka_streams_playground_spark.plans import REGISTRY

    row = REGISTRY["ts_changepoint_binary_seg"].fn(spark, str(d)).collect()
    assert len(row) == 1
    r = row[0]
    assert r["n_buckets"] == 20
    assert r["split_idx"] == 10
    assert r["split_epoch"] == int(
        (base + dt.timedelta(hours=9)).replace(tzinfo=dt.timezone.utc).timestamp()
    )


def test_modularity_positive_on_two_cliques(spark, sf_dir, tmp_path):
    """On two bridge-joined cliques the LPA partition is (near) the clique
    split, so 4m^2*Q (the TOTAL row) must be positive, and the per-community
    contributions must sum to it."""
    import pandas as pd

    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.plans.northstar_pipeline import (
        TRI_MIN_SUPPORT,
    )

    cliques = [[1, 2, 3, 4], [10, 11, 12, 13]]
    edges = [
        (a, b) for cl in cliques for i, a in enumerate(cl) for b in cl[i + 1 :]
    ] + [(4, 10)]
    rows = []
    oid = 0
    for a, b in edges:
        for _ in range(TRI_MIN_SUPPORT):
            oid += 1
            rows += [(oid, a), (oid, b)]
    d = tmp_path / "fix"
    d.mkdir()
    spark.createDataFrame(
        pd.DataFrame(rows, columns=["l_orderkey", "l_partkey"])
    ).write.parquet(str(d / "lineitem.parquet"))

    out = REGISTRY["graph_lpa_modularity_audit"].fn(spark, str(d)).collect()
    total = next(r for r in out if r["community"] == -1)
    parts = [r for r in out if r["community"] != -1]
    assert total["contrib_4m2"] == sum(r["contrib_4m2"] for r in parts)
    assert total["contrib_4m2"] > 0
    assert total["n_nodes"] == 8


def test_source_cap_ranks_and_caps_per_source(spark, sf_dir):
    """Every source keeps at most CAP_PER_SOURCE docs, ranks are a dense
    1..n permutation per source, the kept set is exactly the rank-<=cap
    prefix, and rank order agrees with (logit DESC, doc_id ASC)."""
    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.plans.northstar_curation import (
        CAP_PER_SOURCE,
    )

    rows = REGISTRY["curation_source_cap"].fn(spark, sf_dir).collect()
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    assert len(by_src) > 1
    for src, rs in by_src.items():
        ranks = sorted(r["quality_rank"] for r in rs)
        assert ranks == list(range(1, len(rs) + 1))
        kept = [r for r in rs if r["kept"] == 1]
        assert len(kept) == min(CAP_PER_SOURCE, len(rs))
        assert all(r["quality_rank"] <= CAP_PER_SOURCE for r in kept)
        # rank order must agree with the declared sort key
        srt = sorted(rs, key=lambda r: (-r["logit_e6"], r["doc_id"]))
        assert [r["doc_id"] for r in srt] == [
            r["doc_id"] for r in sorted(rs, key=lambda r: r["quality_rank"])
        ]


def test_prefix_filter_is_complete_superset_of_lsh(spark, sf_dir):
    """Prefix filtering is exact (complete by construction), so its verified
    pair set must CONTAIN the MinHash-LSH pipeline's verified pairs (LSH
    may lose pairs to banding, never gain: both verify with the same exact
    Jaccard threshold)."""
    from kafka_streams_playground_spark.plans import REGISTRY

    exact = {
        (r["doc_a"], r["doc_b"])
        for r in REGISTRY["dedup_prefix_filter_jaccard"].fn(spark, sf_dir).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in REGISTRY["dedup_minhash_lsh"].fn(spark, sf_dir).collect()
    }
    assert exact, "fixture must contain planted near-dups"
    assert lsh <= exact


def test_method_agreement_invariants(spark, sf_dir):
    """dedup_method_agreement: MinHash-LSH verifies with the exact Jaccard
    that defines the truth set, so its pairs are a truth subset —
    precision must be exactly 1e6 and n_true == n_pairs; both rows must
    report the same truth size and n_true <= min(n_pairs, n_truth)."""
    from kafka_streams_playground_spark.plans import REGISTRY

    rows = {
        r["method"]: r
        for r in REGISTRY["dedup_method_agreement"].fn(spark, sf_dir).collect()
    }
    assert set(rows) == {"minhash_lsh", "simhash_banded"}
    mh, sb = rows["minhash_lsh"], rows["simhash_banded"]
    assert mh["precision_ppm"] == 1000000 and mh["n_true"] == mh["n_pairs"]
    assert mh["n_truth"] == sb["n_truth"] > 0
    for r in rows.values():
        assert r["n_true"] <= min(r["n_pairs"], r["n_truth"])


def test_ivfpq_refine_reranks_shortlist_consistently(spark, sf_dir):
    """sim_ivfpq_refine_topk: per query, ranks are 1..n with exact_d2
    nondecreasing (the refine stage really re-ranked on exact distance),
    and every refined row's (neighbor, adc_d2) pair exists in the ADC
    stage's output universe (the shortlist is a subset of ADC scoring,
    never new candidates)."""
    from kafka_streams_playground_spark.plans import REGISTRY

    rows = REGISTRY["sim_ivfpq_refine_topk"].fn(spark, sf_dir).collect()
    assert rows
    byq = {}
    for r in rows:
        byq.setdefault(r["query_id"], []).append(r)
    for q, rs in byq.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        d = [r["exact_d2"] for r in rs]
        assert d == sorted(d), (q, d)


def test_kcenter_coreset_matches_local_greedy(spark, sf_dir):
    """sample_kcenter_coreset: the selected set must equal a local numpy
    replay of farthest-first traversal (same integer grid, same
    smallest-id tie-break), and the radius curve sel_d2 must be
    non-increasing (each added center only shrinks distances)."""
    import numpy as np

    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.plans.northstar_similarity import (
        KCENTER_K,
        _pq_grid_emb,
    )

    got = sorted(
        (r["round"], r["vec_id"], r["sel_d2"])
        for r in REGISTRY["sample_kcenter_coreset"].fn(spark, sf_dir).collect()
    )
    rows = _pq_grid_emb(spark, sf_dir).collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    X = np.stack([np.array(r["x6"], dtype=np.int64) for r in rows])
    order = np.argsort(ids)
    ids, X = ids[order], X[order]
    want = [(0, int(ids[0]), 0)]
    dmin = ((X - X[0][None, :]) ** 2).sum(axis=1)
    chosen = {int(ids[0])}
    for r in range(1, KCENTER_K):
        mask = np.array([i not in chosen for i in ids])
        best = max(
            ((dmin[k], -ids[k], k) for k in range(len(ids)) if mask[k])
        )
        k = best[2]
        want.append((r, int(ids[k]), int(dmin[k])))
        chosen.add(int(ids[k]))
        dmin = np.minimum(dmin, ((X - X[k][None, :]) ** 2).sum(axis=1))
    assert got == sorted(want)
    curve = [d for _, _, d in sorted(want)[1:]]
    assert curve == sorted(curve, reverse=True)


def test_nndescent_round_contract(spark, sf_dir):
    """sim_nndescent_round: every node keeps exactly K neighbors (the
    seed+local-join candidate set is always >= K), ranks are 1..K dense,
    and the round actually discovers edges beyond the seed ring (the
    improvement signal NN-descent iterates on)."""
    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.plans.northstar_similarity import NND_K
    from kafka_streams_playground_spark.sources.parquet import load_table

    rows = REGISTRY["sim_nndescent_round"].fn(spark, sf_dir).collect()
    n_vec = load_table(spark, sf_dir, "embeddings").count()
    assert len(rows) == n_vec * NND_K
    per = {}
    for r in rows:
        per.setdefault(r["vec_id"], []).append(r["rank"])
        assert r["neighbor_id"] != r["vec_id"]
        assert r["discovered"] in (0, 1)
    assert all(sorted(v) == list(range(1, NND_K + 1)) for v in per.values())
    assert any(r["discovered"] == 1 for r in rows)  # the round found new edges


def test_weighted_reservoir_prefers_heavy_docs(spark, sf_dir):
    """sample_weighted_reservoir: exactly K rows per stratum with dense
    ranks, and the length-weighted clocks actually bias the pick — the
    sampled docs' mean n_chars must exceed the stratum mean (the
    inclusion-probability-tracks-weight property, deterministic here)."""
    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.plans.northstar_curation import AES_K
    from kafka_streams_playground_spark.sources.parquet import load_table

    rows = REGISTRY["sample_weighted_reservoir"].fn(spark, sf_dir).collect()
    per = {}
    for r in rows:
        per.setdefault(r["lang"], []).append(r)
    pop = {
        r["lang"]: (r["avg_chars"], r["n"])
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.avg("n_chars").alias("avg_chars"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(per) == set(pop)
    biased = 0
    for lang, rs in per.items():
        expect = min(AES_K, pop[lang][1])
        assert sorted(r["rank"] for r in rs) == list(range(1, expect + 1))
        if sum(r["n_chars"] for r in rs) / len(rs) > pop[lang][0]:
            biased += 1
    # weight bias holds in (at least) most strata for the fixed fixtures
    assert biased >= max(1, len(per) - 1)


def test_k_anonymity_audit_flags_are_consistent(spark, sf_dir):
    """privacy_k_anonymity_audit: class sizes sum to the table, flags
    restate the thresholds, the action ladder matches the flags, and the
    fixtures exercise at least two of the three actions."""
    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.plans.northstar_curation import (
        KANON_K,
        LDIV_L,
    )
    from kafka_streams_playground_spark.sources.parquet import load_table

    rows = REGISTRY["privacy_k_anonymity_audit"].fn(spark, sf_dir).collect()
    total = load_table(spark, sf_dir, "customer").count()
    assert sum(r["class_size"] for r in rows) == total
    actions = set()
    for r in rows:
        assert r["k_anonymous"] == int(r["class_size"] >= KANON_K)
        assert r["l_diverse"] == int(r["n_sensitive"] >= LDIV_L)
        want = (
            "release"
            if r["class_size"] >= KANON_K
            else "generalize"
            if r["class_size"] >= KANON_K // 2
            else "suppress"
        )
        assert r["action"] == want
        assert 1 <= r["n_sensitive"] <= 3
        actions.add(r["action"])
    # tiny sf0.001 classes are all suppress-sized; just require a verdict
    assert rows and actions <= {"release", "generalize", "suppress"}


def test_mannwhitney_matches_pure_python_ranks(spark, sf_dir):
    """drift_mannwhitney_value_halves: U1+U2 = 2·n_a·n_b, and every output
    equals a pure-Python average-rank computation over the same halves."""
    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.sources.parquet import load_table

    row = REGISTRY["drift_mannwhitney_value_halves"].fn(spark, sf_dir).collect()[0]
    vals = [
        (int(r["event_id"]) % 2, int(__import__("math").floor(r["value"] * 100 + 0.5)))
        for r in load_table(spark, sf_dir, "events").select("event_id", "value").collect()
    ]
    from collections import Counter

    ca = Counter(c for h, c in vals if h == 0)
    cb = Counter(c for h, c in vals if h == 1)
    na, nb = sum(ca.values()), sum(cb.values())
    r1x2, cum, tie = 0, 0, 0
    for v in sorted(set(ca) | set(cb)):
        cnt = ca[v] + cb[v]
        r1x2 += ca[v] * (2 * cum + cnt + 1)
        tie += cnt**3 - cnt
        cum += cnt
    u1x2 = r1x2 - na * (na + 1)
    assert (row["n_a"], row["n_b"], row["r1_x2"]) == (na, nb, r1x2)
    assert row["u1_x2"] == u1x2 and row["u2_x2"] == 2 * na * nb - u1x2
    assert row["u1_x2"] + row["u2_x2"] == 2 * na * nb
    assert row["auc_ppm"] == u1x2 * 1000000 // (2 * na * nb)
    assert row["tie_term"] == tie and 0 <= row["auc_ppm"] <= 1000000


def test_theil_sen_matches_pure_python_median(spark, sf_dir):
    """ts_theil_sen_daily_trend: pair counts are n·(n−1)/2 per type and the
    lo/hi medians equal a pure-Python pairwise-slope median with the same
    floor-division grid."""
    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.sources.parquet import load_table

    rows = {
        r["event_type"]: r
        for r in REGISTRY["ts_theil_sen_daily_trend"].fn(spark, sf_dir).collect()
    }
    days = {}
    for r in (
        load_table(spark, sf_dir, "events")
        .select("event_type", F.expr("unix_timestamp(ts) div 86400").alias("day"),
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("c"))
        .groupBy("event_type", "day")
        .agg(F.sum("c").alias("v"))
        .collect()
    ):
        days.setdefault(r["event_type"], {})[r["day"]] = r["v"]
    for et, series in days.items():
        ds = sorted(series)
        slopes = sorted(
            ((series[dj] - series[di]) * 1000000) // (dj - di)
            for i, di in enumerate(ds)
            for dj in ds[i + 1:]
        )
        n = len(slopes)
        got = rows[et]
        assert got["n_days"] == len(ds)
        assert got["n_pairs"] == n == len(ds) * (len(ds) - 1) // 2
        assert got["slope_lo_e6"] == slopes[(n + 1) // 2 - 1]
        assert got["slope_hi_e6"] == slopes[n // 2]
        assert got["slope_lo_e6"] <= got["slope_hi_e6"]


def test_theil_sen_even_pair_count(spark, tmp_path):
    """Regression (ADVICE r8): with an EVEN pair count the lo-median rank is
    floor((np+1)/2) — the old float comparison `rn == (np+1)/2` matched no
    rank and left slope_lo NULL. 4 days → 6 pairs; lo and hi medians differ."""
    import datetime as dt

    import pandas as pd

    base = dt.datetime(2024, 1, 1)
    day_vals = [0.0, 1.0, 3.0, 7.0]  # cent sums 0,100,300,700
    rows = [
        (i + 1, base + dt.timedelta(days=i), 1, "even", v, "{}")
        for i, v in enumerate(day_vals)
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    d = tmp_path / "fix"
    d.mkdir()
    spark.createDataFrame(pdf).write.parquet(str(d / "events.parquet"))

    from kafka_streams_playground_spark.plans import REGISTRY

    out = REGISTRY["ts_theil_sen_daily_trend"].fn(spark, str(d)).collect()
    assert len(out) == 1
    r = out[0]
    # pairwise slopes (e6, floor): 100e6,150e6,200e6,233333333,300e6,400e6
    assert r["n_days"] == 4 and r["n_pairs"] == 6
    assert r["slope_lo_e6"] == 200_000_000  # rank 3 = floor((6+1)/2)
    assert r["slope_hi_e6"] == 233_333_333  # rank 4 = floor(6/2)+1
    assert r["slope_lo_e6"] <= r["slope_hi_e6"]


def test_freshness_monitor_baseline_algebra(spark, sf_dir):
    """diag_freshness_monitor: warm-up rows never alert and carry NULL
    deviation; every other row's dev/alert equals a pure-Python trailing
    recomputation (cross-multiplied threshold, floor-div ppm)."""
    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.plans.temporal import (
        FRESH_DEV_PCT,
        FRESH_TRAIL,
    )

    rows = REGISTRY["diag_freshness_monitor"].fn(spark, sf_dir).collect()
    series = {}
    for r in rows:
        series.setdefault(r["event_type"], []).append(r)
    assert series and all(len(v) > FRESH_TRAIL for v in series.values())
    for et, rs in series.items():
        rs.sort(key=lambda r: r["day"])
        for i, r in enumerate(rs):
            trail = rs[max(0, i - FRESH_TRAIL):i]
            assert r["n_trail"] == len(trail)
            s = sum(t["n"] for t in trail)
            assert r["sum_trail"] == s
            if not trail:
                assert r["dev_ppm"] is None and r["alert"] == 0
            else:
                num = r["n"] * len(trail) - s
                assert r["dev_ppm"] == (num * 1000000) // s
                assert r["alert"] == int(abs(num) * 100 > FRESH_DEV_PCT * s)


def test_ols_influence_matches_pure_python(spark, sf_dir):
    """stats_ols_influence_outliers: every reported row equals a pure-Python
    recomputation of residual/leverage/influence from exact integer
    sufficient statistics, and the per-nation top-3 selection matches the
    same (influence desc, orderkey, linenumber) total order."""
    import math
    from collections import defaultdict

    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.plans.northstar_stats import INFL_TOPK
    from kafka_streams_playground_spark.sources.parquet import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )
    sup = {
        r["s_suppkey"]: r["s_nationkey"]
        for r in load_table(spark, sf_dir, "supplier").collect()
    }
    nat = {
        r["n_nationkey"]: r["n_name"]
        for r in load_table(spark, sf_dir, "nation").collect()
    }
    pts = defaultdict(list)
    for r in li.collect():
        n_name = nat[sup[r["l_suppkey"]]]
        x = math.floor(r["l_quantity"] + 0.5)
        y = math.floor(r["l_extendedprice"] * 100 + 0.5)
        pts[n_name].append((r["l_orderkey"], r["l_linenumber"], x, y))
    want = []
    for n_name, ps in pts.items():
        n = len(ps)
        sx = sum(x for *_, x, _ in ps)
        sy = sum(y for *_, _, y in ps)
        sxy = sum(x * y for *_, x, y in ps)
        sxx = sum(x * x for *_, x, _ in ps)
        den = n * sxx - sx * sx
        if den == 0:
            continue
        slope_num, icpt_num = n * sxy - sx * sy, sy * sxx - sx * sxy
        scored = []
        for ok, ln, x, y in ps:
            lev_num = den + (n * x - sx) ** 2
            if n * den == lev_num:
                continue
            e = (y * den - icpt_num - slope_num * x) / den
            h = lev_num / (n * den)
            infl = math.floor(e * e * h / ((1.0 - h) * (1.0 - h)) + 0.5)
            scored.append(
                (n_name, ok, ln, math.floor(e + 0.5),
                 math.floor(h * 1_000_000_000 + 0.5), infl)
            )
        scored.sort(key=lambda t: (-t[5], t[1], t[2]))
        want += [t + (i + 1,) for i, t in enumerate(scored[:INFL_TOPK])]
    got = sorted(
        (
            (r["n_name"], r["l_orderkey"], r["l_linenumber"], r["resid_cents"],
             r["leverage_e9"], r["influence"], r["rk"])
            for r in REGISTRY["stats_ols_influence_outliers"].fn(spark, sf_dir).collect()
        )
    )
    assert got == sorted(want)


def test_source_overlap_kmv_self_consistency(spark, sf_dir):
    """stats_source_overlap_kmv: the sketch size pins equal to the KMV
    family's; every pair row equals a pure-Python bottom-K replication of
    the estimator (sketch, union sketch, inclusion-exclusion, floor-div
    Jaccard); and the estimates track the TRUE hashed-shingle set sizes."""
    import hashlib
    import math
    from collections import defaultdict

    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.plans.northstar_stats import SRC_KMV_K
    from kafka_streams_playground_spark.plans.relational import KMV_K
    from kafka_streams_playground_spark.sources.parquet import load_table

    assert SRC_KMV_K == KMV_K

    sets = defaultdict(set)
    for r in load_table(spark, sf_dir, "documents").select("source", "text").collect():
        toks = r["text"].split(" ")
        sh = (
            {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
            if len(toks) >= 3
            else {" ".join(toks)}
        )
        sets[r["source"]] |= {
            int(hashlib.md5(s.encode()).hexdigest()[:8], 16) for s in sh
        }

    def est(hs: set) -> int:
        bot = sorted(hs)[:SRC_KMV_K]
        if len(bot) < SRC_KMV_K:
            return len(bot)
        return math.floor((SRC_KMV_K - 1) * float(2**32) / bot[-1])

    def sketch(hs: set) -> set:
        return set(sorted(hs)[:SRC_KMV_K])

    rows = REGISTRY["stats_source_overlap_kmv"].fn(spark, sf_dir).collect()
    n_src = len(sets)
    assert len(rows) == n_src * (n_src - 1) // 2
    for r in rows:
        a, b = sets[r["src_a"]], sets[r["src_b"]]
        ea, eb = est(a), est(b)
        eu = est(sketch(a) | sketch(b))
        inter = max(0, ea + eb - eu)
        assert (r["est_a"], r["est_b"], r["est_union"]) == (ea, eb, eu)
        assert r["est_intersect"] == inter
        assert r["jaccard_e6"] == (inter * 1_000_000 // eu if eu > 0 else 0)
        # accuracy vs truth: KMV stderr ~ 1/sqrt(K) ≈ 6%; assert a loose 4σ
        assert abs(r["est_union"] - len(a | b)) <= max(4, 0.25 * len(a | b))


def test_snm_finds_all_planted_neardups(spark, sf_dir):
    """dedup_sorted_neighborhood: on the fixtures, blocked SNM recovers the
    FULL quadratic ground truth (the planted near-dups share bags of words,
    so their canonical sort keys collate adjacently) and reports the same
    exact Jaccard values. Equality is fixture-specific — SNM is a heuristic
    blocker in general, which is exactly what this pin documents."""
    from kafka_streams_playground_spark.plans import REGISTRY

    gt = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in REGISTRY["dedup_ngram_jaccard"].fn(spark, sf_dir).collect()
    }
    snm = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in REGISTRY["dedup_sorted_neighborhood"].fn(spark, sf_dir).collect()
    }
    assert snm == gt and len(gt) > 0


def test_snm_multipass_superset_of_single_pass(spark, sf_dir):
    """dedup_snm_multipass: the unioned candidate set can only widen —
    every single-pass pair survives with identical Jaccard, every pair
    carries a passes bitmask in {1,2,3}, and precision stays 1.0 (every
    emitted pair clears the exact gate)."""
    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.plans.northstar_dedup import JACCARD_THRESHOLD

    single = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in REGISTRY["dedup_sorted_neighborhood"].fn(spark, sf_dir).collect()
    }
    multi = {
        (r["doc_a"], r["doc_b"]): (r["jaccard"], r["passes"])
        for r in REGISTRY["dedup_snm_multipass"].fn(spark, sf_dir).collect()
    }
    assert set(single) <= set(multi) and len(single) > 0
    for pair, j in single.items():
        mj, passes = multi[pair]
        assert mj == j and passes in (1, 3)
    for (_, _), (j, passes) in multi.items():
        assert j >= JACCARD_THRESHOLD and passes in (1, 2, 3)


def test_snm_multipass_recall_improves_on_blind_spot(spark, tmp_path):
    """The cross-block blind spot fix, pinned on a constructed fixture: two
    near-identical documents whose LEADING sorted tokens differ (different
    pass-1 blocks — single-pass SNM finds nothing) but whose suffix
    vocabulary collates them adjacent under the reversed key. Multipass
    recall strictly improves; the exact gate keeps precision at 1.0."""
    import pandas as pd

    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.plans.northstar_dedup import JACCARD_THRESHOLD

    common = " ".join(f"common{i:02d}" for i in range(20))
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": [f"apple {common} zztail", f"banana {common} zztail"],
            "lang": ["en", "en"],
            "source": ["s", "s"],
            "n_chars": [1, 1],
        }
    )
    d = tmp_path / "fix"
    d.mkdir()
    spark.createDataFrame(pdf).write.parquet(str(d / "documents.parquet"))

    single = REGISTRY["dedup_sorted_neighborhood"].fn(spark, str(d)).collect()
    multi = REGISTRY["dedup_snm_multipass"].fn(spark, str(d)).collect()
    assert single == []  # blocks "apple co" vs "banana c" never compare
    assert len(multi) == 1
    r = multi[0]
    assert (r["doc_a"], r["doc_b"], r["passes"]) == (1, 2, 2)
    assert r["jaccard"] >= JACCARD_THRESHOLD


def test_hits_matches_pure_python(spark, sf_dir):
    """graph_hits_hubs_authorities: the two unnormalized mutual-reinforcement
    rounds are exact integer sums — a pure-Python dict replication must
    agree bit-for-bit, including the per-side top-k order."""
    from collections import defaultdict

    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.plans.northstar_pipeline import HITS_TOPK
    from kafka_streams_playground_spark.sources.parquet import load_table

    ords = {
        r["o_orderkey"]: r["o_custkey"]
        for r in load_table(spark, sf_dir, "orders").collect()
    }
    e = set()
    for r in load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey").collect():
        if r["l_orderkey"] in ords:
            e.add((ords[r["l_orderkey"]], r["l_suppkey"]))
    a = defaultdict(int)
    for c, s in e:
        a[s] += 1
    for _ in range(1):  # one more mutual round: h1 <- a1, a2 <- h1, h2 <- a2
        h = defaultdict(int)
        for c, s in e:
            h[c] += a[s]
        a2 = defaultdict(int)
        for c, s in e:
            a2[s] += h[c]
        h2 = defaultdict(int)
        for c, s in e:
            h2[c] += a2[s]
    top_a = sorted(a2.items(), key=lambda t: (-t[1], t[0]))[:HITS_TOPK]
    top_h = sorted(h2.items(), key=lambda t: (-t[1], t[0]))[:HITS_TOPK]
    want = {
        ("authority", n, sc, i + 1) for i, (n, sc) in enumerate(top_a)
    } | {("hub", n, sc, i + 1) for i, (n, sc) in enumerate(top_h)}
    got = {
        (r["side"], r["node_id"], r["score"], r["rk"])
        for r in REGISTRY["graph_hits_hubs_authorities"].fn(spark, sf_dir).collect()
    }
    assert got == want


def test_adamic_adar_matches_pure_python(spark, sf_dir):
    """graph_adamic_adar_links: every pair score equals a pure-Python
    recomputation (snapped per-center weights, exact integer sums), and
    Adamic-Adar ranks a rare shared witness above an equally-common but
    hubbier one wherever the two orders differ."""
    import math
    from collections import defaultdict

    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.plans.northstar_pipeline import (
        RELATED_MIN_COMMON,
        _support_edges,
    )

    edges = {(r["s"], r["t"]) for r in _support_edges(spark, sf_dir).collect()}
    nbrs = defaultdict(set)
    for s, t in edges:
        nbrs[s].add(t)
        nbrs[t].add(s)
    want = {}
    for v, ns in nbrs.items():
        d = len(ns)
        if d < 2:
            continue
        aa9 = math.floor(1_000_000_000 / math.log(d) + 0.5)
        ns_sorted = sorted(ns)
        for i, a in enumerate(ns_sorted):
            for b in ns_sorted[i + 1 :]:
                c, s = want.get((a, b), (0, 0))
                want[(a, b)] = (c + 1, s + aa9)
    want = {k: v for k, v in want.items() if v[0] >= RELATED_MIN_COMMON}
    got = {
        (r["part_a"], r["part_b"]): (r["common"], r["adamic_adar_e9"])
        for r in REGISTRY["graph_adamic_adar_links"].fn(spark, sf_dir).collect()
    }
    assert got == want and len(got) > 0


def test_cdc_chunks_are_shift_resistant(spark, sf_dir):
    """dedup_cdc_chunks: the motivating property — prepending one token to a
    document changes only the chunking of its FIRST chunk; every chunk
    after the first boundary is byte-identical. (Fixed-width chunking
    shifts every downstream chunk; CDC re-chunks locally.) Also pins the
    boundary rule against a pure-Python replication on real fixture
    docs."""
    import hashlib

    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.plans.northstar_dedup import CDC_P
    from kafka_streams_playground_spark.sources.parquet import load_table

    def boundary(tok: str) -> bool:
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % CDC_P == 0

    def chunks(text: str) -> list[str]:
        out, cur = [], []
        for t in text.split(" "):
            if boundary(t) and cur:
                out.append(" ".join(cur))
                cur = []
            cur.append(t)
        if cur:
            out.append(" ".join(cur))
        return out

    texts = [
        r["text"]
        for r in load_table(spark, sf_dir, "documents").limit(20).collect()
    ]
    shifted_docs = 0
    for t in texts:
        base, pre = chunks(t), chunks("zqx " + t)
        # all chunks after the first boundary survive the prepend
        if len(base) >= 2:
            assert pre[-(len(base) - 1):] == base[1:], t[:50]
            shifted_docs += 1
    assert shifted_docs > 0

    # and the registered query's per-chunk counts equal the pure-Python
    # replication over the whole fixture corpus
    from collections import Counter, defaultdict

    occ: Counter = Counter()
    docs_of = defaultdict(set)
    first = {}
    ntok = {}
    for r in load_table(spark, sf_dir, "documents").collect():
        for c in chunks(r["text"]):
            h = hashlib.md5(c.encode()).hexdigest()
            occ[h] += 1
            docs_of[h].add(r["doc_id"])
            first[h] = min(first.get(h, r["doc_id"]), r["doc_id"])
            ntok[h] = len(c.split(" "))
    want = {
        h: (ntok[h], n, len(docs_of[h]), first[h])
        for h, n in occ.items()
        if n >= 2
    }
    got = {
        r["chunk_hash"]: (r["n_tokens"], r["n_occurrences"], r["n_docs"], r["first_doc"])
        for r in REGISTRY["dedup_cdc_chunks"].fn(spark, sf_dir).collect()
    }
    assert got == want and len(got) > 0


def test_centroid_outliers_match_pure_python(spark, sf_dir):
    """embedding_centroid_outliers: grid snap, floor-mean centroid, exact
    integer distances, and the per-label top-k order all equal a pure-Python
    replication."""
    import math
    from collections import defaultdict

    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.plans.northstar_similarity import (
        OUTLIER_TOPK,
    )
    from kafka_streams_playground_spark.sources.parquet import load_table

    by_label = defaultdict(list)
    for r in load_table(spark, sf_dir, "embeddings").collect():
        x6 = [math.floor(float(x) * 1_000_000 + 0.5) for x in r["embedding"]]
        by_label[r["label"]].append((r["vec_id"], x6))
    want = []
    for label, vecs in by_label.items():
        n = len(vecs)
        d = len(vecs[0][1])
        m = [sum(v[1][i] for v in vecs) // n for i in range(d)]  # // floors
        scored = sorted(
            (
                (sum((xi - mi) ** 2 for xi, mi in zip(x6, m)), vid)
                for vid, x6 in vecs
            ),
            key=lambda t: (-t[0], t[1]),
        )
        want += [
            (label, vid, dist, i + 1)
            for i, (dist, vid) in enumerate(scored[:OUTLIER_TOPK])
        ]
    got = sorted(
        (r["label"], r["vec_id"], r["dist12"], r["rk"])
        for r in REGISTRY["embedding_centroid_outliers"].fn(spark, sf_dir).collect()
    )
    assert got == sorted(want) and len(got) > 0


def test_gini_matches_pure_python_sorted_individuals(spark, sf_dir):
    """stats_gini_value_concentration: the grouped-grid rank-sum identity
    must equal the naive per-individual computation (sort, Σ i·x_(i)),
    and the ppm coefficient lands in [0, 1e6)."""
    import math
    from collections import defaultdict

    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.sources.parquet import load_table

    vals = defaultdict(list)
    for r in load_table(spark, sf_dir, "events").select("event_type", "value").collect():
        # Shared boundary rule (ADVICE r8): filter the RAW value — values in
        # (-0.005, 0) round to c=0 but are excluded by both engines.
        if r["value"] >= 0:
            vals[r["event_type"]].append(math.floor(r["value"] * 100 + 0.5))
    rows = {
        r["event_type"]: r
        for r in REGISTRY["stats_gini_value_concentration"].fn(spark, sf_dir).collect()
    }
    for et, xs in vals.items():
        xs.sort()
        n, s = len(xs), sum(xs)
        if s == 0:
            assert et not in rows
            continue
        s1 = sum((i + 1) * x for i, x in enumerate(xs))
        g = (2 * s1 - (n + 1) * s) * 1_000_000 // (n * s)
        r = rows[et]
        assert (r["n"], r["total_cents"], r["gini_ppm"]) == (n, s, g)
        assert 0 <= r["gini_ppm"] < 1_000_000


def test_welch_matches_pure_python_fractions(spark, sf_dir):
    """stats_welch_ttest_halves: the integer-polynomial t² must equal an
    exact-fraction Welch computation on the collected cents, per type."""
    import math
    from fractions import Fraction

    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.sources.parquet import load_table

    halves = {}
    for r in load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", "value"
    ).collect():
        c = math.floor(r["value"] * 100 + 0.5)
        halves.setdefault(r["event_type"], ([], []))[r["event_id"] % 2].append(c)
    rows = {
        r["event_type"]: r
        for r in REGISTRY["stats_welch_ttest_halves"].fn(spark, sf_dir).collect()
    }
    for et, (a, b) in halves.items():
        if len(a) <= 1 or len(b) <= 1:
            assert et not in rows
            continue
        ma, mb = Fraction(sum(a), len(a)), Fraction(sum(b), len(b))
        va = Fraction(sum((x - ma) ** 2 for x in a), len(a) - 1)
        vb = Fraction(sum((x - mb) ** 2 for x in b), len(b) - 1)
        se2 = va / len(a) + vb / len(b)
        if se2 == 0:
            assert et not in rows
            continue
        t2 = (ma - mb) ** 2 / se2
        r = rows[et]
        assert r["n_a"] == len(a) and r["n_b"] == len(b)
        assert r["mean_a_ppm"] == (sum(a) * 1_000_000) // len(a)
        assert r["mean_b_ppm"] == (sum(b) * 1_000_000) // len(b)
        assert r["t2_milli"] == (t2.numerator * 1000) // t2.denominator


def test_acf_matches_pure_python_fractions(spark, sf_dir):
    """ts_autocorrelation_lags: exact-fraction lag-k autocorrelation on the
    day-ordered daily cent sums, floor-divided onto the ppm grid."""
    import math
    from fractions import Fraction

    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.sources.parquet import load_table

    days = {}
    for r in (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr("unix_timestamp(ts) div 86400").alias("day"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("c"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("c").alias("v"))
        .collect()
    ):
        days.setdefault(r["event_type"], {})[r["day"]] = r["v"]
    rows = {
        (r["event_type"], r["lag"]): r
        for r in REGISTRY["ts_autocorrelation_lags"].fn(spark, sf_dir).collect()
    }
    seen = set()
    for et, series in days.items():
        xs = [series[d] for d in sorted(series)]
        n = len(xs)
        m = Fraction(sum(xs), n)
        den = sum((x - m) ** 2 for x in xs)
        for k in (1, 2, 3):
            if den == 0 or n <= k:
                assert (et, k) not in rows
                continue
            num = sum((xs[t] - m) * (xs[t - k] - m) for t in range(k, n))
            acf = Fraction(num, 1) / den
            r = rows[(et, k)]
            seen.add((et, k))
            assert r["n_days"] == n
            assert r["acf_ppm"] == (acf.numerator * 1_000_000) // acf.denominator
            assert -1_000_000 <= r["acf_ppm"] <= 1_000_000
    assert seen == set(rows)


def test_spearman_matches_pure_python(spark, sf_dir):
    """ts_spearman_daily_trend: the d² formula on the deterministic
    (v, day) tie-broken permutation ranks, floor-divided onto ppm."""
    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.sources.parquet import load_table

    days = {}
    for r in (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr("unix_timestamp(ts) div 86400").alias("day"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("c"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("c").alias("v"))
        .collect()
    ):
        days.setdefault(r["event_type"], {})[r["day"]] = r["v"]
    rows = {
        r["event_type"]: r
        for r in REGISTRY["ts_spearman_daily_trend"].fn(spark, sf_dir).collect()
    }
    for et, series in days.items():
        ds = sorted(series)
        n = len(ds)
        rx = {d: i + 1 for i, d in enumerate(ds)}
        ry = {d: i + 1 for i, d in enumerate(sorted(ds, key=lambda d: (series[d], d)))}
        d2 = sum((rx[d] - ry[d]) ** 2 for d in ds)
        r = rows[et]
        assert (r["n_days"], r["d2"]) == (n, d2)
        assert r["rho_ppm"] == ((n * (n * n - 1) - 6 * d2) * 1_000_000) // (
            n * (n * n - 1)
        )
        assert -1_000_000 <= r["rho_ppm"] <= 1_000_000


def test_spearman_division_survives_bigint_cap(spark):
    """The widened final division (DECIMAL(38,0) Spark-side, HUGEINT in
    the oracle — VERDICT r9 item 7): on a 23 000-day grid n(n²−1)·10⁶
    ≈ 1.2e19 passes 2⁶³ ≈ 9.2e18, where the pre-widening LONG arithmetic
    wrapped silently. Pinned against exact Python bignum arithmetic."""
    from kafka_streams_playground_spark.plans.temporal import spearman_rho_from_grid

    n = 23_000
    assert n * (n * n - 1) * 1_000_000 > 2**63  # the grid is past the cap
    grid = spark.range(n).select(
        F.lit("t").alias("event_type"),
        F.col("id").alias("day"),
        # Knuth-hash mix so the value order is a nontrivial permutation of
        # the day order; identical formula evaluated in Python below
        ((F.col("id") * 2654435761) % 1000003 - 500000).alias("v"),
    )
    got = spearman_rho_from_grid(grid).collect()
    assert len(got) == 1
    vals = {d: (d * 2654435761) % 1000003 - 500000 for d in range(n)}
    ry = {d: i + 1 for i, d in enumerate(sorted(vals, key=lambda d: (vals[d], d)))}
    d2 = sum((d + 1 - ry[d]) ** 2 for d in range(n))
    den = n * (n * n - 1)
    r = got[0]
    assert (r["n_days"], r["d2"]) == (n, d2)
    assert r["rho_ppm"] == ((den - 6 * d2) * 1_000_000) // den


def test_heaps_fit_matches_pure_python(spark, sf_dir):
    """text_heaps_law_fit: replicate the bucketed growth series and the
    1e-6-grid log-log OLS in pure Python; β must land in (0, 1) on the
    shingle-type curve (the unigram curve is degenerate — the docstring's
    point)."""
    import math
    from collections import defaultdict

    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.plans.northstar_text import HEAPS_BUCKETS
    from kafka_streams_playground_spark.sources.parquet import load_table

    tok_per_bkt = defaultdict(int)
    first_seen = {}
    for r in load_table(spark, sf_dir, "documents").select("doc_id", "text").collect():
        toks = r["text"].split(" ")
        if len(toks) >= 3:
            sh = set(" ".join(toks[i : i + 3]) for i in range(len(toks) - 2))
        else:
            sh = {" ".join(toks)}
        b = r["doc_id"] % HEAPS_BUCKETS
        tok_per_bkt[b] += len(sh)
        for g in sh:
            first_seen[g] = min(first_seen.get(g, b), b)
    new_per_bkt = defaultdict(int)
    for g, b in first_seen.items():
        new_per_bkt[b] += 1
    cum_tok = cum_voc = 0
    pts = []
    for b in sorted(tok_per_bkt):
        cum_tok += tok_per_bkt[b]
        cum_voc += new_per_bkt[b]
        pts.append(
            (
                math.floor(math.log(cum_tok) * 1_000_000 + 0.5),
                math.floor(math.log(cum_voc) * 1_000_000 + 0.5),
            )
        )
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts)
    sxx = sum(x * x for x, _ in pts)
    num, den = n * sxy - sx * sy, n * sxx - sx * sx
    beta = math.floor(num * 1.0 / den * 10000 + 0.5) / 10000
    lnk = math.floor((sy - num * 1.0 / den * sx) / n / 1_000_000 * 10000 + 0.5) / 10000
    r = REGISTRY["text_heaps_law_fit"].fn(spark, sf_dir).collect()
    assert len(r) == 1
    assert (r[0]["n_points"], r[0]["heaps_beta"], r[0]["heaps_lnk"]) == (n, beta, lnk)
    assert 0.0 < r[0]["heaps_beta"] < 1.0


def test_clustering_coefficient_consistent_with_triangles(spark, sf_dir):
    """graph_clustering_coefficient: row-for-row consistent with
    graph_triangle_count (same substrate) — cc_ppm = 2·tri·1e6 //
    (deg·(deg−1)), degree-1 nodes excluded, cc in [0, 1e6]."""
    from kafka_streams_playground_spark.plans import REGISTRY

    tri = {
        r["part_id"]: (r["degree"], r["n_triangles"])
        for r in REGISTRY["graph_triangle_count"].fn(spark, sf_dir).collect()
    }
    cc = {
        r["part_id"]: r
        for r in REGISTRY["graph_clustering_coefficient"].fn(spark, sf_dir).collect()
    }
    assert set(cc) == {p for p, (d, _) in tri.items() if d >= 2}
    for p, r in cc.items():
        d, t = tri[p]
        assert (r["degree"], r["n_triangles"]) == (d, t)
        assert r["cc_ppm"] == (2 * t * 1_000_000) // (d * (d - 1))
        assert 0 <= r["cc_ppm"] <= 1_000_000


def test_chi2_drift_matches_pure_python(spark, sf_dir):
    """drift_chi2_event_type_halves: the cleared-of-division per-cell
    floor terms, the global statistic, and dof, recomputed with exact
    Python bignums from the raw contingency counts."""
    from collections import Counter

    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.sources.parquet import load_table

    counts = Counter(
        (r["event_type"], r["event_id"] % 2)
        for r in load_table(spark, sf_dir, "events")
        .select("event_type", "event_id")
        .collect()
    )
    types = sorted({t for t, _ in counts})
    ct = {h: sum(counts[(t, h)] for t in types) for h in (0, 1)}
    n = ct[0] + ct[1]

    def cell(obs, rt, c):
        return (obs * n - rt * c) ** 2 * 1_000_000 // (n * rt * c)

    contrib = {}
    for t in types:
        rt = counts[(t, 0)] + counts[(t, 1)]
        contrib[t] = cell(counts[(t, 0)], rt, ct[0]) + cell(
            counts[(t, 1)], rt, ct[1]
        )
    chi2 = sum(contrib.values())

    rows = {
        r["event_type"]: r
        for r in REGISTRY["drift_chi2_event_type_halves"].fn(spark, sf_dir).collect()
    }
    assert set(rows) == set(types)
    for t, r in rows.items():
        assert (r["n_a"], r["n_b"]) == (counts[(t, 0)], counts[(t, 1)])
        assert r["contrib_e6"] == contrib[t]
        assert r["chi2_e6"] == chi2
        assert r["dof"] == len(types) - 1


def test_mann_kendall_matches_pure_python(spark, sf_dir):
    """ts_mann_kendall_trend: S, tau_a, and the tie-corrected 18-scaled
    variance recomputed with exact Python ints from the day grid."""
    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.sources.parquet import load_table

    days = {}
    for r in (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr("unix_timestamp(ts) div 86400").alias("day"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("c"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("c").alias("v"))
        .collect()
    ):
        days.setdefault(r["event_type"], {})[r["day"]] = r["v"]
    rows = {
        r["event_type"]: r
        for r in REGISTRY["ts_mann_kendall_trend"].fn(spark, sf_dir).collect()
    }
    from collections import Counter

    for et, series in days.items():
        ds = sorted(series)
        n = len(ds)
        if n < 2:
            assert et not in rows
            continue
        s = sum(
            (series[ds[j]] > series[ds[i]]) - (series[ds[j]] < series[ds[i]])
            for i in range(n)
            for j in range(i + 1, n)
        )
        pairs = n * (n - 1) // 2
        tie18 = sum(
            c * (c - 1) * (2 * c + 5) for c in Counter(series.values()).values()
        )
        r = rows[et]
        assert (r["n_days"], r["n_pairs"], r["s_stat"]) == (n, pairs, s)
        assert r["tau_a_ppm"] == (s * 1_000_000) // pairs  # python // floors
        assert r["var_s_x18"] == n * (n - 1) * (2 * n + 5) - tie18
        assert -1_000_000 <= r["tau_a_ppm"] <= 1_000_000


def test_simpson_concentration_matches_pure_python(spark, sf_dir):
    """stats_simpson_user_concentration: the repeat-rate index and its
    inverse recomputed with exact Python ints from raw (type, user)
    counts, including the rep=0 NULL-inverse contract."""
    from collections import Counter

    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.sources.parquet import load_table

    counts = Counter(
        (r["event_type"], r["user_id"])
        for r in load_table(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .collect()
    )
    per_type = {}
    for (et, _), c in counts.items():
        ne, nu, rep = per_type.get(et, (0, 0, 0))
        per_type[et] = (ne + c, nu + 1, rep + c * (c - 1))
    rows = {
        r["event_type"]: r
        for r in REGISTRY["stats_simpson_user_concentration"].fn(spark, sf_dir).collect()
    }
    assert set(rows) == {et for et, (ne, _, _) in per_type.items() if ne > 1}
    for et, r in rows.items():
        ne, nu, rep = per_type[et]
        assert (r["n_events"], r["n_users"]) == (ne, nu)
        assert r["simpson_ppm"] == rep * 1_000_000 // (ne * (ne - 1))
        if rep > 0:
            assert r["inv_simpson_e6"] == ne * (ne - 1) * 1_000_000 // rep
            assert r["inv_simpson_e6"] >= 1_000_000  # effective count >= 1
        else:
            assert r["inv_simpson_e6"] is None


def test_degree_oriented_triangles_match_bruteforce_on_adversarial_graphs(
    spark, sf_dir, monkeypatch
):
    """node_triangle_degrees under the Suri-Vassilvitskii orientation must
    enumerate each triangle EXACTLY once on graphs the fixtures don't
    stress: a hub wheel (one max-degree node in every triangle), a clique
    (all degrees tied — the (degree, id) tie-break does all the work),
    and a deterministic random graph. Pinned against brute-force Python
    triangle counting per node."""
    from itertools import combinations

    from kafka_streams_playground_spark.plans import northstar_pipeline as NP

    def check(edges):
        edges = sorted({(min(a, b), max(a, b)) for a, b in edges if a != b})
        df = spark.createDataFrame(edges, "s long, t long")
        monkeypatch.setattr(NP, "_support_edges", lambda *_: df)
        got = {
            r["part_id"]: (r["degree"], r["n_triangles"])
            for r in NP.node_triangle_degrees(spark, sf_dir).collect()
        }
        adj = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        want = {}
        for v in adj:
            tri = sum(
                1 for x, y in combinations(sorted(adj[v]), 2) if y in adj.get(x, ())
            )
            want[v] = (len(adj[v]), tri)
        assert got == want

    # hub wheel: node 0 joins every rim node; rim is a cycle — every
    # triangle contains the hub, whose raw degree would dominate an
    # unoriented wedge join
    rim = list(range(1, 12))
    wheel = [(0, v) for v in rim] + [
        (rim[i], rim[(i + 1) % len(rim)]) for i in range(len(rim))
    ]
    check(wheel)
    # clique K7: C(7,3)=35 triangles, all degrees equal — orientation
    # falls back entirely to the id tie-break
    check([(a, b) for a, b in combinations(range(7), 2)])
    # deterministic pseudo-random graph (Knuth-hash edge pick)
    rand = [
        (i % 23, (i * 2654435761) % 23)
        for i in range(160)
    ]
    check(rand)


def test_kappa_and_ece_match_pure_python(spark, sf_dir):
    """eval_rater_agreement_kappa + eval_score_calibration_ece recomputed
    with exact Python ints from the raw documents table: both raters'
    verdicts, the four confusion cells, the po/pe/kappa ppm floors, the
    affine confidence map, the 10-bin grid, and the headline ECE row —
    bit-equality on every column."""
    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.plans.northstar_scoring import (
        CAL_BIN_MAX,
        CAL_BIN_W,
        CAL_LO_E6,
        CAL_SPAN_E6,
        QC_BIAS_E6,
        QC_TH_E6,
        QC_W_LEN_E6,
        QC_W_STOP_E6,
        QC_W_TTR_E6,
        RATER_B_STOP_E6,
        RATER_B_TTR_E6,
    )
    from kafka_streams_playground_spark.plans.northstar_text import STOPWORDS
    from kafka_streams_playground_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    cells = {"a": 0, "b": 0, "c": 0, "d": 0}
    bins = {}
    for r in docs:
        toks = r["text"].split(" ")
        nt, nd = len(toks), len(set(toks))
        ns = sum(1 for x in toks if x in STOPWORDS)
        logit = (
            (QC_W_TTR_E6 * nd) // nt
            - (QC_W_STOP_E6 * ns) // nt
            + (QC_W_LEN_E6 * min(nt, 256)) // 256
            + QC_BIAS_E6
        )
        ra = int(logit >= QC_TH_E6)
        rb = int(
            (1_000_000 * nd) // nt >= RATER_B_TTR_E6
            and (1_000_000 * ns) // nt <= RATER_B_STOP_E6
        )
        cells["a" if ra and rb else "b" if ra else "c" if rb else "d"] += 1
        conf = min(max(logit - CAL_LO_E6, 0) * 1_000_000 // CAL_SPAN_E6, 1_000_000)
        bk = min(conf // CAL_BIN_W, CAL_BIN_MAX)
        n, sc, np_ = bins.get(bk, (0, 0, 0))
        bins[bk] = (n + 1, sc + conf, np_ + rb)

    a, b, c, d = cells["a"], cells["b"], cells["c"], cells["d"]
    n = a + b + c + d
    pe_num = (a + b) * (a + c) + (c + d) * (b + d)
    po_num = n * (a + d)
    row = REGISTRY["eval_rater_agreement_kappa"].fn(spark, sf_dir).collect()[0]
    assert (
        row["n_docs"],
        row["both_keep"],
        row["only_classifier"],
        row["only_heuristic"],
        row["both_drop"],
    ) == (n, a, b, c, d)
    assert row["po_ppm"] == 1_000_000 * po_num // (n * n)
    assert row["pe_ppm"] == 1_000_000 * pe_num // (n * n)
    den = n * n - pe_num
    assert den > 0  # non-degenerate on the fixture corpus
    assert row["kappa_ppm"] == 1_000_000 * (po_num - pe_num) // den  # python // floors

    got = {
        r["bin"]: (r["n_docs"], r["sum_conf_ppm"], r["n_pos"], r["gap_ppm"])
        for r in REGISTRY["eval_score_calibration_ece"].fn(spark, sf_dir).collect()
    }
    for bk, (nb, sc, np_) in bins.items():
        assert got[bk] == (nb, sc, np_, abs(sc - 1_000_000 * np_) // nb), bk
    ece_num = sum(abs(sc - 1_000_000 * np_) for nb, sc, np_ in bins.values())
    assert got[-1] == (
        n,
        sum(sc for _, sc, _ in bins.values()),
        sum(np_ for _, _, np_ in bins.values()),
        ece_num // n,
    )
    assert len(got) == len(bins) + 1


def test_kappa_negative_sign_safe(spark, tmp_path):
    """Worse-than-chance raters must yield a NEGATIVE kappa_ppm with the
    sign-safe (mathematical) floor in BOTH engines — the case the pmod
    form exists for. Fixture: rater A keeps long diverse docs with heavy
    stopword density (rb=0: stop > 0.10); rater B keeps short diverse
    stopword-free docs below the logit threshold (ra=0) — all mass in
    the disagreement cells."""
    from tests.test_boundaries import _spark_vs_oracle

    # b-cell docs (ra=1, rb=0): 200 distinct words + 40 'the' fillers ->
    # TTR ~0.83, stop ~0.167, lensat 240/256: logit ~ 1.66M-0.25M+0.75M-0.4M
    b_doc = " ".join([f"w{i}" for i in range(200)] + ["the"] * 40)
    # c-cell docs (ra=0, rb=1): 25 tokens, 18 distinct (TTR 0.72), no
    # stopwords: logit = 1.44M + 78k - 400k = 1.118M < 1.2M
    c_doc = " ".join([f"v{i}" for i in range(18)] + ["v0"] * 7)
    rows = [(i, b_doc if i % 2 else c_doc, "en", "src0") for i in range(8)]
    df = spark.createDataFrame(
        [(i, t, lang, s, len(t)) for i, t, lang, s in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    got, want = _spark_vs_oracle(
        spark, str(tmp_path), "eval_rater_agreement_kappa", table="documents"
    )
    assert got == want
    from kafka_streams_playground_spark.plans import REGISTRY

    r = REGISTRY["eval_rater_agreement_kappa"].fn(spark, str(tmp_path)).collect()[0]
    assert (r["both_keep"], r["both_drop"]) == (0, 0)
    assert r["only_classifier"] == 4 and r["only_heuristic"] == 4
    # pure-python mathematical floor: po=0, pe_num=2*16, n^2=64
    assert r["kappa_ppm"] == 1_000_000 * (0 - 32) // (64 - 32) == -1_000_000
