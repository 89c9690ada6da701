"""Physical-plan property tests: the scale guarantees SCALE.md documents
must hold in the actual plans, not just in prose. A regression that drops a
pushed filter, un-broadcasts the GlobalKTable dim, or turns the as-of join
into a range join changes these strings."""

from __future__ import annotations

import io
import re

import pytest
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from kafka_streams_playground_spark.plans import REGISTRY


def _plan(spark, sf_dir, name: str) -> str:
    df = REGISTRY[name].fn(spark, sf_dir)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q1_filter_pushed_to_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q1_expensive_orders")
    assert re.search(r"PushedFilters:.*GreaterThanOrEqual\(o_totalprice", plan), plan


def test_registry_keeps_explicit_shuffle_partitions(spark, sf_dir, monkeypatch):
    """The registry wrapper re-applies the runtime confs before every query.
    Defaults the caller set (shuffle count, AQE, state-store provider) must
    survive it, and an unset count must become the session's cores. A
    caller's provider also leaves the join state format unforced, and a
    format 3 left on a non-RocksDB provider is unset: format 3 fails on the
    HDFS-backed provider."""
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE", raising=False)
    key = "spark.sql.shuffle.partitions"
    fmt = "spark.sql.streaming.join.stateFormatVersion"
    caller = {
        key: "7",
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
        ),
    }
    old = {k: spark.conf.get(k) for k in [*caller, fmt]}
    try:
        for k, v in caller.items():
            spark.conf.set(k, v)
        spark.conf.unset(fmt)
        REGISTRY["q1_expensive_orders"].fn(spark, sf_dir)
        assert {k: spark.conf.get(k) for k in caller} == caller
        assert not spark._jsparkSession.conf().contains(fmt)
        # the defaults set format 3 before the caller switched provider
        spark.conf.set(fmt, "3")
        REGISTRY["q1_expensive_orders"].fn(spark, sf_dir)
        assert not spark._jsparkSession.conf().contains(fmt)
        spark.conf.unset(key)
        REGISTRY["q1_expensive_orders"].fn(spark, sf_dir)
        assert spark.conf.get(key) == str(spark.sparkContext.defaultParallelism)
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_q1_column_pruning(spark, sf_dir):
    """Only the six projected columns may reach the scan ReadSchema."""
    plan = _plan(spark, sf_dir, "q1_expensive_orders")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {
        "o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority",
    }


def test_q5_globalktable_is_broadcast(spark, sf_dir):
    """The GlobalKTable dim (J2) must be a broadcast join — the semantic
    contract of full replication (KafkaStreamsApp.scala:159-160)."""
    plan = _plan(spark, sf_dir, "q5_paid_orders")
    assert "BroadcastHashJoin" in plan, plan


def test_q5_linestatus_filter_pushed(spark, sf_dir):
    """The joiner's status=='PAID' predicate (:179-180) must reach the
    payments scan, not run post-join."""
    plan = _plan(spark, sf_dir, "q5_paid_orders")
    assert re.search(r"PushedFilters:.*EqualTo\(l_linestatus,F\)", plan), plan


def test_asof_join_is_not_a_range_join(spark, sf_dir):
    """The as-of join must plan as exchange+sort+window, never as a
    nested-loop/cartesian candidate join."""
    plan = _plan(spark, sf_dir, "asof_purchase_last_click")
    assert "Window" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_aggregates_have_partial_final_split(spark, sf_dir):
    """Map-side partial aggregation must precede the exchange (the shuffle
    carries per-group partials, not raw rows)."""
    plan = _plan(spark, sf_dir, "agg_pricing_summary")
    assert plan.count("HashAggregate") >= 2, plan
    assert "Exchange" in plan, plan


def test_minhash_band_join_carries_no_arrays(spark, sf_dir):
    """The LSH candidate self-join must not shuffle the shingle arrays —
    only (doc_id, band_idx, bucket) rides the exchange."""
    plan = _plan(spark, sf_dir, "dedup_minhash_lsh")
    joins = re.findall(r"SortMergeJoin.*|ShuffledHashJoin.*|BroadcastHashJoin.*", plan)
    assert joins, plan
    # the band-collision join keys are (band_idx, bucket)
    assert re.search(r"band_idx.*bucket|bucket.*band_idx", plan), plan


def test_kmv_sketch_accuracy_and_plan(spark, sf_dir):
    """The KMV estimate must be within 3 standard errors (3/sqrt(K)) of the
    exact distinct count, and the plan must take the TakeOrderedAndProject
    path (per-partition bottom-K, K-row merge) — not a global sort."""
    from kafka_streams_playground_spark.plans.relational import KMV_K
    from kafka_streams_playground_spark.sources.parquet import load_table

    row = REGISTRY["agg_kmv_distinct_sketch"].fn(spark, sf_dir).collect()[0]
    exact = load_table(spark, sf_dir, "orders").select("o_custkey").distinct().count()
    if row["k_n"] < KMV_K:
        assert row["est_distinct"] == exact
    else:
        assert abs(row["est_distinct"] - exact) / exact <= 3.0 / (KMV_K**0.5)
    plan = _plan(spark, sf_dir, "agg_kmv_distinct_sketch")
    assert "TakeOrderedAndProject" in plan, plan


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """Two tables bucketed on the join key with equal bucket counts must
    join with ZERO Exchange nodes — bucketing is the layout that makes
    repeated fact-fact joins shuffle-free at 100 TB (SCALE.md §2;
    sinks.write_bucketed_table). Broadcast is disabled so the assertion
    exercises the sort-merge path a 100 TB join would actually take."""
    from kafka_streams_playground_spark.sources.parquet import load_table
    from kafka_streams_playground_spark.sources.sinks import write_bucketed_table

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed_table(orders, "bt_orders", ("o_orderkey",), n_buckets=8,
                         sort_cols=("o_orderkey",))
    write_bucketed_table(li, "bt_lineitem", ("l_orderkey",), n_buckets=8,
                         sort_cols=("l_orderkey",))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        bo = spark.table("bt_orders")
        bl = spark.table("bt_lineitem")
        j = bo.join(bl, bo["o_orderkey"] == bl["l_orderkey"])
        import io
        from contextlib import redirect_stdout

        buf = io.StringIO()
        with redirect_stdout(buf):
            j.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        # and the result is still correct
        n = j.count()
        plain = orders.join(li, orders["o_orderkey"] == li["l_orderkey"]).count()
        assert n == plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bt_orders")
        spark.sql("DROP TABLE IF EXISTS bt_lineitem")


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """A filter on the partition column of a partitioned-parquet layout must
    plan as a PartitionFilter (directory pruning — scans only the matching
    partition), not a data filter over all files. This is the sink-side
    layout contract of sinks.write_parquet(partition_cols=...) at 100 TB."""
    from kafka_streams_playground_spark.sources.parquet import load_table
    from kafka_streams_playground_spark.sources.sinks import write_parquet

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    out = str(tmp_path / "orders_by_prio")
    write_parquet(orders, out, partition_cols=("o_orderpriority",))
    rd = spark.read.parquet(out).filter(F.col("o_orderpriority") == "1-URGENT")
    buf = io.StringIO()
    with redirect_stdout(buf):
        rd.explain("formatted")
    plan = buf.getvalue()
    assert re.search(r"PartitionFilters: \[.*o_orderpriority.*1-URGENT", plan), plan
    n = rd.count()
    plain = orders.filter(F.col("o_orderpriority") == "1-URGENT").count()
    assert n == plain > 0


def test_bloom_prefilter_prunes_before_join(spark, sf_dir):
    """The bloom probe must remove most non-matching lineitem rows BEFORE
    the join (map-side), and never remove a matching one (no false
    negatives — guaranteed by construction, checked anyway)."""
    from pyspark.sql import functions as F

    from kafka_streams_playground_spark.plans.relational import (
        join_bloom_prefiltered_urgent_items,
    )
    from kafka_streams_playground_spark.sources.parquet import load_table

    out = join_bloom_prefiltered_urgent_items(spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    exact = (
        li.join(urgent, li["l_orderkey"] == urgent["o_orderkey"])
        .groupBy("l_orderkey")
        .count()
    )
    # no false negatives: every matching order key appears in the output
    assert out.count() == exact.count()
    # the probe's selectivity: pruned row count is far below the full scan
    # (urgent ≈ 1/5 of orders; bloom FP rate ~0.2% at these parameters)
    from kafka_streams_playground_spark.plans.relational import bloom_prefilter

    n_all = li.count()
    n_matching = li.join(urgent, li["l_orderkey"] == urgent["o_orderkey"]).count()
    hits = bloom_prefilter(li, urgent, "l_orderkey", "o_orderkey").count()
    assert n_matching <= hits < n_all
    # pruning is effective: bloom passes at most matching + 5% of the rest
    assert hits <= n_matching + 0.05 * (n_all - n_matching)


def test_shipping_priority_plans_heap_topk(spark, sf_dir):
    """The global top-10 must plan as TakeOrderedAndProject (per-partition
    heaps merged on the driver), never a global Sort + Limit."""
    plan = _plan(spark, sf_dir, "q_shipping_priority_top10")
    assert "TakeOrderedAndProject" in plan, plan


def test_salted_join_is_shuffle_not_broadcast(spark, sf_dir):
    """The salted-join demo must actually exercise the shuffle path (the
    pattern exists for dims too big to broadcast): no BroadcastHashJoin
    for the (event_type, salt) join."""
    plan = _plan(spark, sf_dir, "join_salted_skew_above_avg")
    assert "ShuffledHashJoin" in plan, plan
    # the dim aggregate itself may plan however it likes; the salted join
    # key must include the salt column so 80 co-partitions exist
    assert re.search(r"Left keys \[2\]: \[event_type#\d+, salt#\d+", plan), plan


def test_shipping_priority_pushdown_and_heap(spark, sf_dir):
    """TPC-H Q3 shape: the segment filter must reach the customer scan
    (PushedFilters) so the join sees a pruned build side."""
    plan = _plan(spark, sf_dir, "q_shipping_priority_top10")
    assert re.search(r"PushedFilters:.*EqualTo\(c_mktsegment,BUILDING\)", plan), plan


def test_unigram_lm_vocab_join_is_broadcast(spark, sf_dir):
    """The LM scoring join must broadcast the vocabulary-sized model table —
    a shuffled corpus-vs-vocab join would be the 100 TB mistake."""
    plan = _plan(spark, sf_dir, "text_unigram_lm_score")
    assert "BroadcastHashJoin" in plan, plan


def test_q5_volume_broadcasts_dims_and_pushes_date(spark, sf_dir):
    """TPC-H Q5 shape: region/nation/supplier must broadcast (never shuffle
    lineitem against a dim) and the order-year filter must reach the orders
    scan — the two properties that keep the 6-way join viable at 100 TB."""
    plan = _plan(spark, sf_dir, "q_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "CartesianProduct" not in plan, plan
    assert re.search(
        r"PushedFilters:.*GreaterThanOrEqual\(o_orderdate", plan
    ), plan
    assert re.search(r"PushedFilters:.*EqualTo\(r_name,ASIA\)", plan), plan


def test_bm25_broadcasts_model_and_heaps_topk(spark, sf_dir):
    """BM25: the df/avgdl model tables must broadcast (vocabulary-sized),
    and the global top-k must be TakeOrderedAndProject, not Sort+Limit."""
    plan = _plan(spark, sf_dir, "text_bm25_topk")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_knn_query_filter_pushed_and_no_cartesian(spark, sf_dir):
    """KNN classify: the query-set filter (vec_id < N_QUERIES) must reach
    the scan, and the scoring join must be the broadcast form (the corpus
    side never shuffles)."""
    plan = _plan(spark, sf_dir, "knn_label_vote")
    assert re.search(r"PushedFilters:.*LessThan\(vec_id,5\)", plan), plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan


def test_nearest_asof_is_one_window_no_range_join(spark, sf_dir):
    """Nearest as-of: BOTH direction frames must be served by a single
    Window operator over one sort (same partitioning+ordering), and the
    tolerance must never plan as a range/nested-loop candidate join."""
    plan = _plan(spark, sf_dir, "asof_nearest_click")
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_ewma_taps_share_one_window(spark, sf_dir):
    """All eight dyadic lag taps must evaluate in ONE Window operator over
    one per-user sort — eight separate window passes would be the
    regression."""
    plan = _plan(spark, sf_dir, "ts_ewma_user_daily")
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan
    assert "Join" not in plan, plan


def test_decontaminate_broadcasts_benchmark(spark, sf_dir):
    """The removal pass must keep the contamination check's broadcast of the
    benchmark shingle set (corpus side never shuffles against it)."""
    plan = _plan(spark, sf_dir, "decontaminate_corpus")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_dataset_card_is_joinless_single_pass(spark, sf_dir):
    """The dataset card is one aggregate over one scan — any join in this
    plan means someone re-derived a side table instead of folding."""
    plan = _plan(spark, sf_dir, "pipeline_dataset_card")
    assert "Join" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan  # partial/final split


def test_vocab_coverage_rank_over_topk_only(spark, sf_dir):
    """The coverage sweep must truncate with a distributed two-phase top-k
    (TakeOrderedAndProject: per-partition top-max_n, merged once) BEFORE
    any ranking window — the only window runs over the ≤max_n survivor
    rows, never the full vocabulary (r5 verdict: a global rank over a
    web-scale 10⁸⁺-term vocab on one task). N-spine joins broadcast."""
    plan = _plan(spark, sf_dir, "tokenizer_vocab_coverage")
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan


def test_zipf_rank_is_range_partitioned(spark, sf_dir):
    """Zipf needs EVERY term's rank, so instead of a global window the plan
    must range-partition the vocab and compose rank = partition prefix
    offset + per-partition row_number: the heavy row_number window is
    partitioned by pid (parallel); the only unpartitioned window is the
    prefix-sum over the |partitions|-row count table (O(config))."""
    plan = _plan(spark, sf_dir, "text_zipf_fit")
    assert "rangepartitioning" in plan.lower(), plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    ranked = [s for s in specs if "cnt" in s and "token" in s]
    assert ranked and all(s.startswith("pid") for s in ranked), specs


def test_containment_band_join_carries_no_arrays(spark, sf_dir):
    """Containment shares the LSH candidate machinery: the band self-join
    must shuffle only (doc_id, band_idx, bucket), never the hash arrays."""
    plan = _plan(spark, sf_dir, "dedup_containment_lsh")
    assert re.search(r"band_idx.*bucket|bucket.*band_idx", plan), plan


def test_pagerank_broadcasts_rank_vector(spark, sf_dir):
    """Each PageRank iteration must broadcast the |nodes|-row rank vector
    against the persisted edge table — Catalyst's size estimate for the
    derived aggregate would otherwise re-shuffle BOTH sides every
    iteration (the skill-noted wrong-side trap for post-aggregate joins)."""
    plan = _plan(spark, sf_dir, "graph_copurchase_pagerank")
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "InMemoryRelation" in plan, plan  # edge table persisted once


def test_chunk_manifest_is_shuffle_free(spark, sf_dir):
    """chunk_documents_overlap claims a pure map-side plan: one scan,
    sequence->explode->slice, NO Exchange anywhere."""
    plan = _plan(spark, sf_dir, "chunk_documents_overlap")
    assert "Exchange" not in plan, plan


def test_substring_chunk_shuffle_carries_hash_not_text(spark, sf_dir):
    """dedup_substring_chunks must shuffle the md5 hash, never the chunk
    token array or document text (narrow-shuffle contract)."""
    plan = _plan(spark, sf_dir, "dedup_substring_chunks")
    exchanges = re.findall(r"Arguments: hashpartitioning\(([^,]+)", plan)
    assert exchanges, plan
    for key in exchanges:
        assert key.split("#")[0] in {"h", "doc_id"}, (key, exchanges)


def test_triangle_edges_built_once_and_reused(spark, sf_dir):
    """graph_triangle_count reads the persisted support-filtered edge table
    for wedges, closure, and degrees — the plan must show the in-memory
    relation, not three lineitem scan pipelines."""
    plan = _plan(spark, sf_dir, "graph_triangle_count")
    assert "InMemoryTableScan" in plan, plan
    scan_ids = set(re.findall(r"Scan parquet\s+\((\d+)\)", plan))
    assert len(scan_ids) == 1, (scan_ids, plan)


def test_triangle_wedges_are_degree_oriented(spark, sf_dir):
    """The triangle substrate orients edges by (degree, id) rank before the
    wedge join (Suri & Vassilvitskii MR-Node-Iterator++): the plan must
    carry the rank-comparison CASE WHEN (d_s < d_t with the id tie-break)
    that flips each edge low-rank→high-rank, and the wedge pair-ordering
    filter on the carried out-neighbor degrees (d_b / d_c) — so hub
    fan-out is bounded by the oriented out-degree, not the raw degree."""
    plan = _plan(spark, sf_dir, "graph_triangle_count")
    assert re.search(r"CASE WHEN \(\(d_s#\d+L? < d_t#\d+L?\)", plan), plan
    assert re.search(r"d_b#\d+L? < d_c#\d+L?", plan), plan
    assert "CartesianProduct" not in plan, plan


def test_unpivot_stack_adds_no_extra_shuffle(spark, sf_dir):
    """The stack() generator runs map-side on the pivot's aggregate output:
    no Exchange beyond the pivot's own groupBy and the join's."""
    plan = _plan(spark, sf_dir, "agg_unpivot_status_counts")
    piv = _plan(spark, sf_dir, "agg_pivot_status_by_segment")
    assert plan.count("Exchange") <= piv.count("Exchange"), (
        plan.count("Exchange"),
        piv.count("Exchange"),
    )


def test_order_gaps_single_custkey_shuffle(spark, sf_dir):
    """wf_order_gap_days: the window sort and the follow-up aggregate share
    ONE o_custkey hash partitioning — exactly one Exchange in the plan."""
    plan = _plan(spark, sf_dir, "wf_order_gap_days")
    assert len(re.findall(r"Arguments: hashpartitioning\(", plan)) == 1, plan


def test_scene_segments_single_docid_shuffle(spark, sf_dir):
    """mm_scene_change_segments: LAG delta, running-sum segment id, and the
    (doc, segment) aggregate all ride ONE doc_id hash partitioning."""
    plan = _plan(spark, sf_dir, "mm_scene_change_segments")
    assert len(re.findall(r"Arguments: hashpartitioning\(", plan)) == 1, plan


def test_quality_classifier_is_shuffle_free(spark, sf_dir):
    """quality_classifier_filter is pure Catalyst over one scan: no
    Exchange, no UDF, no join."""
    plan = _plan(spark, sf_dir, "quality_classifier_filter")
    assert "Exchange" not in plan, plan
    assert "Scan parquet" in plan, plan


def test_q8_market_share_dims_broadcast_filters_pushed(spark, sf_dir):
    """The 8-relation Q8 join tree: dimension filters reach their scans and
    the dims join broadcast; only the fact-fact edge may shuffle."""
    plan = _plan(spark, sf_dir, "q_market_share_promo_asia")
    assert re.search(r"PushedFilters:.*EqualTo\(p_type,PROMO\)", plan), plan
    assert re.search(r"PushedFilters:.*EqualTo\(r_name,ASIA\)", plan), plan
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert "CartesianProduct" not in plan, plan


def test_related_parts_share_edge_materialization(spark, sf_dir):
    """graph_related_parts_jaccard must read the persisted support-edge
    table (one parquet scan node total), like the triangle query."""
    plan = _plan(spark, sf_dir, "graph_related_parts_jaccard")
    assert "InMemoryTableScan" in plan, plan
    scan_ids = set(re.findall(r"Scan parquet\s+\((\d+)\)", plan))
    assert len(scan_ids) == 1, (scan_ids, plan)


def test_q10_pushdown_and_heap_topk(spark, sf_dir):
    """Q10: return-flag and date bounds reach their fact scans; the top-20
    is a per-partition heap (TakeOrderedAndProject), not a global sort."""
    plan = _plan(spark, sf_dir, "q_returned_item_top_customers")
    assert re.search(r"PushedFilters:.*EqualTo\(l_returnflag,R\)", plan), plan
    assert re.search(r"PushedFilters:.*GreaterThanOrEqual\(o_orderdate", plan), plan
    assert "TakeOrderedAndProject" in plan, plan


def test_line_filter_single_exchange_no_lambdas(spark, sf_dir):
    """C4 line filter: all string work codegen'd (no interpreted HOF
    lambdas — the r5 perf lesson), one explode, ONE wide exchange (the
    doc_id re-aggregation; listagg rides it as an ObjectHashAggregate)."""
    plan = _plan(spark, sf_dir, "text_line_filter")
    assert "lambdafunction" not in plan.lower(), plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "ObjectHashAggregate" in plan, plan


def test_lines_global_dedup_uses_join_not_window(spark, sf_dir):
    """Global line dedup must resolve first-occurrence via groupBy-min +
    join back (map-side partials absorb hot boilerplate lines; AQE can
    split skewed probe keys), never a min-over-window on the line key
    (which would pin every copy of a hot line to one task)."""
    plan = _plan(spark, sf_dir, "dedup_lines_global")
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 0, plan
    assert "CartesianProduct" not in plan, plan
    assert "lambdafunction" not in plan.lower(), plan


def test_q7_pair_filter_pushed_and_dims_broadcast(spark, sf_dir):
    """Q7: the two-nation In() filter must reach the nation scans and the
    shipdate band the lineitem scan; every dim side broadcasts — only the
    lineitem⋈orders fact edge may shuffle."""
    plan = _plan(spark, sf_dir, "q_volume_shipping_pair")
    assert re.search(r"PushedFilters:.*In\(n_name", plan), plan
    assert re.search(r"PushedFilters:.*GreaterThanOrEqual\(l_shipdate", plan), plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan


def test_q16_exclusion_is_broadcast_anti_join(spark, sf_dir):
    """Q16: the NOT-IN supplier exclusion must plan as a broadcast
    LeftAnti hash join (dim-bounded set), with brand/size pushed to the
    part scan."""
    plan = _plan(spark, sf_dir, "q_supplier_cnt_by_part")
    assert "LeftAnti" in plan, plan
    assert re.search(r"PushedFilters:.*Not\(EqualTo\(p_brand", plan), plan
    assert "SortMergeJoin" not in plan, plan


def test_q22_scalar_mean_broadcast_and_lapse_pushed(spark, sf_dir):
    """Q22: the positive-balance mean joins as a broadcast single row
    (nested-loop over ONE row, never a correlated re-scan) and the
    lapsed-since date bound pushes into the orders scan feeding the anti
    join."""
    plan = _plan(spark, sf_dir, "q_dormant_rich_customers")
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert re.search(
        r"PushedFilters:.*GreaterThanOrEqual\(o_orderdate,1999", plan
    ), plan
    assert "LeftAnti" in plan, plan


def test_q12_late_predicate_is_residual_not_range_join(spark, sf_dir):
    """Q12: the shipdate > orderdate + 90d comparison must ride the
    co-partitioned orderkey equi-join as a residual condition — the plan
    may not degrade to a nested-loop/cartesian range join — and the
    shipdate year band must push into the lineitem scan."""
    plan = _plan(spark, sf_dir, "q_late_shipment_priority")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert re.search(r"PushedFilters:.*GreaterThanOrEqual\(l_shipdate", plan), plan


def test_cusum_windows_share_one_sort(spark, sf_dir):
    """The CUSUM prefix identity stacks a running SUM and a running MIN
    over the SAME (event_type, ts, event_id) window spec — the plan must
    reuse one exchange+sort for both (two Window nodes, one Sort per
    series, no second shuffle), and the moment table must broadcast."""
    plan = _plan(spark, sf_dir, "ts_cusum_drift_per_type")
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 2, plan
    assert "BroadcastHashJoin" in plan, plan
    n_shuffles = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_shuffles <= 2, plan  # moment agg + the one series sort


def test_kmv_merge_equals_direct_sketch(spark, sf_dir):
    """The sketch-merge contract, exactly: the '__all__' row (K smallest of
    the union of per-type bottom-Ks) must equal the sketch built directly
    over ALL distinct user hashes — and the per-type rank must be the
    two-phase salted shape (both window specs present, no unpartitioned
    window)."""
    from kafka_streams_playground_spark.plans.relational import KMV_K
    from kafka_streams_playground_spark.sources.parquet import load_table

    rows = {r["scope"]: r for r in REGISTRY["agg_kmv_merge_by_type"].fn(spark, sf_dir).collect()}
    events = load_table(spark, sf_dir, "events").select("user_id")
    direct = (
        events.select(
            F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
            .cast("long")
            .alias("hv")
        )
        .distinct()
        .orderBy("hv")
        .limit(KMV_K)
    )
    import math

    k_n = direct.count()
    kth = direct.agg(F.max("hv")).first()[0]
    want = k_n if k_n < KMV_K else math.floor((KMV_K - 1) * float(2**32) / kth)
    assert rows["__all__"]["est_distinct"] == want
    plan = _plan(spark, sf_dir, "agg_kmv_merge_by_type")
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all(s.startswith("event_type") for s in specs), specs


@pytest.mark.slowaudit  # full-registry plan lint (~75 s each), opt-in (pytest.ini)
def test_plan_lint_no_cartesian_no_row_python(spark, sf_dir):
    """Registry-wide physical-plan lint: NO batch query may plan a
    CartesianProduct (a non-broadcast cartesian is never acceptable — the
    deliberate tiny-dim nested loops are BroadcastNestedLoopJoin, which
    this does not flag) and none may contain BatchEvalPython (a
    row-at-a-time Python UDF — every Python crossing must be Arrow-batched,
    i.e. ArrowEvalPython / mapInPandas / applyInPandas*). This guards the
    two regressions that silently destroy 100 TB viability; one test
    builds every batch plan (~1 min — iterative queries execute their
    fixpoint loops at plan-build time, which is also why this doubles as
    a does-every-query-still-compose smoke test)."""
    bad = {}
    for name, spec in REGISTRY.items():
        if name.startswith("stream_"):
            continue
        plan = _plan(spark, sf_dir, name)
        flags = []
        if "CartesianProduct" in plan:
            flags.append("CartesianProduct")
        if "BatchEvalPython" in plan:
            flags.append("BatchEvalPython")
        if flags:
            bad[name] = flags
    assert not bad, bad


# Queries ALLOWED an unpartitioned window, each bounded by construction —
# the window input is O(config), never corpus-scale (the r5/r6 sweep
# stance). Any new unpartitioned window must be consciously added here
# with its bound.
UNPARTITIONED_WINDOW_WHITELIST = {
    "pack_sequences": "bucket-total prefix sum over N/1000 rows",
    "sample_temperature_mix": "per-language aggregate rows",
    "text_zipf_fit": "prefix offsets over |range partitions| rows",
    "tokenizer_vocab_coverage": "rank over the <=max(N) TakeOrdered survivors",
    "retrieval_rrf_fusion": "rank over the two post-limit k-row candidate lists (k=20)",
    "stats_histogram_quantiles": "cumulative counts over the O(grid) bucket relation (~500 rows)",
    "layout_compaction_bins": "cumulative sizes over the manifest-sized file inventory",
    "ids_dense_global_rownum": "bucket-offset prefix sum over the O(n/W) bucket-count table (the row-level window partitions by bucket — pinned by test_dense_rownum_window_is_bucket_partitioned)",
    "drift_ks_value_halves": "cumulative CDF counts over the O(value grid) cents relation",
    "drift_mannwhitney_value_halves": "cumulative rank algebra over the same O(value grid) cents relation as the KS sibling",
    "stats_bootstrap_ci_mean": "replica-mean rank over the B=40-row replica table",
    "ts_cumulative_new_users": "running total over the calendar-bounded day spine",
    "curation_pareto_frontier": "strictly-above prefix max over the O(logit range / W) bucket-max relation",
    "text_heaps_law_fit": "cumulative token/vocab sums over the HEAPS_BUCKETS(=32)-row bucket relation",
}


@pytest.mark.slowaudit  # full-registry plan lint (~75 s each), opt-in (pytest.ini)
def test_plan_lint_unpartitioned_windows_whitelisted(spark, sf_dir):
    """Registry-wide sweep: the set of batch queries whose plans contain an
    unpartitioned window must EQUAL the documented whitelist — a global
    window over an unbounded input serializes onto one task at 100 TB
    (the failure mode fixed for zipf/coverage in r6 and for the unigram-LM
    corpus total right after); pinning set-equality means a fixed query
    must leave the list and a new offender cannot slip in."""
    def unpartitioned(plan):
        for m in re.finditer(
            r"windowspecdefinition\(([^)]*?)specifiedwindowframe", plan
        ):
            toks = [t.strip() for t in m.group(1).rstrip(", ").split(",") if t.strip()]
            if not toks or all(("ASC" in t or "DESC" in t) for t in toks):
                return True
        return False

    hits = set()
    for name, spec in REGISTRY.items():
        if name.startswith("stream_"):
            continue
        if unpartitioned(_plan(spark, sf_dir, name)):
            hits.add(name)
    assert hits == set(UNPARTITIONED_WINDOW_WHITELIST), (
        hits - set(UNPARTITIONED_WINDOW_WHITELIST),
        set(UNPARTITIONED_WINDOW_WHITELIST) - hits,
    )


def test_covariance_partials_never_materialize_nxd2(spark, sf_dir):
    """The Gram accumulation must be ONE Arrow mapInPandas pass emitting
    O(d^2) partial rows per batch — no posexplode (Generate) of the N*d
    coordinates and no self-join of them (the oracle's shape, which would
    shuffle N*d and explode to N*d^2); the diagonal join-back of the
    2 080-row aggregate must broadcast."""
    plan = _plan(spark, sf_dir, "embedding_covariance_matrix")
    assert "MapInPandas" in plan, plan
    assert "Generate" not in plan, plan
    assert len(re.findall(r"Location:[^\n]*embeddings", plan)) == 1, plan
    assert "BroadcastHashJoin" in plan, plan


def test_heavy_hitters_candidates_broadcast_counts_partial(spark, sf_dir):
    """agg_heavy_hitters_twopass: the candidate set and the corpus total
    must attach via broadcast (semi-join + 1-row cross join — the fact
    side never shuffles for them), the sketch pass must be Arrow-batched
    (MapInPandas, not row Python), and the only hash shuffle is the
    candidate recount."""
    plan = _plan(spark, sf_dir, "agg_heavy_hitters_twopass")
    assert "MapInPandas" in plan, plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # 1-row total attach
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("Exchange hashpartitioning(pair") <= 2, plan


def test_bfs_reuses_persisted_edges_no_cartesian(spark, sf_dir):
    """graph_bfs_hops: every relaxation round must probe the PERSISTED
    support-edge substrate (InMemoryTableScan; lineitem scanned at most
    once for the edge build) and plan equi-joins only."""
    plan = _plan(spark, sf_dir, "graph_bfs_hops")
    assert "InMemoryTableScan" in plan, plan
    assert "CartesianProduct" not in plan, plan
    scans = re.findall(r"Scan parquet[^\n]*(lineitem|part)", plan)
    assert scans.count("lineitem") <= 1, plan


def test_ols_dims_broadcast_single_fact_shuffle(spark, sf_dir):
    """stats_ols_qty_price_by_nation: supplier/nation attach map-side via
    broadcast, the five sufficient statistics ride ONE nation-keyed
    shuffle with map-side partial aggregation, and nothing sorts."""
    plan = _plan(spark, sf_dir, "stats_ols_qty_price_by_nation")
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert len(re.findall(r"Arguments: hashpartitioning\(n_name", plan)) == 1, plan
    assert "partial_sum" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_incremental_dedup_shares_index_and_probes_asymmetrically(spark, sf_dir):
    """dedup_incremental_new_vs_base: one parquet scan of documents total
    (the persisted signature index feeds bands and both verify sides via
    InMemoryTableScan), band-bucket equi-join only — no cartesian, no SMJ
    on the raw corpus."""
    plan = _plan(spark, sf_dir, "dedup_incremental_new_vs_base")
    assert "InMemoryTableScan" in plan, plan
    scan_ids = set(re.findall(r"Scan parquet\s+\((\d+)\)", plan))
    assert len(scan_ids) <= 1, (scan_ids, plan)
    assert "CartesianProduct" not in plan, plan


def test_skew_report_uses_heap_topk_not_global_sort(spark, sf_dir):
    """diag_key_skew_report: each audited key's top-10 must plan as
    TakeOrderedAndProject (per-partition heap + K-row merge), never a
    global Sort, and the per-key count aggregates must be persisted
    (InMemoryTableScan) so stats and top-k read ONE materialization.
    Inspects the PRE-checkpoint relation (the query fn localCheckpoints
    its 4-row result to release the caches — ADVICE r6 — which replaces
    the visible plan with a Scan ExistingRDD)."""
    import io
    from contextlib import redirect_stdout

    from kafka_streams_playground_spark.plans.northstar_stats import (
        _skew_report_relation,
    )

    rel, cached = _skew_report_relation(spark, sf_dir)
    try:
        buf = io.StringIO()
        with redirect_stdout(buf):
            rel.explain("formatted")
        plan = buf.getvalue()
    finally:
        for c in cached:
            c.unpersist()
    toap_nodes = set(re.findall(r"TakeOrderedAndProject \((\d+)\)", plan))
    assert len(toap_nodes) == 4, (toap_nodes, plan)
    assert "InMemoryTableScan" in plan, plan
    assert not re.search(r"\bSort \(", plan), plan


def test_vad_segments_single_docid_shuffle(spark, sf_dir):
    """mm_audio_vad_segments: the islands window and the (doc_id, grp)
    aggregate must share ONE doc_id hash partitioning (grouping keys are a
    superset of the window partitioning — no second exchange)."""
    plan = _plan(spark, sf_dir, "mm_audio_vad_segments")
    assert len(re.findall(r"Arguments: hashpartitioning\(", plan)) == 1, plan


def test_zorder_layout_skips_files_on_both_dimensions(spark, sf_dir, tmp_path):
    """write_zorder_table: the Morton layout must give every file a LOW
    overlap bounding box on BOTH clustered columns, so a range predicate
    on either column intersects a strict subset of files — whereas a
    single-column sort layout serves only its own column (a predicate on
    the OTHER column hits every file). This is the parquet-footer
    data-skipping contract OPTIMIZE ZORDER buys at 100 TB."""
    from kafka_streams_playground_spark.sources.parquet import load_table
    from kafka_streams_playground_spark.sources.sinks import write_zorder_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.floor(F.col("value") * 100 + 0.5).alias("cents")
    )
    zpath = str(tmp_path / "z")
    spath = str(tmp_path / "s")
    write_zorder_table(ev, zpath, ("user_id", "cents"), n_files=8)
    # control: single-column sort on cents (same file count)
    ev.repartitionByRange(8, "cents").sortWithinPartitions("cents").write.parquet(spath)

    def files_hit(path, col, lo, hi):
        per_file = (
            spark.read.parquet(path)
            .groupBy(F.input_file_name().alias("f"))
            .agg(F.min(col).alias("lo"), F.max(col).alias("hi"))
            .collect()
        )
        assert len(per_file) == 8, per_file
        return sum(1 for r in per_file if r["hi"] >= lo and r["lo"] <= hi)

    # probe bands = the bottom 1/8 of ROWS per column (quantile-based, so
    # a heavy-tailed value distribution can't smear the band over most
    # files by count)
    u_q = ev.approxQuantile("user_id", [0.0, 0.125], 0.001)
    c_q = ev.approxQuantile("cents", [0.0, 0.125], 0.001)
    u_band = (u_q[0], u_q[1])
    c_band = (c_q[0], c_q[1])

    # z-order: BOTH dimensions skip files
    z_u = files_hit(zpath, "user_id", *u_band)
    z_c = files_hit(zpath, "cents", *c_band)
    assert z_u < 8 and z_c < 8, (z_u, z_c)
    # single-column sort: its own column skips, the other hits everything
    s_c = files_hit(spath, "cents", *c_band)
    s_u = files_hit(spath, "user_id", *u_band)
    assert s_c <= 2, s_c
    assert s_u == 8, s_u
    assert z_u < s_u, (z_u, s_u)


def test_join_cardinality_estimate_within_error(spark, sf_dir):
    """stats_join_cardinality_kmv: the sketch estimate of |keys(A) ∩
    keys(B)| must land within 3 standard errors (3/sqrt(K) of the union)
    of the truth the query itself reports, and the bottom-Ks must plan as
    TakeOrderedAndProject, not a global sort."""
    from kafka_streams_playground_spark.plans.relational import JCARD_K

    row = REGISTRY["stats_join_cardinality_kmv"].fn(spark, sf_dir).collect()[0]
    err_budget = 3.0 / (JCARD_K ** 0.5) * row["true_union_keys"]
    assert abs(row["est_common_keys"] - row["true_common_keys"]) <= err_budget, row
    # plan shape: inspect the PRE-checkpoint relation (the query fn
    # localCheckpoints the 1-row report to release its caches — ADVICE r6)
    from kafka_streams_playground_spark.plans.relational import _jcard_relation

    rel, caches = _jcard_relation(spark, sf_dir)
    try:
        buf = io.StringIO()
        with redirect_stdout(buf):
            rel.explain("formatted")
        plan = buf.getvalue()
    finally:
        for c in caches:
            c.unpersist()
    assert "TakeOrderedAndProject" in plan, plan


def test_zorder_audit_single_tile_shuffle_and_contrast(spark, sf_dir):
    """layout_zorder_pruning_audit: the per-row key computation (quantize,
    Morton interleave, layout explode) must stay map-side — exactly ONE
    hash exchange feeds the (layout, tile) aggregate (the final 2-group
    agg rides the same exchange's output via a tiny second partial) — the
    bounds/predicate relation arrives by BroadcastExchange, and on the
    fixtures the Z-order layout must scan no more rows than the linear
    layout for the 2-D box (the claim the audit exists to quantify)."""
    plan = _plan(spark, sf_dir, "layout_zorder_pruning_audit")
    assert "BroadcastExchange" in plan, plan
    assert len(re.findall(r"Arguments: hashpartitioning\(", plan)) <= 2, plan
    assert not re.search(r"\bSort \(", plan), plan
    from kafka_streams_playground_spark.plans import REGISTRY

    rows = {
        r["layout"]: r
        for r in REGISTRY["layout_zorder_pruning_audit"].fn(spark, sf_dir).collect()
    }
    assert rows["zorder"]["rows_scanned"] <= rows["linear"]["rows_scanned"], rows
    assert rows["zorder"]["tiles_total"] == rows["linear"]["tiles_total"] == 64, rows


# ---------------------------------------------------------------------------
# Round 7 plan pins
# ---------------------------------------------------------------------------


def test_countmin_sketch_is_broadcast_and_partial(spark, sf_dir):
    """The D×W sketch must broadcast for readback, and the per-key counts
    must split partial/final (map-side combine)."""
    plan = _plan(spark, sf_dir, "stats_countmin_user_traffic")
    assert "BroadcastHashJoin" in plan, plan
    assert "partial_count" in plan or "HashAggregate" in plan, plan


def test_dsir_model_join_is_broadcast(spark, sf_dir):
    """The 256-bucket log-ratio model must broadcast to the scoring join —
    the corpus side never shuffles toward a 256-row table."""
    plan = _plan(spark, sf_dir, "dsir_importance_weights")
    assert "BroadcastHashJoin" in plan, plan


def test_phash_band_join_carries_no_blobs(spark, sf_dir):
    """Exchanges in the banded pair join may carry hashes and ids only —
    the binary payload must never ride a shuffle."""
    plan = _plan(spark, sf_dir, "mm_phash_neardup")
    # any exchange (hash or broadcast) may carry hashes/ids only — at the
    # test SF the band join is broadcast, at scale it hash-shuffles; the
    # invariant is the same: blob columns never leave the scan stage
    for m in re.finditer(r"Exchange [^\n]*|BroadcastExchange [^\n]*", plan):
        assert "content" not in m.group(0), m.group(0)
    assert "Join" in plan, plan  # the banded pair join is present


def test_rrf_legs_end_in_heap_topk(spark, sf_dir):
    """Both retrieval legs must be TakeOrderedAndProject — never a global
    sort of the corpus."""
    plan = _plan(spark, sf_dir, "retrieval_rrf_fusion")
    assert plan.count("TakeOrderedAndProject") >= 2, plan


def test_mmr_pool_is_heap_topk_single_arrow_tail(spark, sf_dir):
    """The MMR pool must come from TakeOrderedAndProject and the greedy tail
    must be one Arrow stage (no per-pick exchanges)."""
    plan = _plan(spark, sf_dir, "retrieval_mmr_rerank")
    assert "TakeOrderedAndProject" in plan, plan
    # exactly ONE MapInPandas node (formatted output lists each node twice:
    # once in the tree, once in the detail section)
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1, plan


def test_projection_weight_join_is_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "embedding_random_projection")
    assert "BroadcastHashJoin" in plan, plan
    # final contraction must be a partial/final integer sum
    assert "partial_sum" in plan or "HashAggregate" in plan, plan


def test_histogram_quantile_value_pruned_scan(spark, sf_dir):
    """The events scan must read only the value column (bucket derivation
    is the sole consumer)."""
    plan = _plan(spark, sf_dir, "stats_histogram_quantiles")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    assert {c.split(":")[0] for c in m.group(1).split(",")} == {"value"}, plan


def test_dense_rownum_window_is_bucket_partitioned(spark, sf_dir):
    """The row-level row_number window must partition by the range bucket
    (parallel), never run unpartitioned over the fact rows; the only
    unpartitioned window in the plan is the O(n/W) offsets prefix sum."""
    import io
    from contextlib import redirect_stdout

    from kafka_streams_playground_spark.plans import REGISTRY

    df = REGISTRY["ids_dense_global_rownum"].fn(spark, sf_dir)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(True)
    plan = buf.getvalue()
    import re

    rn_specs = re.findall(r"row_number\(\) windowspecdefinition\(([^,]*),", plan)
    assert rn_specs, plan
    for spec in rn_specs:
        assert "bkt" in spec, (spec, plan)


def test_hll_merge_accuracy_and_register_contract(spark, sf_dir):
    """agg_hll_merge_by_type: (a) every scope's raw estimate lands within
    HLL's expected band of the exact distinct count (m=64 -> ~13% stderr;
    assert 35%), (b) the '__all__' row equals the sketch built directly
    over ALL events (register merge = union contract), and (c) the plan
    has no unpartitioned window and no cartesian."""
    rows = {
        r["scope"]: r
        for r in REGISTRY["agg_hll_merge_by_type"].fn(spark, sf_dir).collect()
    }
    assert "__all__" in rows and len(rows) >= 2
    from kafka_streams_playground_spark.plans.relational import (
        HLL_ALPHA_M2_E6,
        HLL_LC_EST,
        HLL_LC_THRESH,
        HLL_M,
    )

    def corrected(mmax: int, s_scaled: int, n_zero: int) -> int:
        raw = (HLL_ALPHA_M2_E6 * (1 << mmax)) // (s_scaled * 1000000)
        if n_zero > 0 and raw <= HLL_LC_THRESH:
            return HLL_LC_EST[n_zero - 1]  # linear counting m*ln(m/V)
        return raw

    for scope, r in rows.items():
        # est_distinct is the CORRECTED estimator (linear counting below
        # the 2.5m threshold); it must equal the reconstruction from the
        # emitted register summary exactly, and land in HLL's band.
        assert r["est_distinct"] == corrected(
            r["mmax"], r["s_scaled"], r["n_zero_regs"]
        ), (scope, r)
        raw = (HLL_ALPHA_M2_E6 * (1 << r["mmax"])) // (r["s_scaled"] * 1000000)
        lc_applied = r["n_zero_regs"] > 0 and raw <= HLL_LC_THRESH
        rel = abs(r["est_distinct"] - r["exact_distinct"]) / r["exact_distinct"]
        # linear counting is the tighter estimator in its regime (the
        # advice-r7 "tightens" contract): 25% vs the raw 35% band.
        assert rel < (0.25 if lc_applied else 0.35), (scope, r)
    # merge contract: rebuild the union sketch from scratch, ignoring type
    from kafka_streams_playground_spark.plans.relational import HLL_WBITS
    from kafka_streams_playground_spark.sources.parquet import load_table

    hv = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    got = (
        load_table(spark, sf_dir, "events")
        .select(hv.alias("hv"))
        .select(
            (F.col("hv") / (2**HLL_WBITS)).cast("long").alias("reg"),
            F.when(F.col("hv") % (2**HLL_WBITS) == 0, HLL_WBITS + 1)
            .otherwise(
                F.lit(HLL_WBITS + 1)
                - F.length(F.conv(F.col("hv") % (2**HLL_WBITS), 10, 2))
            )
            .alias("rho"),
        )
        .groupBy("reg")
        .agg(F.max("rho").alias("m"))
        .collect()
    )
    regs = [0] * HLL_M
    for r in got:
        regs[r["reg"]] = r["m"]
    mmax = max(regs)
    s_scaled = sum(1 << (mmax - m) for m in regs)
    want_est = corrected(mmax, s_scaled, sum(1 for m in regs if m == 0))
    allr = rows["__all__"]
    assert (allr["mmax"], allr["s_scaled"], allr["est_distinct"]) == (
        mmax,
        s_scaled,
        want_est,
    )
    plan = _plan(spark, sf_dir, "agg_hll_merge_by_type")
    assert "CartesianProduct" not in plan


def test_pareto_frontier_is_maximal_antichain(spark, sf_dir):
    """The skyline must be an antichain (no member dominates another) and
    MAXIMAL (every non-member is dominated by some member — frontier
    membership is exactly non-dominance)."""
    from kafka_streams_playground_spark.plans.northstar_curation import (
        curation_pareto_frontier,
    )

    front = [
        (r["logit_e6"], r["n_tokens"])
        for r in curation_pareto_frontier(spark, sf_dir).collect()
    ]
    assert front

    def dominates(a, b):
        return a[0] >= b[0] and a[1] >= b[1] and (a[0] > b[0] or a[1] > b[1])

    for a in front:
        assert not any(dominates(b, a) for b in front if b is not a)
    # maximality: rebuild all points, check every excluded one is dominated
    from kafka_streams_playground_spark.plans import REGISTRY

    spec = REGISTRY["curation_pareto_frontier"]
    # all (logit, n_tokens) pairs, via the quality-filter feature recipe
    from kafka_streams_playground_spark.plans.northstar_scoring import (
        QC_BIAS_E6,
        QC_W_LEN_E6,
        QC_W_STOP_E6,
        QC_W_TTR_E6,
    )
    from kafka_streams_playground_spark.plans.northstar_text import STOPWORDS
    from kafka_streams_playground_spark.sources.parquet import load_table

    toks = F.split(F.col("text"), " ")
    stop_arr = F.lit(list(STOPWORDS)).cast("array<string>")
    allpts = (
        load_table(spark, sf_dir, "documents")
        .select(
            F.size(toks).cast("bigint").alias("n_tokens"),
            F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct"),
            F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x)))
            .cast("bigint")
            .alias("n_stop"),
        )
        .select(
            F.expr(
                f"({QC_W_TTR_E6} * n_distinct) div n_tokens"
                f" - ({QC_W_STOP_E6} * n_stop) div n_tokens"
                f" + ({QC_W_LEN_E6} * least(n_tokens, 256)) div 256"
                f" + {QC_BIAS_E6}"
            ).alias("logit_e6"),
            "n_tokens",
        )
        .collect()
    )
    fs = set(front)
    for p in [(r["logit_e6"], r["n_tokens"]) for r in allpts]:
        if p in fs:
            continue
        assert any(dominates(b, p) for b in front), p


def test_table_profile_null_rates_and_estimates(spark, sf_dir):
    """diag_table_profile: the derived cleaning columns must show REAL null
    counts (clean_type nulls == # 'error' events; raw columns 0), and each
    column's corrected distinct estimate must land within 35% of exact
    (linear-counting correction from n_rows/zero registers applied where
    the raw regime doesn't hold, as documented)."""
    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.sources.parquet import load_table

    rows = {
        r["col_name"]: r
        for r in REGISTRY["diag_table_profile"].fn(spark, sf_dir).collect()
    }
    n_err = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "error")
        .count()
    )
    assert rows["clean_type"]["n_null"] == n_err > 0
    assert rows["event_id"]["n_null"] == 0
    assert rows["event_id"]["n_rows"] == rows["clean_type"]["n_rows"]
    # exact distinct sanity: event_id is unique
    assert rows["event_id"]["exact_distinct"] == rows["event_id"]["n_rows"]
    # estimates: high-cardinality columns must estimate within HLL bands
    for c, r in rows.items():
        if r["exact_distinct"] >= 500:  # raw-regime columns only
            rel = abs(r["est_distinct"] - r["exact_distinct"]) / r["exact_distinct"]
            assert rel < 0.35, (c, r)


def test_benford_audit_grid_closes(spark, sf_dir):
    """stats_benford_first_digit: all 9 digits present, counts sum to the
    positive-total row count, obs_ppm sums to ~1e6 (integer-floor slack
    < 9), and dev_ppm is exactly obs - exp per row."""
    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.sources.parquet import load_table

    rows = REGISTRY["stats_benford_first_digit"].fn(spark, sf_dir).collect()
    assert sorted(r["digit"] for r in rows) == list(range(1, 10))
    n_pos = (
        load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0).count()
    )
    assert sum(r["n_orders"] for r in rows) == n_pos
    s = sum(r["obs_ppm"] for r in rows)
    assert 1000000 - 9 <= s <= 1000000
    for r in rows:
        assert r["dev_ppm"] == r["obs_ppm"] - r["exp_ppm"]


def test_markov_score_conservation(spark, sf_dir):
    """Transition conservation: per-user transition counts must sum to
    n_events - n_users (one lag loss per user), and every mean transition
    log-likelihood is negative (probabilities < 1)."""
    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.sources.parquet import load_table

    rows = REGISTRY["stats_markov_sequence_score"].fn(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert sum(r["n_trans"] for r in rows) == n_events - n_users
    assert all(r["avg_lp_e6"] < 0 for r in rows)


def test_hll_rollup_cascade_equals_direct_build(spark, sf_dir):
    """The register-cascade contract: day-grain estimates derived from the
    HOUR registers (what ts_rollup_distinct_hll ships) must equal a
    day-grain sketch built directly from the raw stream — element-wise
    max is associative, so rolling up sketches loses nothing. Also pins
    the grain hierarchy: n_hour_rows >= n_day_rows >= n_week_rows >= 1."""
    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.plans.relational import (
        HLL_ALPHA_M2_E6,
        HLL_M,
        HLL_WBITS,
    )
    from kafka_streams_playground_spark.sources.parquet import load_table

    rows = REGISTRY["ts_rollup_distinct_hll"].fn(spark, sf_dir).collect()
    by_grain = {}
    for r in rows:
        by_grain.setdefault(r["grain"], {})[r["bucket_epoch"]] = r["est_distinct"]
    assert len(by_grain["hour"]) >= len(by_grain["day"]) >= len(by_grain["week"]) >= 1
    # direct day-grain build in local python from the raw table
    import hashlib

    ev = (
        load_table(spark, sf_dir, "events")
        .select(F.unix_timestamp("ts").alias("epoch"), "user_id")
        .collect()
    )
    day_regs = {}
    for r in ev:
        epoch = int(r["epoch"])
        day = (epoch // 86400) * 86400
        h = int(hashlib.md5(str(r["user_id"]).encode()).hexdigest()[:8], 16)
        reg, wv = h >> HLL_WBITS, h & ((1 << HLL_WBITS) - 1)
        rho = (HLL_WBITS + 1) if wv == 0 else (HLL_WBITS + 1) - wv.bit_length()
        regs = day_regs.setdefault(day, [0] * HLL_M)
        regs[reg] = max(regs[reg], rho)
    want = {}
    for day, regs in day_regs.items():
        mmax = max(regs)
        s = sum(1 << (mmax - m) for m in regs)
        want[day] = (HLL_ALPHA_M2_E6 * (1 << mmax)) // (s * 1000000)
    assert by_grain["day"] == want


def test_round8_addition_plan_shapes(spark, sf_dir):
    """Pin the load-bearing shapes of the round-8 batch additions: the
    NN-descent candidate joins must not degrade to a cartesian product,
    the reservoir's rank window must be partitioned (per-stratum, never a
    global single-partition sort), and the privacy audit must aggregate
    with partial (map-side) phases."""
    p = _plan(spark, sf_dir, "sim_nndescent_round")
    assert "CartesianProduct" not in p

    p = _plan(spark, sf_dir, "sample_weighted_reservoir")
    assert "CartesianProduct" not in p
    import re

    specs = re.findall(r"row_number\(\) windowspecdefinition\(([^,]*),", p)
    assert specs and all("lang" in s for s in specs), specs

    p = _plan(spark, sf_dir, "privacy_k_anonymity_audit")
    assert "partial_count" in p and "CartesianProduct" not in p


def test_round8_late_addition_plan_shapes(spark, sf_dir):
    """Pin the load-bearing shapes of the round-8 late additions (influence
    / source-overlap / SNM / HITS): every rank window is partitioned (the
    two-phase top-k keys on (nation, input partition); the sketch windows
    key on source / source-pair; SNM keys on the block), the HITS top-k
    legs are TakeOrderedAndProject (never a full sort), and nothing plans
    a CartesianProduct."""
    p = _plan(spark, sf_dir, "stats_ols_influence_outliers")
    assert "CartesianProduct" not in p
    specs = re.findall(r"row_number\(\) windowspecdefinition\(([^,]*),", p)
    assert specs and all("n_name" in s for s in specs), specs

    p = _plan(spark, sf_dir, "stats_source_overlap_kmv")
    assert "CartesianProduct" not in p
    specs = re.findall(r"row_number\(\) windowspecdefinition\(([^,]*),", p)
    assert specs and all("src" in s for s in specs), specs

    p = _plan(spark, sf_dir, "dedup_sorted_neighborhood")
    assert "CartesianProduct" not in p
    specs = re.findall(r"row_number\(\) windowspecdefinition\(([^,]*),", p)
    assert specs and all("blk" in s for s in specs), specs

    p = _plan(spark, sf_dir, "graph_hits_hubs_authorities")
    assert "CartesianProduct" not in p
    assert "TakeOrderedAndProject" in p


def test_interval_overlap_join_is_equi_keyed(spark, sf_dir):
    """join_interval_overlap_bins: binning must restore an EQUI-join — the
    plan may contain neither a CartesianProduct nor a
    BroadcastNestedLoopJoin (the shapes a raw range-predicate join
    degrades to, which is the failure the bin trick exists to avoid), and
    every rank/sessionization window must be partitioned."""
    p = _plan(spark, sf_dir, "join_interval_overlap_bins")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    specs = re.findall(r"windowspecdefinition\(([^,]*),", p)
    assert specs and all(("user_id" in s or "event_type" in s) for s in specs), specs


def test_interval_overlap_invariant_to_bin_width(spark, sf_dir, monkeypatch):
    """join_interval_overlap_bins: the grid width is a pure performance
    knob — the result set must be IDENTICAL under a 1 h, the default 6 h,
    and a 1-week bin (completeness does not depend on the binning, only
    the shuffle fan-out does)."""
    from kafka_streams_playground_spark.plans import temporal

    def run():
        # the query body reads temporal.OVERLAP_BIN_S at plan-build time,
        # so monkeypatching the module global re-bins the same plan
        return sorted(
            tuple(r)
            for r in REGISTRY["join_interval_overlap_bins"].fn(spark, sf_dir).collect()
        )

    base = run()
    for w in (3600, 604800):
        monkeypatch.setattr(temporal, "OVERLAP_BIN_S", w)
        assert run() == base, w
    assert len(base) > 0


def test_round9_addition_plan_shapes(spark, sf_dir):
    """Pin the load-bearing shapes of the round-9 batch additions: the
    multipass SNM rank windows all key on the block (two passes, still no
    global sort), the ACF/Spearman day-grid windows all key on event_type,
    Welch aggregates with a partial (map-side) phase, and the Heaps fit's
    gram aggregates are partial too (its only unpartitioned windows run
    over the whitelisted B-row bucket relation)."""
    p = _plan(spark, sf_dir, "dedup_snm_multipass")
    assert "CartesianProduct" not in p
    specs = re.findall(r"row_number\(\) windowspecdefinition\(([^,]*),", p)
    assert specs and all("blk" in s for s in specs), specs

    for name in ("ts_autocorrelation_lags", "ts_spearman_daily_trend"):
        p = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in p
        specs = re.findall(r"windowspecdefinition\(([^,]*),", p)
        assert specs and all("event_type" in s for s in specs), (name, specs)

    p = _plan(spark, sf_dir, "stats_welch_ttest_halves")
    assert "partial_sum" in p or "partial_count" in p

    p = _plan(spark, sf_dir, "text_heaps_law_fit")
    assert "partial_count" in p and "CartesianProduct" not in p

    p = _plan(spark, sf_dir, "graph_clustering_coefficient")
    assert "CartesianProduct" not in p and "partial_count" in p


def test_round10_addition_plan_shapes(spark, sf_dir):
    """Pin the load-bearing shapes of the round-10 batch additions: the
    chi2 drift grid attaches margins and the global statistic by
    BROADCAST (never a shuffle of the O(types) relation), Mann-Kendall's
    sign sum aggregates with a map-side partial phase over the
    co-shuffled day-grid pair join, and Simpson runs exactly its two
    aggregate shuffles (the (type, user) count and the |types| rollup)
    with no join at all."""
    p = _plan(spark, sf_dir, "drift_chi2_event_type_halves")
    assert "CartesianProduct" not in p
    assert p.count("BroadcastExchange") >= 1, p
    assert "Exchange hashpartitioning" not in p, p  # grid stays post-checkpoint

    p = _plan(spark, sf_dir, "ts_mann_kendall_trend")
    assert "CartesianProduct" not in p
    assert "partial_sum" in p or "partial_count" in p

    p = _plan(spark, sf_dir, "stats_simpson_user_concentration")
    assert "CartesianProduct" not in p and "Join" not in p, p
    # formatted explain prints each node in the tree AND a detail block;
    # count detail headers so each Exchange is counted once
    assert len(re.findall(r"^\(\d+\) Exchange\b", p, re.M)) == 2, p
    assert "partial_sum" in p or "partial_count" in p

def test_round11_refactor_plan_shapes(spark, sf_dir):
    """Pin the load-bearing shapes of the round-11 refactor: moving the
    trend trio onto the shared day_grid/epilogue helpers must not change
    their physical plans. Theil-Sen's pair join is the co-shuffled
    equi-join on event_type (never a cartesian) with map-side partial
    aggregates, its rank/median windows all key on event_type, and the
    day grid itself aggregates with a partial phase before the epilogue
    self-join reads the checkpointed grid."""
    p = _plan(spark, sf_dir, "ts_theil_sen_daily_trend")
    assert "CartesianProduct" not in p
    assert "partial_max" in p or "partial_count" in p, p
    specs = re.findall(r"windowspecdefinition\(([^,]*),", p)
    assert specs and all("event_type" in s for s in specs), specs

    # the shared grid: one map-side-partial aggregate of the corpus
    from kafka_streams_playground_spark.plans.temporal import day_grid
    from kafka_streams_playground_spark.sources.parquet import load_table

    import io as _io
    from contextlib import redirect_stdout as _rs

    buf = _io.StringIO()
    with _rs(buf):
        day_grid(load_table(spark, sf_dir, "events")).explain("formatted")
    g = buf.getvalue()
    assert "partial_sum" in g and "CartesianProduct" not in g, g


def test_kappa_single_reduce_no_join(spark, sf_dir):
    """eval_rater_agreement_kappa is one scan -> projection -> ONE
    all-reduce (partial conditional sums, a single-partition exchange of
    one partial row per task) with no join anywhere: the kappa epilogue
    is O(1) arithmetic on the reduced row."""
    plan = _plan(spark, sf_dir, "eval_rater_agreement_kappa")
    assert "Join" not in plan, plan
    assert len(re.findall(r"Arguments: SinglePartition", plan)) == 1, plan
    assert "hashpartitioning" not in plan, plan
    assert len(re.findall(r"Location: InMemoryFileIndex", plan)) == 1, plan
    assert "partial_count" in plan, plan  # map-side partials carry the corpus
