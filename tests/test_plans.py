"""Physical-plan regression tests.

The oracle gate proves VALUES right; these prove the PLANS stay right —
pushdown reaching the scan, dimensions broadcasting, no accidental
cartesian products, codegen not silently disabled. A refactor that keeps
results correct but, say, drops a pushed filter or blows the janino method
limit fails here, not at 100 TB.
"""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    from etl_pipeline_excel_sql__spark.plans import QUERIES

    df = QUERIES[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_download_pipeline_pushes_segment_filter(spark):
    plan = _plan(spark, "download_pipeline")
    assert "PushedFilters" in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    assert "BroadcastHashJoin" in plan


def test_multitable_revenue_broadcasts_all_dimensions(spark):
    plan = _plan(spark, "join_multitable_revenue")
    # fact table joins every dimension without shuffling it
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_filter_eq_pushes_predicate(spark):
    plan = _plan(spark, "filter_eq")
    assert "PushedFilters" in plan and "EqualTo" in plan


def test_drop_cols_prunes_at_scan(spark):
    """P1: dropped columns must never be read from parquet."""
    plan = _plan(spark, "drop_cols")
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    for dropped in ("l_tax", "l_shipdate", "l_linestatus"):
        assert dropped not in scan
    assert "l_orderkey" in scan


def test_minhash_band_join_carries_no_documents(spark):
    """The LSH self-join must join signature keys, never text payloads."""
    from etl_pipeline_excel_sql__spark.operators.dedup import minhash_lsh_pairs
    from etl_pipeline_excel_sql__spark.sources.registry import load_table

    pairs = minhash_lsh_pairs(load_table(spark, "documents", SF))
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # the join keys are (band, bucket) hash columns — text enters only the
    # final candidate-verification join via the shingle sets
    assert "SortMergeJoin [band" in plan or "hashpartitioning(band" in plan or (
        "BroadcastHashJoin [band" in plan
    )


def test_no_codegen_compile_failures_on_ann_paths(spark):
    """The ANN family's expressions must stay under janino's method limit;
    a fused >512-term projection silently degrades to interpreted eval
    (this regression shipped once — see operators/similarity.py). With
    codegen fallback disabled, any compile failure raises instead."""
    from etl_pipeline_excel_sql__spark.plans import QUERIES

    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        for name in (
            "ann_ivf_topk",
            "neardup_cosine",
            "ann_brute_topk",
            "ann_sq8_rerank",
            "margin_mining_topk",
        ):
            df = QUERIES[name](spark, SF)
            df.write.format("noop").mode("overwrite").save()
    finally:
        spark.conf.set("spark.sql.codegen.fallback", "true")


def test_warm_curation_passes_compile_nothing(spark):
    """Generated classes survive between evaluations. Spark's class cache
    holds 100 entries by default and ``curate_pack_pipeline`` alone
    compiles ~130 per evaluation, so at the default every pass
    recompiles; the session's 4000-entry cache must hold the curation
    working set, and a third pass over it compiles nothing."""
    from etl_pipeline_excel_sql__spark.plans import QUERIES

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4000"
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    for _ in range(3):
        before = compiles.getCount()
        for name in ("perceptron_quality", "curate_pack_pipeline"):
            QUERIES[name](spark, SF).write.format("noop").mode("overwrite").save()
    assert compiles.getCount() - before == 0


def test_brute_force_corpus_never_shuffles_before_scoring(spark):
    plan = _plan(spark, "ann_brute_topk")
    # one broadcast (query side) before scoring; the only Exchange is the
    # top-k window partitioned by query_id
    head = plan.split("Window")[0] if "Window" in plan else plan
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_pack_sequences_has_no_global_corpus_window(spark):
    """The prefix sum must window per-range (parallel), with the global
    window confined to the tiny per-range offsets table."""
    from etl_pipeline_excel_sql__spark.plans import QUERIES

    df = QUERIES["pack_sequences"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the per-doc cumsum is partitioned by __rng
    assert "partitionBy" not in plan  # physical plans spell it differently
    assert "hashpartitioning(__rng" in plan


def test_tpch_q4_uses_semi_join(spark):
    """Q4's EXISTS must compile to a semi join (orders never duplicated)."""
    plan = _plan(spark, "tpch_q4_order_priority")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q8_broadcasts_every_dimension(spark):
    """Q8's seven-table join: only lineitem⋈orders may shuffle."""
    plan = _plan(spark, "tpch_q8_market_share")
    assert plan.count("BroadcastHashJoin") >= 5
    assert "CartesianProduct" not in plan


def test_tpch_q15_max_is_broadcast_not_window(spark):
    """Q15's scalar-max compare joins a 1-row broadcast aggregate; a window
    over the per-supplier aggregate would serialize on one partition."""
    plan = _plan(spark, "tpch_q15_top_supplier")
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan


def test_tpch_q17_correlated_avg_is_join_not_window(spark):
    """Q17's per-part average must be aggregate-then-join over the
    broadcast-narrowed fact slice, never a window over raw lineitem."""
    plan = _plan(spark, "tpch_q17_small_qty_revenue")
    assert "Window" not in plan
    assert "PushedFilters" in plan


def test_decontam_benchmark_side_broadcasts(spark):
    """The benchmark shingle set must broadcast; the corpus side of the
    contamination join never shuffles."""
    plan = _plan(spark, "decontam_overlap")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_repetition_signals_single_doc_shuffle(spark):
    """Token counts must collapse map-side (partial then final aggregate)
    — the explode output never shuffles raw tokens twice."""
    plan = _plan(spark, "text_repetition")
    assert "partial_count" in plan or "HashAggregate" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q5_cyclic_join_broadcasts(spark):
    """Q5's cyclic condition must not produce a cartesian or shuffle the
    dimensions — only lineitem⋈orders may sort-merge."""
    plan = _plan(spark, "tpch_q5_local_supplier")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_tpch_q19_pushes_quantity_bound(spark):
    """Q19: the lineitem-only bound (quantity < 40) must reach the scan
    even though the OR-of-ANDs can only apply post-join."""
    plan = _plan(spark, "tpch_q19_or_of_ands")
    assert "PushedFilters" in plan
    assert "LessThan(l_quantity,40" in plan.replace(" ", "")


def test_ann_filtered_topk_filters_before_vectors(spark):
    """Hybrid search: the keyword filter must prune via the documents
    scan; the probe side broadcasts; the corpus never cartesian-joins
    except against the tiny broadcast probe set."""
    plan = _plan(spark, "ann_filtered_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bloom_prefilter_broadcasts_words_not_fact(spark):
    """The Bloom word table (≤1024 rows) must broadcast for every probe
    hash family; the lineitem fact side never shuffles into them."""
    plan = _plan(spark, "join_bloom_prefilter")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_sample_stratified_is_narrow(spark):
    """Hash-threshold sampling must be a pure scan+filter: no shuffle at
    all, and column pruning down to the four output columns."""
    plan = _plan(spark, "sample_stratified")
    assert "Exchange" not in plan
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "text" not in scan  # the heavy column is pruned


def test_pagerank_broadcasts_rank_vector(spark):
    """The per-iteration plan (inspected un-truncated — the default
    per-round checkpoint collapses it to a LogicalRDD scan) broadcasts
    the rank vector to the edge side, and the edge aggregate's own eager
    checkpoint keeps lineitem out of the loop."""
    from etl_pipeline_excel_sql__spark.operators.graph import pagerank_integer
    from etl_pipeline_excel_sql__spark.plans.graph_queries import (
        N_NATIONS,
        _trade_edges,
    )
    from etl_pipeline_excel_sql__spark.sources.registry import load_table
    import pyspark.sql.functions as F

    nodes = load_table(spark, "nation", SF).select(
        F.col("n_nationkey").cast("int").alias("node")
    )
    one_iter = pagerank_integer(
        _trade_edges(spark, SF),
        nodes,
        n_nodes=N_NATIONS,
        iters=1,
        truncate_lineage=False,
    )
    plan = one_iter._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the edge checkpoint truncates lineage: lineitem never re-scans in
    # the loop even with rank lineage kept
    assert "lineitem" not in plan


def test_funnel_stages_shuffle_on_user(spark):
    plan = _plan(spark, "funnel_conversion")
    assert "CartesianProduct" not in plan


def test_explode_tokens_is_narrow(spark):
    """posexplode is map-side fan-out: no shuffle anywhere, and the scan
    reads only (doc_id, text)."""
    plan = _plan(spark, "explode_tokens")
    assert "Exchange" not in plan
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "doc_id" in scan and "text" in scan
    assert "lang" not in scan


def test_moving_median_single_window_shuffle(spark):
    """The trailing-frame median must ride ONE window exchange on the
    partition key — the sort+pick happens inside the frame expression."""
    plan = _plan(spark, "window_moving_median")
    assert "hashpartitioning(o_custkey" in plan
    assert "CartesianProduct" not in plan
    # in-frame median: no second aggregation pass over the raw table
    assert plan.count("Window") == 1


def test_percentile_disc_partitions_by_priority(spark):
    plan = _plan(spark, "percentile_disc")
    assert "hashpartitioning(o_orderpriority" in plan
    assert "CartesianProduct" not in plan


def test_salted_join_joins_on_salt(spark):
    """The salted join's physical keys must include the salt column —
    that is the mechanism that spreads a hot key over many reducers."""
    plan = _plan(spark, "join_skew_salted")
    assert "__salt" in plan
    assert "CartesianProduct" not in plan


def test_cap_per_source_single_window_shuffle_prunes_text(spark):
    """Per-source capping: one exchange on source, and the heavy text
    column never leaves the scan (pruned projection)."""
    plan = _plan(spark, "cap_per_source")
    assert "hashpartitioning(source" in plan
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "text" not in scan


def test_multimodal_frames_is_narrow(spark):
    """The 1-to-N mapInPandas frame sampler is a pure narrow map — the
    payload column never crosses an exchange."""
    plan = _plan(spark, "multimodal_frames")
    assert "Exchange" not in plan
    assert "MapInPandas" in plan


def test_curate_pipeline_exchange_carries_hash_not_text(spark):
    plan = _plan(spark, "corpus_curate_pipeline")
    ex = plan[plan.index("Exchange") :].splitlines()[0]
    assert "__h" in ex and "text" not in ex


def test_asof_directions_share_one_union_shuffle(spark):
    """Forward and nearest ride the same union-and-window plan as
    backward: the merged stream partitions once on the key; no M×N
    inequality-join intermediate ever materializes."""
    for name in ("asof_join_forward", "asof_join_nearest"):
        plan = _plan(spark, name)
        assert "hashpartitioning(__k" in plan
        assert "CartesianProduct" not in plan
        assert "Union" in plan


def test_doc_chunk_windows_is_shuffle_free(spark):
    """Chunking is a pure narrow plan: sequence->explode->slice with no
    Exchange — at 100 TB it streams scan-to-writer."""
    plan = _plan(spark, "doc_chunk_windows")
    assert "Exchange" not in plan
    assert "Generate explode" in plan


def test_vocab_coverage_topv_is_take_ordered(spark):
    """The global top-V vocabulary must be TakeOrdered (per-partition
    top-V + merge), not a single-partition rank window."""
    plan = _plan(spark, "vocab_coverage")
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_ngram_lm_score_shuffles_multiplicities_not_occurrences(spark):
    """Every Exchange key set in the LM plan is (doc_id,w1,w2)/(w1[,w2]) —
    aggregated multiplicity rows. No exchange may carry the raw exploded
    occurrence stream (no 'pos'/'__i' column in any Exchange)."""
    plan = _plan(spark, "ngram_lm_score")
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "__i" not in line
    assert "CartesianProduct" not in plan


def test_tpch_q10_aggregates_before_dimension_join(spark):
    """Q10's big shuffle is the per-custkey revenue aggregate; the
    customer dimension joins AFTER it, and nation broadcasts."""
    plan = _plan(spark, "tpch_q10_returned_items")
    assert "BroadcastHashJoin" in plan  # nation (and small sides at toy SF)
    assert "CartesianProduct" not in plan
    # the aggregate over revenue must appear deeper in the plan than the
    # c_name column's first appearance (i.e. the dimension join consumes
    # the aggregate's output, not raw lineitem rows)
    lines = plan.splitlines()
    agg_depth = min(
        i for i, l in enumerate(lines)
        if "HashAggregate" in l and "__rev" in l
    )
    join_depth = min(i for i, l in enumerate(lines) if "c_name" in l)
    assert join_depth < agg_depth  # joins print above their inputs


def test_window_range_frame_uses_range_spec(spark):
    """A RANGE frame over epoch-micros, not a ROWS frame: the frame is
    event-time-true (bursts widen it, quiet periods shrink it) and one
    hash exchange on user_id covers both window aggregates."""
    plan = _plan(spark, "window_range_frame")
    assert "specifiedwindowframe(RangeFrame" in plan
    assert plan.count("Exchange hashpartitioning(user_id") == 1


def test_agg_mode_per_user_is_two_partial_aggregates(spark):
    """Mode-per-group must stay two partial-aggregated exchanges (the
    min_by lands as SortAggregate — struct buffers aren't hash-mutable —
    but keeps its map-side partial). A row_number formulation would add
    a Window over every (user, type) row instead."""
    plan = _plan(spark, "agg_mode_per_user")
    assert "Window" not in plan
    assert "partial_min_by" in plan
    assert plan.count("Exchange") == 2


def test_semantic_dedup_keep_anti_join_has_no_forced_broadcast(spark):
    """The keep-set anti-join's drop list grows with the corpus's
    duplicate count, so it must NOT carry an F.broadcast hint — the
    engine's size estimate picks the strategy (broadcast locally where
    the list is tiny, shuffle anti-join at scale). The gated regime is
    pinned in test_plan_census.py; here we pin that the default regime
    still anti-joins on vec_id."""
    plan = _plan(spark, "semantic_dedup_keep")
    anti = [ln for ln in plan.splitlines() if "LeftAnti" in ln]
    assert anti and all("[vec_id#" in ln for ln in anti), anti


def test_text_passage_dedup_shuffles_digests_not_text(spark):
    """The document-frequency pipeline must key its exchanges on the md5
    digest (32 chars), never the passage text; the boilerplate set's
    join strategy is the engine's size call (gated regime pinned in
    test_plan_census.py)."""
    plan = _plan(spark, "text_passage_dedup")
    anti = [ln for ln in plan.splitlines() if "LeftAnti" in ln]
    assert anti and all("[h#" in ln for ln in anti), anti
    assert "hashpartitioning(h#" in plan
    # no exchange may carry the passage-text column
    assert not any(
        "hashpartitioning(p#" in ln for ln in plan.splitlines()
    ), "exchange keyed on passage text"


def test_band_join_is_hash_join_on_buckets(spark):
    """The keyless time-band join must equi-join on the bucket id — a
    BroadcastNestedLoopJoin/CartesianProduct here is the band-join scale
    trap this formulation exists to avoid."""
    plan = _plan(spark, "band_join_recent_errors")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Join [bucket" in plan or "hashpartitioning(bucket" in plan or (
        "BroadcastHashJoin [bucket" in plan
    ), plan[:500]


def test_basket_lift_broadcasts_dims_no_cartesian(spark):
    """part and the brand-count sides must broadcast; the only nested-loop
    is the singleton n_orders crossJoin. The pair self-join keys on
    l_orderkey — never an all-pairs brand product."""
    plan = _plan(spark, "basket_lift")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # singleton total broadcast is the only nested loop allowed
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_weighted_sample_is_topk_not_full_sort(spark):
    """Global k smallest priorities must compile to TakeOrderedAndProject
    (per-partition top-k + k-row merge), never a full Sort + Limit."""
    plan = _plan(spark, "text_weighted_sample")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_profile_columns_single_scan(spark):
    """The wide-to-long melt must profile all four measures from ONE
    parquet scan — four separate scans is the anti-pattern."""
    plan = _plan(spark, "profile_columns")
    assert plan.count("Scan parquet") == 1


def test_m4_downsample_is_aggregate_not_window(spark):
    """M4 first/last compile to min_by/max_by aggregates — a per-row
    Window rank here would materialize rank rows for every point."""
    plan = _plan(spark, "events_m4_downsample")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_sq8_candidate_shuffle_carries_no_vectors(spark):
    """The SQ8 candidate pass must drop code arrays and embeddings
    before its rank-window shuffle: every Exchange in the plan carries
    only id/qdot/cos-typed columns, never an array column."""
    import re

    plan = _plan(spark, "ann_sq8_rerank")
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "array" not in m.group(1), m.group(0)


def test_margin_mining_probe_broadcasts_and_frame_is_skinny(spark):
    """The probe side broadcasts (BNLJ against the corpus scan) and the
    two stat windows both partition on an id key."""
    plan = _plan(spark, "margin_mining_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_dsir_weight_table_broadcasts_corpus_never_joins_wide(spark):
    """The 256-row weight table must reach the pool explode as a
    BroadcastHashJoin; no sort-merge join anywhere (nothing in this
    query is corpus x corpus)."""
    plan = _plan(spark, "dsir_select")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_winnow_single_doc_shuffle_and_no_text_in_exchange(spark):
    """Winnowing shuffles once, keyed on doc_id, and the exchange rows
    are (doc_id, pos, key) — the normalized text never shuffles."""
    import re

    plan = _plan(spark, "winnow_fingerprint")
    parts = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert parts, "expected a doc_id window shuffle"
    for p in parts:
        assert "__t" not in p and "text" not in p, p


def test_label_propagation_rounds_are_flat_plans(spark):
    """After LineageTruncator cuts, the registered query's final plan
    must not contain the minhash pair generator (it was materialized
    rounds ago) — the loop stays O(round) not O(round^2)."""
    plan = _plan(spark, "label_propagation")
    assert "md5" not in plan.lower()


def test_entity_resolution_blocked_join_no_cartesian(spark):
    """The capstone's fuzzy stage joins on the BLOCK key (hash join),
    never a cartesian product; the collapse groupBy is the only
    record-scale exchange and the final plan carries no text column
    through an exchange wider than the name vocabulary."""
    plan = _plan(spark, "entity_resolution_pipeline")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_budget_select_prefix_windows_are_bucket_partitioned(spark):
    """The distributed prefix sum: the corpus-scale cumsum window must
    PARTITION BY the permille bucket (__rng) — the only unpartitioned
    window allowed is the one over the <= 1001-row range-offset table.
    A refactor that collapses the cumsum into one global window funnels
    the corpus through a single partition at 100 TB and fails here."""
    import re

    plan = _plan(spark, "curation_budget_select")
    # the within-range cumsum appears as a Window with __rng in its
    # partition spec; assert at least one such window exists
    assert re.search(r"Window .*__rng", plan), "bucketed cumsum window missing"
    # and n_tokens (the corpus-scale payload) never rides an
    # unpartitioned (global) sort-merge exchange: SinglePartition
    # exchanges may only carry the tiny range table (__tot/__off cols)
    for m in re.finditer(r"Exchange SinglePartition[^\n]*\n([^\n]*)", plan):
        ctx = m.group(0)
        assert "__tot" in ctx or "text" not in ctx


def test_cluster_safe_splits_assignment_is_narrow(spark):
    """Split assignment is a hash of the group key — no join against a
    split dimension, no cartesian; the leak probe joins the skinny pair
    list by id (hash joins only)."""
    plan = _plan(spark, "cluster_safe_splits")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_session_merge_cutoff_is_broadcast_not_collect(spark):
    """The batch cutoff scalar rides a broadcast join (plan shows a
    BroadcastExchange feeding the event filter) — no driver collect, so
    the shape survives a cluster where the driver never sees data."""
    plan = _plan(spark, "incremental_session_merge")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
