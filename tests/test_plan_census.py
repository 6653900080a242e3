"""Repo-wide physical-plan census: ONE test that reads every batch
registry query's plan (built once per session by the ``registry_plans``
fixture) and asserts the global plan invariants the per-query tests
assert locally.

Invariants (the ones that decide 100 TB viability):
- NO CartesianProduct anywhere, ever.
- NO BatchEvalPython (row-at-a-time Python UDF) anywhere — Python may
  only touch data through Arrow (MapInPandas / FlatMapGroupsInPandas /
  ArrowEvalPython).
- BroadcastNestedLoopJoin only in the whitelisted queries whose
  crossJoin is a broadcast of a SINGLETON/model-sized frame (scalar
  aggregates, centroids, SRP planes, probe-date lists) — anything else
  is an accidental unbounded nested loop.

Streaming queries are excluded: their state machines are covered by
test_streaming.py and the oracle gate.
"""

from __future__ import annotations

SF = "/root/testdata/sf0.001"

#: queries whose plan at sf0.001 legitimately contains
#: BroadcastNestedLoopJoin — every one is a broadcast of a singleton or
#: model-sized frame. An entry whose plan has none fails as stale.
BNLJ_WHITELIST = {
    "ann_brute_topk",  # query vectors broadcast against the corpus scan
    "ann_filtered_topk",  # same, after the keyword prefilter
    "ann_ivf_topk",  # broadcast centroids / probe lists
    "ann_recall",  # composes ann_brute_topk + ann_ivf_topk; inherits their
    #               broadcast-singleton BNLJs (query-set broadcast, bounded)
    "ann_sq8_rerank",  # broadcast singleton per-dim maxabs row (the
    #               vec_quantize_int8 pattern) + bounded 5-row query-code
    #               batch against the corpus scan
    "margin_mining_topk",  # 8-row probe set broadcast against the corpus
    #               scan (the ann_brute_topk pattern)
    "hybrid_rrf_topk",  # composes brute_force_topk; inherits its bounded
    #               query-vector broadcast BNLJ (3-row probe set)
    "rag_context_pipeline",  # composes hybrid_rrf_topk; same bounded
    #               3-row dense probe BNLJ
    "hard_negatives_topk",  # 8-row probe set broadcast against the
    #               corpus scan (the ann_brute_topk pattern)
    "ivfpq_adc",  # broadcast ncells-row coarse-centroid tables (seed +
    #               trained) cross-joined for assignment/probing — the
    #               same bounded singleton pattern as ann_ivf_topk
    "ivfpq_residual_adc",  # same bounded coarse-centroid cross-joins
    #               (the residual path shares the coarse quantizer)
    "neardup_cosine",  # broadcast SRP planes
    "events_decay_score",  # broadcast max-timestamp anchor scalar
    "tpch_q11_important_stock",  # broadcast global-share scalar
    "tpch_q22_dormant_customers",  # broadcast avg-balance scalar
    "basket_lift",  # broadcast n_orders singleton
    "scd2_pointintime",  # broadcast 3-row probe-date list
    "exact_price_quantiles",  # rank table (pcts x n-scalar crossJoin) +
    #               non-equi locate against the ~1.6k-row bucket table
    "ccnet_ppl_buckets",  # composes exact_quantiles (same bounded locate)
    #               + the 2-cutoff scalar row broadcast over the scores
    "kn_lm_score",  # broadcast bigram-type-count scalar
    "vocab_coverage",  # broadcast top-V vocab list
    "heavy_hitter_terms",  # broadcast doc-count scalar
    "funnel_conversion",  # crossJoin of four single-row stage counts
    "incremental_session_merge",  # broadcast batch-cutoff scalar row
    "curation_budget_select",  # broadcast corpus-token-total scalar
    "pretrain_curation_pipeline",  # broadcast eligible-token-total scalar
    #               (the curation_budget_select budget row)
    "pretrain_kept_manifest",  # same dispositions DAG, same scalar
    "pretrain_manifest_incremental",  # same dispositions DAG (budget
    #               scalar) over the persisted state + batch delta
    "manifest_release_diff",  # composes both releases' disposition
    #               DAGs; inherits their budget-total scalar broadcasts
    "quality_budget_tradeoff",  # broadcast 6-row rung list against the
    #               <=1001-row bucket table + the budget-total scalar
    "minhash_band_tuning",  # broadcast truth-count scalar row
    "shard_rebalance_audit",  # broadcast (N+1)*V-row hash ring
}


def test_every_batch_query_obeys_global_plan_invariants(registry_plans):
    offenders: dict[str, list[str]] = {}
    got_bnlj: set[str] = set()
    for name, built in registry_plans.items():
        if name.startswith("stream_"):
            continue
        plan = built.executed.toString()
        bad = []
        if "CartesianProduct" in plan:
            bad.append("CartesianProduct")
        if "BatchEvalPython" in plan:
            bad.append("BatchEvalPython(row-at-a-time UDF)")
        if bad:
            offenders[name] = bad
        if "BroadcastNestedLoopJoin" in plan:
            got_bnlj.add(name)
    assert not offenders, offenders
    unexpected_bnlj = got_bnlj - BNLJ_WHITELIST
    stale_bnlj = BNLJ_WHITELIST - got_bnlj
    assert not unexpected_bnlj, (
        "BroadcastNestedLoopJoin outside the singleton whitelist — "
        f"audit these for unbounded nested loops: {sorted(unexpected_bnlj)}"
    )
    assert not stale_bnlj, f"stale BNLJ_WHITELIST entries: {sorted(stale_bnlj)}"


def test_decontam_size_gates_the_bench_join(spark):
    """decontam_overlap must not FORCE-broadcast its corpus-derived
    benchmark side (the round-4 verdict's one scale defect): with the
    broadcast threshold disabled — the stand-in for a bench shingle set
    over the threshold at 100 TB — the plan must degrade to a shuffle
    join, with identical results. With the default threshold the engine
    is free to (and locally does) pick the broadcast plan, so the gate
    is the ENGINE's size estimate, not a hardcoded F.broadcast."""
    from etl_pipeline_excel_sql__spark.plans.corpus_queries import (
        q_decontam_overlap,
    )

    rows_default = sorted(
        map(tuple, q_decontam_overlap(spark, SF).collect())
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = q_decontam_overlap(spark, SF)
        initial = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in initial, initial
        rows_gated = sorted(map(tuple, df.collect()))
        final = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in final, final
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert rows_gated == rows_default


def _gated_both_regimes(spark, fn, anti_key: str):
    """Run ``fn`` under the default and the disabled broadcast threshold;
    assert the LeftAnti join degrades to a non-broadcast join when the
    engine may not broadcast (threshold -1 stands in for a corpus-grown
    build side at 100 TB), and that both regimes return identical rows.
    Unlike decontam, these queries legitimately broadcast SRP planes /
    singleton aggregates elsewhere in the plan, so the assertion targets
    the LeftAnti join lines, not the whole plan."""
    rows_default = sorted(map(tuple, fn(spark, SF).collect()))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = fn(spark, SF)
        for stage in ("initial", "final"):
            plan = df._jdf.queryExecution().executedPlan().toString()
            anti = [ln for ln in plan.splitlines() if "LeftAnti" in ln]
            assert anti, f"{stage}: no LeftAnti join in plan"
            for ln in anti:
                assert "BroadcastHashJoin" not in ln, (stage, ln)
                assert f"[{anti_key}#" in ln, (stage, ln)
            if stage == "initial":
                rows_gated = sorted(map(tuple, df.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert rows_gated == rows_default


def test_semantic_dedup_keep_size_gates_the_drop_list(spark):
    """The drop list (every non-representative near-dup member) grows
    with the corpus's duplicate count — billions of ids at 100 TB with
    30-50% semantic dups — so the anti-join must be engine-size-gated,
    never F.broadcast-forced (the decontam-r4 pattern)."""
    from etl_pipeline_excel_sql__spark.plans.pipeline_queries import (
        q_semantic_dedup_keep,
    )

    _gated_both_regimes(spark, q_semantic_dedup_keep, "vec_id")


def test_text_passage_dedup_size_gates_the_boiler_set(spark):
    """The boilerplate set (df>cap heavy-hitter passage hashes) is
    corpus-scale in the heavy-tailed web worst case — same engine
    size-gate contract as the decontam bench side."""
    from etl_pipeline_excel_sql__spark.plans.corpus2_queries import (
        q_text_passage_dedup,
    )

    _gated_both_regimes(spark, q_text_passage_dedup, "h")


# ---------------------------------------------------------------------------
# Corpus-derived broadcast census (round 7).
#
# The same scale bug shipped three times (decontam r4, semantic_dedup_keep
# and text_passage_dedup r6): an F.broadcast of a frame that GROWS with the
# corpus. This census makes the pattern structurally unshippable: with the
# auto-broadcast threshold disabled, every BroadcastExchange left in a plan
# is hint-forced or crossJoin-structural — the engine chose none of them —
# so each one whose subtree reads a corpus-scale table (documents /
# embeddings / events / lineitem) without an intervening bound (limit or
# scalar aggregate) is a reviewed-or-rejected scale hazard. The whitelist
# below is the review: every entry names WHY its broadcast stays bounded
# when the corpus grows 1000x.

CORPUS_TABLES = ("documents", "embeddings", "events", "lineitem")
_BOUND_NODES = {
    "GlobalLimit",
    "LocalLimit",
    "CollectLimit",
    "TakeOrderedAndProject",
}
_AGG_NODES = ("HashAggregate", "SortAggregate", "ObjectHashAggregate")

#: queries allowed to force-broadcast a corpus-derived frame, each with the
#: boundedness argument. An aggregate keyed on a FIXED-DOMAIN attribute
#: (dim index, PQ code, k-means cell, brand, event type, language, domain
#: enum) is bounded by construction even though the census can't prove it
#: statically — the key space, not the corpus, caps the row count.
CORPUS_BROADCAST_WHITELIST = {
    "ann_brute_topk": "query set is vec_id < 5 — constant-range predicate",
    "ann_filtered_topk": "same constant-range query set",
    "ann_ivf_topk": "query set vec_id < 5; probe list = queries x nprobe",
    "ann_recall": "composes brute + ivf; same bounded query set",
    "hybrid_rrf_topk": "composes brute_force_topk; dense query set is "
    "vec_id < 3 — constant-range predicate (the BM25 query side is a "
    "literal serving batch, not corpus-derived)",
    "rag_context_pipeline": "composes hybrid_rrf_topk; inherits the same "
    "vec_id < 3 constant-range dense probe set (the snippet join's build "
    "side is the fused top-3 — k-bounded)",
    "hard_negatives_topk": "probe set is vec_id < 8 — constant-range "
    "predicate, the ann_brute_topk argument",
    "bm25_prf_topk": "both forced broadcasts are k-bounded by "
    "construction: the feedback doc set is pass-1 top-5 per query "
    "(queries x 5 rows) and the expanded term batch is the literal "
    "query batch + top-2 harvested terms per query (queries x 5 rows) — "
    "the serving-batch argument, independent of corpus size",
    "basket_lift": "per-brand counts — TPC-H brand domain is 25 values",
    "exact_price_quantiles": "bucket table keyed on floor(value/width) — "
    "bounded by value range / bucket width (~1.6k rows), independent of "
    "corpus row count",
    "ccnet_ppl_buckets": "exact_quantiles' bucket table over the scaled "
    "score domain (0..LM_SCALE / width — <= ~1k rows) + the 2-cutoff "
    "scalar row",
    "epoch_shuffle": "global_row_numbers offsets keyed on the (epoch, "
    "key-high-8-bits) bucket — <= EPOCHS x 2^(60-_EPOCH_KEY_SHIFT) = 512 "
    "rows by construction, independent of corpus size",
    "events_anomaly_mad": "per-event-type median/MAD — small type enum",
    "lang_confusion": "per-language totals — fixed language set",
    "mix_domains": "per-domain rate table — bounded domain enum (spec'd)",
    "pq_adc": "codebooks keyed (sub, code): M x 256 rows by construction",
    "ivfpq_adc": "codebooks + coarse centroids: (M x 256) + ncells rows",
    "ivfpq_residual_adc": "same bounded codebook/centroid tables",
    "vec_quantize_int8": "per-dim max — EMB_DIMS groups",
    "ann_sq8_rerank": "query code batch + rerank vector re-fetch: the "
    "probe set is vec_id < 5 (constant-range predicate) and the "
    "candidate frame is row_number-cut to queries x candidates rows "
    "before its broadcast — both serving-batch-bounded, independent of "
    "corpus size; the maxabs row is a keys=[] aggregate",
    "margin_mining_topk": "probe set is vec_id < 8 (constant-range "
    "predicate); the forward-kNN sum table groups BY that probe set's "
    "query_id so it is <= 8 rows (the backward sums group by corpus "
    "neighbor_id and are deliberately NOT broadcast)",
    "dsir_select": "hashed-bigram weight table — bucket domain is "
    "DSIR_BUCKETS=256 rows by construction, independent of corpus size",
}


def _plan_children(node):
    """Physical-plan children, descending through the AQE leaf wrapper
    (AdaptiveSparkPlanExec is a LeafExecNode holding the real plan) and
    query-stage wrappers."""
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        return [node.initialPlan()]
    if name.endswith("QueryStage"):
        return [node.plan()]
    ch = node.children()
    return [ch.apply(i) for i in range(ch.size())]


def _carries_corpus_rows(node):
    """True iff this subtree can deliver O(corpus) rows: it scans a
    corpus-scale table with no limit / scalar-aggregate bound on the
    path. Aggregates with non-empty keys do NOT bound (their output is
    key-cardinality, which may itself be corpus-scale) — bounded-domain
    keys are handled by the whitelist, not the walker."""
    name = node.nodeName()
    if name in _BOUND_NODES:
        return False
    s = node.simpleString(25)
    if any(a in name for a in _AGG_NODES) and "keys=[]" in s:
        return False
    if "Scan" in name and any(f"{t}.parquet" in s for t in CORPUS_TABLES):
        return True
    return any(_carries_corpus_rows(c) for c in _plan_children(node))


def _find_corpus_broadcasts(node, out):
    if node.nodeName() == "BroadcastExchange":
        for c in _plan_children(node):
            if _carries_corpus_rows(c):
                out.append(node.simpleString(25))
    for c in _plan_children(node):
        _find_corpus_broadcasts(c, out)


def test_no_unreviewed_corpus_derived_broadcasts(registry_plans):
    offenders: dict[str, list[str]] = {}
    broadcasting: set[str] = set()
    for name, built in registry_plans.items():
        if name.startswith("stream_"):
            continue
        bad: list[str] = []
        _find_corpus_broadcasts(built.executed_no_auto_broadcast, bad)
        if bad:
            broadcasting.add(name)
        if bad and name not in CORPUS_BROADCAST_WHITELIST:
            offenders[name] = [b[:200] for b in bad]
    assert not offenders, (
        "forced broadcast of a corpus-derived frame (the decontam-r4 "
        "scale bug) outside the reviewed whitelist — size-gate it (drop "
        f"the F.broadcast hint) or justify it above: {offenders}"
    )
    stale = set(CORPUS_BROADCAST_WHITELIST) - broadcasting
    assert not stale, f"stale CORPUS_BROADCAST_WHITELIST entries: {sorted(stale)}"


def test_corpus_broadcast_census_catches_the_reverted_site(spark):
    """Red-path proof: re-adding the r6 semantic_dedup_keep broadcast
    shape (forced broadcast of a corpus-slice drop list) must flag."""
    from pyspark.sql import functions as F

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        drop = emb.filter(F.col("vec_id") % 2 == 0).select("vec_id")
        df = emb.join(F.broadcast(drop), "vec_id", "left_anti")
        bad: list[str] = []
        _find_corpus_broadcasts(
            df._jdf.queryExecution().executedPlan(), bad
        )
        assert bad, "census walker failed to flag a forced corpus broadcast"
        # and the bounded shape it must NOT flag: scalar agg then broadcast
        scal = emb.agg(F.count(F.lit(1)).alias("n"))
        ok: list[str] = []
        _find_corpus_broadcasts(
            emb.crossJoin(F.broadcast(scal))
            ._jdf.queryExecution()
            .executedPlan(),
            ok,
        )
        assert not ok, ok
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
