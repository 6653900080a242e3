"""Named query registry: every operator from SURVEY.md §2 plus the engine's
analytics/training-data extensions, each paired with an ANSI-SQL oracle.

``QUERIES[name](spark, sf_dir) -> DataFrame`` and ``ORACLE[name] -> str`` are
what ``__spark_entry__.py`` exposes to the driver's correctness harness.
Both are merged from the plan modules in ``_MODULES`` order
(``tests/test_registry.py`` fails if two modules define the same name).

Ordering matters: the driver oracle-checks only the FIRST 50 registry
entries, so ``DRIVER_PRIORITY`` pins the 50 queries that buy the most
coverage into that window: the reference core (filter, cell diff, the
Download pipeline), the numerically risky aggregates, and one row for each
newer operator family, preferring families with the least gate
history. A query leaves the window only while an in-window row still
exercises its family, and every query outside it stays verified by the local
replica (``tools/check_oracle.py``) at sf0.001 and sf0.01. Each slot carries
one line saying what it covers; git holds the rotation history.
"""

from importlib import import_module

_MODULES = tuple(
    import_module(f"{__name__}.{m}")
    for m in (
        "reference_queries",
        "analytics_queries",
        "pipeline_queries",
        "pq_queries",
        "extended_queries",
        "tpch_queries",
        "tpch2_queries",
        "corpus_queries",
        "corpus2_queries",
        "analytics2_queries",
        "analytics3_queries",
        "analytics4_queries",
        "analytics5_queries",
        "analytics6_queries",
        "analytics7_queries",
        "analytics8_queries",
        "ops_queries",
        "sampling_queries",
        "spans_queries",
        "graph_queries",
        "quality_queries",
        "classifier_queries",
        "cooccur_queries",
        "mining_queries",
        "layout_queries",
        "retrieval_queries",
        "behavior_queries",
        "capstone_queries",
        "cdc_queries",
        "clusterbal_queries",
        "sketch_queries",
        "streaming_queries",
    )
)


_ALL_QUERIES: dict = {}
_ALL_ORACLE: dict = {}
for _mod in _MODULES:
    _ALL_QUERIES.update(_mod.QUERIES)
    _ALL_ORACLE.update(_mod.ORACLE)

# The 50 queries the driver's correctness gate will check, in order.
DRIVER_PRIORITY = [
    # reference core F1: the Download equality filter
    "filter_eq",
    # curation deliverable: kept-set manifest, leakage-free splits
    "pretrain_kept_manifest",
    # distributed global ordinals vs the single-partition window oracle
    "global_row_number",
    # cluster-state IVM: persisted labels + delta band joins == from scratch
    "dedup_clusters_incremental",
    # leakage-free cluster-keyed split assignment
    "cluster_safe_splits",
    # near-dup duplication-spectrum histogram
    "dup_size_spectrum",
    # Kneser-Ney smoothed n-gram LM scorer
    "kn_lm_score",
    # dedup-discounted token accounting under the keeper rule
    "effective_corpus_size",
    # session-view incremental view maintenance
    "incremental_session_merge",
    # reference core D: the Compare cell diff (anti-join, last-wins keys)
    "diff_cells",
    # position-level winnowing fingerprints (SIGMOD'03 / MOSS)
    "winnow_fingerprint",
    # reference flagship: Download end to end (projection, date tokens)
    "download_pipeline",
    # content-defined chunking
    "cdc_chunk_stats",
    # every quality/budget rung from one pass
    "quality_budget_tradeoff",
    # numerically risky decimal aggregates
    "agg_pricing_summary",
    # blocked fuzzy entity resolution (record linkage)
    "linkage_best_match",
    # join-view incremental view maintenance
    "incremental_join_merge",
    # ring-sharded sink: in-place N->N+1 reshard graded from the files
    "ring_reshard_audit",
    # margin-band classifier reliability calibration
    "perceptron_calibration",
    # pseudo-relevance-feedback second-stage retrieval
    "bm25_prf_topk",
    # LSH banding knobs measured against the shared exact truth
    "minhash_band_tuning",
    # int8 scalar-quantized ANN candidates + exact rerank
    "ann_sq8_rerank",
    # consistent-hash vnode ring rebalance audit
    "shard_rebalance_audit",
    # per-language tokenizer fertility (subwords per word)
    "bpe_fertility_by_lang",
    # balanced selection over trained k-means cells
    "cluster_balanced_sample",
    # left-outer stream-stream interval join, watermark null emission
    "stream_join_left",
    # batch ingest into persisted curation state == rebuild
    "pretrain_manifest_incremental",
    # fixed-budget sampled-truth LSH recall audit
    "lsh_recall_audit_sampled",
    # snapshot diff of two curation releases, changes by cause
    "manifest_release_diff",
    # SCD2 point-in-time dimension lookup
    "scd2_pointintime",
    # TPC-H q21: exists / not-exists joins
    "tpch_q21_sole_late_supplier",
    # token-budget greedy selection (two-phase prefix sum)
    "curation_budget_select",
    # full pretraining-curation capstone with dispositions
    "pretrain_curation_pipeline",
    # BM25 index persisted, loaded back with schemas, then served
    "bm25_serve_topk",
    # BM25 index upserted with half the corpus, then served
    "bm25_incremental_topk",
    # classifier training + confusion matrix
    "perceptron_confusion",
    # count-min sketch as bounded streaming state
    "stream_cms_users",
    # span trim -> batched BPE -> token ids -> packed sequences
    "curate_pack_pipeline",
    # DSIR hashed-bigram importance selection
    "dsir_select",
    # 2-D quality/length skyline selection
    "pareto_quality_length",
    # per-language permille quality-rank calibration
    "quality_domain_rank",
    # varint delta-gap postings index-size audit
    "postings_compression",
    # exact-substring span dedup
    "dedup_spans",
    # margin-criterion contrastive pair mining
    "margin_mining_topk",
    # ER capstone: collapse -> fuzzy pairs -> components -> rollup
    "entity_resolution_pipeline",
    # synchronous label-propagation communities over LSH pairs
    "label_propagation",
    # band-join recall vs the prefix-join exact truth set
    "lsh_recall_audit",
    # two-stage IVF-PQ residual serving
    "ivfpq_residual_adc",
    # IVF probe over trained k-means cells
    "ann_ivf_topk",
    # multimodal media features and content hashes
    "multimodal_extract",
]

assert len(DRIVER_PRIORITY) == 50, len(DRIVER_PRIORITY)
assert len(set(DRIVER_PRIORITY)) == 50
_missing = [n for n in DRIVER_PRIORITY if n not in _ALL_QUERIES]
assert not _missing, _missing

QUERIES = {n: _ALL_QUERIES[n] for n in DRIVER_PRIORITY}
QUERIES.update(
    (n, f) for n, f in _ALL_QUERIES.items() if n not in QUERIES
)

ORACLE = {n: _ALL_ORACLE[n] for n in QUERIES if n in _ALL_ORACLE}

# Every oracle key must have a query; queries without an oracle get the
# driver's weaker rows-only check (documented per query).
assert set(ORACLE) <= set(QUERIES), sorted(set(ORACLE) - set(QUERIES))
