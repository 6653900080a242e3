"""Dump formatted physical plans.

    python tools/explain_plans.py
        regenerate PLANS.md: headline queries with scale commentary
        (sf0.01 statistics).
    python tools/explain_plans.py --tag TAG [--round RDIR] [--sf DIR] name ...
        write each named query's plan to plans/<RDIR>/<name>_<TAG>.txt
        (``TAG`` is e.g. "before" or "after"; ``--round`` defaults to r14,
        ``--sf`` to $SPARK_GRAFT_SF_DIR or sf0.1) and print its Exchange
        count.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

COMMENTARY = {
    "download_pipeline": (
        "Segment filter is pushed into the customer scan (PushedFilters: "
        "EqualTo(c_mktsegment,BUILDING)); customer broadcasts; orders reads "
        "only the 5 needed columns. Zero non-broadcast shuffles — the "
        "reference pulled the whole table over ODBC and filtered client-side."
    ),
    "agg_pricing_summary": (
        "Shipdate predicate reaches the parquet scan (row-group pruning at "
        "scale); single exchange after map-side partial aggregation; all "
        "decimal arithmetic inside WholeStageCodegen."
    ),
    "join_multitable_revenue": (
        "All five dimension joins are BroadcastHashJoin — the lineitem fact "
        "table is scanned once and never shuffles until the final groupBy "
        "exchange. At 100 TB this is the plan you want: one pass over the "
        "fact data."
    ),
    "diff_cells": (
        "One exchange for the old-side last-wins dedup window, then a "
        "broadcast left join (template-scale old side). With two large "
        "snapshots the same plan degrades gracefully to sort-merge on the "
        "key — still a single shuffle per side."
    ),
    "dedup_minhash": (
        "Signature stage: explode + window + 12 min() aggregates, all "
        "codegen with map-side partials; the band self-join carries only "
        "(id, band, bucket) strings; shingle arrays appear solely in the "
        "final verification join of the (small) candidate set."
    ),
    "asof_join": (
        "Union-and-window as-of: both sides union on (key, time), one "
        "window shuffle total, last-non-null carry-forward — no M×N "
        "inequality-join intermediate at any scale."
    ),
    "ann_brute_topk": (
        "Query side broadcasts; the corpus scan is embarrassingly parallel "
        "with unrolled codegen cosine; the only shuffle is the per-query "
        "top-k window reduction."
    ),
    "ann_ivf_topk": (
        "Trained IVF: every Lloyd round is a broadcast of the (tiny) "
        "centroid table against the corpus scan with ONE reused small "
        "cosine expression (whole-stage codegen compiles it once — a fused "
        "per-row argmax over all cells exceeded janino's method limit and "
        "silently degraded to interpreted eval), then a map-side-combined "
        "max_by whose shuffle carries one row per vector. Assignments are "
        "localCheckpointed per round so the probe + cell join evaluate "
        "them once. Final probe joins broadcast probes to corpus cells — "
        "the corpus never shuffles."
    ),
    "neardup_cosine": (
        "Candidate keys come from srp_buckets_long: hyperplanes as a "
        "broadcast 18-row table, one dims-term dot per (vector, plane) "
        "row, bucket votes summed in a map-side-combined aggregate — "
        "small static codegen, no giant fused signature expression. The "
        "(block, table, bucket) self-join carries only key scalars; "
        "vectors re-join for the surviving candidates only."
    ),
    "dedup_clusters": (
        "Connected components: the LSH pair pipeline materializes ONCE "
        "(eager localCheckpoint of the edge set), then each min-label "
        "round is one shuffle join + one map-side-combined min aggregate "
        "on (node, label) pairs — document payloads never enter the loop. "
        "The displayed plan is the final label/size join; the loop's "
        "per-round plans are identical by construction."
    ),
    "text_tfidf_topk": (
        "Explode feeds two hash aggregates (doc-term tf, then term df) "
        "with map-side combine, one shuffle join on the term key, and a "
        "per-doc top-k window partitioned by doc_id — every key is "
        "high-cardinality, no single-partition funnels."
    ),
    "pack_sequences": (
        "Scalable prefix sum: per-range token sums (map-side combined), "
        "range offsets via a window over the TINY offsets table (the only "
        "single-partition step — n_ranges rows), then per-doc cumsum "
        "windows parallel across ranges joined to broadcast offsets. The "
        "naive global-order window would funnel the full corpus through "
        "one partition."
    ),
    "tpch_q21_sole_late_supplier": (
        "EXISTS/NOT-EXISTS become left-semi and left-anti hash joins on "
        "the order key with the supplier-inequality as residual condition; "
        "orders and supplier broadcast; lineitem is scanned, never "
        "cartesian-joined."
    ),
    "tpch_q8_market_share": (
        "Seven-table market-share join: part/customer/supplier/nation×2/"
        "region all broadcast (the part filter shrinks its build side at "
        "the scan), so lineitem shuffles exactly once — for the final "
        "per-year aggregate, whose CASE numerator and denominator ride "
        "the same map-side partial. The ratio divides two exact decimal "
        "sums after the string hop."
    ),
    "decontam_overlap": (
        "Benchmark decontamination: the join strategy is SIZE-GATED by "
        "Catalyst/AQE, not forced — at this SF the eval-side distinct "
        "shingle set fits the broadcast threshold, so the plan shows a "
        "BroadcastHashJoin and the training side is one scan + explode + "
        "join + per-doc count with map-side combine. A bench suite bigger "
        "than the threshold degrades to a shuffle join on the shingle key "
        "instead of an unbounded broadcast (plan-tested both ways in "
        "test_plan_census.py::test_decontam_size_gates_the_bench_join). "
        "No shingle string survives past its hash aggregate."
    ),
    "mix_domains": (
        "Domain-mixture resample: one tiny per-domain aggregate, the "
        "basis-point rate table broadcasts back (BroadcastHashJoin), and "
        "the keep decision is a narrow deterministic hash filter — zero "
        "corpus-row shuffles, so the plan is scale-free in the corpus "
        "dimension."
    ),
    "dedup_kcore": (
        "k-core peeling: per round one map-side-combined degree aggregate "
        "plus two semi-joins against the tiny surviving-node set; the "
        "edge set shrinks monotonically and each round's removal count "
        "doubles as the lineage cut. Rounds = peeling depth (2 on this "
        "graph at every SF)."
    ),
    "bpe_vocab": (
        "Train-then-apply BPE with ONE corpus tokenization: the word-"
        "frequency table materializes once and feeds both the 6-round "
        "trainer (pair aggregates bounded by symbol-pair cardinality; "
        "one scalar argmax collect per round) and the encoder (chained "
        "codegen merge folds over |vocab| rows). The corpus explode — "
        "the only corpus-sized cost — runs exactly once."
    ),
    "pq_adc": (
        "Product-quantization ADC: codebooks broadcast for training/"
        "encoding (argmin collapses map-side), the per-query m×ncodes "
        "lookup table broadcasts for search, and distances are integer "
        "micro-unit sums — associative, partitioning-independent. The "
        "only corpus shuffles are the two per-(vector,subspace) combines."
    ),
    "ivfpq_adc": (
        "IVF-PQ composition: L2 coarse centroids (ncells rows) and PQ "
        "codebooks both broadcast; at query time only code rows of the "
        "nprobe probed cells join the broadcast lookup tables. The "
        "BroadcastNestedLoopJoins are the bounded ncells-row centroid "
        "cross-joins (whitelisted, same pattern as ann_ivf_topk)."
    ),
    "text_repetition": (
        "Repetition signals: one explode feeds a two-level codegen "
        "aggregate (token counts collapse map-side before the doc_id "
        "shuffle); the n-gram distinct counts ride the same row as array "
        "expressions; the final join is doc_id-to-doc_id between two "
        "equally-partitioned aggregates."
    ),
    "asof_join_nearest": (
        "Nearest as-of: BOTH directions ride the single union exchange on "
        "the key — backward via last-ignorenulls over the preceding frame, "
        "forward via first-ignorenulls over the following frame with a "
        "flipped tie order (an extra local sort, not an extra shuffle) — "
        "then an integer-microsecond distance compare picks per row. Still "
        "no M×N inequality intermediate."
    ),
    "pagerank_nations": (
        "Integer-exact PageRank: the edge aggregate materializes once "
        "(localCheckpoint) and each iteration broadcasts the |V|-row rank "
        "vector, so the only per-round shuffle is the contribution "
        "groupBy(dst) with map-side partials. Rank lineage is truncated "
        "every round — the un-truncated plan doubles per iteration "
        "(2^iters analysis cost, observed 65 s → ~2 s at sf0.001)."
    ),
    "corpus_curate_pipeline": (
        "End-to-end curation: quality gate and split tag fuse into the "
        "scan projection; md5(text) is computed BEFORE the dedup window's "
        "exchange and the body dropped, so the one shuffle carries "
        "(hash, id, small metadata) — never documents."
    ),
    "window_moving_median": (
        "Exact trailing-frame median: collect_list→array_sort→element_at "
        "runs inside the single customer-partitioned window exchange; the "
        "frame caps at 5 elements so per-row memory is constant at any "
        "corpus size, and picking (not interpolating) keeps the double "
        "bit-identical across engines."
    ),
    "join_skew_salted": (
        "Salted hot-key join: the small side expands 8× via "
        "explode, the big side tags a random salt, and the join keys "
        "include __salt — a hot key's probe rows spread over 8 "
        "reducers. Results equal the plain join (oracle-verified); salt "
        "only changes physical placement."
    ),
    "band_join_recent_errors": (
        "Keyless time-band join via bucket replication: the probe side "
        "explodes into the 2 band-width buckets its window can span, the "
        "build side lands in exactly 1, and the join is a plain hash join "
        "on the bucket id with the exact band predicate as a filter — "
        "never a BroadcastNestedLoopJoin, which is what a naive "
        "inequality join compiles to."
    ),
    "text_passage_dedup": (
        "Passage boilerplate removal: the document-frequency aggregate "
        "and the anti-join key on md5 digests (32 chars), so no exchange "
        "ever carries passage text; the boilerplate set (rare by "
        "definition of the frequency cap) broadcasts into the anti-join; "
        "reassembly is one doc_id-keyed exchange."
    ),
    "window_range_frame": (
        "TRUE time-RANGE frame over integer epoch-micros: one hash "
        "exchange on user_id covers both frame aggregates; the frame "
        "width is event time, so the plan is identical whether a user "
        "has 3 events or 3 million in the hour."
    ),
    "emb_gram_matrix": (
        "Distributed Gram matrix: Arrow mapInPandas emits model-sized "
        "(dims²/2-row) integer partial matmuls per batch; the single "
        "exchange carries (i, j, partial) — data volume never shuffles, "
        "and integer partials merge bit-exactly under any batch split."
    ),
    "semantic_dedup_keep": (
        "SemDeDup keep-set: SRP-LSH candidate pairs → exact cosine verify "
        "→ min-label components; the final subtraction is a broadcast "
        "anti-join of the (small) drop list against the corpus scan — the "
        "embedding corpus never shuffles to compute the surviving set."
    ),
    "global_row_number": (
        "Distributed global ordinals: per-bucket counts feed a "
        "single-partition prefix-sum over #buckets rows (tiny by "
        "construction), offsets broadcast back, and the table-sized rank "
        "runs per bucket — the naive row_number() OVER (ORDER BY …) "
        "would funnel the whole table through one task. The oracle IS "
        "that naive window, proving the decomposition identical."
    ),
    "basket_lift": (
        "Association-rule mining: the pair self-join runs on the "
        "DISTINCT (order, brand) set keyed on the order id — per-basket "
        "fan-out is bounded by C(|brands|,2), independent of line-item "
        "volume; brand totals and the basket count broadcast back, and "
        "every statistic is integer ppm — exact at any partitioning."
    ),
    "events_twap": (
        "Time-weighted average (LOCF): one (user, day) exchange serves "
        "both the lead() duration window and the final aggregate; "
        "value×duration accumulates exactly in decimal with integer "
        "epoch-micro weights, so the merge is order-free."
    ),
    "events_m4_downsample": (
        "M4 downsampling: (min, max, first, last) per series-hour via "
        "min_by/max_by over the (epoch-micros, event_id) total order — "
        "one partial-aggregated exchange, no Window operator, no per-row "
        "rank rows; the plan that feeds a line chart from a trillion "
        "points."
    ),
    "dedup_spans": (
        "Exact-substring span dedup: k-gram hashing is posexplode + lead "
        "windows (one doc-keyed exchange, rows are (doc_id, pos, md5) — "
        "never text); the duplicated-gram table is built by a pure "
        "HashAggregate (count + int64-packed keeper min, both map-side "
        "combined — no SortAggregate, no row_number hot key on "
        "boilerplate grams) and joined back SIZE-GATED (corpus-derived, "
        "so no broadcast hint; AQE picks the strategy); island merge is "
        "one window per document. Three exchanges total, all keyed, all "
        "skew-tolerant."
    ),
    "dedup_span_trim": (
        "The span surgery applied: cut occurrences expand to covered "
        "(doc_id, pos) pairs via sequence+explode (k rows per gram, no "
        "text), tokens drop by left_anti join on (doc_id, pos), and the "
        "survivors reassemble per document with sort_array(collect_list) "
        "— text re-enters an exchange only at this final per-doc "
        "aggregation, whose payload is the OUTPUT corpus."
    ),
    "bpe_token_ids": (
        "Tokenizer last mile: the trained id table enters as an explicit "
        "broadcast (bounded: alphabet + merges — the whitelisted trained-"
        "structure class); encoding folds run on the DISTINCT-WORD table; "
        "the document-to-word join carries no hint (the word vocabulary "
        "is corpus-derived, so the engine size-gates broadcast vs "
        "shuffle); all collect_list reassemblies are ObjectHashAggregate "
        "with map-side partials."
    ),
    "pack_token_ids": (
        "Fixed-length LM sequence packing: global offsets via the "
        "two-phase prefix sum — the only single-partition window runs "
        "over the per-range partials table (rows = doc_id range count, "
        "not corpus rows); the corpus-scale exchange is the final "
        "re-chunk groupBy whose (position, id) payload IS the output."
    ),
    "curate_pack_pipeline": (
        "The capstone DAG: span trim -> batched BPE training on the "
        "trimmed corpus -> token ids -> packed sequences, one lazy plan "
        "with two lineage cuts (trimmed corpus, word table) shared by "
        "every downstream stage. Inherits each stage's audited shape: "
        "digest-only k-gram exchanges, hash-aggregated keeper argmin, "
        "size-gated corpus joins, broadcast trained structures, and the "
        "two-phase prefix sum."
    ),
    "table_fingerprint": (
        "Replica-verification digest: count + XOR of 60-bit row hashes + "
        "full decimal hash sum per group, one partial-aggregated "
        "exchange carrying three numbers per group — compare two copies "
        "of a 100 TB table without moving either."
    ),
    "bm25_topk": (
        "Sparse retrieval: explode -> two map-side-combined hash "
        "aggregates (doc-term tf, term df); the BOUNDED query batch "
        "broadcasts and prunes the corpus term table BEFORE the "
        "per-(query, doc) aggregate, so only matching terms ever reach "
        "the scoring join; top-k is a window over query_id (as many "
        "groups as queries). The corpus never force-broadcasts. Since "
        "round 9 the per-term score is ONE decimal(38,0) integer "
        "division (cleared-denominator rational idf x saturation) — no "
        "double anywhere in the hash."
    ),
    "hybrid_rrf_topk": (
        "Rank fusion: both inputs are already top-k-bounded (queries x "
        "k rows), so the full-outer fusion join and the fused-rank "
        "window are trivially small at any corpus size; the only "
        "corpus-scale work is the two rankers themselves (BM25's "
        "aggregates, brute-force cosine's broadcast-probe scan). RRF is "
        "integer DIV — no cross-engine float risk in the fused score."
    ),
    "perceptron_quality": (
        "Supervised training, one pass per ROUND since round 9: the "
        "bounded weight table (n_buckets rows) broadcasts against the "
        "persisted doc_id-partitioned feature table, a window sum over "
        "doc_id gives every feature row its doc's margin with no "
        "join-back (and no exchange — the cache carries the "
        "partitioning), and the only per-round shuffle is the bounded "
        "bucket-keyed update. Per-round driver state is the weight "
        "vector only — no corpus collect, no per-sample SGD ordering."
    ),
    "zorder_key": (
        "Pure narrow map — 2x21 shift/mask terms in one WholeStageCodegen "
        "projection over the events scan, zero shuffle at any scale. Only "
        "the key is computed here; the engine writes no Z-clustered layout."
    ),
    "cdc_chunk_stats": (
        "The whole per-document phase — boundary lag, running-sum chunk "
        "numbering, (doc, chunk) grouping — rides ONE doc_id exchange; "
        "the digest side is a map-side-combinable count+packed-MIN "
        "aggregate joined back size-gated (the span-dedup doctrine: an "
        "aggregate+join, never a window over the digest, so a "
        "billion-occurrence boilerplate chunk has no hot reducer key). "
        "The chunk derivation appears on both join sides (same accepted "
        "shape as dedup_spans — the scan is column-pruned to "
        "doc_id+text, and persisting corpus-scale chunks to save the "
        "recompute would cost more than it saves)."
    ),
    "hll_distinct_shingles": (
        "The sketch IS the plan story: shingling is posexplode + one "
        "per-doc lead window, register max(rho) partial-aggregates "
        "map-side into m=64 rows per language, and the corpus row is a "
        "REGISTER MERGE over those tables — the corpus is never "
        "re-scanned for the '*' estimate. The exact counts ride the "
        "same shingle pass; everything downstream of the registers is "
        "register-cardinality work."
    ),
    "cms_heavy_hitters": (
        "One map-side-combinable (row, col) groupBy builds the 2048-cell "
        "sketch; the exact side is TakeOrderedAndProject (top-5, never a "
        "full sort); the probe join is sketch-sized x 5 rows. At 100 TB "
        "the only corpus-scale work is the shingle pass the sketch and "
        "the top-k already share upstream."
    ),
    "kn_lm_score": (
        "Occurrences compress to per-doc (w1, w2, k) multiplicities "
        "BEFORE any model math; prefix totals and continuation fan-in/"
        "fan-out are windows over the bigram-TYPE table (model-sized); "
        "the single broadcast is the type-count scalar. Shuffle rows "
        "carry word pairs and counts, never text."
    ),
    "phrase_search_topk": (
        "Exact-phrase IR: positional postings are one narrow posexplode; "
        "the broadcast phrase batch prunes to matching terms BEFORE the "
        "anchor aggregate, so shuffled rows are proportional to matching "
        "postings, never the corpus; occurrence detection is two hash "
        "aggregates keyed on (phrase, doc[, anchor]) — no postings "
        "self-join anywhere in the plan."
    ),
    "skipgram_top_pairs": (
        "Co-occurrence pair generation via lead windows: ONE exchange "
        "(doc_id, for the window sort), then map-side-combined counts "
        "over the bigram-vocabulary-scale pair table and a "
        "TakeOrderedAndProject top-k — the plan contains no join at all "
        "(pinned by test_cooccur)."
    ),
    "hard_negatives_topk": (
        "Contrastive mining is the ann_brute_topk shape: the bounded "
        "probe batch broadcasts, the corpus scans once, and the label "
        "inequality filters BEFORE the dot product so same-label pairs "
        "never pay vector arithmetic; ranking ties break on neighbor_id."
    ),
    "rag_context_pipeline": (
        "The serving capstone composes three k-bounded tables (BM25 "
        "top-k, dense top-k, fused top-3); corpus-scale work is only "
        "the two rankers' scans, and the final snippet join probes the "
        "corpus with a (queries x 3)-row build side — broadcast at any "
        "corpus size."
    ),
    "bm25_incremental_topk": (
        "Incremental ingest: the existing index's tf/dl/df tables union "
        "with the new batch's (vocabulary-scale re-aggregation, never a "
        "corpus re-tokenization); doc_id overlap fails FAST via one "
        "bounded intersection probe before any merged table is built "
        "(round 10 — the prior lazy dl-only guard let tf/dfreq "
        "double-count for consumers that never evaluate dl). Serving is "
        "then the standard BM25 plan."
    ),
    "bm25_prf_topk": (
        "Two-pass retrieval over ONE index build: pass-1 top-5 is "
        "k-bounded per query, so the feedback term harvest probes the "
        "corpus tf table with a broadcast build side; expansion keeps "
        "the batch at queries x 5 rows, and the rescore is the standard "
        "BM25 plan over the expanded broadcast batch."
    ),
    "bm25_serve_score_topk": (
        "The serving hot path isolated: timed work is load (partitioned "
        "parquet index tables, schema-enforced) + the broadcast-batch "
        "score join + per-query window — the index build/save runs once "
        "per process per SF (the bench's untimed warmup), mirroring a "
        "deployment that trains nightly and serves continuously."
    ),
    "funnel_conversion": (
        "Each funnel step scans ONLY its own event type (EqualTo pushed "
        "to the parquet scan) and reduces to min-timestamp per user "
        "before joining the previous step's anchors — every shuffle "
        "keys on user_id, so AQE reuses one partitioning across steps "
        "and inter-step traffic is at most one row per surviving user."
    ),
    "cohort_retention": (
        "Two user-keyed hash aggregates (first-active day, distinct "
        "active days) joined on user_id; the final (cohort x offset) "
        "aggregate is calendar-bounded, independent of event volume. "
        "All measures integer counts / ppm."
    ),
    "dedup_jaccard_prefix": (
        "Exact-recall prefix-filter join: shingle df aggregate + one "
        "per-doc window rank the global rarest-first order, the prefix "
        "self-join carries (id, hash) only, and exact verification is a "
        "(pair, shingle) co-occurrence aggregate gated to candidates — "
        "all-integer, no cartesian, no missed pair at the threshold "
        "(the completeness lemma bottom-k blocking cannot offer)."
    ),
    "linkage_best_match": (
        "Entity resolution with the LSH-band candidate doctrine: the "
        "probe batch broadcasts into the catalog scan (BroadcastHashJoin "
        "on the blocking key, no cartesian), and best-match-per-probe "
        "is a packed-integer MIN aggregate — partial aggregation "
        "reduces each block map-side; the plan contains no Window "
        "(pinned by test_behavior)."
    ),
    "incremental_join_merge": (
        "Join-view IVM: the three delta terms join small-side batches "
        "against the base slices (broadcastable at deployment delta "
        "sizes), union, and one partial-combined aggregate; hash "
        "equality with the oracle's direct full join-aggregate is the "
        "algebra proof."
    ),
    "cluster_balanced_sample": (
        "Training reuses kmeans_train_assign (per round: one corpus scan "
        "+ an ncells x dims decimal-exact aggregate, centroids broadcast "
        "and never collected, rounds lineage-truncated). The quota is "
        "one window on the cell key computing population and md5 rank "
        "in the same exchange — selection adds a single shuffle to the "
        "trained assignment."
    ),
    "ann_sq8_rerank": (
        "Training-free quantized serving: the per-dim maxabs row (keys=[] "
        "aggregate) broadcasts back over both sides; the candidate pass "
        "joins code arrays against the broadcast 5-row query batch and "
        "projects to (query, neighbor, qdot) BEFORE the rank-window "
        "exchange (plan-tested: no array column in any hashpartitioning); "
        "exact cosine runs only on the broadcast-sized candidate set."
    ),
    "margin_mining_topk": (
        "Probe batch broadcasts against the corpus scan; the scored frame "
        "is 3 columns (ids + ppm-quantized cosine); forward stats, "
        "backward stats and the candidate cut are windows over that frame "
        "— two skinny shuffles, one per partitioning key. Integer sums "
        "make the kNN aggregates partition-order-independent."
    ),
    "label_propagation": (
        "Each synchronous sweep: edge-list join against the current "
        "(node,label) frame, map-side-combined (node,label) counts, "
        "per-node argmax window — the connected-components shuffle shape "
        "x a FIXED round count; labels localCheckpoint every round so "
        "the final plan contains no trace of the pair generator "
        "(plan-tested: no md5 in the registered query's physical plan)."
    ),
    "dsir_select": (
        "Both bucket-count aggregates collapse to 256 groups map-side; "
        "the weight table reaches the pool explode as a BroadcastHashJoin "
        "(plan-tested, no SortMergeJoin anywhere); the only wide step is "
        "the global top-N window over per-doc 3-integer score rows."
    ),
    "lsh_recall_audit": (
        "Composes two scale-shaped pair generators (band join, prefix "
        "join) and adds one key-key join of skinny pair lists plus a "
        "6-group aggregate — the truth side is completeness-guaranteed "
        "by the prefix-filtering lemma, so the emitted recall is exact."
    ),
    "winnow_fingerprint": (
        "k-gram generation is a narrow array transform fused into the "
        "scan; the min-window and per-doc summary key on doc_id — one "
        "shuffle of (doc_id,pos,key) integer triples, never text "
        "(plan-tested). The rightmost-min selection is one MIN window "
        "over the packed key h40*2^20+(2^20-1-pos)."
    ),
    "quality_domain_rank": (
        "Score computed at the scan (integer stopword density), then one "
        "window shuffle keyed on lang carrying 3-column rows; permille "
        "normalization is rank arithmetic inside the same exchange."
    ),
    "postings_compression": (
        "One (term, doc_id) distinct + lag window + per-term aggregate, "
        "all keyed on term — one shuffle family with map-side-combined "
        "sums; the varint ladder is a codegen'd integer CASE."
    ),
    "entity_resolution_pipeline": (
        "Round-11 capstone: exact-collapse groupBy is the only "
        "record-scale exchange; the fuzzy stage is a hash join on the "
        "block key over collapsed representatives (no cartesian/BNLJ); "
        "components and the rollup run on the name vocabulary."
    ),
    "incremental_session_merge": (
        "Session-view IVM: the cutoff scalar rides a broadcast (no "
        "driver collect); base and delta sessionize independently "
        "(user-keyed windows); only each user's single boundary row "
        "joins across the batch seam before the final per-user "
        "aggregate."
    ),
    "curation_budget_select": (
        "Distributed exclusive prefix sum in quality order: the "
        "corpus-scale cumsum window partitions by the permille bucket; "
        "the only SinglePartition window is over the <=1001-row "
        "range-offset table; the token-budget scalar broadcasts."
    ),
    "cluster_safe_splits": (
        "Leakage-free split assignment: the MinHash pair frame is "
        "truncated once (round-12 fix) and feeds both the components "
        "loop and the leak probe; assignment is a zero-shuffle hash "
        "map over (doc, group); the probe joins the skinny pair list "
        "by id (hash joins only) and provably counts zero."
    ),
    "minhash_band_tuning": (
        "One shared shingle explode + one 12-hash signature build "
        "(bounded persist slots), re-banded per configuration; each "
        "config adds only its (band, bucket)-keyed id self-join plus "
        "two counts; the truth-count scalar broadcasts."
    ),
    "shard_rebalance_audit": (
        "The (N+1)*V-row hash ring broadcasts; ownership is a per-doc "
        "packed-MIN aggregate (map-side combined); a single global "
        "one-row aggregate leaves the executors - nothing corpus-sized "
        "shuffles."
    ),
    "pareto_quality_length": (
        "Skyline without all-pairs: per-(lang, score) min aggregate, "
        "prefix-min window over the small distinct-score table "
        "(lang-sharded), one join back."
    ),
    "effective_corpus_size": (
        "Near-dup-discounted token mass: the audited MinHash+components "
        "DAG feeds a skinny (doc, group, tokens) frame; two map-side "
        "combined aggregates; text never shuffles past the scan."
    ),
    "bpe_fertility_by_lang": (
        "Composes the batched BPE trainer/encoder (k codegen'd folds "
        "over DISTINCT words, id table broadcast) with one per-language "
        "aggregate over skinny per-doc subword counts."
    ),
    "pretrain_curation_pipeline": (
        "The full curation capstone: each corpus-scale scan appears "
        "ONCE (score tokenization, train/bench k-grams, the MinHash "
        "shingle pass inside components); the ranked and staged frames "
        "are localCheckpoint cuts (InMemoryTableScan here), so the "
        "disposition CASE, keeper rule, budget prefix sum, and final "
        "aggregate all read materialized skinny rows; the budget scalar "
        "is the one whitelisted BroadcastNestedLoopJoin."
    ),
    "pretrain_kept_manifest": (
        "Same dispositions DAG as the capstone; the manifest adds only "
        "a filter on the skinny frame plus the group-hash split CASE — "
        "no new corpus work."
    ),
    "quality_budget_tradeoff": (
        "One doc-level pass (the curation_budget_select two-phase "
        "prefix sum), then a <=1001-row permille-bucket aggregate "
        "joined against the broadcast 6-row rung list — every knob "
        "rung answered without re-scanning the corpus."
    ),
    "ring_reshard_audit": (
        "Ring ownership is a LITERAL-array packed arg-min inside "
        "WholeStageCodegen — a pure map, no join, no shuffle; the only "
        "exchange is the final per-shard count over (shard, doc) rows "
        "read back from the resharded files."
    ),
    "dedup_clusters_incremental": (
        "Components over (persisted label star-edges UNION delta band "
        "joins): the corpus pair graph is loaded as a skinny parquet "
        "scan, never regenerated; only the new batch builds signatures; "
        "the components loop runs on |labels| + |delta| edges."
    ),
    "pretrain_manifest_incremental": (
        "Batch ingest of the curation capstone: the persisted state "
        "(scores, labels, digest index, bench digests, contam flags) "
        "appears as five skinny parquet scans; ONLY the batch side "
        "builds text-derived columns (scores, shingles, k-grams); the "
        "cross band join probes the corpus signature build once (the "
        "documented non-incremental cost); everything downstream of "
        "the three inputs is the shared _stage_dispositions DAG with "
        "its localCheckpoint cuts and the one whitelisted budget "
        "scalar broadcast."
    ),
    "manifest_release_diff": (
        "Both releases ride skinny inputs: the previous manifest is "
        "rebuilt ENTIRELY from persisted state parquet (no text at "
        "all), the current one is the incremental-ingest DAG; the "
        "diff itself is one full-outer id join of two manifest-sized "
        "frames plus a broadcast batch-id probe and the disposition "
        "attribution join — diff_cells' classifier shape on curation "
        "output."
    ),
    "lsh_recall_audit_sampled": (
        "The corpus-scale work is ONE scan that hashes doc ids against "
        "the broadcast 1-row count frame (the ppm threshold) and "
        "shingles the ~constant-size sample; the prefix-join truth "
        "and the band join then run over sample-sized frames sharing "
        "one persisted shingle slot — the decade probe shows flat "
        "cost (0.91x) while the full prefix join grows 3.93x."
    ),


}


def formatted_plan(df) -> str:
    """``df``'s formatted physical plan as text.

    ``df._jdf.queryExecution()`` is the JVM bridge (classic sessions only;
    a Connect session has no ``_jdf``): ``explain(mode=...)`` prints to
    stdout, and the bridge returns the same text as a string.
    """
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf")
    ap.add_argument("--round")
    ap.add_argument("--tag")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    if bool(args.tag) != bool(args.names) or (
        not args.names and (args.sf or args.round)
    ):
        ap.error("--tag, --sf and --round go with query names")

    from etl_pipeline_excel_sql__spark.plans import QUERIES
    from etl_pipeline_excel_sql__spark.session import get_session
    from etl_pipeline_excel_sql__spark.sources.registry import DEFAULT_SF_DIR

    spark = get_session()
    spark.sparkContext.setLogLevel("ERROR")
    if args.names:
        out_dir = ROOT / "plans" / (args.round or "r14")
        out_dir.mkdir(parents=True, exist_ok=True)
        for name in args.names:
            plan = formatted_plan(QUERIES[name](spark, args.sf or DEFAULT_SF_DIR))
            p = out_dir / f"{name}_{args.tag}.txt"
            p.write_text(plan)
            n_ex = plan.count("Exchange")
            print(f"wrote {p} ({len(plan.splitlines())} lines, {n_ex} Exchange)")
        return

    sf = "/root/testdata/sf0.01"

    out = [
        "# PLANS — physical-plan evidence for headline queries",
        "",
        "Generated by `python tools/explain_plans.py` (Spark "
        f"{spark.version}, sf0.01 statistics). Each section: why the plan "
        "is the one we want at scale, then the formatted plan.",
        "",
    ]
    for name, note in COMMENTARY.items():
        plan = formatted_plan(QUERIES[name](spark, sf))
        # keep the operator tree + scan details, drop codegen ids noise
        lines = [l.rstrip() for l in plan.splitlines()]
        out += [f"## {name}", "", note, "", "```"]
        out += lines
        out += ["```", ""]
    Path("PLANS.md").write_text("\n".join(out))
    print(f"wrote PLANS.md ({len(out)} lines)")


if __name__ == "__main__":
    main()
