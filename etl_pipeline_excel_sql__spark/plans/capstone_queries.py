"""The full pretraining-curation capstone (round 12).

One driver-gated DAG chaining the five individually-gated curation
stages a data team actually ships, with every input document attributed
to exactly one disposition (the conservation contract: docs in = kept +
dropped, attributed):

1. **benchmark split-off** — ``doc_id % SPAN_BENCH_MOD == 0`` plays the
   held-out eval set (the ``decontam_spans`` demo wiring); benchmark
   docs are never trainable.
2. **quality gate** — per-language stopword-ratio score, calibrated to
   a permille rank within each language (``quality_domain_rank``);
   the worst ``1000 - QUALITY_CUT_PERMILLE`` permille drop.
3. **near-dup cluster collapse** — MinHash-LSH pairs + connected
   components over the full corpus (``dedup_minhash`` +
   ``dedup_clusters``); each cluster keeps ONE member — the min-id
   QUALITY-PASSING, NON-CONTAMINATED member
   (``effective_corpus_size``'s keeper rule, restricted to trainable
   survivors that also clear stage 4, ADVICE r12: a contaminated
   min-id member no longer dooms its cluster's clean content) — the
   rest drop.
4. **span decontam** — survivors sharing any ``SPAN_K``-gram with the
   benchmark split drop (``decontam_spans`` membership; the k-gram
   digest join is size-gated, never force-broadcast).
5. **token-budget selection** — survivors rank by quality permille and
   the best are kept until ``BUDGET_NUM/BUDGET_DEN`` of the ELIGIBLE
   token mass is spent (``curation_budget_select``'s distributed
   two-phase prefix sum — no corpus-scale single-partition window).

Output: one all-integer row per disposition — ``(disposition, n_docs,
n_tokens)`` over {benchmark, dropped_quality, dropped_neardup,
dropped_contaminated, dropped_overbudget, kept}.

Scale shape: the corpus-scale text is scanned once per stage with
pruned columns (score tokenization, train k-grams, bench k-grams, the
MinHash shingle pass) and NEVER shuffles — everything after each scan
rides skinny (doc_id, ints) rows. The two multi-consumer frames (the
ranked quality table and the staged disposition table) are
lineage-truncated once; the pair DAG feeds only connected_components
(which truncates its own input), so no expensive sub-DAG evaluates
twice. The budget scalar and range-offset table are broadcast-sized by
construction (≤1001 permille buckets).

No reference parity: the reference (RogerThat8922/ETL-Pipeline-Excel-SQL-)
has no corpus curation; this is the engine's LLM-data extension
(SURVEY.md §2.12 family), composing only already-gated operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.functions.text import (
    STOPWORDS,
    WS_TOKENS_SQL,
    stopword_hits,
    ws_token_count,
    ws_tokens,
)
from etl_pipeline_excel_sql__spark.operators.spans import kgram_rows
from etl_pipeline_excel_sql__spark.plans.quality_queries import (
    BUDGET_DEN,
    BUDGET_NUM,
)
from etl_pipeline_excel_sql__spark.plans.spans_queries import (
    SPAN_BENCH_MOD,
    SPAN_K,
)
from etl_pipeline_excel_sql__spark.sources.registry import (
    built_dir,
    load_table,
)

QUERIES: dict = {}
ORACLE: dict = {}

#: quality cut: documents ranked in the worst 200 permille of their
#: language drop at the gate (keep the best ~80%).
QUALITY_CUT_PERMILLE = 800


def _quality_scores(train: DataFrame) -> DataFrame:
    """Per-document quality scores over a trainable frame —
    ``(doc_id, lang, n_tokens, __score)``, the quality_domain_rank
    stopword-ratio arithmetic. A pure per-doc map (one text scan), so
    scores computed for a batch union losslessly with scores persisted
    for the corpus — the seam the incremental manifest ingests through.
    """
    toks = ws_tokens(F.col("text"))
    hits = F.lit(0)
    for lg in sorted(STOPWORDS):
        hits = F.when(F.col("lang") == lg, stopword_hits(toks, lg)).otherwise(
            hits
        )
    return train.select(
        "doc_id",
        "lang",
        hits.alias("__hits"),
        F.size(toks).cast("bigint").alias("n_tokens"),
    ).select(
        "doc_id",
        "lang",
        "n_tokens",
        F.expr("(__hits * 1000000) div greatest(n_tokens, 1)")
        .cast("bigint")
        .alias("__score"),
    )


def _rank_permille(scored: DataFrame) -> DataFrame:
    """Per-language permille calibration over a scores frame, lineage-
    truncated: ranked feeds the keeper rule, the disposition CASE, the
    budget prefix sum, and the final aggregate — truncate the skinny
    frame once so the upstream (corpus tokenization, or the persisted-
    scores read + batch scoring) runs exactly once."""
    wl = Window.partitionBy("lang").orderBy(
        F.col("__score").desc(), F.col("doc_id").asc()
    )
    wn = Window.partitionBy("lang")
    return (
        scored.withColumn("__r", F.row_number().over(wl))
        .withColumn("__n", F.count(F.lit(1)).over(wn))
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.expr("((__r - 1) * 1000) div greatest(__n - 1, 1)")
            .cast("bigint")
            .alias("permille"),
        )
        .localCheckpoint(eager=True)
    )


def _curation_dispositions(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(disp, bench): the doc-level disposition frame over trainable
    docs — ``(doc_id, group_id, n_tokens, disposition)`` — and the raw
    benchmark split. Shared by the summary capstone and the kept-set
    manifest; see module docstring for the stage semantics."""
    from etl_pipeline_excel_sql__spark.plans.corpus2_queries import (
        _neardup_groups,
    )

    docs = load_table(spark, "documents", sf_dir)
    bench = docs.filter(F.col("doc_id") % SPAN_BENCH_MOD == 0)
    train = docs.filter(F.col("doc_id") % SPAN_BENCH_MOD != 0)

    # stage 2 scoring + per-language permille calibration (the
    # quality_domain_rank arithmetic, over trainable docs only)
    ranked = _rank_permille(_quality_scores(train))

    # stage 3 inputs: full-corpus near-dup groups (singletons key to
    # themselves); the pair DAG feeds only connected_components, which
    # truncates its own input — one evaluation.
    groups = _neardup_groups(spark, sf_dir)

    # stage 4 input: trainable docs sharing any k-gram with the bench
    # split. Corpus-derived digest set — size-gated join, no broadcast
    # hint (the decontam_spans doctrine).
    bench_h = kgram_rows(bench, SPAN_K).select("h").distinct()
    contam = (
        kgram_rows(train, SPAN_K)
        .join(bench_h, "h")
        .select("doc_id")
        .distinct()
        .withColumn("__contam", F.lit(1))
    )
    return _stage_dispositions(ranked, groups, contam), bench


def _stage_dispositions(
    ranked: DataFrame,
    groups: DataFrame,
    contam: DataFrame,
) -> DataFrame:
    """Stages 3–5 over prebuilt inputs: ``ranked`` (doc_id, lang,
    n_tokens, permille over trainable docs), ``groups`` (doc_id,
    group_id), ``contam`` (doc_id, __contam) → the disposition frame.
    Shared verbatim by the full-corpus capstone and the incremental
    ingest — the algebra downstream of the inputs is identical, which
    is what makes the shared oracle an extend-equals-rebuild proof."""
    flags = ranked.join(groups, "doc_id").join(contam, "doc_id", "left")
    # Keeper = min-id QUALITY-PASSING, NON-CONTAMINATED member (ADVICE
    # r12): restricting to clean members means a cluster whose min-id
    # quality-passing doc is contaminated still promotes its best clean
    # member instead of discarding the whole cluster's trainable
    # content.
    keepers = (
        flags.filter(
            (F.col("permille") < QUALITY_CUT_PERMILLE)
            & F.col("__contam").isNull()
        )
        .groupBy("group_id")
        .agg(F.min("doc_id").alias("__keeper"))
    )
    # Disposition priority: quality, then near-dup, then contamination.
    # A quality-passing non-contaminated doc always has a keeper in its
    # group (itself at minimum). When a group has NO clean
    # quality-passing member, __keeper is NULL and the != comparison is
    # NULL too, so its contaminated quality-passing members fall through
    # to dropped_contaminated — identical CASE semantics in both twins.
    staged = (
        flags.join(keepers, "group_id", "left").select(
            "doc_id",
            "group_id",
            "lang",
            "n_tokens",
            "permille",
            F.when(
                F.col("permille") >= QUALITY_CUT_PERMILLE,
                F.lit("dropped_quality"),
            )
            .when(
                F.col("doc_id") != F.col("__keeper"),
                F.lit("dropped_neardup"),
            )
            .when(
                F.col("__contam").isNotNull(), F.lit("dropped_contaminated")
            )
            .alias("early"),
        )
        .localCheckpoint(eager=True)
    )

    # stage 5: two-phase distributed exclusive prefix sum over the
    # eligible set in quality order (range key = permille bucket,
    # ≤1001 ranges; the curation_budget_select decomposition).
    eligible = staged.filter(F.col("early").isNull())
    rng_w = Window.orderBy("permille").rowsBetween(
        Window.unboundedPreceding, -1
    )
    rng_off = (
        eligible.groupBy("permille")
        .agg(F.sum("n_tokens").alias("__tot"))
        .withColumn(
            "__off",
            F.coalesce(F.sum("__tot").over(rng_w), F.lit(0).cast("bigint")),
        )
        .select("permille", "__off")
    )
    in_w = (
        Window.partitionBy("permille")
        .orderBy("lang", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = (
        eligible.join(rng_off, "permille")
        .withColumn(
            "cum_before",
            F.col("__off")
            + F.coalesce(
                F.sum("n_tokens").over(in_w), F.lit(0).cast("bigint")
            ),
        )
        .select("doc_id", "cum_before")
    )
    total = eligible.agg(
        F.coalesce(F.sum("n_tokens"), F.lit(0))
        .cast("bigint")
        .alias("__total")
    )
    disp = (
        staged.join(cum, "doc_id", "left")
        .join(F.broadcast(total))
        .select(
            "doc_id",
            "group_id",
            "n_tokens",
            F.coalesce(
                F.col("early"),
                F.when(
                    F.col("cum_before") * F.lit(BUDGET_DEN)
                    < F.col("__total") * F.lit(BUDGET_NUM),
                    F.lit("kept"),
                ).otherwise(F.lit("dropped_overbudget")),
            ).alias("disposition"),
        )
    )
    return disp


def q_pretrain_curation_pipeline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """documents in → attributed dispositions out; see module docstring."""
    disp, bench = _curation_dispositions(spark, sf_dir)
    train_rows = disp.groupBy("disposition").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
    )
    bench_row = bench.select(
        ws_token_count(F.col("text")).cast("bigint").alias("__ntok")
    ).agg(
        F.lit("benchmark").alias("disposition"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.coalesce(F.sum("__ntok"), F.lit(0))
        .cast("bigint")
        .alias("n_tokens"),
    )
    return train_rows.unionByName(bench_row)


def q_pretrain_kept_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone's DELIVERABLE: the kept-set manifest — one row per
    surviving document with its near-dup group and its leakage-free
    train/val/test split. The split key is the GROUP hash (the
    ``cluster_safe_splits`` salt+bucket arithmetic), so any future
    near-duplicate ingested into an existing cluster lands in the same
    split as its keeper by construction — the property that makes the
    manifest safe to extend incrementally. Kept docs are one-per-cluster
    (the keeper rule), so the manifest is trivially leak-free today;
    group-keying is what keeps it leak-free TOMORROW."""
    disp, _ = _curation_dispositions(spark, sf_dir)
    return _manifest_of(disp)


def _manifest_of(disp: DataFrame) -> DataFrame:
    """kept rows of a disposition frame → the deliverable manifest
    ``(doc_id, group_id, n_tokens, split)`` with GROUP-hash splits."""
    from etl_pipeline_excel_sql__spark.plans.pipeline_queries import (
        SPLIT_SALT,
    )

    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(SPLIT_SALT), F.col("group_id").cast("string")
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    return disp.filter(F.col("disposition") == "kept").select(
        "doc_id",
        "group_id",
        "n_tokens",
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )


# --- incremental manifest ingest (round 13) ---------------------------------

def _curation_state(spark: SparkSession, sf_dir: str) -> str:
    """Build-once corpus-only curation state under one
    :func:`~etl_pipeline_excel_sql__spark.sources.registry.built_dir`.

    Parquet artifacts over the NON-batch side (sources outside
    ``NEW_SOURCES``), the state a production curation service persists
    between ingests — everything an ingest needs so batch arrival
    touches batch text plus skinny integer artifacts, never a corpus
    re-scan:

    * ``scores``    — (doc_id, lang, n_tokens, __score) per trainable
      doc: quality scoring is a pure per-doc map, so batch scores union
      losslessly and only the permille RANK recalibrates (skinny).
    * ``labels``    — (member_id, cluster_id) corpus-only near-dup
      cluster labels (min-member ids — the ``dedup_clusters_incremental``
      star-edge state).
    * ``train_idx`` — (doc_id, h) DISTINCT k-gram digests of trainable
      docs: the inverted decontam index; new benchmark k-grams probe it
      with an integer join instead of re-hashing the corpus.
    * ``bench_h``   — (h) distinct digests of the corpus bench split.
    * ``contam0``   — (doc_id) baseline contamination flags
      (train_idx ⋈ bench_h), precomputed so steady-state ingests skip
      even that join.
    * ``mh_bands`` / ``mh_sets`` — the corpus MinHash SEARCH INDEX
      (round 14: ``dedup.minhash_index_tables``): the LSH band table
      new batches probe and the distinct-shingle sets verification
      joins. Persisting these removes the ingest's one documented
      non-incremental cost — the cross probe's corpus re-scan +
      signature rebuild (the r13 verdict's "persisting corpus band
      tables would eliminate it too").
    """
    from etl_pipeline_excel_sql__spark.operators.clusters import (
        connected_components,
    )
    from etl_pipeline_excel_sql__spark.operators.dedup import (
        minhash_index_tables,
        minhash_lsh_pairs,
    )
    from etl_pipeline_excel_sql__spark.plans.pipeline_queries import (
        NEW_SOURCES,
    )

    def build(path: str) -> None:
        docs = load_table(spark, "documents", sf_dir)
        corpus = docs.filter(~F.col("source").isin(*NEW_SOURCES))
        bench = corpus.filter(F.col("doc_id") % SPAN_BENCH_MOD == 0)
        train = corpus.filter(F.col("doc_id") % SPAN_BENCH_MOD != 0)
        _quality_scores(train).write.mode("overwrite").parquet(
            f"{path}/scores"
        )
        base_pairs = minhash_lsh_pairs(corpus).select("id_a", "id_b")
        connected_components(base_pairs).select(
            "member_id", "cluster_id"
        ).write.mode("overwrite").parquet(f"{path}/labels")
        kgram_rows(train, SPAN_K).select(
            "doc_id", "h"
        ).distinct().write.mode("overwrite").parquet(f"{path}/train_idx")
        kgram_rows(bench, SPAN_K).select(
            "h"
        ).distinct().write.mode("overwrite").parquet(f"{path}/bench_h")
        spark.read.parquet(f"{path}/train_idx").join(
            spark.read.parquet(f"{path}/bench_h"), "h"
        ).select("doc_id").distinct().write.mode("overwrite").parquet(
            f"{path}/contam0"
        )
        mh_bands, mh_sets = minhash_index_tables(corpus)
        mh_bands.write.mode("overwrite").parquet(f"{path}/mh_bands")
        mh_sets.write.mode("overwrite").parquet(f"{path}/mh_sets")

    return built_dir("curation_state_", sf_dir, build)


def _incremental_dispositions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Batch ingest of the curation capstone END TO END: merge the
    ``NEW_SOURCES`` batch into the PERSISTED corpus curation state and
    emit the EXTENDED kept-set manifest — without re-curating the
    corpus. The round-12 pieces composed into the one shape a 100 TB
    pipeline actually runs on every crawl arrival:

    * **quality** — only batch text is scored; corpus scores load from
      the state parquet and the per-language permille rank recalibrates
      over the skinny union (rank is corpus-global by definition, but
      it's a window over (doc_id, lang, ints), never text).
    * **clusters** — the ``dedup_clusters_incremental`` IVM: persisted
      labels collapse to star edges, delta edges are the cross
      (batch × corpus) and within-batch band joins, components run on
      the skinny union. Corpus text is never re-read: the cross probe
      joins the batch's bands against the persisted corpus band table
      (``mh_bands``) and verifies against the persisted shingle sets
      (``mh_sets``), both from the state directory.
    * **decontam** — the batch's k-grams probe the persisted digest
      sets both ways: new bench digests ⋈ the corpus ``train_idx``
      inverted index (newly published benchmarks retro-contaminate old
      docs), and batch-train digests ⋈ (old ∪ new) bench digests.
      Baseline flags come from ``contam0``. All integer joins.
    * **budget + split** — stages 3–5 and the GROUP-hash split are the
      shared ``_stage_dispositions``/``_manifest_of`` code paths.

    The oracle is the VERBATIM from-scratch ``pretrain_kept_manifest``
    SQL over the full corpus, so the 4-SF hash match IS the
    extend-equals-rebuild proof (the ``dedup_clusters_incremental``
    shared-oracle trick, extended to the whole curation DAG). Split
    stability for previously-kept docs holds by construction whenever
    ingested ids follow the monotone id-allocation contract and no two
    existing clusters merge (``tests/test_round13_families.py``); a
    merge moves the merged cluster to the lower keeper's split as one
    unit — never straddling a split boundary.
    """
    from etl_pipeline_excel_sql__spark.operators.clusters import (
        connected_components,
    )
    from etl_pipeline_excel_sql__spark.operators.dedup import (
        minhash_lsh_pairs_ingest_indexed,
    )
    from etl_pipeline_excel_sql__spark.plans.pipeline_queries import (
        NEW_SOURCES,
    )

    path = _curation_state(spark, sf_dir)
    docs = load_table(spark, "documents", sf_dir)
    is_new = F.col("source").isin(*NEW_SOURCES)
    batch = docs.filter(is_new)
    batch_bench = batch.filter(F.col("doc_id") % SPAN_BENCH_MOD == 0)
    batch_train = batch.filter(F.col("doc_id") % SPAN_BENCH_MOD != 0)

    # quality: batch text scored fresh, corpus scores from state
    scores = spark.read.parquet(f"{path}/scores").unionByName(
        _quality_scores(batch_train)
    )
    ranked = _rank_permille(scores)

    # clusters: star edges ∪ delta (cross + within probing the
    # PERSISTED corpus band/set index — round 14; previously the cross
    # probe re-scanned and re-signatured the corpus text on every
    # evaluation, the one documented non-incremental cost) →
    # components (IVM)
    label_edges = spark.read.parquet(f"{path}/labels").select(
        F.col("member_id").alias("id_a"), F.col("cluster_id").alias("id_b")
    )
    delta = minhash_lsh_pairs_ingest_indexed(
        batch,
        spark.read.parquet(f"{path}/mh_bands"),
        spark.read.parquet(f"{path}/mh_sets"),
    ).select("id_a", "id_b")
    comp = connected_components(
        label_edges.unionByName(delta)
    ).select(F.col("member_id").alias("doc_id"), "cluster_id")
    groups = (
        ranked.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id"))
            .cast("bigint")
            .alias("group_id"),
        )
    )

    # decontam: persisted digest sets probed by the batch's k-grams
    new_bench_h = kgram_rows(batch_bench, SPAN_K).select("h").distinct()
    all_bench_h = (
        spark.read.parquet(f"{path}/bench_h")
        .unionByName(new_bench_h)
        .distinct()
    )
    batch_kg = kgram_rows(batch_train, SPAN_K).select("doc_id", "h")
    contam = (
        spark.read.parquet(f"{path}/contam0")
        .unionByName(
            spark.read.parquet(f"{path}/train_idx")
            .join(new_bench_h, "h")
            .select("doc_id")
        )
        .unionByName(batch_kg.join(all_bench_h, "h").select("doc_id"))
        .distinct()
        .withColumn("__contam", F.lit(1))
    )

    return _stage_dispositions(ranked, groups, contam)


def q_pretrain_manifest_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The extended kept-set manifest from the incremental ingest —
    ``_manifest_of`` over :func:`_incremental_dispositions` (see that
    docstring for the full IVM story and the extend-equals-rebuild
    oracle argument)."""
    return _manifest_of(_incremental_dispositions(spark, sf_dir))


def q_manifest_release_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-release diff at corpus scale — the reference's signature
    snapshot-diff capability (Compare.py's cell/new-row classifier,
    engine-side as ``diff_cells``) aimed at the curation stack: diff
    the PREVIOUS release manifest (the persisted corpus-only state,
    exactly what ``_curation_state`` holds between ingests) against the
    CURRENT one (the incremental ingest of the ``NEW_SOURCES`` batch),
    attributing every changed row to its cause. The audit a data team
    reads before shipping a release.

    Output rows ``(change, n_docs, n_tokens)``, all-integer, over:

    * ``added_new``        — kept now, absent before, doc arrived in
      the batch;
    * ``added_rebalanced`` — kept now, absent before, doc was already
      in the corpus (the bigger eligible pool widened the token budget,
      or batch arrivals shifted its permille/keeper);
    * ``removed_quality`` / ``removed_neardup`` /
      ``removed_contaminated`` / ``removed_overbudget`` — kept before,
      dropped now, attributed by the doc's CURRENT disposition (e.g. a
      batch near-dup with a smaller id stole its keeper slot →
      ``removed_neardup``; a batch BENCH doc retro-contaminated it →
      ``removed_contaminated``);
    * ``split_moved``      — kept in both but its group hash changed
      (a cluster merge re-keyed the group: the whole cluster moves as
      one unit, never straddling a split);
    * ``unchanged``        — kept in both, same split.

    Scale shape: both manifests ride the skinny persisted state + batch
    delta (see ``_incremental_dispositions``); the diff itself is one
    full-outer id join of two manifest-sized frames plus a broadcast of
    the batch id set — ``diff_cells``'s classifier shape on curation
    output. The oracle recomputes BOTH releases from scratch (the
    corpus-only chain and the full chain), so the hash match also
    re-proves prev==corpus-only-rebuild on every gate run.
    """
    from etl_pipeline_excel_sql__spark.plans.pipeline_queries import (
        NEW_SOURCES,
    )

    path = _curation_state(spark, sf_dir)
    # previous release: manifest from the persisted corpus-only state
    ranked_prev = _rank_permille(spark.read.parquet(f"{path}/scores"))
    labels = spark.read.parquet(f"{path}/labels").select(
        F.col("member_id").alias("doc_id"), "cluster_id"
    )
    groups_prev = (
        ranked_prev.select("doc_id")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id"))
            .cast("bigint")
            .alias("group_id"),
        )
    )
    contam_prev = (
        spark.read.parquet(f"{path}/contam0")
        .withColumn("__contam", F.lit(1))
    )
    prev_m = _manifest_of(
        _stage_dispositions(ranked_prev, groups_prev, contam_prev)
    )

    # current release + its disposition frame (for removal attribution)
    cur_disp = _incremental_dispositions(spark, sf_dir).localCheckpoint(
        eager=True
    )
    cur_m = _manifest_of(cur_disp)

    batch_ids = (
        load_table(spark, "documents", sf_dir)
        .filter(F.col("source").isin(*NEW_SOURCES))
        .select("doc_id")
        .withColumn("__new", F.lit(1))
    )
    p = prev_m.select(
        "doc_id",
        F.col("split").alias("p_split"),
        F.col("n_tokens").alias("p_tok"),
    )
    c = cur_m.select(
        "doc_id",
        F.col("split").alias("c_split"),
        F.col("n_tokens").alias("c_tok"),
    )
    j = (
        p.join(c, "doc_id", "full_outer")
        .join(batch_ids, "doc_id", "left")
        .join(
            cur_disp.select("doc_id", "disposition"), "doc_id", "left"
        )
        .select(
            F.when(
                F.col("p_split").isNull() & F.col("__new").isNotNull(),
                F.lit("added_new"),
            )
            .when(F.col("p_split").isNull(), F.lit("added_rebalanced"))
            .when(
                F.col("c_split").isNull(),
                F.concat(
                    F.lit("removed_"),
                    F.regexp_replace(
                        F.col("disposition"), "^dropped_", ""
                    ),
                ),
            )
            .when(
                F.col("p_split") != F.col("c_split"), F.lit("split_moved")
            )
            .otherwise(F.lit("unchanged"))
            .alias("change"),
            F.coalesce(F.col("c_tok"), F.col("p_tok")).alias("n_tokens"),
        )
    )
    return j.groupBy("change").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
    )


def _curation_ctes(src: str = "documents") -> str:
    """The shared oracle CTE chain ending at
    ``disp(doc_id, group_id, n_tokens, disposition)`` — the SQL twin of
    :func:`_curation_dispositions`. ``src`` may be a parenthesized
    subquery (the round-13 release diff runs the same chain over the
    corpus-only snapshot)."""
    from etl_pipeline_excel_sql__spark.plans.corpus2_queries import (
        _neardup_groups_sql,
    )
    from etl_pipeline_excel_sql__spark.plans.pipeline_queries import _STOP
    from etl_pipeline_excel_sql__spark.plans.spans_queries import _occ_sql

    cases = " ".join(
        f"WHEN lang = '{lg}' THEN len(list_filter(toks,"
        f" t -> list_contains({_STOP[lg]}, t)))"
        for lg in sorted(_STOP)
    )
    train_src = (
        f"SELECT doc_id, text FROM {src} AS cc_t"
        f" WHERE doc_id % {SPAN_BENCH_MOD} <> 0"
    )
    bench_src = (
        f"SELECT doc_id, text FROM {src} AS cc_b"
        f" WHERE doc_id % {SPAN_BENCH_MOD} = 0"
    )
    return f"""
WITH RECURSIVE {_neardup_groups_sql(src)},
scored AS MATERIALIZED (
  SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST((CASE {cases} ELSE 0 END) * 1000000
              // greatest(len(toks), 1) AS BIGINT) AS score
  FROM (SELECT doc_id, lang, {WS_TOKENS_SQL} AS toks FROM {src} AS cc_s
        WHERE doc_id % {SPAN_BENCH_MOD} <> 0)
),
ranked AS MATERIALIZED (
  SELECT doc_id, lang, n_tokens,
         CAST(((row_number() OVER (PARTITION BY lang
               ORDER BY score DESC, doc_id ASC)) - 1) * 1000
              // greatest((COUNT(*) OVER (PARTITION BY lang)) - 1, 1)
              AS BIGINT) AS permille
  FROM scored
),
contam AS MATERIALIZED (
  SELECT DISTINCT o.doc_id
  FROM ({_occ_sql(train_src)}) o
  JOIN (SELECT DISTINCT h FROM ({_occ_sql(bench_src)})) bh USING (h)
),
flags AS MATERIALIZED (
  SELECT r.doc_id, r.lang, r.n_tokens, r.permille, g.group_id,
         (c.doc_id IS NOT NULL) AS is_contam
  FROM ranked r JOIN grouped g USING (doc_id)
  LEFT JOIN contam c ON c.doc_id = r.doc_id
),
keepers AS (
  SELECT group_id, MIN(doc_id) AS keeper FROM flags
  WHERE permille < {QUALITY_CUT_PERMILLE} AND NOT is_contam
  GROUP BY group_id
),
staged AS MATERIALIZED (
  SELECT f.doc_id, f.group_id, f.lang, f.n_tokens, f.permille,
         CASE WHEN f.permille >= {QUALITY_CUT_PERMILLE}
                THEN 'dropped_quality'
              WHEN f.doc_id <> k.keeper THEN 'dropped_neardup'
              WHEN f.is_contam THEN 'dropped_contaminated'
              ELSE NULL END AS early
  FROM flags f LEFT JOIN keepers k USING (group_id)
),
cum AS (
  SELECT doc_id,
         CAST(COALESCE(SUM(n_tokens) OVER (
           ORDER BY permille ASC, lang ASC, doc_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS cum_before
  FROM staged WHERE early IS NULL
),
total AS (SELECT CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS t
          FROM staged WHERE early IS NULL),
disp AS (
  SELECT s.doc_id, s.group_id, s.n_tokens,
         COALESCE(s.early,
           CASE WHEN c.cum_before * {BUDGET_DEN} < tt.t * {BUDGET_NUM}
                THEN 'kept' ELSE 'dropped_overbudget' END) AS disposition
  FROM staged s LEFT JOIN cum c USING (doc_id) CROSS JOIN total tt
)"""


def _pretrain_curation_sql() -> str:
    return f"""{_curation_ctes()}
SELECT disposition, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
FROM disp GROUP BY disposition
UNION ALL
SELECT 'benchmark' AS disposition, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COALESCE(SUM(len({WS_TOKENS_SQL})), 0) AS BIGINT) AS n_tokens
FROM documents WHERE doc_id % {SPAN_BENCH_MOD} = 0
"""


def _manifest_select_sql() -> str:
    """The kept-rows → manifest SELECT over a ``disp`` CTE (shared by
    the standalone manifest oracle and the release-diff oracle)."""
    from etl_pipeline_excel_sql__spark.plans.pipeline_queries import (
        _HASH60,
        SPLIT_SALT,
    )

    bucket = _HASH60.format(
        e=f"concat('{SPLIT_SALT}', CAST(group_id AS VARCHAR))"
    )
    return f"""SELECT doc_id, group_id, n_tokens,
       CASE WHEN b < 80 THEN 'train'
            WHEN b < 90 THEN 'val'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id, group_id, n_tokens, ({bucket}) % 100 AS b
  FROM disp WHERE disposition = 'kept'
)"""


def _pretrain_manifest_sql(src: str = "documents") -> str:
    return f"""{_curation_ctes(src)}
{_manifest_select_sql()}
"""


QUERIES["pretrain_curation_pipeline"] = q_pretrain_curation_pipeline
ORACLE["pretrain_curation_pipeline"] = _pretrain_curation_sql()
QUERIES["pretrain_kept_manifest"] = q_pretrain_kept_manifest
ORACLE["pretrain_kept_manifest"] = _pretrain_manifest_sql()
QUERIES["pretrain_manifest_incremental"] = q_pretrain_manifest_incremental
#: the VERBATIM from-scratch manifest SQL — hash equality IS the
#: extend-equals-rebuild proof (see q_pretrain_manifest_incremental).
ORACLE["pretrain_manifest_incremental"] = _pretrain_manifest_sql()


def _release_diff_sql() -> str:
    """Oracle for the release diff: recompute BOTH releases from
    scratch — the corpus-only chain (the previous release) and the
    full chain (the current one) — then the same full-outer classifier.
    """
    from etl_pipeline_excel_sql__spark.plans.pipeline_queries import (
        _NEW_SRC_SQL,
    )

    corpus_src = (
        f"(SELECT * FROM documents"
        f" WHERE source NOT IN ({_NEW_SRC_SQL}))"
    )
    return f"""WITH prev_m AS MATERIALIZED (
{_pretrain_manifest_sql(corpus_src)}
), cur_d AS MATERIALIZED (
{_curation_ctes()}
SELECT doc_id, group_id, n_tokens, disposition FROM disp
), cur_m AS MATERIALIZED (
  SELECT * FROM (
    WITH disp AS (SELECT * FROM cur_d)
    {_manifest_select_sql()}
  )
), j AS (
  SELECT CASE
           WHEN p.doc_id IS NULL AND s.doc_id IS NOT NULL
             THEN 'added_new'
           WHEN p.doc_id IS NULL THEN 'added_rebalanced'
           WHEN c.doc_id IS NULL
             THEN 'removed_' ||
                  regexp_replace(d.disposition, '^dropped_', '')
           WHEN p.split <> c.split THEN 'split_moved'
           ELSE 'unchanged'
         END AS change,
         COALESCE(c.n_tokens, p.n_tokens) AS n_tokens
  FROM prev_m p
  FULL OUTER JOIN cur_m c ON c.doc_id = p.doc_id
  LEFT JOIN (SELECT doc_id FROM documents
             WHERE source IN ({_NEW_SRC_SQL})) s
         ON s.doc_id = COALESCE(p.doc_id, c.doc_id)
  LEFT JOIN cur_d d ON d.doc_id = COALESCE(p.doc_id, c.doc_id)
)
SELECT change, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
FROM j GROUP BY change
"""


QUERIES["manifest_release_diff"] = q_manifest_release_diff
ORACLE["manifest_release_diff"] = _release_diff_sql()
