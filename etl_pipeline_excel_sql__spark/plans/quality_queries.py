"""Round-5 quality-measurement queries.

``ann_recall`` pins the QUALITY of the approximate ANN path as a
CORRECTNESS row, not just a pytest assertion: recall@5 of
``ann_ivf_topk`` against the exact ``ann_brute_topk`` baseline, computed
engine-side per query vector and hash-matched against a DuckDB twin that
joins the two result oracles. If a future change silently degrades the
IVF probe (wrong cell assignment, broken nprobe ranking), the recall
vector changes and the driver gate catches it — the approximate operator
family gets the same regression protection as the exact ones.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.plans.pipeline_queries import (
    _ANN_BRUTE_SQL,
    _ANN_IVF_SQL,
    q_ann_brute_topk,
    q_ann_ivf_topk,
)
from etl_pipeline_excel_sql__spark.functions.localframe import local_df
from etl_pipeline_excel_sql__spark.functions.text import WS_TOKENS_SQL
from etl_pipeline_excel_sql__spark.operators.winnow import winnow_stats_sql

RECALL_K = 5


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@5 of the IVF probe vs the exact baseline.

    Output: (query_id, n_hits, recall_at_5). The brute-force top-5 set is
    ground truth (its k=10 result is rank-filtered); a hit is a neighbor
    the IVF top-5 shares. Queries where IVF found nothing still appear
    (n_hits=0) via the left join from the ground-truth query set.

    Both inputs are tiny (n_queries × k rows), so the joins broadcast;
    the cost is the two ANN subtrees themselves.
    """
    brute5 = q_ann_brute_topk(spark, sf_dir).filter(
        F.col("rank") <= RECALL_K
    )
    ivf = q_ann_ivf_topk(spark, sf_dir).select("query_id", "neighbor_id")
    hits = (
        brute5.join(ivf, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("__hits"))
    )
    base = brute5.select("query_id").distinct()
    n_hits = F.coalesce(F.col("__hits"), F.lit(0))
    return base.join(hits, "query_id", "left").select(
        "query_id",
        n_hits.cast("int").alias("n_hits"),
        (n_hits.cast("double") / F.lit(float(RECALL_K))).alias(
            "recall_at_5"
        ),
    )


ORACLE: dict[str, str] = {
    "ann_recall": f"""
        WITH brute AS ({_ANN_BRUTE_SQL}),
        ivf AS ({_ANN_IVF_SQL}),
        b5 AS (
          SELECT query_id, neighbor_id FROM brute WHERE rank <= {RECALL_K}
        ),
        hits AS (
          SELECT b.query_id, COUNT(*) AS n_hits
          FROM b5 b JOIN ivf i
            ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
          GROUP BY b.query_id
        )
        SELECT q.query_id,
               CAST(COALESCE(h.n_hits, 0) AS INT) AS n_hits,
               CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / {float(RECALL_K)}
                 AS recall_at_5
        FROM (SELECT DISTINCT query_id FROM b5) q
        LEFT JOIN hits h USING (query_id)""",
}

QUERIES = {
    "ann_recall": q_ann_recall,
}


def q_text_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram Simpson diversity, exact in ppm:
    ``1e6 - Σk_i²·1e6 DIV n²`` — the probability two random token draws
    differ (1 - the Simpson concentration index). A pure-rational
    diversity signal next to ``text_repetition``'s duplicate-n-gram
    fractions: entropy needs libm, Simpson doesn't, so this one is
    hash-exact cross-engine. Occurrences compress to per-doc type
    multiplicities first (the ngram_lm_score doctrine); docs with zero
    tokens are excluded (no draw is possible). Bigint bound:
    n²·1e6 < 2^63 ⇒ n < ~3M tokens/doc, above the packed-key doc cap.
    """
    from etl_pipeline_excel_sql__spark.functions.text import ws_tokens
    from etl_pipeline_excel_sql__spark.sources.registry import load_table

    docs = load_table(spark, "documents", sf_dir)
    k = (
        docs.select(
            "doc_id", F.explode(ws_tokens(F.col("text"))).alias("tok")
        )
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    return k.groupBy("doc_id").agg(
        F.sum("k").alias("n_tokens"),
        F.count(F.lit(1)).alias("distinct_tokens"),
        F.expr(
            "CAST(1000000 - sum(k * k) * 1000000"
            " DIV (sum(k) * sum(k)) AS BIGINT)"
        ).alias("simpson_ppm"),
    )


ORACLE["text_simpson_diversity"] = """
WITH toks AS (
  SELECT doc_id,
         UNNEST(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                            t -> t <> '')) AS tok
  FROM documents
), k AS (
  SELECT doc_id, tok, COUNT(*) AS k FROM toks GROUP BY doc_id, tok
)
SELECT doc_id,
       CAST(SUM(k) AS BIGINT) AS n_tokens,
       COUNT(*) AS distinct_tokens,
       CAST(1000000 - SUM(k * k) * 1000000
            // (SUM(k) * SUM(k)) AS BIGINT) AS simpson_ppm
FROM k GROUP BY doc_id
"""
QUERIES["text_simpson_diversity"] = q_text_simpson_diversity


# --- winnowing fingerprints (round 10b) ------------------------------------


def q_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (SIGMOD'03 / MOSS) fingerprint summary per document:
    k-gram count, selected-fingerprint count, and selection density in
    ppm — the position-level fingerprint family with the local
    guarantee (any shared substring of length >= w+k-1 shares a
    fingerprint). See :mod:`operators/winnow` for the packed-key
    single-window formulation."""
    from etl_pipeline_excel_sql__spark.operators.winnow import (
        winnow_fingerprint_stats,
    )
    from etl_pipeline_excel_sql__spark.sources.registry import load_table

    return winnow_fingerprint_stats(load_table(spark, "documents", sf_dir))


ORACLE["winnow_fingerprint"] = winnow_stats_sql()
QUERIES["winnow_fingerprint"] = q_winnow_fingerprint


# --- cross-domain quality rank normalization (round 10b) --------------------


def q_quality_domain_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language rank normalization of a raw quality signal — the
    calibration step before a single global quality threshold can be
    applied across domains whose raw score scales differ (stopword hit
    rates are incomparable between languages; percentile ranks are
    comparable by construction).

    Signal: own-language stopword hits per token in ppm (integer counts
    only; languages without a stopword list — 'zh' here — score 0 and
    rank by the doc_id tie-break). Normalization: permille rank
    ``(rank-1)·1000 DIV (n-1)`` within each language. One window shuffle
    keyed on lang; the text never shuffles (score is computed at the
    scan, the window sees skinny score rows)."""
    from etl_pipeline_excel_sql__spark.functions.text import (
        STOPWORDS,
        stopword_hits,
        ws_tokens,
    )
    from etl_pipeline_excel_sql__spark.sources.registry import load_table

    docs = load_table(spark, "documents", sf_dir)
    toks = ws_tokens(F.col("text"))
    hits = F.lit(0)
    for lg in sorted(STOPWORDS):
        hits = F.when(F.col("lang") == lg, stopword_hits(toks, lg)).otherwise(
            hits
        )
    scored = docs.select(
        "doc_id",
        "lang",
        hits.alias("__hits"),
        F.size(toks).alias("__ntok"),
    ).select(
        "doc_id",
        "lang",
        F.expr("(__hits * 1000000) div greatest(__ntok, 1)")
        .cast("bigint")
        .alias("score_ppm"),
    )
    from pyspark.sql import Window

    wl = Window.partitionBy("lang").orderBy(
        F.col("score_ppm").desc(), F.col("doc_id").asc()
    )
    wn = Window.partitionBy("lang")
    return (
        scored.withColumn("__r", F.row_number().over(wl))
        .withColumn("__n", F.count(F.lit(1)).over(wn))
        .select(
            "doc_id",
            "lang",
            "score_ppm",
            F.expr("((__r - 1) * 1000) div greatest(__n - 1, 1)")
            .cast("bigint")
            .alias("permille"),
        )
    )


def _quality_domain_rank_sql() -> str:
    from etl_pipeline_excel_sql__spark.plans.pipeline_queries import _STOP

    cases = " ".join(
        f"WHEN lang = '{lg}' THEN len(list_filter(toks,"
        f" t -> list_contains({_STOP[lg]}, t)))"
        for lg in sorted(_STOP)
    )
    return f"""
WITH scored AS (
  SELECT doc_id, lang,
         CAST((CASE {cases} ELSE 0 END) * 1000000
              // greatest(len(toks), 1) AS BIGINT) AS score_ppm
  FROM (SELECT doc_id, lang, {WS_TOKENS_SQL} AS toks FROM documents)
)
SELECT doc_id, lang, score_ppm,
       CAST(((row_number() OVER (PARTITION BY lang
             ORDER BY score_ppm DESC, doc_id ASC)) - 1) * 1000
            // greatest((COUNT(*) OVER (PARTITION BY lang)) - 1, 1)
            AS BIGINT) AS permille
FROM scored
"""


ORACLE["quality_domain_rank"] = _quality_domain_rank_sql()
QUERIES["quality_domain_rank"] = q_quality_domain_rank


# --- token-budget curation selection (round 11) ----------------------------

#: select best-ranked documents until 3/10 of the corpus token mass.
BUDGET_NUM, BUDGET_DEN = 3, 10


def _ranked_cum(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(cum, total): the calibrated-quality doc frame ``(doc_id, lang,
    n_tokens, permille, cum_before)`` — exclusive prefix sum of token
    counts in (permille, lang, doc_id) selection order, built with the
    two-phase decomposition described in :func:`q_curation_budget_select`
    — and the 1-row corpus token total. Shared by the budget selection
    and the cut×budget trade-off table."""
    from etl_pipeline_excel_sql__spark.functions.text import (
        STOPWORDS,
        stopword_hits,
        ws_tokens,
    )
    from etl_pipeline_excel_sql__spark.sources.registry import load_table

    docs = load_table(spark, "documents", sf_dir)
    toks = ws_tokens(F.col("text"))
    hits = F.lit(0)
    for lg in sorted(STOPWORDS):
        hits = F.when(F.col("lang") == lg, stopword_hits(toks, lg)).otherwise(
            hits
        )
    scored = docs.select(
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
    from pyspark.sql import Window

    wl = Window.partitionBy("lang").orderBy(
        F.col("__score").desc(), F.col("doc_id").asc()
    )
    wn = Window.partitionBy("lang")
    ranked = (
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
        # permille 0 is rank 1 = the BEST document of its language
        # (score DESC row_number), so the selection order ascends on
        # permille — the range key IS the permille bucket.
        .withColumn("__rng", F.col("permille"))
    )
    rng_w = Window.orderBy("__rng").rowsBetween(Window.unboundedPreceding, -1)
    rng_off = (
        ranked.groupBy("__rng")
        .agg(F.sum("n_tokens").alias("__tot"))
        .withColumn(
            "__off",
            F.coalesce(F.sum("__tot").over(rng_w), F.lit(0).cast("bigint")),
        )
        .select("__rng", "__off")
    )
    in_w = (
        Window.partitionBy("__rng")
        .orderBy("lang", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = (
        ranked.join(rng_off, "__rng")
        .withColumn(
            "cum_before",
            F.col("__off")
            + F.coalesce(
                F.sum("n_tokens").over(in_w), F.lit(0).cast("bigint")
            ),
        )
    )
    total = scored.agg(F.sum("n_tokens").alias("__total"))
    return cum, total


def q_curation_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget curation: the greedy selection every pretraining
    data plan executes — rank documents by a calibrated quality score,
    take the best until a token budget is spent. Composes the
    ``quality_domain_rank`` calibration (per-language permille, so
    cross-language scores are comparable) with a DISTRIBUTED exclusive
    prefix sum of token counts in rank order; a document is selected
    iff the tokens before it fit the budget (3/10 of total corpus
    tokens — SF-invariant by construction).

    The prefix sum is the ``pack_lm_sequences`` two-phase doctrine, but
    keyed on the SCORE instead of doc_id: ranges are the (bounded,
    ≤1001-row) permille buckets in quality order; per-range totals take
    one map-side-combined aggregate, range offsets a window over that
    tiny table, and the within-range cumsum partitions by bucket — no
    global single-partition window anywhere. The budget scalar rides a
    broadcast join (no driver collect). Output is all-integer.
    """
    cum, total = _ranked_cum(spark, sf_dir)
    return (
        cum.join(F.broadcast(total))
        .filter(
            F.col("cum_before") * F.lit(BUDGET_DEN)
            < F.col("__total") * F.lit(BUDGET_NUM)
        )
        .select("doc_id", "lang", "permille", "n_tokens", "cum_before")
    )


def _curation_budget_select_sql() -> str:
    from etl_pipeline_excel_sql__spark.plans.pipeline_queries import _STOP

    cases = " ".join(
        f"WHEN lang = '{lg}' THEN len(list_filter(toks,"
        f" t -> list_contains({_STOP[lg]}, t)))"
        for lg in sorted(_STOP)
    )
    return f"""
WITH scored AS (
  SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST((CASE {cases} ELSE 0 END) * 1000000
              // greatest(len(toks), 1) AS BIGINT) AS score
  FROM (SELECT doc_id, lang, {WS_TOKENS_SQL} AS toks FROM documents)
), ranked AS (
  SELECT doc_id, lang, n_tokens,
         CAST(((row_number() OVER (PARTITION BY lang
               ORDER BY score DESC, doc_id ASC)) - 1) * 1000
              // greatest((COUNT(*) OVER (PARTITION BY lang)) - 1, 1)
              AS BIGINT) AS permille
  FROM scored
), cum AS (
  SELECT doc_id, lang, permille, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           ORDER BY permille ASC, lang ASC, doc_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS cum_before
  FROM ranked
), total AS (SELECT SUM(n_tokens) AS t FROM scored)
SELECT doc_id, lang, permille, n_tokens, cum_before
FROM cum, total
WHERE cum_before * {BUDGET_DEN} < t * {BUDGET_NUM}
"""


ORACLE["curation_budget_select"] = _curation_budget_select_sql()
QUERIES["curation_budget_select"] = q_curation_budget_select


# --- quality-cut × budget trade-off table (round 12) ------------------------

#: quality-cut rungs to evaluate: keep docs with permille < cut. 1001
#: is the no-cut rung (permille tops out at 1000), so the table spans
#: "aggressive gate" to "no gate" in one artifact.
QUALITY_CUT_RUNGS = (500, 600, 700, 800, 900, 1001)


def q_quality_budget_tradeoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quality-gate knob measured on-corpus (the
    ``minhash_band_tuning`` pattern applied to curation): for every
    quality-cut rung, how many documents/tokens remain eligible and how
    much of the fixed 3/10 token budget the greedy selection actually
    fills — the table a data planner reads to pick the cut before
    committing a 100 TB curation run (a cut so aggressive the budget
    starves is visible as ``budget_fill_ppm`` < 1e6).

    ONE doc-level pass: the selection order is permille-ascending, so
    restricting to ``permille < cut`` truncates a PREFIX of the
    sequence and leaves every earlier document's exclusive prefix sum
    unchanged — the single shared ``cum_before`` answers all rungs.
    Per-rung work is a join of the ≤1001-row permille-bucket table
    against the 6-row rung list (broadcast, bounded) plus one
    aggregate. All-integer output.
    """
    cum, total = _ranked_cum(spark, sf_dir)
    sel = cum.join(F.broadcast(total)).withColumn(
        "__sel",
        (
            F.col("cum_before") * F.lit(BUDGET_DEN)
            < F.col("__total") * F.lit(BUDGET_NUM)
        ).cast("int"),
    )
    buckets = sel.groupBy("permille").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum("n_tokens").cast("bigint").alias("__tok"),
        F.sum("__sel").cast("bigint").alias("__nsel"),
        F.sum(F.col("__sel") * F.col("n_tokens"))
        .cast("bigint")
        .alias("__seltok"),
    )
    rungs = local_df(
        spark, [(c,) for c in QUALITY_CUT_RUNGS], ["cut"]
    ).select(F.col("cut").cast("bigint").alias("cut"))
    agg = (
        buckets.join(F.broadcast(rungs), F.col("permille") < F.col("cut"))
        .groupBy("cut")
        .agg(
            F.sum("__n").cast("bigint").alias("n_eligible"),
            F.sum("__tok").cast("bigint").alias("eligible_tokens"),
            F.sum("__nsel").cast("bigint").alias("n_selected"),
            F.sum("__seltok").cast("bigint").alias("selected_tokens"),
        )
    )
    return agg.join(F.broadcast(total)).select(
        "cut",
        "n_eligible",
        "eligible_tokens",
        "n_selected",
        "selected_tokens",
        F.expr(
            f"CAST(selected_tokens * {BUDGET_DEN} * 1000000"
            f" DIV greatest(__total * {BUDGET_NUM}, 1) AS BIGINT)"
        ).alias("budget_fill_ppm"),
    )


def _quality_tradeoff_sql() -> str:
    from etl_pipeline_excel_sql__spark.plans.pipeline_queries import _STOP

    cases = " ".join(
        f"WHEN lang = '{lg}' THEN len(list_filter(toks,"
        f" t -> list_contains({_STOP[lg]}, t)))"
        for lg in sorted(_STOP)
    )
    rungs = ", ".join(str(c) for c in QUALITY_CUT_RUNGS)
    return f"""
WITH scored AS (
  SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST((CASE {cases} ELSE 0 END) * 1000000
              // greatest(len(toks), 1) AS BIGINT) AS score
  FROM (SELECT doc_id, lang, {WS_TOKENS_SQL} AS toks FROM documents)
), ranked AS (
  SELECT doc_id, lang, n_tokens,
         CAST(((row_number() OVER (PARTITION BY lang
               ORDER BY score DESC, doc_id ASC)) - 1) * 1000
              // greatest((COUNT(*) OVER (PARTITION BY lang)) - 1, 1)
              AS BIGINT) AS permille
  FROM scored
), cum AS (
  SELECT permille, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           ORDER BY permille ASC, lang ASC, doc_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS cum_before
  FROM ranked
), total AS (SELECT SUM(n_tokens) AS t FROM scored),
sel AS (
  SELECT permille, n_tokens,
         CASE WHEN cum_before * {BUDGET_DEN} < t * {BUDGET_NUM}
              THEN 1 ELSE 0 END AS s
  FROM cum, total
), buckets AS (
  SELECT permille, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(n_tokens) AS BIGINT) AS tok,
         CAST(SUM(s) AS BIGINT) AS nsel,
         CAST(SUM(s * n_tokens) AS BIGINT) AS seltok
  FROM sel GROUP BY permille
), rungs AS (SELECT unnest([{rungs}]) AS cut)
SELECT CAST(cut AS BIGINT) AS cut,
       CAST(SUM(n) AS BIGINT) AS n_eligible,
       CAST(SUM(tok) AS BIGINT) AS eligible_tokens,
       CAST(SUM(nsel) AS BIGINT) AS n_selected,
       CAST(SUM(seltok) AS BIGINT) AS selected_tokens,
       CAST(SUM(seltok) * {BUDGET_DEN} * 1000000
            // greatest((SELECT t FROM total) * {BUDGET_NUM}, 1)
            AS BIGINT) AS budget_fill_ppm
FROM rungs JOIN buckets ON buckets.permille < rungs.cut
GROUP BY cut
"""


ORACLE["quality_budget_tradeoff"] = _quality_tradeoff_sql()
QUERIES["quality_budget_tradeoff"] = q_quality_budget_tradeoff


# --- Pareto quality/length frontier (round 11) ------------------------------


def q_pareto_quality_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline of the corpus on (quality DESC, token cost ASC): the
    documents for which no other document is at least as good on both
    axes and strictly better on one — the efficient frontier a curation
    budget walks (every budget-optimal pick is on it; dominated
    documents are never optimal at any budget).

    Dominance test without an all-pairs join: group docs by score (one
    map-side-combined aggregate to per-score min token count), take the
    strictly-better-prefix min over the SMALL distinct-score table
    (window over score DESC — bounded by score cardinality, ≤1e6+1 ppm
    values, in practice far fewer), and join it back: a doc survives
    iff no strictly higher score achieved ≤ its tokens AND it matches
    its own score group's minimum (equal-score docs with more tokens
    are dominated within the group). Output is all-integer.
    """
    from etl_pipeline_excel_sql__spark.functions.text import (
        STOPWORDS,
        stopword_hits,
        ws_tokens,
    )
    from etl_pipeline_excel_sql__spark.sources.registry import load_table

    docs = load_table(spark, "documents", sf_dir)
    toks = ws_tokens(F.col("text"))
    hits = F.lit(0)
    for lg in sorted(STOPWORDS):
        hits = F.when(F.col("lang") == lg, stopword_hits(toks, lg)).otherwise(
            hits
        )
    scored = docs.select(
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
        .alias("score_ppm"),
    )
    from pyspark.sql import Window

    # per-LANGUAGE frontier (scores are language-calibrated signals, so
    # cross-language domination is meaningless; partitioning also keeps
    # the distinct-score window sharded, never single-partition)
    grp = scored.groupBy("lang", "score_ppm").agg(
        F.min("n_tokens").alias("__gmin")
    )
    w_better = (
        Window.partitionBy("lang")
        .orderBy(F.col("score_ppm").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    grp = grp.withColumn("__pmin", F.min("__gmin").over(w_better))
    return (
        scored.join(grp, ["lang", "score_ppm"])
        .filter(
            (F.col("__pmin").isNull() | (F.col("n_tokens") < F.col("__pmin")))
            & (F.col("n_tokens") == F.col("__gmin"))
        )
        .select("doc_id", "lang", "score_ppm", "n_tokens")
    )


def _pareto_sql() -> str:
    from etl_pipeline_excel_sql__spark.plans.pipeline_queries import _STOP

    cases = " ".join(
        f"WHEN lang = '{lg}' THEN len(list_filter(toks,"
        f" t -> list_contains({_STOP[lg]}, t)))"
        for lg in sorted(_STOP)
    )
    return f"""
WITH scored AS (
  SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST((CASE {cases} ELSE 0 END) * 1000000
              // greatest(len(toks), 1) AS BIGINT) AS score_ppm
  FROM (SELECT doc_id, lang, {WS_TOKENS_SQL} AS toks FROM documents)
), grp AS (
  SELECT lang, score_ppm, MIN(n_tokens) AS gmin
  FROM scored GROUP BY lang, score_ppm
), pref AS (
  SELECT lang, score_ppm, gmin,
         MIN(gmin) OVER (PARTITION BY lang ORDER BY score_ppm DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmin
  FROM grp
)
SELECT s.doc_id, s.lang, s.score_ppm, s.n_tokens
FROM scored s JOIN pref p USING (lang, score_ppm)
WHERE (p.pmin IS NULL OR s.n_tokens < p.pmin) AND s.n_tokens = p.gmin
"""


ORACLE["pareto_quality_length"] = _pareto_sql()
QUERIES["pareto_quality_length"] = q_pareto_quality_length
