"""Round-4 training-data pipeline operators: chunking, per-domain quotas,
n-gram LM scoring, and vocabulary-coverage rates.

Four shapes a 100-TB curation pipeline needs that the round-3 registry
did not yet cover:

* ``doc_chunk_windows`` — overlapping token-window chunking (RAG / context
  packing prep). Pure narrow explode: ``sequence`` of chunk starts →
  ``explode`` → ``slice``; no shuffle at all, output is
  (doc, chunk_idx)-keyed and streams straight to a sharded writer.
* ``domain_quota_sample`` — per-source document caps (anti-domination:
  no single crawl domain may exceed CAP docs). One window shuffle on the
  source key; the rank order is the engine-standard md5 hash so reruns,
  stragglers, and both engines pick the SAME survivors.
* ``ngram_lm_score`` — corpus-trained bigram-model fluency score per
  document (the CCNet-style "perplexity filter" structure). Two phases
  in one DAG: model = bigram counts (one shuffle of (doc, w1, w2, k)
  rows, already pre-aggregated per doc map-side), then score = one keyed
  join of those same compressed rows against the model. Scores are
  scaled-integer conditional probabilities — ``(c2 * SCALE) DIV c1`` —
  so the result is bit-identical on any engine/partitioning (a float
  ``log`` here would diverge in the last ulps between engines; a real
  deployment maps the scaled ratios through log driver-side if it needs
  nats — the distributed heavy lifting is identical).
* ``vocab_coverage`` — top-V corpus vocabulary → per-doc out-of-vocab
  rate in basis points (tokenizer-fit signal). Global top-V is a
  model-sized aggregate broadcast back; per-doc rates are a narrow
  array_contains filter over the token array — the corpus itself never
  shuffles.

All thresholds are scaled integers (basis points / DIV), never floats:
cross-engine float division parity is a known trap (see
``plans/analytics_queries.dec_out``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.functions.text import (
    WS_TOKENS_SQL,
    ws_tokens,
)
from etl_pipeline_excel_sql__spark.sources.registry import load_table

#: Chunk window / stride in tokens (25% overlap).
CHUNK_W = 32
CHUNK_S = 24
#: Max documents any single source may contribute.
QUOTA_CAP = 120
#: Scaled-integer probability unit for the bigram model.
LM_SCALE = 1_000_000
#: Vocabulary size for coverage (corpus has 31 distinct tokens at test SF;
#: 24 leaves a real OOV tail).
VOCAB_V = 24

#: DuckDB twin of ws_tokens (same as pipeline_queries.WS_TOKENS_SQL).


def q_doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunks: starts at 0, S, 2S, … < n_tokens;
    each chunk takes up to W tokens. Empty docs yield no chunks."""
    docs = load_table(spark, "documents", sf_dir)
    toks = ws_tokens(F.col("text"))
    n = F.size(toks)
    out = (
        docs.select("doc_id", toks.alias("__toks"), n.alias("__n"))
        .filter(F.col("__n") > 0)
        .select(
            "doc_id",
            "__toks",
            "__n",
            F.explode(
                F.sequence(F.lit(0), F.col("__n") - 1, F.lit(CHUNK_S))
            ).alias("__start"),
        )
    )
    chunk = F.slice(F.col("__toks"), F.col("__start") + 1, CHUNK_W)
    return out.select(
        "doc_id",
        # integer DIV: __start is an exact multiple of the stride, and an
        # integer quotient keeps this query out of the float-doctrine
        # QUANTIZED_COMPUTED class (the oracle already uses //)
        F.expr(f"__start DIV {CHUNK_S}").cast("bigint").alias("chunk_idx"),
        F.size(chunk).cast("bigint").alias("n_chunk_tokens"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
    )


def q_domain_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep at most QUOTA_CAP docs per source, chosen by deterministic
    md5-hash rank (not doc_id order, which would bias toward old docs)."""
    docs = load_table(spark, "documents", sf_dir)
    rank_key = F.md5(F.concat(F.lit("quota:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(rank_key, F.col("doc_id"))
    return (
        docs.select(
            "doc_id",
            "source",
            F.row_number().over(w).cast("bigint").alias("quota_rank"),
        )
        .filter(F.col("quota_rank") <= QUOTA_CAP)
    )


def q_ngram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean scaled conditional bigram probability per document, under a
    bigram model trained on the full corpus in the same DAG.

    Per-occurrence score ``(c2 * LM_SCALE) DIV c1`` where c2 = corpus
    count of (w1, w2) and c1 = corpus count of w1 as a bigram prefix;
    per-doc value is the k-weighted floor mean. Docs with < 2 tokens have
    no bigrams and are excluded (they carry no fluency evidence).
    """
    docs = load_table(spark, "documents", sf_dir)
    toks = ws_tokens(F.col("text"))
    base = docs.select("doc_id", toks.alias("__toks")).filter(
        F.size("__toks") >= 2
    )
    pairs = base.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.size("__toks") - 1)
        ).alias("__i"),
        "__toks",
    ).select(
        "doc_id",
        F.element_at("__toks", F.col("__i")).alias("w1"),
        F.element_at("__toks", F.col("__i") + 1).alias("w2"),
    )
    # Compress to per-doc bigram multiplicities FIRST: every later shuffle
    # moves (doc, w1, w2, k) rows, never raw occurrences.
    d = pairs.groupBy("doc_id", "w1", "w2").agg(
        F.count(F.lit(1)).alias("k")
    )
    # Model is bigram-type-sized, tiny next to the corpus; the prefix
    # total c1 is a window over the model, not another corpus pass.
    m = d.groupBy("w1", "w2").agg(F.sum("k").alias("c2"))
    m = m.withColumn(
        "c1", F.sum("c2").over(Window.partitionBy("w1"))
    )
    scored = d.join(m, ["w1", "w2"]).select(
        "doc_id",
        "k",
        F.expr(f"(c2 * CAST({LM_SCALE} AS BIGINT)) DIV c1").alias("s"),
    )
    return scored.groupBy("doc_id").agg(
        F.sum("k").cast("bigint").alias("n_bigrams"),
        F.expr("SUM(k * s) DIV SUM(k)").cast("bigint").alias(
            "lm_score_scaled"
        ),
    )


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate (basis points) per doc against the corpus
    top-VOCAB_V vocabulary (count DESC, token ASC tie-break)."""
    docs = load_table(spark, "documents", sf_dir)
    toks = ws_tokens(F.col("text"))
    base = docs.select("doc_id", toks.alias("__toks")).filter(
        F.size("__toks") > 0
    )
    counts = (
        base.select(F.explode("__toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # orderBy().limit() compiles to TakeOrderedAndProject — a distributed
    # per-partition top-V + merge, unlike a rank() window which would drag
    # the whole (possibly millions-of-types) vocab table into ONE
    # partition. Total order (count DESC, token ASC) makes the cut
    # deterministic under ties.
    vocab = (
        counts.orderBy(F.col("c").desc(), F.col("tok").asc())
        .limit(VOCAB_V)
        .groupBy()
        .agg(F.collect_set("tok").alias("__vocab"))
    )
    # __vocab is a single V-word row — broadcast; the corpus never
    # shuffles, OOV counting is a narrow array filter.
    withv = base.crossJoin(F.broadcast(vocab))
    n = F.size("__toks")
    oov = F.size(
        F.filter(
            F.col("__toks"),
            lambda t: ~F.array_contains(F.col("__vocab"), t),
        )
    )
    return withv.select(
        "doc_id",
        n.cast("bigint").alias("n_tokens"),
        oov.cast("bigint").alias("n_oov"),
    ).withColumn(
        "oov_bp", F.expr("(n_oov * 10000) DIV n_tokens").cast("bigint")
    )


#: passage segmenter width (words) and boilerplate document-frequency cap
#: for text_passage_dedup.
PASSAGE_W = 10
PASSAGE_MAX_DF = 2


def q_text_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level boilerplate removal (the RefinedWeb/CCNet line-dedup
    shape): segment each document into passages, drop every passage whose
    exact content appears in more than PASSAGE_MAX_DF distinct documents,
    and reassemble the survivors in order.

    The corpus has no newlines, so the segmenter is a deterministic
    PASSAGE_W-word splitter standing in for ``split(text, '\\n')`` — the
    dedup/reassembly plumbing is identical for real web text.

    Scale shape: the document-frequency aggregate and the anti-join key on
    the passage's md5 digest, so the exchange carries 32-char digests,
    never passage text; reassembly groups by doc_id — one corpus-keyed
    shuffle.

    Scale contract — the boilerplate set is deliberately NOT
    force-broadcast. It is the df>PASSAGE_MAX_DF heavy-hitter passage
    hashes, and web boilerplate is heavy-tailed: at 100 TB the set of
    passages crossing a fixed df cap grows with the corpus (nav chrome,
    cookie banners, license blocks — millions of distinct hashes), so an
    unconditional ``F.broadcast`` is the decontam-r4 OOM pattern. The
    engine size-gates instead: AQE picks broadcast when the materialized
    set is under ``spark.sql.autoBroadcastJoinThreshold``, shuffle
    anti-join on ``h`` otherwise (``tests/test_plan_census.py`` pins
    both regimes).
    """
    docs = load_table(spark, "documents", sf_dir)
    toks = ws_tokens(F.col("text"))
    base = docs.select(
        "doc_id", toks.alias("__toks"), F.size(toks).alias("__n")
    )
    seg = base.filter(F.col("__n") > 0).select(
        "doc_id",
        "__toks",
        F.explode(
            F.sequence(F.lit(0), F.col("__n") - 1, F.lit(PASSAGE_W))
        ).alias("__start"),
    )
    passage = F.concat_ws(
        " ", F.slice(F.col("__toks"), F.col("__start") + 1, PASSAGE_W)
    )
    p = seg.select(
        "doc_id",
        F.expr(f"__start DIV {PASSAGE_W}").cast("bigint").alias("pos"),
        passage.alias("p"),
        F.md5(passage).alias("h"),
    )
    boiler = (
        p.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") > PASSAGE_MAX_DF)
        .select("h")
    )
    kept = p.join(boiler, "h", "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "p"))),
                lambda s: s["p"],
            ),
        ).alias("clean_text"),
    )
    totals = base.select(
        "doc_id",
        F.expr(f"(__n + {PASSAGE_W} - 1) div {PASSAGE_W}")
        .cast("bigint")
        .alias("n_passages"),
    )
    return totals.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        "n_passages",
        F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


#: Kneser-Ney absolute discount D = 3/4 (the standard 0.75) as an exact
#: rational, so the smoothed probability stays integer arithmetic.
KN_D_NUM = 3
KN_D_DEN = 4


def q_kn_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram fluency score per document — the
    smoothing `ngram_lm_score`'s raw conditional model lacks (raw MLE
    overweights frequent continuations and zeroes unseen mass; KN
    discounts every observed bigram by D and redistributes the mass by
    CONTINUATION counts, Kneser & Ney 1995 / Chen & Goodman 1999).

    Per observed bigram, with c2 = c(w1,w2), c1 = c(w1·),
    n1f = |{w2 : c(w1,w2)>0}|, n1p = |{w1 : c(w1,w2)>0}| and bt = total
    bigram types:

        P_KN = max(c2 - D, 0)/c1 + D·n1f/c1 · n1p/bt

    emitted as ONE floored scaled integer
    ``(max(4·c2-3, 0)·bt + 3·n1f·n1p) · LM_SCALE DIV (4·c1·bt)`` — a
    single floor, so the value is exact cross-engine. Per-doc score is
    the k-weighted floor mean over its bigram occurrences. Bigint bound:
    c2·bt·LM_SCALE must stay < 2^63 (c2·bt < 9.2e12 — a corpus past
    that moves LM_SCALE down or the expression to decimal).

    Scale shape mirrors ``ngram_lm_score``: occurrences compress to
    per-doc multiplicities first; c1/n1f/n1p are windows over the
    MODEL (bigram-type-sized), never another corpus pass; bt is a
    singleton aggregate broadcast (bounded by construction).
    """
    docs = load_table(spark, "documents", sf_dir)
    toks = ws_tokens(F.col("text"))
    base = docs.select("doc_id", toks.alias("__toks")).filter(
        F.size("__toks") >= 2
    )
    pairs = base.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.size("__toks") - 1)).alias("__i"),
        "__toks",
    ).select(
        "doc_id",
        F.element_at("__toks", F.col("__i")).alias("w1"),
        F.element_at("__toks", F.col("__i") + 1).alias("w2"),
    )
    d = pairs.groupBy("doc_id", "w1", "w2").agg(
        F.count(F.lit(1)).alias("k")
    )
    m = d.groupBy("w1", "w2").agg(F.sum("k").alias("c2"))
    w1w = Window.partitionBy("w1")
    w2w = Window.partitionBy("w2")
    m = (
        m.withColumn("c1", F.sum("c2").over(w1w))
        .withColumn("n1f", F.count(F.lit(1)).over(w1w))
        .withColumn("n1p", F.count(F.lit(1)).over(w2w))
    )
    bt = m.groupBy().agg(F.count(F.lit(1)).alias("bt"))
    scored = d.join(m.crossJoin(F.broadcast(bt)), ["w1", "w2"]).select(
        "doc_id",
        "k",
        F.expr(
            f"(greatest({KN_D_DEN} * c2 - {KN_D_NUM}, CAST(0 AS BIGINT))"
            f" * bt + {KN_D_NUM} * n1f * n1p)"
            f" * CAST({LM_SCALE} AS BIGINT)"
            f" DIV ({KN_D_DEN} * c1 * bt)"
        ).alias("s"),
    )
    return scored.groupBy("doc_id").agg(
        F.sum("k").cast("bigint").alias("n_bigrams"),
        F.expr("SUM(k * s) DIV SUM(k)").cast("bigint").alias(
            "kn_score_scaled"
        ),
    )


QUERIES = {
    "doc_chunk_windows": q_doc_chunk_windows,
    "kn_lm_score": q_kn_lm_score,
    "domain_quota_sample": q_domain_quota_sample,
    "ngram_lm_score": q_ngram_lm_score,
    "vocab_coverage": q_vocab_coverage,
    "text_passage_dedup": q_text_passage_dedup,
}

ORACLE = {
    "text_passage_dedup": f"""
        WITH base AS (
          SELECT doc_id, {WS_TOKENS_SQL} AS toks, len({WS_TOKENS_SQL}) AS n FROM documents
        ), seg AS (
          SELECT doc_id, toks,
                 unnest(generate_series(0, n - 1, {PASSAGE_W})) AS start
          FROM base WHERE n > 0
        ), p AS (
          SELECT doc_id,
                 CAST(start // {PASSAGE_W} AS BIGINT) AS pos,
                 array_to_string(
                   toks[start + 1 : start + {PASSAGE_W}], ' ') AS passage
          FROM seg
        ), boiler AS (
          SELECT md5(passage) AS h FROM p
          GROUP BY 1 HAVING COUNT(DISTINCT doc_id) > {PASSAGE_MAX_DF}
        ), kept AS (
          SELECT doc_id, pos, passage FROM p
          WHERE md5(passage) NOT IN (SELECT h FROM boiler)
        ), rebuilt AS (
          SELECT doc_id, COUNT(*) AS n_kept,
                 string_agg(passage, ' ' ORDER BY pos) AS clean_text
          FROM kept GROUP BY doc_id
        )
        SELECT b.doc_id,
               CAST((n + {PASSAGE_W} - 1) // {PASSAGE_W} AS BIGINT)
                 AS n_passages,
               CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept,
               COALESCE(clean_text, '') AS clean_text
        FROM base b LEFT JOIN rebuilt USING (doc_id)""",
    "doc_chunk_windows": f"""
        WITH t AS (
          SELECT doc_id, {WS_TOKENS_SQL} AS toks FROM documents
        ), nz AS (
          SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0
        ), s AS (
          SELECT doc_id, toks, n,
                 unnest(generate_series(0, n - 1, {CHUNK_S})) AS start
          FROM nz
        )
        SELECT doc_id,
               CAST(start // {CHUNK_S} AS BIGINT) AS chunk_idx,
               CAST(least({CHUNK_W}, n - start) AS BIGINT) AS n_chunk_tokens,
               array_to_string(
                 toks[start + 1 : least(start + {CHUNK_W}, n)], ' '
               ) AS chunk_text
        FROM s""",
    "domain_quota_sample": f"""
        SELECT doc_id, source, quota_rank
        FROM (
          SELECT doc_id, source,
                 CAST(row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5('quota:' || CAST(doc_id AS VARCHAR)), doc_id
                 ) AS BIGINT) AS quota_rank
          FROM documents)
        WHERE quota_rank <= {QUOTA_CAP}""",
    "kn_lm_score": f"""
        WITH t AS (
          SELECT doc_id, {WS_TOKENS_SQL} AS toks FROM documents
        ), nz AS (
          SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 2
        ), b AS (
          SELECT doc_id, toks,
                 unnest(generate_series(1, n - 1)) AS i
          FROM nz
        ), pairs AS (
          SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2 FROM b
        ), d AS (
          SELECT doc_id, w1, w2, COUNT(*) AS k
          FROM pairs GROUP BY doc_id, w1, w2
        ), m AS (
          SELECT w1, w2, CAST(SUM(k) AS BIGINT) AS c2
          FROM d GROUP BY w1, w2
        ), m2 AS (
          SELECT w1, w2, c2,
                 CAST(SUM(c2) OVER (PARTITION BY w1) AS BIGINT) AS c1,
                 CAST(COUNT(*) OVER (PARTITION BY w1) AS BIGINT) AS n1f,
                 CAST(COUNT(*) OVER (PARTITION BY w2) AS BIGINT) AS n1p
          FROM m
        ), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS bt FROM m), scored AS (
          SELECT d.doc_id, d.k,
                 (GREATEST({KN_D_DEN} * m2.c2 - {KN_D_NUM}, 0) * tot.bt
                  + {KN_D_NUM} * m2.n1f * m2.n1p) * {LM_SCALE}
                 // ({KN_D_DEN} * m2.c1 * tot.bt) AS s
          FROM d JOIN m2 USING (w1, w2) CROSS JOIN tot
        )
        SELECT doc_id,
               CAST(SUM(k) AS BIGINT) AS n_bigrams,
               CAST(SUM(k * s) // SUM(k) AS BIGINT) AS kn_score_scaled
        FROM scored GROUP BY doc_id""",
    "ngram_lm_score": f"""
        WITH t AS (
          SELECT doc_id, {WS_TOKENS_SQL} AS toks FROM documents
        ), nz AS (
          SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 2
        ), b AS (
          SELECT doc_id, toks,
                 unnest(generate_series(1, n - 1)) AS i
          FROM nz
        ), pairs AS (
          SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2 FROM b
        ), d AS (
          SELECT doc_id, w1, w2, COUNT(*) AS k
          FROM pairs GROUP BY doc_id, w1, w2
        ), m AS (
          SELECT w1, w2, SUM(k) AS c2 FROM d GROUP BY w1, w2
        ), m2 AS (
          SELECT w1, w2, c2, SUM(c2) OVER (PARTITION BY w1) AS c1 FROM m
        ), scored AS (
          SELECT d.doc_id, d.k, (m2.c2 * {LM_SCALE}) // m2.c1 AS s
          FROM d JOIN m2 USING (w1, w2)
        )
        SELECT doc_id,
               CAST(SUM(k) AS BIGINT) AS n_bigrams,
               CAST(SUM(k * s) // SUM(k) AS BIGINT) AS lm_score_scaled
        FROM scored GROUP BY doc_id""",
    "vocab_coverage": f"""
        WITH t AS (
          SELECT doc_id, {WS_TOKENS_SQL} AS toks FROM documents
        ), nz AS (
          SELECT doc_id, toks FROM t WHERE len(toks) > 0
        ), counts AS (
          SELECT unnest(toks) AS tok FROM nz
        ), ranked AS (
          SELECT tok, row_number() OVER (
            ORDER BY COUNT(*) DESC, tok ASC
          ) AS r
          FROM counts GROUP BY tok
        ), vocab AS (
          SELECT list(tok) AS v FROM ranked WHERE r <= {VOCAB_V}
        )
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(len(list_filter(toks, x -> NOT list_contains(v, x)))
                    AS BIGINT) AS n_oov,
               CAST((len(list_filter(toks, x -> NOT list_contains(v, x)))
                     * 10000) // len(toks) AS BIGINT) AS oov_bp
        FROM nz CROSS JOIN vocab""",
}


#: CCNet bucket cutpoints (percentiles of the fluency score) and the
#: phase-1 width for the two-phase quantile locate over the scaled
#: score domain (0..LM_SCALE → ≤ ~1k buckets at width 1024).
CCNET_PCTS = [33, 67]
CCNET_QWIDTH = 1024.0


def q_ccnet_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail split by LM fluency: every document
    bucketed by where its Kneser-Ney score falls against the corpus's
    exact 33rd/67th percentiles (high score = low perplexity = head —
    the slice CCNet keeps). Composes two audited operators: the KN
    scorer and the two-phase exact-quantile locate (no global sort);
    the two cutoff scalars broadcast, so bucketing is a narrow map over
    the score table."""
    from etl_pipeline_excel_sql__spark.operators.quantiles import (
        exact_quantiles,
    )

    scores = q_kn_lm_score(spark, sf_dir).select(
        "doc_id", "kn_score_scaled"
    )
    cuts = (
        exact_quantiles(
            scores, "kn_score_scaled", ["doc_id"], CCNET_PCTS, CCNET_QWIDTH
        )
        .groupBy()
        .agg(
            F.max(F.when(F.col("pct") == 33, F.col("value"))).alias("c33"),
            F.max(F.when(F.col("pct") == 67, F.col("value"))).alias("c67"),
        )
    )
    return scores.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        "kn_score_scaled",
        F.when(F.col("kn_score_scaled") > F.col("c67"), "head")
        .when(F.col("kn_score_scaled") > F.col("c33"), "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


ORACLE["ccnet_ppl_buckets"] = f"""
WITH scores AS ({ORACLE["kn_lm_score"]}
), n AS (SELECT COUNT(*) AS n FROM scores),
ranked AS (
  SELECT kn_score_scaled AS v,
         row_number() OVER (ORDER BY kn_score_scaled, doc_id) AS rn
  FROM scores
), cuts AS (
  SELECT MAX(CASE WHEN pct = 33 THEN v END) AS c33,
         MAX(CASE WHEN pct = 67 THEN v END) AS c67
  FROM (SELECT pct, GREATEST(CAST(1 AS BIGINT),
               CAST(ceil(pct * n / 100.0) AS BIGINT)) AS rank
        FROM (VALUES (33), (67)) p(pct) CROSS JOIN n) r
  JOIN ranked ON ranked.rn = r.rank
)
SELECT doc_id, kn_score_scaled,
       CASE WHEN kn_score_scaled > c67 THEN 'head'
            WHEN kn_score_scaled > c33 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM scores CROSS JOIN cuts
"""
QUERIES["ccnet_ppl_buckets"] = q_ccnet_ppl_buckets


# --- corpus-health composition rows (round 11) ------------------------------


def _neardup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, group_id): every document keyed by its NEAR-dup cluster
    (MinHash pairs -> connected components; singletons key to
    themselves). The corpus ships zero EXACT duplicates, so basing the
    health rows on content-hash groups would be a constant histogram —
    the near-dup clusters are the real structure."""
    from etl_pipeline_excel_sql__spark.operators.clusters import (
        connected_components,
    )
    from etl_pipeline_excel_sql__spark.plans.pipeline_queries import (
        q_dedup_minhash,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id")
    pairs = q_dedup_minhash(spark, sf_dir).select("id_a", "id_b")
    comp = connected_components(pairs).select(
        F.col("member_id").alias("doc_id"), "cluster_id"
    )
    return docs.join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id"))
        .cast("bigint")
        .alias("group_id"),
    )


#: shared recursive-CTE group assignment for the two health oracles —
#: the dedup_clusters reach/fixpoint convention, LEFT-joined so
#: singletons keep their own id.
def _neardup_groups_sql(src: str = "documents") -> str:
    """``src`` may be a parenthesized subquery: the round-13 release
    diff runs the SAME group chain over the corpus-only snapshot."""
    from etl_pipeline_excel_sql__spark.plans.pipeline_queries import (
        _DOCS_TOKS_SRC,
        _MINHASH_SQL,
    )

    mh = _MINHASH_SQL
    if src != "documents":
        mh = mh.replace(
            _DOCS_TOKS_SRC,
            f"(SELECT doc_id, {WS_TOKENS_SQL} AS toks FROM {src} AS nd_src)",
        )
    return f"""pairs AS MATERIALIZED (
  SELECT id_a, id_b FROM ({mh})
), sym AS MATERIALIZED (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
), reach AS (
  SELECT u AS node, u AS lbl FROM sym
  UNION
  SELECT s.v AS node, reach.lbl FROM reach JOIN sym s ON s.u = reach.node
), comp AS (
  SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node
), grouped AS (
  SELECT d.doc_id,
         CAST(COALESCE(c.cluster_id, d.doc_id) AS BIGINT) AS group_id
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
)"""


def q_dup_size_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The duplication spectrum over NEAR-dup clusters: how many
    duplicate families of each size the corpus holds (singletons
    included) — the first histogram a corpus health report shows (a
    fat tail means boilerplate/mirroring; a spike at 1 means the crawl
    is mostly unique). The heavy work is the audited MinHash +
    components DAG; the spectrum itself is two tiny aggregates.
    Output: ``(cluster_size, n_clusters, n_docs)``, all-integer."""
    groups = _neardup_groups(spark, sf_dir)
    fams = groups.groupBy("group_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return fams.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        (F.count(F.lit(1)) * F.col("cluster_size"))
        .cast("bigint")
        .alias("n_docs"),
    )


def _dup_spectrum_sql() -> str:
    return f"""
WITH RECURSIVE {_neardup_groups_sql()},
fams AS (
  SELECT group_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM grouped GROUP BY group_id
)
SELECT cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(COUNT(*) * cluster_size AS BIGINT) AS n_docs
FROM fams GROUP BY cluster_size
"""


ORACLE["dup_size_spectrum"] = _dup_spectrum_sql()
QUERIES["dup_size_spectrum"] = q_dup_size_spectrum


def q_effective_corpus_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-discounted corpus size per source: raw token mass vs the
    EFFECTIVE mass after near-dup collapse (each cluster counted once,
    by its keeper = min-id member) — the honest number a 100 TB corpus
    quotes before training ("we have X tokens" means effective, not
    raw). Clusters are attributed to the KEEPER's source. The token
    counts ride skinny (doc, group, tokens) rows; the text never
    shuffles. Output per source: member docs, clusters kept, raw vs
    effective tokens, savings in ppm."""
    from etl_pipeline_excel_sql__spark.functions.text import ws_token_count

    groups = _neardup_groups(spark, sf_dir)
    toks = load_table(spark, "documents", sf_dir).select(
        "doc_id",
        "source",
        ws_token_count(F.col("text")).cast("bigint").alias("__ntok"),
    )
    g = groups.join(toks, "doc_id")
    per_group = g.groupBy("group_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum("__ntok").cast("bigint").alias("__raw"),
        F.min_by("__ntok", "doc_id").alias("__eff"),
        F.min_by("source", "doc_id").alias("source"),
    )
    return per_group.groupBy("source").agg(
        F.sum("__n").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.sum("__raw").cast("bigint").alias("raw_tokens"),
        F.sum("__eff").cast("bigint").alias("effective_tokens"),
        F.expr(
            "CAST((sum(__raw) - sum(__eff)) * 1000000"
            " DIV greatest(sum(__raw), 1) AS BIGINT)"
        ).alias("savings_ppm"),
    )


def _effective_size_sql() -> str:
    toks = f"CAST(len({WS_TOKENS_SQL}) AS BIGINT)"
    return f"""
WITH RECURSIVE {_neardup_groups_sql()},
t AS (
  SELECT g.doc_id, g.group_id, d.source, {toks} AS ntok
  FROM grouped g JOIN documents d USING (doc_id)
), per_group AS (
  SELECT group_id,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(ntok) AS BIGINT) AS raw,
         CAST(arg_min(ntok, doc_id) AS BIGINT) AS eff,
         arg_min(source, doc_id) AS source
  FROM t GROUP BY group_id
)
SELECT source,
       CAST(SUM(n) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(raw) AS BIGINT) AS raw_tokens,
       CAST(SUM(eff) AS BIGINT) AS effective_tokens,
       CAST((SUM(raw) - SUM(eff)) * 1000000
            // greatest(SUM(raw), 1) AS BIGINT) AS savings_ppm
FROM per_group GROUP BY source
"""


ORACLE["effective_corpus_size"] = _effective_size_sql()
QUERIES["effective_corpus_size"] = q_effective_corpus_size
