"""Sparse + hybrid retrieval over the document corpus: BM25 keyword
scoring and reciprocal-rank fusion with the dense (embedding) ranker.

The RAG-era serving pair the engine was missing next to its ANN family:
score a keyword query against the corpus (BM25), score it against the
embedding index (exact/IVF cosine, ``operators/similarity``), and fuse
the two rankings (RRF — Cormack et al. SIGIR'09's robust rank-only
fusion; no score normalization across incommensurable scales).

Cross-engine exactness doctrine (the repo's float rules):

* The REGISTERED score is FLOAT-FREE. With rational idf
  ``(N - df + 0.5) / (df + 0.5)`` and rational ``k1``/``b``, the whole
  per-term contribution is one exact fraction: clearing denominators
  (see ``_rational_coeffs``) gives

      contrib = [(2(N-df)+1) · C1·T·tf]
              / [(2df+1) · (C2·T·tf + C3·T + C4·dl·N)]

  with integer constants C1..C4 folding k1, b AND the micro-unit scale,
  so ``FLOOR(contrib · SCALE)`` is ONE integer division — decimal(38,0)
  ``DIV`` in Spark, HUGEINT ``//`` in DuckDB — with no double anywhere.
  (Post-mortem of the rounds-8/9 driver hash red, root-caused round 10:
  the arithmetic was NEVER the divergence — the ORACLE's ``SUM(BIGINT)``
  widened to HUGEINT, which DuckDB's pandas conversion renders as
  float64 while Spark's bigint sum stays int64, so the driver hashed
  ``123.0`` against ``123``. The round-8 "double FLOOR boundary"
  diagnosis was wrong; the r9 float-free rewrite was correct doctrine
  but fixed a non-bug. The actual fix is an OUTER ``CAST(... AS
  BIGINT)`` on the oracle's final projection, plus a registry-wide type
  guard — see ``tests/test_oracle_types.py`` and ``check_oracle.py
  --pandas-canon``, which reproduced the driver's exact 49/50 verdict
  locally.)
* Per-(query, doc) totals sum integer micro-units, so the aggregate is
  order-free and exact under any partitioning (the
  ``emb_label_centroids`` pattern).
* RRF is pure integer arithmetic: ``SCALE DIV (k + rank)`` summed over
  rankers — no floats anywhere.

Overflow headroom: the numerator is ``2N · C1 · T · tf``; at a
100 TB-ish corpus (N=1e9 docs, T=1e12 tokens, tf=1e4, default
C1=22·10⁶) that is ~4.4e32 ≪ 10³⁸, inside both engines' 128-bit
integer/decimal range, and the quotient (≤ 2N·(k1+1)·SCALE ≈ 4e15)
fits bigint.

Scale shape:

* The query list is bounded by construction (a serving batch, not a
  corpus) — it broadcasts; the corpus term table NEVER does.
* BM25 is explode → two hash aggregates (doc-term tf, then term df) +
  one shuffle join on term, then the broadcast query join prunes the
  corpus to matching terms BEFORE the per-(query, doc) aggregate.
* Top-k per query is a window over query_id — as many groups as
  queries, each bounded by the candidate count.
* RRF full-outer-joins two (query, doc, rank) lists — both already
  top-k-bounded, so the join is tiny at any corpus size.
"""

from __future__ import annotations

from fractions import Fraction
from math import gcd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.functions.text import ws_tokens

#: BM25 free parameters (Robertson's defaults).
BM25_K1 = 1.2
BM25_B = 0.75

#: Micro-unit quantum for the per-term score (FLOOR(score * 1e6)).
BM25_SCALE = 1_000_000

#: RRF constants: score = Σ RRF_SCALE DIV (RRF_K + rank).
RRF_K = 60
RRF_SCALE = 1_000_000_000

#: Results per query of the registry's ranked retrievals.
BM25_TOPK = 10
#: PRF: feedback depth and expansion width (classic small Rocchio).
PRF_FB_DOCS = 5
PRF_FB_TERMS = 2


def _rational_coeffs(k1: float, b: float, scale: int) -> tuple[int, int, int, int]:
    """Fold rational ``k1 = p/q``, ``b = r/s`` (exact from their decimal
    literals) and the micro-unit ``scale`` into the four integer
    constants of the cleared-denominator per-term contribution::

        FLOOR(scale · idf · sat)
          = [(2(N-df)+1) · C1·T·tf] DIV [(2df+1) · (C2·T·tf + C3·T + C4·dl·N)]

    where ``C1 = (p+q)·s·scale``, ``C2 = q·s``, ``C3 = p·(s-r)``,
    ``C4 = p·r``, reduced by their gcd. The engine's ``BM25_K1``,
    ``BM25_B`` and ``BM25_SCALE`` give (22_000_000, 10, 3, 9)."""
    fk1, fb = Fraction(str(k1)), Fraction(str(b))
    p, q = fk1.numerator, fk1.denominator
    r, s = fb.numerator, fb.denominator
    c1 = (p + q) * s * scale
    c2 = q * s
    c3 = p * (s - r)
    c4 = p * r
    g = gcd(gcd(c1, c2), gcd(c3, c4))
    return c1 // g, c2 // g, c3 // g, c4 // g


class Bm25Index:
    """The inverted-index statistics BM25 serves from: per-(doc, term)
    frequencies, per-doc lengths, per-term document frequencies, and the
    two corpus scalars. In production these are built in ONE corpus
    pass, persisted (``save_bm25_index``), and every serving job scores
    queries against the loaded tables without re-tokenizing the corpus —
    the same train-once/serve-many seam as ``sinks/models``' bounded
    artifacts, except tf/dl/df are corpus-vocabulary-scale, so they
    persist as ordinary (partitionable) parquet, not one-file artifacts.
    """

    def __init__(self, tf, dl, dfreq, n_docs: int, total_toks: int):
        self.tf = tf
        self.dl = dl
        self.dfreq = dfreq
        self.n_docs = n_docs
        self.total_toks = total_toks


def bm25_build_index(docs: DataFrame) -> Bm25Index:
    """One tokenization pass over ``(doc_id, text)`` documents → the four
    index statistics (module doctrine: two hash aggregates over the
    exploded term table; the scalars are exact longs so avgdl is ONE
    double division)."""
    toks = docs.select(
        "doc_id", F.explode(ws_tokens(F.col("text"))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    return Bm25Index(tf, dl, dfreq, docs.count(), toks.count())


def bm25_matched_terms(idx: Bm25Index, query_terms: DataFrame) -> DataFrame:
    """The matched per-(query, doc, term) statistics table every BM25
    stage scores from: broadcast the bounded query batch into the corpus
    term table (pruning it BEFORE any aggregate — module doctrine), then
    attach dl and df. Exposed separately so the driver gate can check the
    statistics tier (``bm25_stats``) independently of the scoring
    arithmetic (``bm25_contrib``) and the final aggregate (``bm25_topk``)
    — the round-10 bisection rows."""
    return (
        idx.tf.join(F.broadcast(query_terms), on="term")
        .join(idx.dl, on="doc_id")
        .join(idx.dfreq, on="term")
    )


def bm25_term_contribs(idx: Bm25Index, query_terms: DataFrame) -> DataFrame:
    """Per-term integer micro-unit contributions PRE-aggregation:
    ``(query_id, doc_id, term, tf, df, dl, contrib_u)`` where
    ``contrib_u`` is the single cleared-denominator integer division of
    the module doctrine — the exact-arithmetic stage in isolation."""
    c1, c2, c3, c4 = _rational_coeffs(BM25_K1, BM25_B, BM25_SCALE)
    n_docs, total_toks = idx.n_docs, idx.total_toks
    _check_bm25_headroom(n_docs, total_toks, c1)
    dec = "decimal(38,0)"
    num = (
        (F.lit(2) * (F.lit(n_docs) - F.col("df")) + F.lit(1)).cast(dec)
        * F.lit(c1).cast(dec)
        * F.lit(total_toks).cast(dec)
        * F.col("tf").cast(dec)
    )
    den = (F.lit(2) * F.col("df") + F.lit(1)).cast(dec) * (
        F.lit(c2).cast(dec) * F.lit(total_toks).cast(dec) * F.col("tf").cast(dec)
        + F.lit(c3).cast(dec) * F.lit(total_toks).cast(dec)
        + F.lit(c4).cast(dec) * F.col("dl").cast(dec) * F.lit(n_docs).cast(dec)
    )
    return (
        bm25_matched_terms(idx, query_terms)
        .withColumn("__num", num)
        .withColumn("__den", den)
        .withColumn("contrib_u", F.expr("CAST(__num DIV __den AS BIGINT)"))
        .select(
            "query_id",
            "doc_id",
            "term",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            F.col("dl").cast("bigint").alias("dl"),
            "contrib_u",
        )
    )


def _check_bm25_headroom(n_docs: int, total_toks: int, c1: int) -> None:
    """ADVICE guard: the decimal(38,0) chain relies on documented
    headroom, but non-ANSI Spark turns a decimal overflow into NULL and
    ``F.sum`` silently drops it — a quietly-low score instead of an
    error. Assert the worst-case numerator bound (the largest
    intermediate: ``(2N+1)·C1·T·tf`` with tf ≤ T) from the scalars the
    index already holds, so a corpus/constants combination that could
    overflow fails LOUDLY at plan-build time."""
    worst = (2 * n_docs + 1) * c1 * total_toks * total_toks
    if worst >= 10**38:
        raise ValueError(
            "bm25: worst-case decimal(38,0) intermediate "
            f"{worst:.3e} >= 1e38 (n_docs={n_docs}, total_toks="
            f"{total_toks}, c1={c1}); reduce BM25_SCALE or pre-reduce "
            "the coefficients before scoring this corpus"
        )


def bm25_scores_from_index(
    idx: Bm25Index, query_terms: DataFrame
) -> DataFrame:
    """Score a bounded query batch against a (built or loaded) index —
    identical arithmetic to ``bm25_scores``, which is this function over
    a freshly-built index."""
    # float-free: one decimal(38,0) integer division per term (module
    # doctrine; constants from _rational_coeffs), factored through
    # bm25_term_contribs so the gate can check it pre-aggregation.
    per_term = bm25_term_contribs(idx, query_terms)
    return per_term.groupBy("query_id", "doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_hit"),
        F.sum("contrib_u").alias("score_u"),
    )


def bm25_index_upsert(idx: Bm25Index, new_docs: DataFrame) -> Bm25Index:
    """Merge a batch of NEW documents into a built/loaded index without
    re-tokenizing the existing corpus — every index statistic is
    additive over disjoint document sets: tf rows are per-(doc, term)
    so disjoint docs union directly, df and the two scalars sum, dl
    unions. Incremental ingest is strictly cross-set (the
    ``spans_incremental``/``cdc_incremental`` contract); a doc_id
    present on both sides would corrupt the statistics silently, so the
    merge fails FAST on overlap — an eager bounded intersection probe
    before any merged table exists (see inline comment).
    """
    new_toks = new_docs.select(
        "doc_id", F.explode(ws_tokens(F.col("text"))).alias("term")
    )
    new_tf = new_toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    new_df = new_tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    new_dl = new_toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    # Fail FAST on doc_id overlap — one bounded intersection count
    # against idx.dl before any merged statistic is built (this function
    # already pays eager counts for n_docs/total_toks, so no new eager
    # boundary). The previous lazy per-row guard lived only on dl: any
    # consumer that evaluated tf/dfreq without touching dl — including
    # save_bm25_index, which writes tf BEFORE dl — could materialize
    # double-counted statistics before the guard ever fired.
    overlap = idx.dl.join(new_dl, on="doc_id").select("doc_id")
    bad = [r[0] for r in overlap.limit(5).collect()]
    if bad:
        raise ValueError(
            "bm25_index_upsert: doc_id present in both index and new "
            f"batch (e.g. {bad}); incremental ingest is strictly "
            "cross-set"
        )
    dl = idx.dl.unionByName(new_dl)
    dfreq = (
        idx.dfreq.unionByName(new_df)
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
    )
    return Bm25Index(
        idx.tf.unionByName(new_tf),
        dl,
        dfreq,
        idx.n_docs + new_docs.count(),
        idx.total_toks + new_toks.count(),
    )


def bm25_scores(docs: DataFrame, query_terms: DataFrame) -> DataFrame:
    """BM25 score of every (query, document) pair with ≥1 matching term.

    ``query_terms`` is a bounded ``(query_id, term)`` table (a serving
    batch — it broadcasts). Returns ``(query_id, doc_id, n_hit,
    score_u)`` where ``score_u`` is the integer micro-unit sum of
    per-term contributions (see module doctrine) and ``n_hit`` the
    matched-term count.
    """
    return bm25_scores_from_index(bm25_build_index(docs), query_terms)


def bm25_topk(docs: DataFrame, query_terms: DataFrame, k: int) -> DataFrame:
    """Top-``k`` documents per query by BM25, deterministic ties
    (score_u DESC, doc_id ASC) → ``(query_id, doc_id, n_hit, score_u,
    rank)``."""
    scored = bm25_scores(docs, query_terms)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_u").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "n_hit", "score_u", "rank")
    )


def bm25_prf_expand(
    idx: Bm25Index,
    query_terms: DataFrame,
    fb_docs: int,
    fb_terms: int,
) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (Rocchio's integer
    core): run the first BM25 pass, take each query's top ``fb_docs``
    documents, rank their terms by total feedback frequency (ties: term
    ASC), and append the top ``fb_terms`` NEW terms to the query batch.
    Returns the expanded ``(query_id, term)`` table — still bounded
    (queries × (original + fb_terms)), so it broadcasts exactly like the
    original batch.

    Scale shape: the feedback top-k is k-bounded per query, so the
    term-harvest join probes the corpus tf table with a tiny build side;
    term selection is one (query, term) aggregate over those bounded
    postings."""
    scored = bm25_scores_from_index(idx, query_terms)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_u").desc(), F.col("doc_id").asc()
    )
    fb = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= fb_docs)
        .select("query_id", "doc_id")
    )
    harvested = (
        idx.tf.join(F.broadcast(fb), on="doc_id")
        .join(
            F.broadcast(query_terms.withColumn("__orig", F.lit(1))),
            on=["query_id", "term"],
            how="left",
        )
        .filter(F.col("__orig").isNull())
        .groupBy("query_id", "term")
        .agg(F.sum("tf").cast("bigint").alias("__fbtf"))
    )
    we = Window.partitionBy("query_id").orderBy(
        F.col("__fbtf").desc(), F.col("term").asc()
    )
    expansion = (
        harvested.withColumn("__rn", F.row_number().over(we))
        .filter(F.col("__rn") <= fb_terms)
        .select("query_id", "term")
    )
    return query_terms.select("query_id", "term").unionByName(expansion)


def bm25_prf_topk(docs: DataFrame, query_terms: DataFrame) -> DataFrame:
    """Two-pass BM25 with pseudo-relevance feedback: expand each query
    with the ``PRF_FB_TERMS`` most frequent new terms of its
    ``PRF_FB_DOCS`` top documents, rescore, return top-``BM25_TOPK`` —
    the classic second-stage retrieval DAG, float-free end to end. ONE
    index build feeds both passes."""
    idx = bm25_build_index(docs)
    expanded = bm25_prf_expand(idx, query_terms, PRF_FB_DOCS, PRF_FB_TERMS)
    scored = bm25_scores_from_index(idx, expanded)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_u").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= BM25_TOPK)
        .select("query_id", "doc_id", "n_hit", "score_u", "rank")
    )


def positional_postings(docs: DataFrame) -> DataFrame:
    """Positional inverted-index rows ``(doc_id, pos, term)`` of
    ``(doc_id, text)`` documents — the classic IR structure BM25's
    bag-of-words index can't answer phrase queries from. One tokenize
    pass, narrow (posexplode)."""
    return docs.select(
        "doc_id", F.posexplode(ws_tokens(F.col("text"))).alias("pos", "term")
    )


def phrase_match_counts(docs: DataFrame, phrase_terms: DataFrame) -> DataFrame:
    """Exact-phrase occurrence counts: ``(phrase_id, doc_id, n_occ)``
    for every document containing each phrase at least once.

    ``phrase_terms`` is the bounded query batch ``(phrase_id, slot,
    term, phrase_len)`` — one row per phrase position. The classic
    positional-index anchor trick, all integers: a posting at ``pos``
    matching slot ``s`` votes for anchor ``pos - s``; an anchor whose
    DISTINCT matched slots cover the whole phrase is one occurrence
    (distinctness makes repeated terms in a phrase — "the cat the" —
    count each slot once per anchor).

    Scale shape (the BM25 doctrine): the phrase batch broadcasts, the
    postings table never does; the broadcast term join prunes the
    corpus to matching terms BEFORE any aggregate, and both aggregates
    key on (phrase, doc[, anchor]) — no self-join of the postings.
    """
    hits = positional_postings(docs).join(
        F.broadcast(phrase_terms), on="term"
    )
    anchors = (
        hits.select(
            "phrase_id",
            "doc_id",
            "phrase_len",
            (F.col("pos") - F.col("slot")).alias("anchor"),
            "slot",
        )
        .filter(F.col("anchor") >= 0)
        .groupBy("phrase_id", "doc_id", "phrase_len", "anchor")
        .agg(F.count_distinct(F.col("slot")).alias("n_slots"))
    )
    return (
        anchors.filter(F.col("n_slots") == F.col("phrase_len"))
        .groupBy("phrase_id", "doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_occ"))
    )


def phrase_topk(docs: DataFrame, phrase_terms: DataFrame, k: int) -> DataFrame:
    """Top-``k`` documents per phrase by occurrence count, deterministic
    ties (n_occ DESC, doc_id ASC) — pure-integer hash inputs end to
    end."""
    counts = phrase_match_counts(docs, phrase_terms)
    w = Window.partitionBy("phrase_id").orderBy(
        F.col("n_occ").desc(), F.col("doc_id").asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("phrase_id", "doc_id", "n_occ", "rank")
    )


def rrf_fuse(rank_a: DataFrame, rank_b: DataFrame) -> DataFrame:
    """Reciprocal-rank fusion of two ``(query_id, doc_id, rank)`` lists:
    ``rrf_u = Σ RRF_SCALE DIV (RRF_K + rank)`` over the lists the doc
    appears in (full outer join — a doc ranked by one side only gets
    that side's contribution). Pure integer arithmetic; the fused rank
    breaks ties (rrf_u DESC, doc_id ASC)."""
    a = rank_a.select("query_id", "doc_id", F.col("rank").alias("__ra"))
    b = rank_b.select("query_id", "doc_id", F.col("rank").alias("__rb"))
    fused = a.join(b, on=["query_id", "doc_id"], how="full_outer")
    # integer DIV, not /: exact in both engines, no float anywhere
    contrib_a = F.when(
        F.col("__ra").isNotNull(),
        F.expr(f"CAST({RRF_SCALE} AS BIGINT) DIV ({RRF_K} + __ra)"),
    ).otherwise(F.lit(0).cast("bigint"))
    contrib_b = F.when(
        F.col("__rb").isNotNull(),
        F.expr(f"CAST({RRF_SCALE} AS BIGINT) DIV ({RRF_K} + __rb)"),
    ).otherwise(F.lit(0).cast("bigint"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_u").desc(), F.col("doc_id").asc()
    )
    return (
        fused.select(
            "query_id",
            "doc_id",
            (contrib_a + contrib_b).alias("rrf_u"),
        )
        .withColumn("fused_rank", F.row_number().over(w).cast("int"))
        .select("query_id", "doc_id", "rrf_u", "fused_rank")
    )
