"""Sparse + hybrid retrieval queries: BM25 keyword top-k over the
documents corpus, and reciprocal-rank fusion of the BM25 ranking with
the dense (exact-cosine) ranking — the RAG serving pair next to the
ANN family.

Oracles replay the identical arithmetic in DuckDB. Exactness contract
(see ``operators/retrieval`` doctrine): the per-term BM25 contribution
is FLOAT-FREE — a single cleared-denominator integer division
(decimal(38,0) ``DIV`` in Spark == HUGEINT ``//`` in DuckDB on
non-negative operands) whose C1..C4 constants both sides take from the
same ``_rational_coeffs`` call — per-(query, doc) totals sum integer
micro-units (order-free), and RRF is pure integer division, so every
emitted column hashes exactly on ANY engine build.

Type doctrine (the ACTUAL rounds-8/9 driver red, root-caused round 10):
DuckDB widens ``SUM(BIGINT)`` to HUGEINT, and the driver's pandas
pathway converts HUGEINT to float64 while Spark's sum stays int64 —
integer-identical values, different hashes. Every integer aggregate in
an oracle's FINAL projection therefore carries an OUTER ``CAST(... AS
BIGINT)``; ``tests/test_oracle_types.py`` pins the rule registry-wide
and ``check_oracle.py --pandas-canon`` checks the real pathway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.operators.retrieval import (
    BM25_B,
    BM25_K1,
    BM25_SCALE,
    BM25_TOPK,
    PRF_FB_DOCS,
    PRF_FB_TERMS,
    RRF_K,
    RRF_SCALE,
    _rational_coeffs,
    bm25_build_index,
    bm25_scores_from_index,
    bm25_topk,
    phrase_topk,
    rrf_fuse,
)
from etl_pipeline_excel_sql__spark.plans.spans_queries import _tok_sql
from etl_pipeline_excel_sql__spark.operators.similarity import brute_force_topk
from etl_pipeline_excel_sql__spark.plans.pipeline_queries import _cos_sql
from etl_pipeline_excel_sql__spark.sources.registry import built_dir, load_table
from etl_pipeline_excel_sql__spark.functions.localframe import local_df
from etl_pipeline_excel_sql__spark.functions.text import WS_TOKENS_SQL

QUERIES: dict = {}
ORACLE: dict = {}

#: The serving batch: bounded by construction (it broadcasts; the
#: corpus never does). Query ids double as the probe vec_ids on the
#: dense side of the hybrid (doc_id == vec_id in the synthetic corpus,
#: the ``ann_filtered_topk`` identity).
RETRIEVAL_QUERIES: list[tuple[int, list[str]]] = [
    (0, ["spark", "join", "hash"]),
    (1, ["vector", "scan", "filter"]),
    (2, ["stream", "window", "agg"]),
]


def _query_terms_df(spark: SparkSession) -> DataFrame:
    rows = [(qid, t) for qid, terms in RETRIEVAL_QUERIES for t in terms]
    return local_df(spark, rows, "query_id INT, term STRING")


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents per keyword query by BM25 (rational idf,
    micro-unit exact — see module doctrine). Explode → two hash
    aggregates → broadcast query join pruning the corpus term table
    BEFORE the per-(query, doc) aggregate; top-k is a per-query window.
    """
    return bm25_topk(
        load_table(spark, "documents", sf_dir),
        _query_terms_df(spark),
        k=BM25_TOPK,
    )


_QT_VALUES = ", ".join(
    f"({qid}, '{t}')" for qid, terms in RETRIEVAL_QUERIES for t in terms
)

#: The cleared-denominator constants — taken from the SAME call the
#: Spark side uses, so the two engines cannot disagree on the fraction.
_C1, _C2, _C3, _C4 = _rational_coeffs(BM25_K1, BM25_B, BM25_SCALE)

#: Shared BM25 CTE chain (through the scored table). The per-term score
#: is one HUGEINT integer division — float-free, engine-build-proof.
_BM25_CTES = f"""qt(query_id, term) AS (VALUES {_QT_VALUES}),
toks AS MATERIALIZED (
  SELECT doc_id, UNNEST({WS_TOKENS_SQL}) AS term FROM documents
),
tf AS MATERIALIZED (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
stats AS (
  SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
         (SELECT COUNT(*) FROM toks) AS total_toks
),
bm25 AS MATERIALIZED (
  SELECT qt.query_id, tf.doc_id,
         CAST(COUNT(*) AS INT) AS n_hit,
         -- OUTER cast: DuckDB widens SUM(BIGINT) to HUGEINT, which the
         -- pandas pathway (.df()) converts to float64 while Spark's
         -- bigint sum stays int64 — the rounds-8/9 driver hash red (the
         -- ONLY gate-window oracle that emitted HUGEINT; reproduced and
         -- fixed by check_oracle --pandas-canon). Every emitted integer
         -- column must leave the final projection as BIGINT or narrower.
         CAST(SUM(CAST(
           (CAST(2 * (s.n_docs - f.df) + 1 AS HUGEINT)
              * {_C1} * s.total_toks * tf.tf)
           //
           (CAST(2 * f.df + 1 AS HUGEINT)
              * ({_C2} * CAST(s.total_toks AS HUGEINT) * tf.tf
                 + {_C3} * CAST(s.total_toks AS HUGEINT)
                 + {_C4} * CAST(d.dl AS HUGEINT) * s.n_docs))
           AS BIGINT)) AS BIGINT) AS score_u
  FROM tf
  JOIN qt ON qt.term = tf.term
  JOIN dfreq f ON f.term = tf.term
  JOIN dl d ON d.doc_id = tf.doc_id, stats s
  GROUP BY qt.query_id, tf.doc_id
),
bm25_topk AS MATERIALIZED (
  SELECT query_id, doc_id, n_hit, score_u,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY score_u DESC, doc_id ASC) AS INT) AS rank
  FROM bm25 QUALIFY rank <= {BM25_TOPK}
)"""

ORACLE["bm25_topk"] = f"""
WITH {_BM25_CTES}
SELECT query_id, doc_id, n_hit, score_u, rank FROM bm25_topk
"""
QUERIES["bm25_topk"] = q_bm25_topk


def q_bm25_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 bisection row 1 (round-9 verdict #1): the per-matched-
    (query, doc) STATISTICS tier — tokenization, tf/df/dl aggregates,
    the broadcast query join, and the two corpus scalars as columns —
    with zero scoring arithmetic. Pure longs end to end, so a driver red
    here indicts the statistics/join tier; green here plus a red
    ``bm25_contrib`` indicts the integer-division arithmetic alone."""
    from etl_pipeline_excel_sql__spark.operators.retrieval import (
        bm25_matched_terms,
    )

    idx = bm25_build_index(load_table(spark, "documents", sf_dir))
    matched = bm25_matched_terms(idx, _query_terms_df(spark))
    return matched.groupBy("query_id", "doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_hit"),
        F.sum("tf").cast("bigint").alias("sum_tf"),
        F.min("df").cast("bigint").alias("min_df"),
        F.min("dl").cast("bigint").alias("dl"),
        F.lit(idx.n_docs).cast("bigint").alias("n_docs"),
        F.lit(idx.total_toks).cast("bigint").alias("total_toks"),
    )


ORACLE["bm25_stats"] = f"""
WITH {_BM25_CTES}
SELECT qt.query_id, tf.doc_id,
       CAST(COUNT(*) AS INT) AS n_hit,
       CAST(SUM(tf.tf) AS BIGINT) AS sum_tf,
       CAST(MIN(f.df) AS BIGINT) AS min_df,
       CAST(MIN(d.dl) AS BIGINT) AS dl,
       CAST(MIN(s.n_docs) AS BIGINT) AS n_docs,
       CAST(MIN(s.total_toks) AS BIGINT) AS total_toks
FROM tf
JOIN qt ON qt.term = tf.term
JOIN dfreq f ON f.term = tf.term
JOIN dl d ON d.doc_id = tf.doc_id, stats s
GROUP BY qt.query_id, tf.doc_id
"""
QUERIES["bm25_stats"] = q_bm25_stats


def q_bm25_contrib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 bisection row 2: the per-term integer contributions PRE-
    aggregation — ``(query_id, doc_id, term, tf, df, dl, contrib_u)``
    where ``contrib_u`` is the cleared-denominator decimal(38,0) ``DIV``
    (HUGEINT ``//`` in the oracle) in isolation. A red here with
    ``bm25_stats`` green localizes the cross-engine divergence to the
    division arithmetic; both green with ``bm25_topk`` red indicts the
    final sum/window tier."""
    from etl_pipeline_excel_sql__spark.operators.retrieval import (
        bm25_term_contribs,
    )

    idx = bm25_build_index(load_table(spark, "documents", sf_dir))
    return bm25_term_contribs(idx, _query_terms_df(spark))


ORACLE["bm25_contrib"] = f"""
WITH {_BM25_CTES}
SELECT qt.query_id, tf.doc_id, tf.term,
       CAST(tf.tf AS BIGINT) AS tf,
       CAST(f.df AS BIGINT) AS df,
       CAST(d.dl AS BIGINT) AS dl,
       CAST(
         (CAST(2 * (s.n_docs - f.df) + 1 AS HUGEINT)
            * {_C1} * s.total_toks * tf.tf)
         //
         (CAST(2 * f.df + 1 AS HUGEINT)
            * ({_C2} * CAST(s.total_toks AS HUGEINT) * tf.tf
               + {_C3} * CAST(s.total_toks AS HUGEINT)
               + {_C4} * CAST(d.dl AS HUGEINT) * s.n_docs))
         AS BIGINT) AS contrib_u
FROM tf
JOIN qt ON qt.term = tf.term
JOIN dfreq f ON f.term = tf.term
JOIN dl d ON d.doc_id = tf.doc_id, stats s
"""
QUERIES["bm25_contrib"] = q_bm25_contrib


#: built_dir prefix of the bm25 serving index both serve rows share.
_SERVE_IDX = "bm25_serve_idx_"


#: The PRF oracle's rescoring pass over the expanded term batch ``qt2``:
#: the IDENTICAL arithmetic to ``bm25`` in ``_BM25_CTES``.
_BM25B_CTE = f"""bm25b AS MATERIALIZED (
  SELECT qt2.query_id, tf.doc_id,
         CAST(COUNT(*) AS INT) AS n_hit,
         CAST(SUM(CAST(
           (CAST(2 * (s.n_docs - f.df) + 1 AS HUGEINT)
              * {_C1} * s.total_toks * tf.tf)
           //
           (CAST(2 * f.df + 1 AS HUGEINT)
              * ({_C2} * CAST(s.total_toks AS HUGEINT) * tf.tf
                 + {_C3} * CAST(s.total_toks AS HUGEINT)
                 + {_C4} * CAST(d.dl AS HUGEINT) * s.n_docs))
           AS BIGINT)) AS BIGINT) AS score_u
  FROM tf
  JOIN qt2 ON qt2.term = tf.term
  JOIN dfreq f ON f.term = tf.term
  JOIN dl d ON d.doc_id = tf.doc_id, stats s
  GROUP BY qt2.query_id, tf.doc_id
)"""


def q_bm25_prf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass retrieval (round 10): BM25, expand each query with the
    2 most frequent new terms of its top-5 documents (pseudo-relevance
    feedback), rescore, top-10 — the second-stage retrieval DAG over ONE
    index build. Float-free end to end; the expanded batch is still
    queries × 5 rows, so it broadcasts like the original."""
    from etl_pipeline_excel_sql__spark.operators.retrieval import (
        bm25_prf_topk,
    )

    return bm25_prf_topk(
        load_table(spark, "documents", sf_dir), _query_terms_df(spark)
    )


ORACLE["bm25_prf_topk"] = f"""
WITH {_BM25_CTES},
fb AS (SELECT query_id, doc_id FROM bm25_topk WHERE rank <= {PRF_FB_DOCS}),
harv AS (
  SELECT fb.query_id, tf.term, SUM(tf.tf) AS fbtf
  FROM tf JOIN fb ON tf.doc_id = fb.doc_id
  WHERE NOT EXISTS (SELECT 1 FROM qt
                    WHERE qt.query_id = fb.query_id AND qt.term = tf.term)
  GROUP BY fb.query_id, tf.term
),
expn AS (
  SELECT query_id, term FROM (
    SELECT query_id, term,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY fbtf DESC, term ASC) AS rn
    FROM harv
  ) WHERE rn <= {PRF_FB_TERMS}
),
qt2 AS MATERIALIZED (
  SELECT query_id, term FROM qt
  UNION ALL SELECT query_id, term FROM expn
),
{_BM25B_CTE}
SELECT query_id, doc_id, n_hit, score_u,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY score_u DESC, doc_id ASC) AS INT) AS rank
FROM bm25b QUALIFY rank <= {BM25_TOPK}
"""
QUERIES["bm25_prf_topk"] = q_bm25_prf_topk


def q_bm25_serve_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The train-once/serve-many seam as a gated row: build the index,
    PERSIST it (``save_bm25_index`` — tf/dl/df parquet + stats
    artifact), LOAD it back with schemas enforced, and score the query
    batch from the LOADED tables. Same oracle as ``bm25_topk`` — the
    round-trip must be score-invisible."""
    from etl_pipeline_excel_sql__spark.sinks.models import (
        load_bm25_index,
        save_bm25_index,
    )

    idx = bm25_build_index(load_table(spark, "documents", sf_dir))
    # ONE per-(process, corpus) dir, re-saved on every invocation (save
    # overwrites): bench/gate loops run this query repeatedly, and a
    # fresh mkdtemp per call leaked an index-sized /tmp dir per iteration.
    path = built_dir(_SERVE_IDX, sf_dir, lambda path: None)
    save_bm25_index(idx, path)
    scored = bm25_scores_from_index(
        load_bm25_index(spark, path), _query_terms_df(spark)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_u").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= BM25_TOPK)
        .select("query_id", "doc_id", "n_hit", "score_u", "rank")
    )


ORACLE["bm25_serve_topk"] = ORACLE["bm25_topk"]
QUERIES["bm25_serve_topk"] = q_bm25_serve_topk


def q_bm25_serve_score_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The serving HOT PATH in isolation (round-9 verdict #4): score the
    query batch from an ALREADY-PERSISTED index — build+save happen only
    if this process hasn't materialized the index for this sf_dir yet
    (in the bench, that's the untimed warmup pass), so timed samples
    measure load+score alone, the number a serving deployment actually
    sees. ``bm25_serve_topk`` stays the gated build+save+load+score
    round-trip. Same oracle as ``bm25_topk`` — persistence must be
    score-invisible."""
    from etl_pipeline_excel_sql__spark.sinks.models import (
        load_bm25_index,
        save_bm25_index,
    )

    path = built_dir(
        _SERVE_IDX,
        sf_dir,
        lambda path: save_bm25_index(
            bm25_build_index(load_table(spark, "documents", sf_dir)), path
        ),
    )
    scored = bm25_scores_from_index(
        load_bm25_index(spark, path), _query_terms_df(spark)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_u").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= BM25_TOPK)
        .select("query_id", "doc_id", "n_hit", "score_u", "rank")
    )


ORACLE["bm25_serve_score_topk"] = ORACLE["bm25_topk"]
QUERIES["bm25_serve_score_topk"] = q_bm25_serve_score_topk


def q_bm25_incremental_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest as a gated row: build the index on HALF the
    corpus (even doc_ids), upsert the other half (``bm25_index_upsert``
    — no re-tokenization of the existing side), and serve top-k from
    the merged statistics. The oracle is ``bm25_topk``'s full-corpus
    rebuild — hash equality IS the additivity proof, cross-engine."""
    from etl_pipeline_excel_sql__spark.operators.retrieval import (
        bm25_index_upsert,
    )

    docs = load_table(spark, "documents", sf_dir)
    idx = bm25_index_upsert(
        bm25_build_index(docs.filter(F.col("doc_id") % 2 == 0)),
        docs.filter(F.col("doc_id") % 2 == 1),
    )
    scored = bm25_scores_from_index(idx, _query_terms_df(spark))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_u").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= BM25_TOPK)
        .select("query_id", "doc_id", "n_hit", "score_u", "rank")
    )


ORACLE["bm25_incremental_topk"] = ORACLE["bm25_topk"]
QUERIES["bm25_incremental_topk"] = q_bm25_incremental_topk


#: The phrase serving batch: (phrase_id, [terms]) — bounded, broadcasts.
PHRASE_QUERIES: list[tuple[int, list[str]]] = [
    (0, ["table", "table"]),
    (1, ["fast", "spark"]),
    (2, ["key", "agg", "row"]),
]

PHRASE_TOPK = 10


def _phrase_terms_df(spark: SparkSession) -> DataFrame:
    rows = [
        (pid, slot, t, len(terms))
        for pid, terms in PHRASE_QUERIES
        for slot, t in enumerate(terms)
    ]
    return local_df(
        spark, rows, "phrase_id INT, slot INT, term STRING, phrase_len INT"
    )


def q_phrase_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase search over positional postings: top-10 documents
    per phrase by occurrence count (anchor trick — a posting matching
    slot s votes for anchor pos-s; a full-coverage anchor is one
    occurrence). Pure-integer hash inputs; the phrase batch broadcasts
    and prunes the postings BEFORE any aggregate (the BM25 plan
    doctrine). The phrase capability BM25's bag-of-words index cannot
    answer."""
    return phrase_topk(
        load_table(spark, "documents", sf_dir),
        _phrase_terms_df(spark),
        k=PHRASE_TOPK,
    )


_PHRASE_VALUES = ", ".join(
    f"({pid}, {slot}, '{t}', {len(terms)})"
    for pid, terms in PHRASE_QUERIES
    for slot, t in enumerate(terms)
)

ORACLE["phrase_search_topk"] = f"""
WITH pt(phrase_id, slot, term, phrase_len) AS (VALUES {_PHRASE_VALUES}),
toks AS ({_tok_sql("SELECT doc_id, text FROM documents")}),
anchors AS (
  SELECT pt.phrase_id, t.doc_id, pt.phrase_len,
         t.pos - pt.slot AS anchor,
         COUNT(DISTINCT pt.slot) AS n_slots
  FROM toks t JOIN pt ON pt.term = t.tok
  WHERE t.pos - pt.slot >= 0
  GROUP BY pt.phrase_id, t.doc_id, pt.phrase_len, t.pos - pt.slot
),
occ AS (
  SELECT phrase_id, doc_id, CAST(COUNT(*) AS BIGINT) AS n_occ
  FROM anchors WHERE n_slots = phrase_len
  GROUP BY phrase_id, doc_id
)
SELECT phrase_id, doc_id, n_occ,
       CAST(row_number() OVER (PARTITION BY phrase_id
            ORDER BY n_occ DESC, doc_id ASC) AS INT) AS rank
FROM occ QUALIFY rank <= {PHRASE_TOPK}
"""
QUERIES["phrase_search_topk"] = q_phrase_search_topk


def q_hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 top-10 fused with exact-cosine top-10
    (probe vectors = the query ids) by reciprocal-rank fusion — rank-only
    integer arithmetic, so sparse and dense scores never need a common
    scale. Both inputs are already top-k-bounded, so the fusion join is
    tiny at any corpus size."""
    docs = load_table(spark, "documents", sf_dir)
    emb = load_table(spark, "embeddings", sf_dir)
    sparse = bm25_topk(docs, _query_terms_df(spark), k=BM25_TOPK)
    dense = brute_force_topk(
        emb,
        emb.filter(F.col("vec_id") < 3),
        k=BM25_TOPK,
    ).select(
        F.col("query_id").cast("int").alias("query_id"),
        F.col("neighbor_id").alias("doc_id"),
        "rank",
    )
    return rrf_fuse(sparse.select("query_id", "doc_id", "rank"), dense)


#: context snippet length (tokens) for the RAG serving capstone.
RAG_SNIPPET_TOKENS = 16
RAG_CONTEXTS_PER_QUERY = 3


def q_rag_context_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retrieval tier end-to-end in ONE lazy DAG: BM25 top-10 +
    exact-cosine top-10 → integer RRF fusion → keep the top-3 contexts
    per query → join back to the corpus for a rendered 16-token
    snippet. ``(query_id, doc_id, rrf_u, fused_rank, snippet)`` — what
    a RAG serving layer actually hands the generator. The fused table
    is k-bounded per query, so the context join probes the corpus with
    a tiny build side."""
    from etl_pipeline_excel_sql__spark.functions.text import ws_tokens

    fused = q_hybrid_rrf_topk(spark, sf_dir).filter(
        F.col("fused_rank") <= RAG_CONTEXTS_PER_QUERY
    )
    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id",
        F.concat_ws(
            " ", F.slice(ws_tokens(F.col("text")), 1, RAG_SNIPPET_TOKENS)
        ).alias("snippet"),
    )
    return fused.join(docs, "doc_id").select(
        "query_id", "doc_id", "rrf_u", "fused_rank", "snippet"
    )


#: hybrid fusion CTE chain (through the fused ranking), shared by the
#: hybrid row and the RAG context capstone.
_HYBRID_CTES = f"""{_BM25_CTES},
dense AS MATERIALIZED (
  SELECT CAST(q.vec_id AS INT) AS query_id, c.vec_id AS doc_id,
         CAST(row_number() OVER (PARTITION BY q.vec_id
              ORDER BY {_cos_sql('q.embedding', 'c.embedding')} DESC,
                       c.vec_id ASC) AS INT) AS rank
  FROM (SELECT * FROM embeddings WHERE vec_id < 3) q
  CROSS JOIN embeddings c
  WHERE c.vec_id <> q.vec_id
  QUALIFY rank <= {BM25_TOPK}
),
fused AS (
  SELECT query_id, doc_id,
         CAST(CASE WHEN b.rank IS NOT NULL
               THEN {RRF_SCALE} // ({RRF_K} + b.rank) ELSE 0 END
            + CASE WHEN d.rank IS NOT NULL
               THEN {RRF_SCALE} // ({RRF_K} + d.rank) ELSE 0 END
           AS BIGINT) AS rrf_u
  FROM (SELECT query_id, doc_id, rank FROM bm25_topk) b
  FULL OUTER JOIN dense d USING (query_id, doc_id)
),
hybrid AS (
  SELECT query_id, doc_id, rrf_u,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY rrf_u DESC, doc_id ASC) AS INT) AS fused_rank
  FROM fused
)"""

ORACLE["hybrid_rrf_topk"] = f"""
WITH {_HYBRID_CTES}
SELECT query_id, doc_id, rrf_u, fused_rank FROM hybrid
"""
QUERIES["hybrid_rrf_topk"] = q_hybrid_rrf_topk

ORACLE["rag_context_pipeline"] = f"""
WITH {_HYBRID_CTES}
SELECT h.query_id, h.doc_id, h.rrf_u, h.fused_rank,
       array_to_string(list_slice({WS_TOKENS_SQL}, 1, {RAG_SNIPPET_TOKENS}), ' ')
         AS snippet
FROM hybrid h JOIN documents d ON d.doc_id = h.doc_id
WHERE h.fused_rank <= {RAG_CONTEXTS_PER_QUERY}
"""
QUERIES["rag_context_pipeline"] = q_rag_context_pipeline


# --- postings compression audit (round 10b) ---------------------------------

POSTINGS_TOP_N = 20


def q_postings_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-size audit: per-term varint(delta-gap) byte cost of the
    inverted index's posting lists versus fixed-width64 storage — the
    standard IR compression estimate (sorted doc_id gaps, LEB128-style
    byte lengths). High-df terms compress hardest (small gaps), which is
    exactly what decides whether a 100 TB index's hot posting lists fit
    the page cache; this query emits that answer per term for the
    ``POSTINGS_TOP_N`` highest-df terms.

    Gap convention: the first posting stores ``doc_id + 1`` (so doc_id 0
    still costs >= 1 byte); every later posting stores the delta to its
    predecessor. Byte cost is the 7-bit varint ladder (< 2^7 -> 1, <
    2^14 -> 2, ...), a pure integer CASE — engine-exact. Plan shape: one
    (term, doc_id) distinct + one lag window per term + a per-term
    aggregate — all keyed on term, one shuffle family, map-side combine
    on the final sums.
    """
    from etl_pipeline_excel_sql__spark.functions.text import ws_tokens

    docs = load_table(spark, "documents", sf_dir)
    postings = (
        docs.select(
            "doc_id", F.explode(ws_tokens(F.col("text"))).alias("term")
        )
        .distinct()
    )
    wl = Window.partitionBy("term").orderBy("doc_id")
    gaps = postings.withColumn(
        "__gap",
        F.coalesce(
            F.col("doc_id") - F.lag("doc_id").over(wl),
            F.col("doc_id") + 1,
        ),
    )
    vbytes = (
        F.when(F.col("__gap") < 1 << 7, 1)
        .when(F.col("__gap") < 1 << 14, 2)
        .when(F.col("__gap") < 1 << 21, 3)
        .when(F.col("__gap") < 1 << 28, 4)
        .otherwise(5)
    )
    per_term = gaps.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.sum(vbytes).cast("bigint").alias("varint_bytes"),
    )
    wr = Window.orderBy(F.col("df").desc(), F.col("term").asc())
    return (
        per_term.withColumn("rank", F.row_number().over(wr).cast("int"))
        .filter(F.col("rank") <= POSTINGS_TOP_N)
        .select(
            "term",
            "df",
            "varint_bytes",
            (F.col("df") * 8).cast("bigint").alias("fixed64_bytes"),
            F.expr("(varint_bytes * 1000000) div (df * 8)")
            .cast("bigint")
            .alias("size_ratio_ppm"),
            "rank",
        )
    )


ORACLE["postings_compression"] = f"""
WITH postings AS (
  SELECT DISTINCT doc_id, term
  FROM (SELECT doc_id, UNNEST({WS_TOKENS_SQL}) AS term FROM documents)
), gaps AS (
  SELECT term,
         COALESCE(doc_id - lag(doc_id) OVER (PARTITION BY term
                  ORDER BY doc_id), doc_id + 1) AS gap
  FROM postings
), per_term AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
         CAST(SUM(CASE WHEN gap < 128 THEN 1
                       WHEN gap < 16384 THEN 2
                       WHEN gap < 2097152 THEN 3
                       WHEN gap < 268435456 THEN 4
                       ELSE 5 END) AS BIGINT) AS varint_bytes
  FROM gaps GROUP BY term
)
SELECT term, df, varint_bytes,
       CAST(df * 8 AS BIGINT) AS fixed64_bytes,
       CAST(varint_bytes * 1000000 // (df * 8) AS BIGINT)
         AS size_ratio_ppm,
       CAST(row_number() OVER (ORDER BY df DESC, term ASC) AS INT) AS rank
FROM per_term
QUALIFY rank <= {POSTINGS_TOP_N}
"""
QUERIES["postings_compression"] = q_postings_compression
