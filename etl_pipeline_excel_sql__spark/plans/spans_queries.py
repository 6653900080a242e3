"""Span-level exact-substring dedup / decontamination queries.

The relational re-expression of suffix-array exact-substring dedup
(operators/spans.py, after Lee et al. ACL 2022): duplicated regions ≥
SPAN_K tokens are found as runs of duplicated k-gram occurrences,
merged gaps-and-islands style, and either reported (``dedup_spans``,
``decontam_spans``) or surgically removed (``dedup_span_trim``).

Oracles replay the identical pipeline in DuckDB: same md5 k-gram
digests, same order-preserving packed-int64 keeper MIN (the _KEEPK
key — MIN(struct) was deliberately rejected, see the _KEEPK comment),
same windowed island merge — all integer/string math, so the value
hash is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.functions.text import WS_TOKENS_SQL
from etl_pipeline_excel_sql__spark.operators.spans import (
    contaminated_spans,
    duplicated_spans,
    kgram_rows,
    trim_duplicated_spans,
)
from etl_pipeline_excel_sql__spark.sources.registry import load_table

QUERIES: dict = {}
ORACLE: dict = {}

#: min duplicated-substring length in tokens (the paper uses 50 BPE
#: tokens at web scale; 8 keeps the synthetic corpus's duplicated
#: passages — seeded at width 10 — detectable).
SPAN_K = 8

#: every doc_id ≡ 0 (mod this) plays the benchmark set in the
#: decontam demo wiring — the same convention as
#: corpus_queries.q_decontam_overlap (its BENCH_MOD).
SPAN_BENCH_MOD = 37


def _tok_sql(src: str) -> str:
    """DuckDB positional tokens over ``src`` — zipped
    ``unnest`` + ``generate_subscripts``, NOT a lateral
    ``UNNEST(range(...))``: the lateral form carries (and slices) the
    full token list per emitted row, which measured >100× slower at sf1
    (the same O(n·len) blowup the Spark side avoids via posexplode)."""
    return f"""
  SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos, unnest(t) AS tok
  FROM (SELECT doc_id, {WS_TOKENS_SQL} AS t FROM ({src}))"""


def _occ_sql(src: str) -> str:
    """DuckDB twin of ``kgram_rows``: (doc_id, pos, h) over ``src`` —
    the same window-``lead`` shape as the Spark side."""
    leads = ", ".join(
        f"lead(tok, {r}) OVER w" for r in range(1, SPAN_K)
    )
    return f"""
  SELECT doc_id, pos, md5(g) AS h FROM (
    SELECT doc_id, pos, concat_ws(' ', tok, {leads}) AS g,
           lead(tok, {SPAN_K - 1}) OVER w AS lst
    FROM ({_tok_sql(src)})
    WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  ) WHERE lst IS NOT NULL"""


#: islands over a ``cut(doc_id, pos)`` CTE — twin of ``merge_islands``.
_ISLANDS_SQL = f"""
flagged AS MATERIALIZED (
  SELECT doc_id, pos,
         CASE WHEN pos > COALESCE(MAX(pos + {SPAN_K}) OVER (
                  PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS newf
  FROM cut
), isl AS MATERIALIZED (
  SELECT doc_id, pos,
         SUM(newf) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                        ) AS isl
  FROM flagged
)
SELECT doc_id,
       CAST(MIN(pos) AS INT) AS span_start,
       CAST(MAX(pos) + {SPAN_K} AS INT) AS span_end,
       CAST(MAX(pos) + {SPAN_K} - MIN(pos) AS INT) AS span_len
FROM isl GROUP BY doc_id, isl"""

# The keeper is MIN over (doc_id, pos) lexicographically. The Spark side
# uses MIN(struct(doc_id, pos)); DuckDB's MIN over a STRUCT is
# pathologically slow at millions of groups (measured: minutes at sf1 vs
# 0.1 s for plain aggregates), so the oracle packs the pair into ONE
# BIGINT — order-preserving because pos < 2^21 for every test corpus
# (docs are a few hundred tokens) and doc_id << 2^42.
_KEEPK = "doc_id * 2097152 + pos"

_CUT_SQL = f"""
occ AS MATERIALIZED ({_occ_sql("SELECT doc_id, text FROM documents")}
), dup AS MATERIALIZED (
  SELECT h, MIN({_KEEPK}) AS keepk
  FROM occ GROUP BY h HAVING COUNT(*) >= 2
), cut AS MATERIALIZED (
  SELECT o.doc_id, o.pos
  FROM occ o JOIN dup d USING (h)
  WHERE o.doc_id * 2097152 + o.pos <> d.keepk
)"""


def q_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated-substring spans (≥ SPAN_K tokens) per doc,
    keep-one-canonical-copy semantics — the exact-substring dedup
    report."""
    return duplicated_spans(
        load_table(spark, "documents", sf_dir), k=SPAN_K
    )


ORACLE["dedup_spans"] = f"WITH {_CUT_SQL}, {_ISLANDS_SQL.lstrip()}"
QUERIES["dedup_spans"] = q_dedup_spans


def q_dedup_span_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span dedup APPLIED: every document with duplicated regions cut
    out and survivors rejoined in order — the curation action, not just
    the report. Empty and fully-duplicated docs stay as empty rows."""
    return trim_duplicated_spans(
        load_table(spark, "documents", sf_dir), k=SPAN_K
    )


#: the trim CTE chain (shared with the curate-pack composition): ends at
#: ``base(doc_id, t)`` and ``kept(doc_id, n_kept, txt)``.
_TRIM_CTES = f"""{_CUT_SQL},
covered AS MATERIALIZED (
  SELECT DISTINCT doc_id, pos + CAST(j AS BIGINT) AS pos
  FROM cut, UNNEST(range(0, {SPAN_K})) AS r(j)
), base AS MATERIALIZED (
  SELECT doc_id, {WS_TOKENS_SQL} AS t FROM documents
), tok AS MATERIALIZED ({_tok_sql("SELECT doc_id, text FROM documents")}
), kept AS MATERIALIZED (
  SELECT k.doc_id, COUNT(*) AS n_kept,
         string_agg(k.tok, ' ' ORDER BY k.pos) AS txt
  FROM (
    SELECT * FROM tok
    WHERE NOT EXISTS (SELECT 1 FROM covered c
                      WHERE c.doc_id = tok.doc_id AND c.pos = tok.pos)
  ) k
  GROUP BY k.doc_id
)"""

ORACLE["dedup_span_trim"] = f"""WITH {_TRIM_CTES}
SELECT b.doc_id, CAST(len(b.t) AS INT) AS n_tokens,
       CAST(len(b.t) - COALESCE(n_kept, 0) AS BIGINT) AS n_cut,
       COALESCE(txt, '') AS text_clean
FROM base b LEFT JOIN kept USING (doc_id)"""
QUERIES["dedup_span_trim"] = q_dedup_span_trim


def q_decontam_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE the benchmark leaks into training docs: contaminated spans
    (merged islands of benchmark k-gram hits) per training document.
    Demo wiring mirrors ``decontam_overlap``: doc_id ≡ 0 (mod
    SPAN_BENCH_MOD) plays the benchmark; its k-gram digest set is
    corpus-derived, so the join is size-gated, never force-broadcast."""
    docs = load_table(spark, "documents", sf_dir)
    bench = docs.filter(F.col("doc_id") % SPAN_BENCH_MOD == 0)
    train = docs.filter(F.col("doc_id") % SPAN_BENCH_MOD != 0)
    return contaminated_spans(
        train,
        kgram_rows(bench, SPAN_K).select("h"),
        k=SPAN_K,
    )


ORACLE["decontam_spans"] = f"""WITH
occ AS MATERIALIZED ({_occ_sql(
    f"SELECT doc_id, text FROM documents WHERE doc_id % {SPAN_BENCH_MOD} <> 0"
)}
), bench AS MATERIALIZED (
  SELECT DISTINCT h FROM ({_occ_sql(
    f"SELECT doc_id, text FROM documents WHERE doc_id % {SPAN_BENCH_MOD} = 0"
)})
), cut AS MATERIALIZED (
  SELECT o.doc_id, o.pos FROM occ o JOIN bench USING (h)
), {_ISLANDS_SQL.lstrip()}"""
QUERIES["decontam_spans"] = q_decontam_spans


def q_curate_pack_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's full curation capstone, documents in → pretraining
    batches out, ONE lazy DAG: span-level exact-substring dedup trims
    every duplicated region, BPE trains (batched) on the TRIMMED corpus,
    documents encode to token ids, and the ids pack into fixed-length LM
    sequences. Every stage is the individually-oracle-gated operator;
    the composition's own oracle replays the whole chain (trim CTEs
    spliced in front of the token-id chain) and hash-matches end to end.

    Scale notes: the trimmed corpus and its word-frequency table are
    lineage-truncated once and shared by trainer, encoder, and document
    join (one tokenization pass); every corpus-derived table joins
    size-gated; the trained id table is the bounded broadcast class.
    """
    from etl_pipeline_excel_sql__spark.operators.bpe import (
        BPE_TRAIN_MERGES,
        PACK_SEQ_LEN,
        bpe_doc_token_ids,
        bpe_train_merges_from_words,
        pack_lm_sequences,
        render_packed_for_harness,
        word_frequencies,
    )

    docs = load_table(spark, "documents", sf_dir)
    trimmed = (
        trim_duplicated_spans(docs, k=SPAN_K)
        .select("doc_id", F.col("text_clean").alias("text"))
        .localCheckpoint(eager=True)
    )
    words = word_frequencies(trimmed).localCheckpoint(eager=True)
    merges = [
        (r.left, r.right)
        for r in bpe_train_merges_from_words(
            words, BPE_TRAIN_MERGES, batch_pairs=4, max_batch_pairs=64
        ).collect()
    ]
    ids = bpe_doc_token_ids(trimmed, merges, words=words)
    return render_packed_for_harness(pack_lm_sequences(ids, PACK_SEQ_LEN))


def _curate_pack_sql() -> str:
    from etl_pipeline_excel_sql__spark.operators.bpe import (
        bpe_packed_sequences_unrolled_sql,
    )

    prefix = (
        _TRIM_CTES
        + """,
trimmed AS MATERIALIZED (
  SELECT b.doc_id, COALESCE(txt, '') AS text
  FROM base b LEFT JOIN kept USING (doc_id)
)"""
    )
    return bpe_packed_sequences_unrolled_sql(
        "SELECT doc_id, text FROM trimmed", prefix_ctes=prefix
    )


ORACLE["curate_pack_pipeline"] = _curate_pack_sql()
QUERIES["curate_pack_pipeline"] = q_curate_pack_pipeline


#: every doc_id ≡ 0 (mod this) plays the INCOMING batch in the
#: incremental span-dedup demo wiring (distinct from SPAN_BENCH_MOD so
#: the two cross-set demos exercise different splits).
SPAN_BATCH_MOD = 5


def q_dedup_spans_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production ingest shape for span dedup (the span-level analogue of
    ``dedup_incremental``): the regions of an INCOMING batch that already
    exist in the indexed corpus — cut those spans and the batch appends
    clean, without ever re-scanning corpus text. The corpus side is its
    k-gram digest set (what an ingest pipeline persists between batches,
    like ``dedup_incremental``'s signature table); digests join
    size-gated (corpus-derived, census rule). Demo wiring: doc_id ≡ 0
    (mod SPAN_BATCH_MOD) plays the incoming batch."""
    docs = load_table(spark, "documents", sf_dir)
    batch = docs.filter(F.col("doc_id") % SPAN_BATCH_MOD == 0)
    corpus = docs.filter(F.col("doc_id") % SPAN_BATCH_MOD != 0)
    return contaminated_spans(
        batch,
        kgram_rows(corpus, SPAN_K).select("h"),
        k=SPAN_K,
    )


ORACLE["dedup_spans_incremental"] = f"""WITH
occ AS MATERIALIZED ({_occ_sql(
    f"SELECT doc_id, text FROM documents WHERE doc_id % {SPAN_BATCH_MOD} = 0"
)}
), corpus AS MATERIALIZED (
  SELECT DISTINCT h FROM ({_occ_sql(
    f"SELECT doc_id, text FROM documents WHERE doc_id % {SPAN_BATCH_MOD} <> 0"
)})
), cut AS MATERIALIZED (
  SELECT o.doc_id, o.pos FROM occ o JOIN corpus USING (h)
), {_ISLANDS_SQL.lstrip()}"""
QUERIES["dedup_spans_incremental"] = q_dedup_spans_incremental


def q_span_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus duplication profile — the ONE row an operator reads
    before deciding whether span trimming is worth a full pass: total
    documents/tokens, documents touched by duplication, duplicated
    tokens, and the dup ratio in exact parts-per-million (integer
    division — no float drift across partitionings). Computed from the
    trim output, so it prices exactly what the surgery would remove."""
    trimmed = trim_duplicated_spans(
        load_table(spark, "documents", sf_dir), k=SPAN_K
    )
    return trimmed.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("n_cut") > 0).cast("int")).cast("bigint").alias(
            "n_docs_affected"
        ),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.sum("n_cut").cast("bigint").alias("dup_tokens"),
        # integer DIV on both engines — float division would truncate a
        # 60-bit product through a double mantissa
        F.expr(
            "CAST(sum(n_cut) * 1000000 DIV greatest(sum(n_tokens), 1)"
            " AS BIGINT)"
        ).alias("dup_ppm"),
    )


ORACLE["span_dedup_stats"] = f"""WITH {_TRIM_CTES},
trim_out AS MATERIALIZED (
  SELECT b.doc_id, len(b.t) AS n_tokens,
         CAST(len(b.t) - COALESCE(n_kept, 0) AS BIGINT) AS n_cut
  FROM base b LEFT JOIN kept USING (doc_id)
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n_cut > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_affected,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_cut) AS BIGINT) AS dup_tokens,
       CAST(SUM(n_cut) * 1000000 // GREATEST(SUM(n_tokens), 1) AS BIGINT)
         AS dup_ppm
FROM trim_out"""
QUERIES["span_dedup_stats"] = q_span_dedup_stats
