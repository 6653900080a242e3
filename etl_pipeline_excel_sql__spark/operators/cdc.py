"""Content-defined chunking (CDC) and chunk-level deduplication.

Span dedup (``operators/spans.py``) removes exact duplicated REGIONS;
CDC answers the storage/transfer question underneath it: split every
document into variable-size chunks whose boundaries depend only on
LOCAL content (the gear/Rabin rolling-hash trick of LBFS and restic /
borg / casync), so an insertion early in a document shifts at most one
chunk — byte-identical tails re-chunk identically and dedup against
the store. Here the stream is the whitespace token sequence (the same
unit every other text operator in this engine uses), and the boundary
oracle is a hash of the last ``CDC_WINDOW`` tokens: a position is a
cut point when ``md5_hash60(window) % CDC_DIVISOR == 0``, giving chunks
of ``CDC_DIVISOR`` tokens in expectation with content-defined alignment.

Distribution shape (100 TB):

* Tokenization + boundary flags are posexplode + one per-document
  window (``lag`` + running sum) — the shuffle carries
  (doc_id, pos, token), and every subsequent per-chunk step reuses the
  SAME doc_id partitioning (chunk grouping keys are
  (doc_id, chunk_no)), so the whole per-document phase is one exchange.
* Chunk digests aggregate map-side (count + packed-int64 keeper MIN,
  the ``cut_occurrences`` doctrine) — a boilerplate chunk with a
  billion occurrences arrives at its reducer as one row per upstream
  partition.
* The duplicated-digest table joins back on the digest — corpus-derived,
  so it is NEVER force-broadcast (plan-census rule); the engine
  size-gates broadcast vs shuffle join.
* Per-document stats are a final groupBy(doc_id) over rows already
  partitioned by doc_id upstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.functions.hashing import md5_hash60
from etl_pipeline_excel_sql__spark.functions.text import ws_tokens
from etl_pipeline_excel_sql__spark.operators.spans import packed_doc_pos

#: tokens in the rolling boundary window — 2 gives the boundary rule
#: one token of context (pure single-token hashing would make chunk
#: boundaries independent of order entirely).
CDC_WINDOW = 2

#: boundary when hash % divisor == 0 → expected chunk length in tokens.
CDC_DIVISOR = 8


def cdc_chunk_rows(docs: DataFrame) -> DataFrame:
    """One row per content-defined chunk: ``(doc_id, chunk_no, pos0,
    n_toks, digest)`` with ``pos0`` the 0-based token index of the
    chunk start and ``digest`` the md5 of the space-joined chunk.

    A cut point AFTER token ``pos`` is declared when the 60-bit md5 of
    the last ``CDC_WINDOW`` tokens (``concat_ws`` skips the missing
    predecessor at pos 0 — identical in DuckDB) is ≡ 0 mod
    ``CDC_DIVISOR``;
    ``chunk_no`` is the running count of cut points strictly BEFORE the
    token, so the token after a cut starts the next chunk. Chunk text
    reassembles via sort-by-position inside the (doc, chunk) group —
    ``string_agg(tok, ' ' ORDER BY pos)`` in the oracle.
    """
    toks = docs.select(
        "doc_id", F.posexplode(ws_tokens(F.col("text"))).alias("pos", "__t")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    gram = F.concat_ws(" ", F.lag("__t", 1).over(w), F.col("__t"))
    flagged = toks.select(
        "doc_id",
        "pos",
        "__t",
        (md5_hash60(gram) % CDC_DIVISOR == 0).cast("int").alias("__bf"),
    )
    prior = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = flagged.select(
        "doc_id",
        "pos",
        "__t",
        F.coalesce(F.sum("__bf").over(prior), F.lit(0))
        .cast("bigint")
        .alias("chunk_no"),
    )
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "__t"))),
        lambda x: x["__t"],
    )
    return chunked.groupBy("doc_id", "chunk_no").agg(
        F.min("pos").alias("pos0"),
        F.count(F.lit(1)).alias("n_toks"),
        F.md5(F.array_join(ordered, " ")).alias("digest"),
    )


def cdc_mark_duplicates(chunks: DataFrame) -> DataFrame:
    """Chunk rows with a ``cut`` flag: TRUE for every occurrence of a
    digest seen 2+ times corpus-wide EXCEPT the canonical first
    occurrence (minimal packed (doc_id, pos0) — the keep-one-copy
    semantics a content-addressed chunk store implements physically).

    Count + packed-int64 MIN both partial-combine; the join back on
    the digest is size-gated by the engine (corpus-derived build side —
    forced broadcast here is the banned census pattern).
    """
    packed = packed_doc_pos("pos0")
    dd = chunks.groupBy("digest").agg(
        F.count(F.lit(1)).alias("__cnt"),
        F.min(packed).alias("__keepk"),
    )
    return (
        chunks.join(dd, "digest")
        .select(
            "doc_id",
            "chunk_no",
            "pos0",
            "n_toks",
            "digest",
            ((F.col("__cnt") >= 2) & (packed != F.col("__keepk"))).alias(
                "cut"
            ),
        )
    )


def cdc_doc_stats(docs: DataFrame) -> DataFrame:
    """Per-document chunk-dedup profile: ``(doc_id, n_chunks, n_tokens,
    cut_chunks, cut_tokens, cut_ppm)`` — what fraction of each document
    a chunk store would NOT re-store (exact parts-per-million, integer
    DIV so the value hashes cross-engine). Documents with zero tokens
    have no chunks and are absent, like ``kgram_rows``' short-doc rule.
    """
    marked = cdc_mark_duplicates(cdc_chunk_rows(docs))
    cut_toks = F.sum(
        F.when(F.col("cut"), F.col("n_toks")).otherwise(F.lit(0))
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_toks").alias("n_tokens"),
            F.sum(F.col("cut").cast("bigint")).alias("cut_chunks"),
            cut_toks.alias("cut_tokens"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_tokens",
            "cut_chunks",
            "cut_tokens",
            F.expr("cut_tokens * 1000000 DIV n_tokens").alias("cut_ppm"),
        )
    )


def cdc_incremental_stats(
    batch: DataFrame, store_digests: DataFrame
) -> DataFrame:
    """Production ingest shape (the chunk-level analogue of
    ``dedup_incremental`` / ``dedup_spans_incremental``): per incoming
    document, how many of its chunks — and what token fraction — the
    content-addressed store ALREADY holds, so the append writes only
    the complement. ``store_digests`` is the persisted digest set (one
    ``digest`` column — what a chunk store keeps between batches); the
    batch never re-reads corpus text. The digest join is size-gated
    (store is corpus-derived — forced broadcast is the banned census
    pattern); only cross-set membership is tested, never within-batch
    pairs.
    """
    chunks = cdc_chunk_rows(batch)
    store = store_digests.select("digest").distinct().withColumn(
        "__in", F.lit(1)
    )
    m = chunks.join(store, "digest", "left")
    stored_toks = F.sum(
        F.when(F.col("__in").isNotNull(), F.col("n_toks")).otherwise(
            F.lit(0)
        )
    )
    return (
        m.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_toks").alias("n_tokens"),
            F.sum(F.col("__in").isNotNull().cast("bigint")).alias(
                "stored_chunks"
            ),
            stored_toks.alias("stored_tokens"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_tokens",
            "stored_chunks",
            "stored_tokens",
            F.expr("stored_tokens * 1000000 DIV n_tokens").alias(
                "stored_ppm"
            ),
        )
    )


def cdc_corpus_stats(docs: DataFrame) -> DataFrame:
    """One-row corpus storage profile: total/unique chunks, tokens a
    content-addressed store actually keeps, the savings in exact ppm,
    and mean chunk length ×100 (how close the boundary rule's expected
    ``CDC_DIVISOR``-token chunks land in practice).
    """
    marked = cdc_mark_duplicates(cdc_chunk_rows(docs))
    return marked.agg(
        F.count(F.lit(1)).alias("total_chunks"),
        F.countDistinct("digest").alias("unique_chunks"),
        F.sum("n_toks").alias("total_tokens"),
        F.sum(F.when(F.col("cut"), F.col("n_toks")).otherwise(F.lit(0))).alias(
            "cut_tokens"
        ),
    ).select(
        "total_chunks",
        "unique_chunks",
        "total_tokens",
        "cut_tokens",
        F.expr("cut_tokens * 1000000 DIV total_tokens").alias("savings_ppm"),
        F.expr("total_tokens * 100 DIV total_chunks").alias(
            "avg_chunk_toks_x100"
        ),
    )
