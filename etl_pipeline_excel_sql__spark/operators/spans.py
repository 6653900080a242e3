"""Span-level exact-substring deduplication and decontamination.

Document-level dedup (``operators/dedup.py``) removes whole near-copies;
this module finds and removes the REGIONS that repeat — the
exact-substring dedup of [Lee, Ippolito et al., "Deduplicating Training
Data Makes Language Models Better", ACL 2022], whose reference
implementation builds a corpus-wide suffix array. A suffix array is a
single global sorted structure — the wrong shape for a shared-nothing
engine — so this is the standard relational re-expression: a duplicated
substring of length ≥ k tokens is exactly a run of duplicated k-gram
occurrences, so (1) hash every k-token window, (2) keep the single
canonical first occurrence of each duplicated k-gram and mark every
other occurrence, (3) merge marked occurrences into maximal spans per
document (gaps-and-islands). Catches every duplicated substring of ≥ k
tokens; shorter repeats are invisible by construction (k IS the
min-match-length knob, 50 tokens in the paper's setup).

Distribution shape (100 TB):

* k-gram hashing is posexplode + ``lead`` over a per-document window —
  the measured-fast shingle path (``dedup.shingle_rows`` doctrine); the
  shuffle rows are (doc_id, pos, 32-char md5), never text.
* Duplicate detection is a map-side-combinable groupBy(h) — COUNT plus
  MIN(struct(doc_id, pos)) both partial-aggregate, so a boilerplate
  k-gram with a billion occurrences arrives at its reducer as one row
  per upstream partition (no heavy-hitter hot key, the reason this is
  an aggregate+join and not a row_number window over h).
* The duplicated-gram table joins back on h — corpus-derived, so it is
  NEVER force-broadcast (the decontam-r4 / plan-census rule): the
  engine size-gates broadcast vs shuffle join.
* Island merge is one window per document ordered by position — the
  only per-doc state, bounded by document length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.functions.text import ws_token_count, ws_tokens


def kgram_rows(docs: DataFrame, k: int) -> DataFrame:
    """One row per k-token window: ``(doc_id, pos, h)`` with ``pos`` the
    0-based token index of the window start and ``h`` the md5 of the
    space-joined window.

    Only FULL windows are emitted — a document with fewer than ``k``
    tokens has no k-gram and can never be span-deduped (that is the
    min-match-length contract, unlike ``dedup.shingle_rows`` whose
    short-doc whole-text fallback exists for MinHash recall).
    """
    if k < 1:
        raise ValueError("kgram_rows: k must be >= 1")
    toks = docs.select(
        "doc_id", F.posexplode(ws_tokens(F.col("text"))).alias("pos", "__t")
    )
    if k == 1:
        return toks.select("doc_id", "pos", F.md5(F.col("__t")).alias("h"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.lead("__t", r).over(w).alias(f"__l{r}") for r in range(1, k)]
    windowed = toks.select("doc_id", "pos", "__t", *leads)
    gram = F.concat_ws(
        " ", F.col("__t"), *[F.col(f"__l{r}") for r in range(1, k)]
    )
    return windowed.filter(F.col(f"__l{k - 1}").isNotNull()).select(
        "doc_id", "pos", F.md5(gram).alias("h")
    )


#: bits reserved for the position inside the packed keeper key: caps
#: documents at 2^21 ≈ 2M tokens (far beyond any curated doc) and doc
#: ids at 2^42 ≈ 4.4e12 (at 100 TB that is < 23 bytes per document —
#: unreachable). See cut_occurrences for why packing, not struct-min.
_POS_BITS = 21

#: largest doc_id the packed key can carry: 63 usable bits minus the
#: position field (ids are non-negative — enforced below).
_DOC_ID_MAX = (1 << (63 - _POS_BITS)) - 1


def packed_doc_pos(pos_col: str = "pos"):
    """``doc_id·2^21 + pos`` with the documented bounds ENFORCED: a
    corpus that breaks them (a ≥2M-token document or a doc_id ≥ 2^42)
    would silently alias packed keys across (doc_id, pos) pairs and
    corrupt which occurrences are kept — fail loudly instead. The guard
    is a codegen branch per row, noise next to the md5 the row already
    paid for. Shared with the CDC chunk-dedup keeper (operators/cdc.py),
    which packs (doc_id, chunk start pos) under the same bounds."""
    in_bounds = (
        (F.col(pos_col) >= 0)
        & (F.col(pos_col) < F.lit(1 << _POS_BITS))
        & (F.col("doc_id") >= 0)
        & (F.col("doc_id") <= F.lit(_DOC_ID_MAX))
    )
    return F.when(
        in_bounds, F.col("doc_id") * (1 << _POS_BITS) + F.col(pos_col)
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "packed_doc_pos: (doc_id, pos) outside packed-key "
                    f"bounds (pos < 2^{_POS_BITS}, doc_id <= {_DOC_ID_MAX}): "
                ),
                F.col("doc_id").cast("string"),
                F.lit(", "),
                F.col(pos_col).cast("string"),
            )
        ).cast("bigint")
    )


def cut_occurrences(occ: DataFrame) -> DataFrame:
    """Occurrences to remove: every (doc_id, pos) of a k-gram seen
    2+ times corpus-wide, EXCEPT the canonical first
    occurrence (minimal (doc_id, pos) — one surviving copy per
    duplicated k-gram, the paper's keep-one semantics).

    The keeper argmin runs on a PACKED int64 ``doc_id·2^21 + pos``
    rather than ``MIN(struct(doc_id, pos))``: lexicographic min over a
    struct (or ``min_by``) is a SortAggregate in Spark — two extra
    full sorts of the occurrence table — while an int64 MIN is a plain
    HashAggregate with map-side combine; packing preserves the
    (doc_id, pos) order under the documented bounds (``_POS_BITS``).
    DuckDB's struct-MIN is minutes-slow at millions of groups, so the
    oracle packs identically. If a deployment ever breaks the bounds,
    swap the key back to ``F.min(F.struct(...))`` — semantics
    identical, plan slower.

    Both aggregates partial-combine; the join back on ``h`` is
    size-gated by the engine (the duplicated-gram table grows with the
    corpus — forced broadcast here is the banned census pattern).
    """
    packed = packed_doc_pos()
    dup = (
        occ.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("__cnt"),
            F.min(packed).alias("__keepk"),
        )
        .filter(F.col("__cnt") >= 2)
        .select("h", "__keepk")
    )
    return (
        occ.join(dup, "h")
        .filter(packed != F.col("__keepk"))
        .select("doc_id", "pos")
    )


def merge_islands(cut: DataFrame, k: int) -> DataFrame:
    """Merge marked k-gram occurrences into maximal spans per document:
    ``(doc_id, span_start, span_end, span_len)`` with token-index
    half-open bounds [span_start, span_end).

    Gaps-and-islands: an occurrence starts a new span iff its start lies
    strictly past the running max end of every earlier occurrence in the
    document; the span id is the running sum of those starts. One window
    per document — state bounded by doc length, never corpus-keyed.
    """
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_max_end = F.max(F.col("pos") + k).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = cut.select(
        "doc_id",
        "pos",
        F.when(F.col("pos") > F.coalesce(prev_max_end, F.lit(-1)), 1)
        .otherwise(0)
        .alias("__new"),
    )
    island = F.sum("__new").over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        flagged.select("doc_id", "pos", island.alias("__isl"))
        .groupBy("doc_id", "__isl")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + k).alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("span_len"),
        )
    )


def duplicated_spans(docs: DataFrame, k: int = 8) -> DataFrame:
    """Maximal duplicated-substring spans per ``(doc_id, text)`` document
    (see module doc).

    Returns ``(doc_id, span_start, span_end, span_len)`` — every token
    range (≥ k tokens) whose every k-gram also occurs elsewhere in the
    corpus (or earlier in the same document), minus the one canonical
    first occurrence kept per k-gram.
    """
    occ = kgram_rows(docs, k)
    return merge_islands(cut_occurrences(occ), k)


def trim_duplicated_spans(docs: DataFrame, k: int = 8) -> DataFrame:
    """Apply span dedup: every ``(doc_id, text)`` document with its
    duplicated spans cut out — ``(doc_id, n_tokens, n_cut, text_clean)``.

    Every input document appears exactly once (empty or fully-duplicated
    documents included, with ``text_clean = ''``); surviving tokens are
    rejoined in order. Positions covered by cut occurrences expand via
    ``sequence`` (k rows per cut gram, collapsed by distinct) and remove
    tokens by anti-join — both keyed (doc_id, pos), no text in any
    exchange until the final per-doc reassembly.
    """
    toks = docs.select(
        "doc_id", F.posexplode(ws_tokens(F.col("text"))).alias("pos", "tok")
    )
    covered = (
        cut_occurrences(kgram_rows(docs, k))
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (k - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    kept = toks.join(covered, ["doc_id", "pos"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("__n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("__text"),
    )
    base = docs.select(
        "doc_id", ws_token_count(F.col("text")).alias("n_tokens")
    )
    return base.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        (F.col("n_tokens") - F.coalesce(F.col("__n_kept"), F.lit(0)))
        .cast("bigint")
        .alias("n_cut"),
        F.coalesce(F.col("__text"), F.lit("")).alias("text_clean"),
    )


def contaminated_spans(
    docs: DataFrame,
    bench_hashes: DataFrame,
    k: int = 8,
) -> DataFrame:
    """Span-level decontamination: the exact regions of ``(doc_id, text)``
    training documents that overlap a benchmark k-gram set — ``(doc_id,
    span_start, span_end, span_len)``.

    ``decontam_overlap`` answers *which documents* touch the benchmark;
    this answers *where*, so the remedy can be span surgery (cut the
    quoted benchmark item) instead of dropping whole documents.
    ``bench_hashes`` must have a single ``h`` column of md5 k-gram
    digests built with the SAME k (see :func:`kgram_rows`); like the
    bench side of ``decontam_overlap`` it is joined size-gated, never
    force-broadcast.
    """
    occ = kgram_rows(docs, k)
    hit = occ.join(bench_hashes.select("h").distinct(), "h").select(
        "doc_id", "pos"
    )
    return merge_islands(hit, k)
