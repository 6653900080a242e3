"""Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
"Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD 2003 —
the MOSS algorithm): from every window of ``WINNOW_W`` consecutive
character ``WINNOW_K``-gram hashes, select the minimum (rightmost on
ties). The guarantee the paper proves: any shared substring of length
``>= w + k - 1`` between two documents yields at least one SHARED
selected fingerprint — so matching on fingerprints has guaranteed recall
for long overlaps at a fraction of the all-grams index size (expected
density 2/(w+1)).

Relationship to the neighbors in this engine: ``text_fingerprint``'s
rolling hash summarizes a whole document into one value (exact-dup
grade); CDC chunking cuts content-defined BLOCK boundaries;
winnowing sits between — a position-level fingerprint SET with a local
guarantee, the right artifact for plagiarism-style overlap detection and
substring-level index sharding.

Engine mechanics — the rightmost-min selection is packed into ONE
integer so a single MIN window computes it: with hashes reduced to 40
bits and positions bounded to 20 bits,

    key(pos) = h40 * 2^20 + (2^20 - 1 - pos)

orders first by hash ascending then by position DESCENDING, so
``MIN(key) OVER (doc, pos ROWS CURRENT..w-1 FOLLOWING)`` at each window
start IS the paper's standard winnowing pick (Fig. 5: rightmost
minimum per window — NOT the "robust" variant, which prefers
re-selecting the previous window's fingerprint on duplicate minima),
decodable by div/mod. All integers, hash from the engine-standard md5
contract — oracle-exact.

Scale shape: k-gram generation is a narrow per-row array transform (the
text never shuffles); the min-window and the distinct both key on
``doc_id`` — one shuffle of (doc_id, pos, key) rows; the per-doc summary
is a map-side-combinable aggregate over the selected set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.functions.hashing import (
    H60_SQL,
    md5_hash60,
)

#: fingerprint hash width — 40 bits leaves 20 for the packed position
#: while keeping key < 2^60 (int64-safe); collisions at 40 bits are
#: ~n²/2^41 per document, irrelevant for fingerprint selection.
HASH40 = 1 << 40
#: position budget: documents longer than 2^20 chars are excluded (and
#: would be chunked upstream at real scale — the cap is the contract).
POS_CAP = 1 << 20
#: k-gram width (k) and window length (w) of the registry's fingerprints.
WINNOW_K = 8
WINNOW_W = 4


#: Explicit whitespace class shared by both engine twins. Java's ``\s``
#: matches vertical tab U+000B while DuckDB/RE2's does not, so a VT in a
#: document would desync the k-gram positions and the oracle — pinning
#: the class (the ASCII whitespace set, VT included) removes the
#: engine-dependence instead of documenting VT-free input as a contract.
WS_CLASS = r"[ \t\n\x0B\f\r]+"


def _normalized() -> F.Column:
    """lower(trim(collapse-whitespace)) of ``text`` — the winnowing
    preprocessor.
    DuckDB twin: ``lower(trim(regexp_replace(x, WS_CLASS, ' ', 'g')))``
    (DuckDB needs the explicit 'g'; Spark replaces all by default)."""
    return F.lower(F.trim(F.regexp_replace(F.col("text"), WS_CLASS, " ")))


def winnow_fingerprint_stats(df: DataFrame) -> DataFrame:
    """Per-document winnowing summary: ``doc_id, n_kgrams, n_fp,
    density_ppm`` where ``n_fp`` is the selected-fingerprint count and
    ``density_ppm = n_fp·1e6 DIV n_windows`` (paper expectation
    ~2/(w+1); guarantee ≥ 1/w since one pick per window, each pick
    covering at most w windows)."""
    base = df.select("doc_id", _normalized().alias("__t")).filter(
        (F.length("__t") >= WINNOW_K + WINNOW_W - 1)
        & (F.length("__t") < POS_CAP)
    )
    # Round-13 optimization (guide §4.1 "prefer built-ins"/§1.2): explode
    # the POSITION sequence and slice each k-gram with a plain codegen'd
    # ``substring(__t, pos, k)`` AFTER the explode, instead of
    # materializing a per-document array of all grams through an
    # interpreted ``transform`` lambda (higher-order functions do not
    # participate in whole-stage codegen). Values are identical
    # (pos = 1-based window start either way); measured at sf0.1:
    # min-of-6 4.28 s → 3.98 s with far tighter variance (4.28-6.39 →
    # 3.98-4.15), and the O(doc-length) gram array never exists.
    grams = base.select(
        "doc_id",
        F.posexplode(
            F.sequence(F.lit(1), F.length("__t") - (WINNOW_K - 1))
        ).alias("__i", "pos"),
        "__t",
    ).select(
        "doc_id",
        "pos",
        (
            (
                md5_hash60(F.expr(f"substring(__t, pos, {WINNOW_K})"))
                % HASH40
            )
            * POS_CAP
            + (F.lit(POS_CAP - 1) - F.col("pos"))
        ).alias("key"),
    )
    wn = Window.partitionBy("doc_id")
    wmin = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, WINNOW_W - 1)
    )
    picks = (
        grams.withColumn("__n", F.count(F.lit(1)).over(wn))
        .withColumn("__kmin", F.min("key").over(wmin))
        .filter(F.col("pos") <= F.col("__n") - (WINNOW_W - 1))
        .select("doc_id", "__n", "__kmin")
    )
    return (
        picks.groupBy("doc_id")
        .agg(
            F.max("__n").cast("bigint").alias("n_kgrams"),
            F.countDistinct("__kmin").cast("bigint").alias("n_fp"),
        )
        .withColumn(
            "density_ppm",
            F.expr(
                f"(n_fp * 1000000) div (n_kgrams - {WINNOW_W - 1})"
            ).cast("bigint"),
        )
    )


def winnow_stats_sql() -> str:
    """DuckDB oracle twin of :func:`winnow_fingerprint_stats` over the
    ``documents`` table — same normalization, same packed-key min-window
    selection, same summary arithmetic."""
    h = H60_SQL.format(x="g")
    return f"""
WITH base AS (
  SELECT doc_id,
         lower(trim(regexp_replace(text, '{WS_CLASS}', ' ', 'g'))) AS t
  FROM documents
), docs AS (
  SELECT doc_id, t FROM base
  WHERE length(t) >= {WINNOW_K + WINNOW_W - 1} AND length(t) < {POS_CAP}
), grams AS (
  SELECT doc_id, i AS pos,
         ({h} % {HASH40}) * {POS_CAP} + ({POS_CAP - 1} - i) AS key
  FROM (
    SELECT doc_id, i, substr(t, i, {WINNOW_K}) AS g
    FROM docs, UNNEST(range(1, length(t) - {WINNOW_K - 1} + 1)) AS u(i)
  )
), picks AS (
  SELECT doc_id, n, kmin FROM (
    SELECT doc_id, pos,
           COUNT(*) OVER (PARTITION BY doc_id) AS n,
           MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS kmin
    FROM grams
  ) WHERE pos <= n - {WINNOW_W - 1}
)
SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_kgrams,
       CAST(COUNT(DISTINCT kmin) AS BIGINT) AS n_fp,
       CAST(COUNT(DISTINCT kmin) * 1000000 // (MAX(n) - {WINNOW_W - 1})
            AS BIGINT) AS density_ppm
FROM picks GROUP BY doc_id
"""
