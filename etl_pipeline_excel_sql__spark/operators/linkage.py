"""Blocked fuzzy record linkage: best-match entity resolution over a
string key, the classic dedup/merge primitive for dirty catalogs
(customer lists, product feeds, author tables).

Cross-engine exactness: the match score is ``levenshtein`` — built into
BOTH engines as an exact integer (Spark ``F.levenshtein`` is JVM-side
codegen; DuckDB ``levenshtein``) — and the arg-min is a PACKED-INTEGER
``MIN`` (``dist * 2^40 + candidate_key``), so every emitted column is a
pure integer/string with no float anywhere (the repo's hash doctrine).

Scale shape (the dedup-family doctrine applied to entity resolution):

* NEVER all-pairs. Candidates come only from equal BLOCKING keys —
  the operator's contract is the same as LSH bands: the caller picks a
  blocking function whose block cardinality is bounded (token
  signature, sorted-neighborhood window, phonetic key); comparisons are
  ``Σ |block ∩ probes| · |block|``, not ``N²``.
* The probe batch is bounded by construction (a reconciliation batch,
  not the catalog) — it BROADCASTS; the full catalog side is scanned
  once and never shuffles into the probes.
* Best-match-per-probe is an arg-min AGGREGATE over a packed integer,
  not a window sort: partial aggregation (map-side combine) reduces
  each block locally before the single bounded shuffle on the probe
  key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: packing base for the (dist, candidate_key) arg-min — keys must stay
#: below 2^40 (a trillion records) and distances below 2^23 characters.
_PACK_BASE = 1 << 40
#: Fuzzy-merge distance budget of :func:`blocked_match_pairs` (<= 2
#: edits collapses the typo'd variants the generator plants without
#: bridging distinct products).
ER_MAX_DIST = 2


def blocked_best_match(
    catalog: DataFrame,
    probes: DataFrame,
    key_col: str,
    name_col: str,
    block_col: str,
) -> DataFrame:
    """For every probe record, the closest OTHER catalog record within
    its blocking group: ``(<key_col>, <name_col>, block, match_key,
    dist)``, deterministic ties (min distance, then min candidate key)
    via one packed-integer ``MIN``.

    ``catalog``/``probes`` both carry ``(key_col, name_col,
    block_col)``; probes are a bounded batch (broadcast side). Probes
    with an empty block (no other record shares their blocking key) are
    absent from the result — the caller left-joins if "no match" rows
    matter.
    """
    p = probes.select(
        F.col(key_col).alias("__pkey"),
        F.col(name_col).alias("__pname"),
        F.col(block_col).alias("__block"),
    )
    c = catalog.select(
        F.col(key_col).alias("__ckey"),
        F.col(name_col).alias("__cname"),
        F.col(block_col).alias("__block"),
    )
    pairs = c.join(F.broadcast(p), on="__block").filter(
        F.col("__ckey") != F.col("__pkey")
    )
    packed = (
        F.levenshtein(F.col("__pname"), F.col("__cname")).cast("bigint")
        * F.lit(_PACK_BASE)
        + F.col("__ckey")
    )
    best = (
        pairs.withColumn("__packed", packed)
        .groupBy("__pkey", "__pname", "__block")
        .agg(F.min("__packed").alias("__best"))
    )
    return best.select(
        F.col("__pkey").alias(key_col),
        F.col("__pname").alias(name_col),
        F.col("__block").alias("block"),
        (F.col("__best") % F.lit(_PACK_BASE)).alias("match_key"),
        F.expr(f"CAST(__best DIV {_PACK_BASE} AS BIGINT)").alias("dist"),
    )


def blocked_match_pairs(
    records: DataFrame,
    key_col: str,
    name_col: str,
    block_col: str,
) -> DataFrame:
    """All within-block record pairs with Levenshtein distance
    ``<= ER_MAX_DIST``: ``(id_a, id_b, dist)`` with ``id_a < id_b`` — the
    edge-list producer for cluster-level entity resolution (pairs →
    connected components → entities), where :func:`blocked_best_match`
    is the probe-batch/serving variant.

    Intended to run on exact-collapsed REPRESENTATIVES, not raw
    records: collapse identical names first (one groupBy) so an
    n-record duplicate family contributes one node instead of an
    O(n²) clique of distance-0 edges. Comparisons are then
    ``Σ |block_reps|²`` over DISTINCT names per block — bounded by the
    name vocabulary, which grows far slower than the record count.
    """
    r = records.select(
        F.col(key_col).alias("__k"),
        F.col(name_col).alias("__n"),
        F.col(block_col).alias("__b"),
    )
    a = r.select(
        F.col("__k").alias("id_a"), F.col("__n").alias("__na"), "__b"
    )
    b = r.select(
        F.col("__k").alias("id_b"), F.col("__n").alias("__nb"), "__b"
    )
    return (
        a.join(b, on="__b")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "dist", F.levenshtein(F.col("__na"), F.col("__nb")).cast("bigint")
        )
        .filter(F.col("dist") <= ER_MAX_DIST)
        .select("id_a", "id_b", "dist")
    )
