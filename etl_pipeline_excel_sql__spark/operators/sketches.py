"""Engine-exact HyperLogLog: a mergeable distinct-count sketch whose
every intermediate is integer, so a DuckDB oracle can replay it
hash-exactly — unlike ``approx_count_distinct``, whose HLL++ register
layout is Spark-internal (that query is the registry's single
rows-only row).

Flajolet et al.'s estimator over m=64 registers: route each 60-bit md5
hash (the shared ``md5_hash60`` contract) to register ``h % m``, track
the max rank ``rho`` = 1 + leading zeros of the remaining 54 bits
(computed as ``55 - bitlength`` via ``bin()`` — identical un-padded
semantics in Spark and DuckDB), and estimate ``alpha * m^2 / Z`` with
``Z = sum(2^-rho)``. The harmonic sum is kept EXACT by scaling: each
register contributes the integer ``2^(40 - min(rho, 40))``, so
``S = Z * 2^40`` is a bigint and the estimate is one integer division
``(709 * m^2 * 2^40) DIV (1000 * S)`` (alpha_64 = 0.709 as the rational
709/1000). Rank capping at 40 only matters past ~2^40 distincts per
register — far beyond any corpus this sketch would meet before raising
the cap.

Distribution shape (100 TB): the sketch IS the scale story — per-group
state is m registers regardless of cardinality. ``max(rho)`` and the
registers' final ``sum``/``count`` all partial-aggregate map-side; the
only shuffle rows are (group, register, rho). Merging two sketches is
register-wise MAX, demonstrated by the '*' row: the global estimate is
computed FROM the per-group registers, never from a second pass over
the data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.functions.hashing import md5_hash60
from etl_pipeline_excel_sql__spark.operators.iterative import (
    SignatureCache,
    shared_slot,
)

#: register count (p = 6 bits). alpha_64 = 0.709 (Flajolet et al. 2007).
HLL_M = 64

#: rho cap — contributions are 2^(HLL_RHO_SCALE - rho), exact while
#: rho <= HLL_RHO_SCALE.
HLL_RHO_SCALE = 40

#: alpha_64 as an exact rational.
HLL_ALPHA_NUM = 709
HLL_ALPHA_DEN = 1000

#: max rank: 54 payload bits all zero -> rho = 55.
_RHO_MAX = 55


def _rho(r: Column) -> Column:
    """1 + leading zeros of the 54-bit payload ``r`` = 55 - bitlength.
    ``bin()`` renders without padding in BOTH engines (ltrim-of-'0' in
    the oracle is a no-op kept for belt-and-braces)."""
    return F.when(r == 0, F.lit(_RHO_MAX)).otherwise(
        F.lit(_RHO_MAX) - F.length(F.bin(r))
    )


def hll_registers(
    df: DataFrame, value_col: str, group_cols: list[str]
) -> DataFrame:
    """Complete per-group register table ``(*group_cols, reg, rho)`` —
    one row per (group, register) with rho = 0 for never-hit registers.
    The m-register grid is derived from the ALREADY-AGGREGATED hit
    table's distinct groups (≤ m rows per group — aggregate-scale) and
    left-joined back; the hit table is persisted (it is sketch-sized,
    groups × m rows, and referenced by both the grid and the join), so
    the corpus is scanned exactly once, by the hit aggregate. (Every
    group has ≥1 row, hence ≥1 hit register, so the hit table's group
    set is complete.) The hit table persists through a default slot under
    the slot rule of
    :mod:`~etl_pipeline_excel_sql__spark.operators.iterative`."""
    h = md5_hash60(F.col(value_col))
    hit = (
        df.select(*group_cols, h.alias("__h"))
        .select(
            *group_cols,
            (F.col("__h") % HLL_M).alias("reg"),
            _rho(F.expr(f"__h DIV {HLL_M}")).alias("__rho"),
        )
        .groupBy(*group_cols, "reg")
        .agg(F.max("__rho").alias("rho"))
    )
    hit = shared_slot(
        df.sparkSession, "sketches.hll_hits", SignatureCache
    ).swap(hit)
    grid = (
        hit.select(*group_cols)
        .distinct()
        .select(
            *group_cols,
            F.explode(F.sequence(F.lit(0), F.lit(HLL_M - 1))).alias("reg"),
        )
    )
    return grid.join(hit, [*group_cols, "reg"], "left").select(
        *group_cols,
        "reg",
        F.coalesce(F.col("rho"), F.lit(0)).cast("int").alias("rho"),
    )


def hll_estimate(registers: DataFrame, group_cols: list[str]) -> DataFrame:
    """Fold a complete register table into ``(*group_cols, v_zero,
    sum_scaled, est_distinct)`` — the raw HLL estimate in pure integer
    arithmetic (see module doctrine). ``v_zero`` (never-hit registers)
    is emitted so a consumer can apply linear counting when est is
    small; the raw estimate itself stays libm-free."""
    # pyspark's F.shiftleft only takes a Python-int bit count, so the
    # column-valued shift goes through expr (same JVM function).
    contrib = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), "
        f"{HLL_RHO_SCALE} - least(rho, {HLL_RHO_SCALE}))"
    )
    numer = HLL_ALPHA_NUM * HLL_M * HLL_M * (1 << HLL_RHO_SCALE)
    return (
        registers.groupBy(*group_cols)
        .agg(
            F.sum(F.when(F.col("rho") == 0, 1).otherwise(0))
            .cast("int")
            .alias("v_zero"),
            F.sum(contrib).alias("sum_scaled"),
        )
        .select(
            *group_cols,
            "v_zero",
            "sum_scaled",
            F.expr(
                f"CAST({numer} DIV ({HLL_ALPHA_DEN} * sum_scaled) AS BIGINT)"
            ).alias("est_distinct"),
        )
    )


def _rho_int(r: int) -> int:
    """Python twin of ``_rho`` for the unit tests."""
    return _RHO_MAX if r == 0 else _RHO_MAX - r.bit_length()


# ---------------------------------------------------------------------------
# Count-Min sketch (Cormode & Muthukrishnan 2005): the frequency twin of
# the HLL above. d seeded hash rows × w counters; an item's estimate is
# the MIN over its d cells, never below the true count (one-sided error
# <= 2N/w with probability 1 - (1/2)^d). Deterministic by construction —
# the seeded md5 row hashes are the shared md5_hash60 contract — so the
# DuckDB oracle replays cell-for-cell. Mergeability is cell-wise SUM
# (proved in tests), which is also why the build is one map-side-
# combinable groupBy: (row, col) keys, d·w bounded output regardless of
# corpus size.

#: depth (hash rows) and default width (counters per row).
CMS_D = 4
CMS_W = 512

#: Adaptive width (the ``adaptive_srp_bits`` knob rule, VERDICT r8 task
#: #6): the one-sided overestimate is ≤ 2N/w w.h.p., so a FIXED w lets
#: overestimate-ppm grow linearly with the corpus. The registered query
#: doubles w whenever total occurrences N cross ``CMS_TARGET_LOAD · w``,
#: holding per-cell load (and therefore ppm) ~flat across scale decades.
#: MIN is the round-8 fixed width (512); MAX bounds the gated sketch at
#: d·2²⁰ ≈ 4M cells — a registered-query policy, not an operator limit.
CMS_MIN_W_LOG2 = 9
CMS_MAX_W_LOG2 = 20
CMS_TARGET_LOAD = 256


def adaptive_cms_w(n_items: int) -> int:
    """``clamp(2^ceil(log2(n / CMS_TARGET_LOAD)), 2^MIN, 2^MAX)`` as a
    pure-integer threshold ladder — no float log2, so the DuckDB twin
    (``sketch_queries._CMS_W_LADDER``) reproduces it bit-for-bit at
    every SF."""
    return 1 << (
        CMS_MIN_W_LOG2
        + sum(
            1
            for k in range(CMS_MIN_W_LOG2 + 1, CMS_MAX_W_LOG2 + 1)
            if n_items > CMS_TARGET_LOAD * (1 << (k - 1))
        )
    )


def _cms_col(value: Column, row: int, w: int = CMS_W) -> Column:
    """Column index of ``value`` in hash row ``row``."""
    return (
        md5_hash60(F.concat(F.lit(f"cms{row}:"), value)) % w
    ).cast("int")


def cms_build(df: DataFrame, value_col: str, w: int = CMS_W) -> DataFrame:
    """Count-Min table ``(row, col, cnt)`` over every occurrence of
    ``value_col`` (at most d·w rows; absent cells are zero)."""
    cells = df.select(
        F.posexplode(
            F.array(
                *[
                    _cms_col(F.col(value_col), j, w).alias(f"c{j}")
                    for j in range(CMS_D)
                ]
            )
        ).alias("row", "col")
    )
    return cells.groupBy("row", "col").agg(F.count(F.lit(1)).alias("cnt"))


def cms_query(
    cms: DataFrame, probes: DataFrame, value_col: str, w: int = CMS_W
) -> DataFrame:
    """Point-query the sketch for each probe value: est = MIN over the
    d cells. The probe table is expected to be bounded (a serving
    batch); the sketch itself is d·w rows, so the join is tiny no
    matter the corpus."""
    keyed = probes.select(
        F.col(value_col),
        F.posexplode(
            F.array(
                *[
                    _cms_col(F.col(value_col), j, w).alias(f"c{j}")
                    for j in range(CMS_D)
                ]
            )
        ).alias("row", "col"),
    )
    return (
        keyed.join(cms, ["row", "col"], "left")
        .groupBy(value_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_count"))
    )
