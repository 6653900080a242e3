"""Categorical block ordering (SURVEY.md §2.7 O1).

The reference writes ministry blocks in the declaration order of its
MINISTRY_LIST, not alphabetically (Upload.py:193-196), preserving source row
order inside each block. Spark-first: an ``array_position`` sort key plus an
explicit intra-block ordinal — one sort, no per-block scans (the reference
re-filters the frame once per ministry; at scale that would be N full passes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.functions.normalize import quote


def categorical_order(
    df: DataFrame,
    col: str,
    categories: list[str],
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Order rows by the fixed category list, with explicit tiebreaks.

    Unlisted category values are dropped — the reference's ALL path only
    writes listed ministries (its IN-list filter runs first). An unlisted
    value has ``array_position`` 0 and a NULL category has a NULL
    position, so the ``_ord > 0`` filter drops both.
    """
    cats = F.array(*[F.lit(c) for c in categories])
    pos = F.array_position(cats, F.col(quote(col))).cast("int")
    out = df.withColumn("_ord", pos).filter(F.col("_ord") > 0)
    ties = [F.col(quote(c)) for c in tiebreak_cols or []]
    return out.orderBy("_ord", *ties)


def global_row_numbers(
    df: DataFrame,
    bucket_col: str,
    order_cols: list[str],
    out: str = "rn",
) -> DataFrame:
    """Dense global ordinals over (bucket, *order_cols) WITHOUT the
    single-partition window trap.

    ``row_number() OVER (ORDER BY ...)`` with no PARTITION BY funnels the
    whole table through one task — the classic ordered-export scale
    killer. This is the two-phase formulation: (1) per-bucket counts →
    prefix-sum offsets (a window over #buckets rows — tiny by
    construction), broadcast back; (2) per-bucket row_number, which
    distributes across buckets. Global ordinal = offset + local rank.

    Correctness requires ``bucket_col`` to be a PREFIX of the intended
    global order (e.g. month is a prefix of (date, key) order); callers
    choose a bucket with enough cardinality to spread the sort. A NULL
    bucket is a valid value: the offset join is NULL-SAFE (a plain
    equi-join would silently drop every NULL-bucket row), and NULL
    buckets number first, matching Spark's asc_nulls_first sort order.
    """
    cnts = df.groupBy(bucket_col).agg(F.count(F.lit(1)).alias("__n"))
    woff = (
        Window.orderBy(bucket_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = cnts.select(
        F.col(bucket_col).alias("__bkt"),
        F.coalesce(F.sum("__n").over(woff), F.lit(0))
        .cast("bigint")
        .alias("__off"),
    )
    wloc = Window.partitionBy(bucket_col).orderBy(*order_cols)
    return (
        df.join(
            F.broadcast(offsets),
            F.col(bucket_col).eqNullSafe(F.col("__bkt")),
        )
        .withColumn(out, F.col("__off") + F.row_number().over(wloc))
        .drop("__off", "__bkt")
    )
