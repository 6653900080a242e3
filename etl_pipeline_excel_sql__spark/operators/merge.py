"""Batch MERGE (SCD-1 and SCD-2 upserts) — the lakehouse write patterns.

Without a transactional table format in this container (Delta/Iceberg), the
engine expresses MERGE as a full-outer join + coalesce rewrite — exactly the
shuffle work a format's MERGE does under the hood, minus the commit
protocol. One shuffle on the key for both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_upsert(
    target: DataFrame, source: DataFrame, key: str, update_cols: list[str]
) -> DataFrame:
    """SCD-1 MERGE: source rows update matching keys and insert new ones.

    Output contains every target row (updated where matched) plus all
    source-only rows. Column set: ``key`` + ``update_cols``.

    Standard SQL MERGE UPDATE semantics: a matched source row's values win
    unconditionally, including NULLs (an explicit matched flag, not
    ``coalesce``, so a source NULL nulls the target column rather than
    silently keeping the old value).
    """
    t = target.select(key, *[F.col(c).alias(f"__t_{c}") for c in update_cols])
    s = source.select(
        key, *[F.col(c).alias(f"__s_{c}") for c in update_cols]
    ).withColumn("__matched", F.lit(True))
    joined = t.join(s, on=key, how="full")
    return joined.select(
        key,
        *[
            F.when(F.col("__matched"), F.col(f"__s_{c}"))
            .otherwise(F.col(f"__t_{c}"))
            .alias(c)
            for c in update_cols
        ],
    )


def scd2_upsert(
    target: DataFrame,
    source: DataFrame,
    key: str,
    tracked_cols: list[str],
    load_date: str,
) -> DataFrame:
    """SCD-2 MERGE: changed rows are *versioned*, not overwritten.

    ``target`` carries interval columns (``valid_from``/``valid_to``
    date-strings, ``valid_to`` NULL on the open version, ``is_current``);
    ``source`` carries the key + tracked columns as of ``load_date``.

    * matched, any tracked column differs → the current version closes
      (``valid_to = load_date``, ``is_current = false``) and a new open
      version begins at ``load_date``;
    * matched, no change → untouched;
    * source-only key → inserted as a new open version;
    * target-only key and historical versions → untouched.

    Null-safe comparison (``eqNullSafe``) so NULL→value and value→NULL
    both count as changes. One full-outer shuffle on the key, same as
    SCD-1; history rows pass through without joining.
    """
    cur = target.filter(F.col("is_current"))
    hist = target.filter(~F.col("is_current"))
    s = source.select(
        F.col(key).alias("__s_key"),
        *[F.col(c).alias(f"__s_{c}") for c in tracked_cols],
    ).withColumn("__in_s", F.lit(True))
    j = cur.join(s, cur[key] == F.col("__s_key"), "full_outer")
    same = None
    for c in tracked_cols:
        eq = F.col(c).eqNullSafe(F.col(f"__s_{c}"))
        same = eq if same is None else (same & eq)
    changed = (
        F.col("__in_s").isNotNull() & F.col(key).isNotNull() & ~same
    )
    out_cols = [key, *tracked_cols, "valid_from", "valid_to", "is_current"]

    unchanged = j.filter(
        F.col("__s_key").isNull() | (F.col(key).isNotNull() & same)
    ).select(*out_cols)
    closed = j.filter(changed).select(
        key,
        *tracked_cols,
        F.col("valid_from"),
        F.lit(load_date).alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    opened = j.filter(changed | F.col(key).isNull()).select(
        F.col("__s_key").alias(key),
        *[F.col(f"__s_{c}").alias(c) for c in tracked_cols],
        F.lit(load_date).alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return hist.select(*out_cols).unionByName(unchanged).unionByName(
        closed
    ).unionByName(opened)
