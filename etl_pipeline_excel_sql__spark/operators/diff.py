"""Snapshot diff engine — the reference's signature capability (SURVEY.md §2.8).

Semantics replicated (with reference citations for parity checking):

* key-based row identity; blank keys dropped (Compare.py:61, F3);
* duplicate keys in the *old* snapshot resolve last-wins (Compare.py:62, J3);
* new snapshot LEFT JOINs old on the key (Compare.py:153-155/178, J1);
* per-cell classification on trimmed strings (Compare.py:190-210, D1):
  ``cleared`` if old≠'' and new=='', ``changed`` if new≠old, else ``same``;
* rows whose key is absent from old are ``new`` and skip cell comparison
  (Compare.py:179-185, D2);
* positional word-level diff on selected columns, only where D1 said
  ``changed`` and new is non-blank (Compare.py:87-110, D3).

Spark-first design: the whole diff is ONE left join plus derived expression
columns — no per-row Python anywhere. The old side deduplicates with a
window; at scale the join shuffles on the key (or broadcasts when the old
snapshot is dimension-sized); everything else is codegen'd projection. The
reference's positional sheet-row alignment (D4, Compare.py:173-176) is a
hazard at scale — we require an explicit ordinal column instead of trusting
physical row order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.functions.cleaning import to_str

ROW_NEW = "new"
ROW_PRESENT = "present"
CELL_SAME = "same"
CELL_CHANGED = "changed"
CELL_CLEARED = "cleared"


def dedup_last_wins(df: DataFrame, key: str, order_col: str | list[str]) -> DataFrame:
    """Keep the last row per key, 'last' defined by an explicit ordinal.

    The reference's dict insert keeps the physically-last row (Compare.py:62);
    physical order is not a distributed concept, so callers pass the
    ordinal(s) that define 'last' (a load ordinal, a version, a timestamp) —
    the combination must be unique per key or the pick is nondeterministic.
    """
    order_cols = [order_col] if isinstance(order_col, str) else order_col
    w = Window.partitionBy(key).orderBy(*[F.col(c).desc() for c in order_cols])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def cell_status(old: Column, new: Column) -> Column:
    """D1 classifier on canonicalized (trimmed, null→'') strings."""
    o, n = to_str(old), to_str(new)
    return (
        F.when((o != "") & (n == ""), F.lit(CELL_CLEARED))
        .when(n != o, F.lit(CELL_CHANGED))
        .otherwise(F.lit(CELL_SAME))
    )


def word_diff(old: Column, new: Column) -> Column:
    """D3 positional word diff → array<struct<word:string, same:boolean>>.

    Tokenizes both sides on whitespace and compares position-by-position
    over the NEW tokens only (the reference iterates new tokens,
    Compare.py:97-108): a new token is ``same`` only when the old token at
    the same index equals it; indexes past the end of old compare against
    NULL and are therefore changed. Old tokens beyond new's length are
    ignored (the reference never renders them).

    ``zip_with`` pads the shorter array with NULL which gives the tail
    semantics for free; a ``slice`` to new's length drops the old-side
    overhang.
    """
    new_toks = F.split(F.trim(to_str(new)), r"\s+")
    old_toks = F.split(F.trim(to_str(old)), r"\s+")
    zipped = F.zip_with(
        new_toks,
        old_toks,
        lambda n, o: F.struct(n.alias("word"), n.eqNullSafe(o).alias("same")),
    )
    return F.slice(zipped, 1, F.greatest(F.size(new_toks), F.lit(1)))


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: str,
    compare_cols: list[str],
    word_diff_cols: list[str] | None = None,
    old_order_col: str | None = None,
) -> DataFrame:
    """Full diff of two snapshots → one row per (non-blank-key) new row.

    Output schema::

        key, row_status,                      -- 'new' | 'present'
        <col>__status      per compare col,   -- 'same'|'changed'|'cleared' (NULL for new rows)
        <col>__old, <col>__new per compare col,
        <col>__words       per word-diff col  -- array<struct<word,same>> (NULL unless changed)

    One shuffle (the join) — or zero when the old side broadcasts.
    """
    word_diff_cols = word_diff_cols or []
    # Trim and drop blank keys BEFORE the last-wins dedup: the reference
    # keys its lookup on the stripped value (Compare.py:59-62), so "A" and
    # " A" are one old row. No explicit order: any-wins dedup.
    order = (
        F.col(old_order_col) if old_order_col else F.monotonically_increasing_id()
    )
    old_clean = dedup_last_wins(
        old.select(
            to_str(F.col(key)).alias(key),
            order.alias("__ord"),
            *[to_str(F.col(c)).alias(f"__old_{c}") for c in compare_cols],
        ).filter(F.col(key) != ""),
        key,
        "__ord",
    ).select(
        key,
        F.lit(True).alias("__in_old"),
        *[f"__old_{c}" for c in compare_cols],
    )
    new_clean = new.filter(to_str(F.col(key)) != "").select(
        to_str(F.col(key)).alias(key),
        *[to_str(F.col(c)).alias(f"__new_{c}") for c in compare_cols],
    )

    joined = new_clean.join(old_clean, on=key, how="left")
    is_new = F.col("__in_old").isNull()

    out_cols: list[Column] = [
        F.col(key),
        F.when(is_new, F.lit(ROW_NEW)).otherwise(F.lit(ROW_PRESENT)).alias("row_status"),
    ]
    for c in compare_cols:
        o, n = F.col(f"__old_{c}"), F.col(f"__new_{c}")
        status = F.when(is_new, F.lit(None)).otherwise(cell_status(o, n))
        out_cols += [
            status.alias(f"{c}__status"),
            F.when(is_new, F.lit(None)).otherwise(o).alias(f"{c}__old"),
            n.alias(f"{c}__new"),
        ]
        if c in word_diff_cols:
            wd = F.when(
                ~is_new & (cell_status(o, n) == CELL_CHANGED) & (n != ""),
                word_diff(o, n),
            )
            out_cols.append(wd.alias(f"{c}__words"))
    return joined.select(*out_cols)


def new_rows(old: DataFrame, new: DataFrame, key: str) -> DataFrame:
    """D2/J2 as a standalone anti-join: new-snapshot rows with unseen keys."""
    o = old.filter(to_str(F.col(key)) != "").select(to_str(F.col(key)).alias(key))
    return new.filter(to_str(F.col(key)) != "").join(o, on=key, how="left_anti")
