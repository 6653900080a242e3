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

Spark-first design: the whole diff is ONE SQL statement over the two
snapshots (``spark.sql(text, old=..., new=...)``): trim and blank-key
filter, the old side's last-wins ``row_number`` dedup, the left join, and
every per-column status / old / new / words expression. The driver parses
and analyses one plan instead of building it step by step, and no per-row
Python runs anywhere. Every column name is backtick-quoted, so any header
text (dots, backticks, spaces) names one column. The old side's dedup is
the plan's one shuffle; the join broadcasts it when the old snapshot is
dimension-sized; everything else is codegen'd projection. The reference's
positional sheet-row alignment (D4, Compare.py:173-176) is a hazard at
scale — we require an explicit ordinal column instead of trusting physical
row order.

Each semantic has one definition, as a SQL fragment: :func:`canon`
(the null-safe trimmed string form), :func:`cell_status` (D1) and
:func:`word_diff_sql` (D3). :func:`word_diff` is the same D3 fragment as a
``Column``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.functions.normalize import quote

ROW_NEW = "new"
ROW_PRESENT = "present"
CELL_SAME = "same"
CELL_CHANGED = "changed"
CELL_CLEARED = "cleared"


def canon(expr: str) -> str:
    """SQL form of :func:`~...functions.cleaning.to_str`: NULL → ``''``,
    else the value as a string with spaces trimmed (Compare.py:45-48)."""
    return f"coalesce(trim(CAST({expr} AS STRING)), '')"


def last_wins_rank(key: str, order_cols: list[str]) -> str:
    """SQL ``row_number`` that ranks each key's rows last-first: rank 1 is
    the row with the greatest ordinal(s)."""
    order = ", ".join(f"{quote(c)} DESC" for c in order_cols)
    return f"row_number() OVER (PARTITION BY {quote(key)} ORDER BY {order})"


def dedup_last_wins(df: DataFrame, key: str, order_col: str | list[str]) -> DataFrame:
    """Keep the last row per key, 'last' defined by an explicit ordinal.

    The reference's dict insert keeps the physically-last row (Compare.py:62);
    physical order is not a distributed concept, so callers pass the
    ordinal(s) that define 'last' (a load ordinal, a version, a timestamp) —
    the combination must be unique per key or the pick is nondeterministic.
    """
    order_cols = [order_col] if isinstance(order_col, str) else order_col
    return (
        df.withColumn("__rn", F.expr(last_wins_rank(key, order_cols)))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def cell_status(old: str, new: str) -> str:
    """D1 classifier as SQL over two :func:`canon` string expressions."""
    return (
        f"CASE WHEN {old} <> '' AND {new} = '' THEN '{CELL_CLEARED}' "
        f"WHEN {new} <> {old} THEN '{CELL_CHANGED}' ELSE '{CELL_SAME}' END"
    )


def word_diff_sql(old: str, new: str) -> str:
    """D3 positional word diff as SQL over two :func:`canon` string
    expressions → ``array<struct<word:string, same:boolean>>``.

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
    new_toks = rf"split({new}, '\\s+')"
    old_toks = rf"split({old}, '\\s+')"
    zipped = (
        f"zip_with({new_toks}, {old_toks}, "
        "(n, o) -> named_struct('word', n, 'same', n <=> o))"
    )
    return f"slice({zipped}, 1, greatest(size({new_toks}), 1))"


def word_diff(old: str, new: str) -> Column:
    """:func:`word_diff_sql` as a ``Column``; ``old`` and ``new`` are SQL
    expressions of any type, compared in their :func:`canon` form."""
    return F.expr(word_diff_sql(canon(old), canon(new)))


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: str,
    compare_cols: list[str],
    word_diff_cols: list[str] | None = None,
    old_order_col: str | None = None,
    old_names: dict[str, str] | None = None,
) -> DataFrame:
    """Full diff of two snapshots → one row per (non-blank-key) new row.

    Output schema::

        key, row_status,                      -- 'new' | 'present'
        <col>__status      per compare col,   -- 'same'|'changed'|'cleared' (NULL for new rows)
        <col>__old, <col>__new per compare col,
        <col>__words       per word-diff col  -- array<struct<word,same>> (NULL unless changed)

    ``old_names`` maps a key or compare column to the old snapshot's
    column of another name (the P4 resolution of :func:`compare_pipeline`);
    unmapped names are read as they are. Without ``old_order_col`` the
    dedup is any-wins.

    One shuffle (the old side's dedup); the join broadcasts a
    dimension-sized old side.
    """
    word_diff_cols = word_diff_cols or []
    old_names = old_names or {}

    def ident(name: str) -> str:
        # The statement passes through str.format, which binds {old}/{new}.
        return quote(name).replace("{", "{{").replace("}", "}}")

    def old_col(name: str) -> str:
        return ident(old_names.get(name, name))

    order = old_col(old_order_col) if old_order_col else "monotonically_increasing_id()"
    cols = list(enumerate(compare_cols))
    new_side = ", ".join(
        [f"{canon(ident(key))} AS __k"]
        + [f"{canon(ident(c))} AS __n{i}" for i, c in cols]
    )
    old_side = ", ".join(
        [f"{canon(old_col(key))} AS __k", f"{order} AS __ord"]
        + [f"{canon(old_col(c))} AS __o{i}" for i, c in cols]
    )
    old_kept = ", ".join(["__k"] + [f"__o{i}" for i, _ in cols])
    # __in_old is NULL exactly for keys the old snapshot lacks (D2), and
    # so is every __s status: new rows skip cell comparison.
    joined = ", ".join(
        ["n.*", "o.__k AS __in_old"]
        + [f"o.__o{i}" for i, _ in cols]
        + [
            f"CASE WHEN o.__k IS NOT NULL "
            f"THEN {cell_status(f'o.__o{i}', f'n.__n{i}')} END AS __s{i}"
            for i, _ in cols
        ]
    )
    out = [
        f"__k AS {ident(key)}",
        f"CASE WHEN __in_old IS NULL THEN '{ROW_NEW}' ELSE '{ROW_PRESENT}' END "
        "AS row_status",
    ]
    for i, c in cols:
        out += [
            f"__s{i} AS {ident(c + '__status')}",
            f"__o{i} AS {ident(c + '__old')}",
            f"__n{i} AS {ident(c + '__new')}",
        ]
        if c in word_diff_cols:
            out.append(
                f"CASE WHEN __s{i} = '{CELL_CHANGED}' AND __n{i} <> '' "
                f"THEN {word_diff_sql(f'__o{i}', f'__n{i}')} END "
                f"AS {ident(c + '__words')}"
            )
    statement = f"""
        SELECT {", ".join(out)}
        FROM (
          SELECT {joined}
          FROM (SELECT {new_side} FROM {{new}}) n
          LEFT JOIN (
            SELECT {old_kept}
            FROM (
              SELECT *, {last_wins_rank("__k", ["__ord"])} AS __rn
              FROM (SELECT {old_side} FROM {{old}})
              WHERE __k <> ''
            )
            WHERE __rn = 1
          ) o ON n.__k = o.__k
          WHERE n.__k <> ''
        )"""
    return new.sparkSession.sql(statement, old=old, new=new)
