"""Excel sink tests against the in-memory CellGrid (openpyxl is absent here)."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pytest
from pyspark.sql import Row

from etl_pipeline_excel_sql__spark.operators.diff import snapshot_diff
from etl_pipeline_excel_sql__spark.operators.reconcile import reconcile_schema
from etl_pipeline_excel_sql__spark.sinks import excel_writer
from etl_pipeline_excel_sql__spark.sinks.excel_writer import (
    FILL_CHANGED,
    FILL_CLEARED,
    CellGrid,
    stamp_run_date,
    write_header_matched,
    write_highlighted_diff,
    write_positional,
)


def test_positional_writer_skips_formula_columns(spark):
    df = spark.createDataFrame(
        [("a", None, 1.5), ("b", "y", 2.5)], "c1 string, c2 string, c3 double"
    )
    grid = CellGrid()
    n = write_positional(df, grid, row_start=8, col_start=7, skip_cols=frozenset({9}))
    assert n == 2
    # col 9 skipped: targets are 7, 8, 10
    assert grid.get(8, 7) == "a"
    assert grid.get(8, 8) == ""          # null -> ''
    assert grid.get(8, 10) == 1.5
    assert grid.get(9, 7) == "b"
    assert (8, 9) not in grid.cells


@pytest.mark.parametrize(
    "write",
    [
        lambda df: write_positional(df, CellGrid()),
        lambda df: write_header_matched(df, CellGrid(), {"v": 0}),
        lambda df: write_highlighted_diff(df, CellGrid(), "v", []),
    ],
    ids=["positional", "header_matched", "highlighted_diff"],
)
def test_writer_row_cap(spark, monkeypatch, write):
    monkeypatch.setattr(excel_writer, "MAX_SINK_ROWS", 5)
    df = spark.range(10).selectExpr("cast(id as string) as v")
    with pytest.raises(ValueError, match="template-scale"):
        write(df)


#: One changed row and one new row of a diff-shaped frame holding each
#: value type whose Python form differs between ``collect()`` and Arrow.
TYPED_FRAME_SQL = """
SELECT * FROM VALUES
  ('k1', 'changed', timestamp'2024-03-01 12:34:56.123456', date'2024-03-01',
   cast(1.5 AS decimal(10,2)), cast('NaN' AS double), cast(NULL AS string),
   'a b', 'changed',
   array(named_struct('word', 'a', 'same', true),
         named_struct('word', 'b', 'same', false)),
   map('x', 1)),
  ('k2', 'new', NULL, NULL, NULL, cast(2.25 AS double), 's', NULL, NULL, NULL,
   NULL)
  AS t(k, row_status, ts__new, d__new, dec__new, nan__new, s__new, v__new,
       v__status, v__words, m__new)
"""
# The row path's form of the timestamp: naive, in the process's local time.
_TS = dt.datetime.fromtimestamp(1709296496).replace(microsecond=123456)
_WORDS = [Row(word="a", same=True), Row(word="b", same=False)]
_K1 = ["k1", "changed", _TS, dt.date(2024, 3, 1), Decimal("1.50"), "", "",
       "a b", "changed", _WORDS, {"x": 1}]
_K2 = ["k2", "new", "", "", "", 2.25, "s", "", "", "", ""]
_DIFF_COLS = ["ts", "d", "dec", "nan", "s", "v", "m"]


def _cells(rows, first_row, cols):
    return {
        (r, c): v
        for r, row in enumerate(rows, start=first_row)
        for c, v in zip(cols, row)
    }


@pytest.mark.parametrize(
    "write, cells, fills, rich",
    [
        (
            lambda df, g: write_positional(df, g),
            _cells([_K1, _K2], 8, [1, 2, 3, 4, 5, 6, 7, 8, 10, 11, 12]),
            {},
            {},
        ),
        (
            lambda df, g: write_header_matched(
                df, g, {c: i for i, c in enumerate(df.columns)}
            ),
            _cells([_K1, _K2], 6, range(1, 12)),
            {},
            {},
        ),
        (
            lambda df, g: write_highlighted_diff(
                df, g, "k", _DIFF_COLS, word_diff_cols=["v"]
            ),
            _cells(
                [
                    ["k", *_DIFF_COLS],
                    ["k1", _TS, dt.date(2024, 3, 1), Decimal("1.50"), "", "",
                     "a b", {"x": 1}],
                    ["k2", "", "", "", 2.25, "s", "", ""],
                ],
                1,
                range(1, 9),
            ),
            {(2, 7): FILL_CHANGED, **{(3, c): FILL_CHANGED for c in range(1, 9)}},
            {(2, 7): [("a ", None), ("b", "FFFF0000")]},
        ),
    ],
    ids=["positional", "header_matched", "highlighted_diff"],
)
def test_writer_cells_keep_row_path_values(spark, write, cells, fills, rich):
    """Every sink writes the values that ``collect()`` gave: naive local
    timestamps, ``Row`` structs, dict maps, ``''`` for null and NaN."""
    df = spark.sql(TYPED_FRAME_SQL)
    grid = CellGrid()
    assert write(df, grid) == 2
    assert grid.cells == cells
    assert {k: type(v) for k, v in grid.cells.items()} == {
        k: type(v) for k, v in cells.items()
    }
    assert grid.fills == fills
    assert grid.rich == rich


def test_stamp_run_date():
    grid = CellGrid()
    stamp_run_date(grid, dt.date(2026, 8, 13))
    assert grid.get(4, 11) == "08/13/2026"


def test_header_matched_writer_appends_after_existing(spark):
    df = spark.createDataFrame([("m1", 10), ("m2", 20)], "Ministry string, Cost int")
    res = reconcile_schema(["Ministry", "Cost"], ["ministry", "cost"])
    grid = CellGrid()
    grid.set(6, 1, "existing")  # row 6 occupied -> append starts at 7
    n = write_header_matched(df, grid, res.mapping)
    assert n == 2
    assert grid.get(7, 1) == "m1" and grid.get(7, 2) == 10
    assert grid.get(8, 1) == "m2" and grid.get(8, 2) == 20


def test_highlighted_diff_render(spark):
    old = spark.createDataFrame(
        [("a", "x", 1), ("b", "y", 1), ("c", "z", 1)], "k string, v string, ord int"
    )
    new = spark.createDataFrame(
        [("a", "x", 1), ("b", "CHANGED", 1), ("c", "", 1), ("d", "NEW", 1)],
        "k string, v string, ord int",
    )
    diff = snapshot_diff(old, new, "k", ["v"]).orderBy("k")
    grid = CellGrid()
    n = write_highlighted_diff(diff, grid, "k", ["v"])
    assert n == 4
    fills = {}
    for r in range(2, 6):
        fills[grid.get(r, 1)] = grid.fills.get((r, 2))
    assert fills["a"] is None
    assert fills["b"] == FILL_CHANGED
    assert fills["c"] == FILL_CLEARED
    assert fills["d"] == FILL_CHANGED    # new row: whole row blue


def test_highlighted_diff_rich_text_word_runs(spark):
    """K5 rich-text render of D3 word diffs (Compare.py:87-110): changed
    words red, unchanged default, every token but the last carrying its
    trailing space inside its own run."""
    from etl_pipeline_excel_sql__spark.sinks.excel_writer import FONT_DIFF_WORD

    old = spark.createDataFrame(
        [("a", "alpha beta gamma", 1), ("b", "same text", 1), ("e", "", 1)],
        "k string, v string, ord int",
    )
    new = spark.createDataFrame(
        [
            ("a", "alpha BETA gamma delta", 1),  # word change + tail addition
            ("b", "same text", 1),               # unchanged: no rich text
            ("e", "now filled", 1),              # old empty: all words red
        ],
        "k string, v string, ord int",
    )
    diff = snapshot_diff(old, new, "k", ["v"], word_diff_cols=["v"]).orderBy("k")
    grid = CellGrid()
    write_highlighted_diff(diff, grid, "k", ["v"], word_diff_cols=["v"])

    runs_by_key = {}
    for r in range(2, 5):
        runs_by_key[grid.get(r, 1)] = grid.rich.get((r, 2))

    assert runs_by_key["a"] == [
        ("alpha ", None),
        ("BETA ", FONT_DIFF_WORD),
        ("gamma ", None),
        ("delta", FONT_DIFF_WORD),
    ]
    # plain value stays the concatenated text
    assert grid.get(2, 2) == "alpha BETA gamma delta"
    assert runs_by_key["b"] is None          # unchanged cell: plain value
    assert runs_by_key["e"] == [             # old empty: every token red
        ("now ", FONT_DIFF_WORD),
        ("filled", FONT_DIFF_WORD),
    ]


def test_highlighted_diff_rich_text_single_token(spark):
    """Single-token replacement: one run, red, no trailing space."""
    from etl_pipeline_excel_sql__spark.sinks.excel_writer import FONT_DIFF_WORD

    old = spark.createDataFrame([("a", "x", 1)], "k string, v string, ord int")
    new = spark.createDataFrame([("a", "y", 1)], "k string, v string, ord int")
    diff = snapshot_diff(old, new, "k", ["v"], word_diff_cols=["v"])
    grid = CellGrid()
    write_highlighted_diff(diff, grid, "k", ["v"], word_diff_cols=["v"])
    assert grid.rich[(2, 2)] == [("y", FONT_DIFF_WORD)]
