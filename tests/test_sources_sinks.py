"""Workbook grid to all-string frame: types, ordinals, header text."""

from __future__ import annotations

from etl_pipeline_excel_sql__spark.sinks.excel_writer import CellGrid
from etl_pipeline_excel_sql__spark.sources.excel import grid_to_dataframe


def test_grid_to_dataframe_all_string_with_ordinal(spark):
    grid = CellGrid()
    grid.set(1, 1, "Key")
    grid.set(1, 2, "Val")
    grid.set(2, 1, "a")
    grid.set(2, 2, 42)       # non-string cell -> stringified
    grid.set(3, 1, "b")      # missing (3,2) -> NULL
    df = grid_to_dataframe(spark, grid)
    assert df.columns == ["Key", "Val", "_row_ordinal"]
    assert [f.dataType.simpleString() for f in df.schema.fields[:2]] == [
        "string", "string",
    ]
    rows = {r.Key: (r.Val, r._row_ordinal) for r in df.collect()}
    assert rows == {"a": ("42", 0), "b": (None, 1)}
    # the grid crosses as Arrow into a local relation, not pickled rows
    # in an RDD, so the optimizer knows its size at plan time
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.startswith("LocalRelation"), plan
    assert "LogicalRDD" not in plan, plan


def test_grid_to_dataframe_keeps_any_header_verbatim(spark):
    # Header cells come from outside the program: a backtick must not
    # break the schema, a numeric 0 is a name, only blank/missing fall back.
    grid = CellGrid()
    grid.set(1, 1, "a`b")
    grid.set(1, 2, 0)
    grid.set(1, 3, "  ")
    grid.set(2, 1, "x")
    grid.set(2, 4, "y")  # column 4 has no header cell at all
    df = grid_to_dataframe(spark, grid)
    assert df.columns == ["a`b", "0", "col3", "col4", "_row_ordinal"]
    assert [tuple(r) for r in df.collect()] == [("x", None, None, "y", 0)]

