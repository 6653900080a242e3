"""Excel source (SURVEY.md §2.1 S2): sheet → all-string DataFrame.

The reference reads every cell as a string to avoid dtype surprises
(``pd.read_excel(..., dtype=str)`` — Compare.py:41-43) and the diff engine
is defined over that canonical form. Template workbooks are small, so the
read happens on the driver, and the grid crosses into Spark as one Arrow
table: ``spark.createDataFrame(<pyarrow.Table>, schema)`` makes a
``LocalRelation`` below ``spark.sql.execution.arrow.localRelationThreshold``
(48 MB by default), so the optimizer knows the frame's size and folds
filters and projections over it at plan time.

:func:`read_xlsx_all_string` reads a workbook through the native stdlib
reader (``sinks/xlsx.py``) into a :class:`~...sinks.excel_writer.CellGrid`,
and :func:`grid_to_dataframe` turns any grid into the all-string frame.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StringType, StructField, StructType

from etl_pipeline_excel_sql__spark.sinks.excel_writer import CellGrid


def read_xlsx_all_string(spark: SparkSession, path: str) -> DataFrame:
    """S2 via the native .xlsx reader: workbook → CellGrid →
    all-string DataFrame with explicit row ordinals (no openpyxl)."""
    from etl_pipeline_excel_sql__spark.sinks.xlsx import xlsx_to_grid

    return grid_to_dataframe(spark, xlsx_to_grid(path))


def grid_to_dataframe(spark: SparkSession, grid: CellGrid) -> DataFrame:
    """All-string DataFrame from an in-memory grid (row 1 → names).

    Row *r* of the sheet becomes frame row *r - 2*, with an
    explicit ``_row_ordinal`` column — the D4 positional-alignment hazard
    (Compare.py:173-176) resolved by carrying the ordinal instead of
    trusting physical order. Header cells name the columns verbatim (any
    character, any value type); only a missing or blank one becomes
    ``col<c>``.
    """
    max_col = max((c for _, c in grid.cells), default=0)
    headers = [_header_name(grid.get(1, c), c) for c in range(1, max_col + 1)]
    n_rows = max(grid.max_row() - 1, 0)
    columns: list[list[str | None]] = [[None] * n_rows for _ in headers]
    for (r, c), value in grid.cells.items():
        if r > 1 and c >= 1 and value is not None:
            columns[c - 1][r - 2] = str(value)
    table = pa.Table.from_arrays(
        [pa.array(col, pa.string()) for col in columns]
        + [pa.array(range(n_rows), pa.int64())],
        names=[*headers, "_row_ordinal"],
    )
    schema = StructType(
        [StructField(h, StringType()) for h in headers]
        + [StructField("_row_ordinal", LongType())]
    )
    return spark.createDataFrame(table, schema)


def _header_name(value, c: int) -> str:
    name = "" if value is None else str(value)
    return name if name.strip() else f"col{c}"

