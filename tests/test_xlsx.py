"""Golden round-trip tests for the native .xlsx writer/reader.

These close the loop VERDICT flagged: without openpyxl the K1–K5 sinks
were verified only against the in-memory CellGrid — now every sink
artifact (values, K3 stamp, K5 fills, D3 rich-text runs, K4 stored VBA)
survives a real file on disk and parses back equal.
"""

from __future__ import annotations

import datetime as dt
import zipfile

from etl_pipeline_excel_sql__spark.sinks.excel_writer import (
    FILL_CHANGED,
    FILL_CLEARED,
    CellGrid,
    inject_vba_guard,
)
from etl_pipeline_excel_sql__spark.sinks.xlsx import (
    col_letter,
    grid_to_xlsx,
    xlsx_to_grid,
)


def test_col_letter():
    assert [col_letter(i) for i in (1, 26, 27, 52, 703)] == [
        "A",
        "Z",
        "AA",
        "AZ",
        "AAA",
    ]


def test_grid_round_trip_values_fills_rich_vba(tmp_path):
    g = CellGrid()
    g.set(1, 1, "plain text")
    g.set(1, 2, 42)
    g.set(2, 1, 3.25)
    g.set(2, 2, True)
    g.set(4, 11, "08/13/2026")                      # K3 stamp cell
    g.set(3, 3, "changed cell")
    g.fill(3, 3, FILL_CHANGED)                      # K5 cell-change fill
    g.fill(3, 4, FILL_CLEARED)                      # K5 cleared fill
    g.set(3, 4, "new row")
    g.set_rich(5, 1, [("same ", None), ("changed ", "FFFF0000")])  # D3 runs
    inject_vba_guard(g)                              # K4 stored macro

    path = str(tmp_path / "out.xlsx")
    grid_to_xlsx(g, path)
    back = xlsx_to_grid(path)

    assert back.cells == g.cells
    assert back.fills == g.fills
    assert back.rich == g.rich
    assert back.vba_modules == g.vba_modules


def test_grid_round_trip_edge_values(tmp_path):
    """Values whose text or type a reader could bend, each read back with
    its type: True/False must not turn into 1/0, nor -3 into -3.0."""
    g = CellGrid()
    values = ["", "  padded  ", "<&>\"'", True, False, -3, 1e-07, 0.5, "x"]
    for c, v in enumerate(values, start=1):
        g.set(2, c, v)
    g.fill(2, 6, FILL_CLEARED)                       # fill on a numeric cell
    g.set_rich(3, 1, [("no colour", None)])         # run without rPr
    g.set_rich(3, 2, [(" a ", "FFFF0000"), ("b", None)])
    g.set(4, 27, "AA")                               # past Z
    g.set(4, 53, 53)
    g.fill(4, 53, FILL_CHANGED)

    path = str(tmp_path / "edge.xlsx")
    grid_to_xlsx(g, path)
    back = xlsx_to_grid(path)

    def typed(cells):
        return {k: (type(v), v) for k, v in cells.items()}

    assert typed(back.cells) == typed(g.cells)
    assert back.fills == g.fills
    assert back.rich == g.rich
    assert back.vba_modules == {}


def test_xlsx_is_a_real_zip_package(tmp_path):
    g = CellGrid()
    g.set(1, 1, "x <&> 'quoted'")   # XML escaping must round-trip
    path = str(tmp_path / "pkg.xlsx")
    grid_to_xlsx(g, path)
    with zipfile.ZipFile(path) as z:
        names = set(z.namelist())
        assert "[Content_Types].xml" in names
        assert "xl/workbook.xml" in names
        assert "xl/worksheets/sheet1.xml" in names
        # parts parse as XML
        import xml.etree.ElementTree as ET

        for n in ("xl/workbook.xml", "xl/worksheets/sheet1.xml", "xl/styles.xml"):
            ET.fromstring(z.read(n))
    assert xlsx_to_grid(path).cells[(1, 1)] == "x <&> 'quoted'"


def test_download_pipeline_writes_real_workbook(spark, tmp_path):
    """End-to-end: the flagship pipeline's grid lands on disk as .xlsx and
    reads back with the stamp and data intact."""
    from etl_pipeline_excel_sql__spark.plans import QUERIES
    from etl_pipeline_excel_sql__spark.pipelines import download_pipeline
    from etl_pipeline_excel_sql__spark.sources.registry import load_table

    src = load_table(spark, "orders", "/root/testdata/sf0.001").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority"
    )
    res = download_pipeline(
        src.withColumn("seg", src.o_orderstatus),
        filter_col="o_orderstatus",
        filter_value="F",
        drop_cols=["seg"],
        date_cols=[],
        percent_cols=[],
        run_date=dt.date(2026, 8, 13),
        inject_vba=True,
    )
    path = str(tmp_path / "download.xlsx")
    grid_to_xlsx(res.grid, path)
    back = xlsx_to_grid(path)
    assert back.get(4, 11) == "08/13/2026"
    assert back.max_row() == res.grid.max_row() > 8
    assert "Worksheet_SelectionChange" in back.vba_modules["Sheet1"]


def test_compare_pipeline_file_to_file(spark, tmp_path):
    """The full Compare.py flow over REAL files: two .xlsx snapshots on
    disk -> all-string read -> diff -> highlighted .xlsx on disk, with
    fills and red word-runs surviving the round trip."""
    from etl_pipeline_excel_sql__spark.pipelines import compare_pipeline
    from etl_pipeline_excel_sql__spark.sinks.excel_writer import (
        FILL_CHANGED,
        write_positional,
    )
    from etl_pipeline_excel_sql__spark.sources.excel import read_xlsx_all_string

    def snapshot(rows, name):
        df = spark.createDataFrame(rows, "id string, status string, notes string")
        g = CellGrid()
        for c, h in enumerate(df.columns, start=1):
            g.set(1, c, h)
        write_positional(df, g, row_start=2, skip_cols=frozenset())
        p = str(tmp_path / name)
        grid_to_xlsx(g, p)
        return p

    old_p = snapshot(
        [("A", "open", "on track for spring"), ("B", "open", "fine")],
        "old.xlsx",
    )
    new_p = snapshot(
        [("A", "closed", "on track for fall"), ("B", "open", "fine"),
         ("C", "open", "brand new")],
        "new.xlsx",
    )

    q1 = read_xlsx_all_string(spark, old_p).drop("_row_ordinal")
    q2 = read_xlsx_all_string(spark, new_p).drop("_row_ordinal")
    diff, res = compare_pipeline(
        q1, q2, key="id", compare_cols=["status", "notes"],
        word_diff_cols=["notes"],
    )
    out_p = str(tmp_path / "highlight.xlsx")
    grid_to_xlsx(res.grid, out_p)
    back = xlsx_to_grid(out_p)

    # row A changed: status cell carries the change fill
    fills = set(back.fills.values())
    assert FILL_CHANGED in fills
    # word-level rich text survived with a red run for the changed word
    red_runs = [
        runs for runs in back.rich.values()
        if any(color is not None for _, color in runs)
    ]
    assert red_runs, "no colored word runs in the rendered workbook"
    assert any(
        t.strip() == "fall" and color is not None
        for runs in red_runs for t, color in runs
    )
