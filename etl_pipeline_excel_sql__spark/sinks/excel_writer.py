"""Excel sinks (SURVEY.md §2.2 K1-K5) — driver-side by design.

Template workbooks are O(10²-10³) rows (reference scale), so the sink is the
one legitimate driver materialization in the engine: the distributed plan
ends with a bounded ``limit().toArrow()`` of an already-reduced frame
(:func:`_collect_bounded`), then a local render that fills the grid column
by column. Everything upstream (filtering, ordering, diff classification)
stays distributed.

The render targets an abstract :class:`CellGrid`, so all placement logic —
skip-columns, header matching, highlight fills — is unit-tested against the
in-memory grid; ``sinks/xlsx.py`` writes a grid to a real .xlsx file.

Reference semantics replicated (citations for parity):

* K1 positional writer starting at (row 8, col 1) skipping template formula
  columns (Download.py:160-201, skip list :173, conversions :186-193);
* K2 header-matched append from row 6 in a fixed block order with a
  written-rows tally (Upload.py:148-224);
* K3 run-date stamp cell (Download.py:165-169);
* K5 highlighted diff copy — blue ``FF94DCF8`` changed/new, pink
  ``FFED8EDA`` cleared (Compare.py:160-166, 212-220).
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass, field
from typing import Any, Callable

import pyarrow as pa
from pyspark.sql import DataFrame, Row

#: Excel 1-based column indexes the positional writer must skip — template
#: formula columns (Download.py:173).
DEFAULT_SKIP_COLS = frozenset({9, 15, 16, 17} | set(range(50, 62)))

FILL_CHANGED = "FF94DCF8"  # light blue (Compare.py:161)
FILL_CLEARED = "FFED8EDA"  # pink (Compare.py:163)
FONT_DIFF_WORD = "FFFF0000"  # red changed-word font (Compare.py:101)

#: Row cap of every sink below: template workbooks are reference-scale, so
#: a larger frame is an upstream mistake and fails instead of OOMing the
#: driver.
MAX_SINK_ROWS = 100_000


def word_runs(words: list[dict]) -> list[tuple[str, str | None]]:
    """D3 render half: ``<col>__words`` structs (as Arrow's ``{"word",
    "same"}`` dicts) → rich-text runs.

    Reference semantics (Compare.py:95-108): iterate NEW tokens; a token is
    red unless the old token at the same position equals it, and every
    token except the last carries a trailing space inside its own run.
    """
    runs: list[tuple[str, str | None]] = []
    for i, w in enumerate(words):
        text = w["word"] if i == len(words) - 1 else w["word"] + " "
        runs.append((text, None if w["same"] else FONT_DIFF_WORD))
    return runs


@dataclass
class CellGrid:
    """Minimal in-memory (row, col)→value grid with per-cell fills.

    Stand-in for an openpyxl worksheet; 1-based coordinates like Excel.
    """

    cells: dict[tuple[int, int], Any] = field(default_factory=dict)
    fills: dict[tuple[int, int], str] = field(default_factory=dict)
    #: (row, col) → rich-text runs [(text, argb-or-None), ...]; None = the
    #: default font color. Mirrors openpyxl's CellRichText/TextBlock model.
    rich: dict[tuple[int, int], list[tuple[str, str | None]]] = field(
        default_factory=dict
    )
    #: VBA module name → macro source (K4); ``sinks/xlsx.grid_to_xlsx``
    #: stores the modules as the workbook's ``xl/vbaProject.bin``.
    vba_modules: dict[str, str] = field(default_factory=dict)

    def set(self, row: int, col: int, value: Any) -> None:
        self.cells[(row, col)] = value

    def get(self, row: int, col: int) -> Any:
        return self.cells.get((row, col))

    def fill(self, row: int, col: int, argb: str) -> None:
        self.fills[(row, col)] = argb

    def set_rich(
        self, row: int, col: int, runs: list[tuple[str, str | None]]
    ) -> None:
        """Rich-text cell: the plain value is the concatenated run text."""
        self.rich[(row, col)] = runs
        self.cells[(row, col)] = "".join(t for t, _ in runs)

    def max_row(self) -> int:
        return max((r for r, _ in self.cells), default=0)


def convert_value(v: Any) -> Any:
    """T7 sink conversion: null→``''``, datetimes pass as datetimes
    (openpyxl handles them natively; the reference needed COM time objects,
    Download.py:186-193 / Upload.py:211-218)."""
    if v is None:
        return ""
    if isinstance(v, float) and v != v:  # NaN
        return ""
    return v


def _collect_bounded(df: DataFrame) -> pa.Table:
    """Collect at most ``MAX_SINK_ROWS`` rows as one Arrow table; raise if
    there are more."""
    table = df.limit(MAX_SINK_ROWS + 1).toArrow()
    if table.num_rows > MAX_SINK_ROWS:
        raise ValueError(
            f"Excel sink got >{MAX_SINK_ROWS} rows; this sink is for "
            "template-scale output — reduce upstream"
        )
    return table


def _row_form(t: pa.DataType) -> Callable[[Any], Any] | None:
    """Map a ``to_pylist()`` value of Arrow type ``t`` to what ``collect()``
    gives for it, or None where the two already agree.

    Arrow hands back timestamps as UTC-aware datetimes, structs as dicts
    and maps as ``(key, value)`` lists; ``collect()`` gives naive local
    datetimes, ``Row`` objects and dicts. Cells keep the ``collect()`` form
    so that a written value renders as ``str(value)`` always did.
    """
    if pa.types.is_timestamp(t) and t.tz is not None:
        return lambda v: v.astimezone().replace(tzinfo=None)
    if pa.types.is_struct(t):
        fields = [(f.name, _row_form(f.type)) for f in t]
        return lambda d: Row(**{n: _apply(conv, d[n]) for n, conv in fields})
    if pa.types.is_map(t):
        key, item = _row_form(t.key_type), _row_form(t.item_type)
        return lambda kvs: {_apply(key, k): _apply(item, v) for k, v in kvs}
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        elem = _row_form(t.value_type)
        return None if elem is None else (lambda xs: [_apply(elem, x) for x in xs])
    return None


def _apply(f: Callable[[Any], Any] | None, v: Any) -> Any:
    return v if f is None or v is None else f(v)


def _cell_values(column: pa.ChunkedArray) -> list:
    """One collected column as the values the cells receive."""
    values = column.to_pylist()
    f = _row_form(column.type)
    return values if f is None else [_apply(f, v) for v in values]


def write_positional(
    df: DataFrame,
    grid: CellGrid,
    row_start: int = 8,
    col_start: int = 1,
    skip_cols: frozenset[int] = DEFAULT_SKIP_COLS,
) -> int:
    """K1: positional cell writer with skip-columns.

    DataFrame column *i* (0-based) lands in the *i*-th non-skipped Excel
    column at or after ``col_start``. Bounded collect (``MAX_SINK_ROWS``).
    Returns rows written.
    """
    n_cols = len(df.columns)
    targets: list[int] = []
    c = col_start
    while len(targets) < n_cols:
        if c not in skip_cols:
            targets.append(c)
        c += 1

    table = _collect_bounded(df)
    for column, c in zip(table.columns, targets):
        for r, value in enumerate(_cell_values(column), start=row_start):
            grid.set(r, c, convert_value(value))
    return table.num_rows


def stamp_run_date(grid: CellGrid, when: _dt.date) -> None:
    """K3: run-date stamp into K4 (row 4, col 11), ``MM/DD/YYYY``."""
    grid.set(4, 11, when.strftime("%m/%d/%Y"))


#: Columns the reference's paste guard protects (Download.py:214).
VBA_GUARD_COLUMNS = ("C", "D", "E", "J", "K", "AI", "AH", "AP")


def vba_paste_guard_code() -> str:
    """The reference's Worksheet_SelectionChange paste guard, verbatim
    semantics (Download.py:208-224): undo any paste into a validated
    ``VBA_GUARD_COLUMNS`` column whose validation type is not list (3)."""
    ranges = ", ".join(f"{c}:{c}" for c in VBA_GUARD_COLUMNS)
    return f'''Private Sub Worksheet_SelectionChange(ByVal Target As Range)
    Dim cell As Range
    On Error Resume Next
    For Each cell In Target
        If Not Intersect(cell, Me.Range("{ranges}")) Is Nothing Then
            If cell.Validation.Type <> 3 Then
                Application.Undo
                MsgBox "Copy and paste is not allowed in this column.", vbExclamation
            End If
        End If
    Next cell
    On Error GoTo 0
End Sub
'''


def inject_vba_guard(grid: CellGrid) -> None:
    """K4 (Download.py:203-227): attach the paste-guard macro to the sink
    as the ``Sheet1`` module.

    The reference drives a live Excel COM host (``workbook.VBProject...
    AddFromString``); this engine stores the identical macro source on the
    grid, and ``sinks/xlsx.grid_to_xlsx`` writes it into the workbook as
    ``xl/vbaProject.bin`` (a macro-enabled .xlsm). Executing it is Excel's
    job; the engine never runs VBA.
    """
    grid.vba_modules["Sheet1"] = vba_paste_guard_code()


def write_header_matched(
    df: DataFrame, grid: CellGrid, mapping: dict[str, int]
) -> int:
    """K2: header-matched append writer.

    ``mapping`` (source column → 0-based template column index) comes from
    operators/reconcile.reconcile_schema. Rows append starting at the first
    empty row at/after the template's first data row, 6. Returns total rows
    written (the
    reference's ``total_written`` tally, Upload.py:200-224).
    """
    table = _collect_bounded(df)
    r = 6
    while any(grid.get(r, c + 1) not in (None, "") for c in mapping.values()):
        r += 1
    for name, excel_idx in mapping.items():
        values = _cell_values(table.column(table.column_names.index(name)))
        for i, value in enumerate(values, start=r):
            grid.set(i, excel_idx + 1, convert_value(value))
    return table.num_rows


def write_highlighted_diff(
    diff: DataFrame,
    grid: CellGrid,
    key: str,
    compare_cols: list[str],
    word_diff_cols: list[str] | None = None,
) -> int:
    """K5: render a snapshot_diff result as a highlighted sheet.

    Column layout: a header in row 1, then per row the key and the
    ``__new`` value of each compared column.
    Fill rules (Compare.py:179-210): whole row blue when ``row_status='new'``;
    per-cell blue when changed, pink when cleared. For ``word_diff_cols``
    (the reference's WORD_DIFF_COLUMNS), a changed cell with a non-empty new
    value additionally renders word-level rich text — changed words red,
    unchanged words default (Compare.py:87-110, applied at :208-210) — from
    the ``<col>__words`` array snapshot_diff computed distributed-side.
    Returns rows rendered.
    """
    word_diff_cols = word_diff_cols or []
    grid.set(1, 1, key)
    for j, c in enumerate(compare_cols, start=2):
        grid.set(1, j, c)

    table = _collect_bounded(diff)
    n = table.num_rows
    # last same-named column wins, as it did in ``Row.asDict()``
    index = {name: i for i, name in enumerate(table.column_names)}

    def raw(name: str) -> list:
        if name not in index:
            return [None] * n
        return table.column(index[name]).to_pylist()

    rows = range(2, 2 + n)
    is_new = [s == "new" for s in table.column(index["row_status"]).to_pylist()]
    keys = _cell_values(table.column(index[key]))
    for r, k, new_row in zip(rows, keys, is_new):
        grid.set(r, 1, k)
        if new_row:
            grid.fill(r, 1, FILL_CHANGED)
    for j, c in enumerate(compare_cols, start=2):
        new_vals = _cell_values(table.column(index[f"{c}__new"]))
        words = raw(f"{c}__words") if c in word_diff_cols else [None] * n
        for r, new_val, status, w, new_row in zip(
            rows, new_vals, raw(f"{c}__status"), words, is_new
        ):
            grid.set(r, j, convert_value(new_val))
            if new_row:
                grid.fill(r, j, FILL_CHANGED)
            elif status == "changed":
                grid.fill(r, j, FILL_CHANGED)
                if w and new_val not in (None, ""):
                    grid.set_rich(r, j, word_runs(w))
            elif status == "cleared":
                grid.fill(r, j, FILL_CLEARED)
    return n
