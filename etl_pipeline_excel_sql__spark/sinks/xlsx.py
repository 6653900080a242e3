"""Minimal native .xlsx writer/reader (stdlib zip + XML, no openpyxl).

The container has no openpyxl, but an .xlsx file is only a zip of XML
parts — this module writes a real, spec-conformant workbook from a
:class:`~etl_pipeline_excel_sql__spark.sinks.excel_writer.CellGrid` and
reads one back, so the K1–K5 sink semantics round-trip through an actual
file instead of stopping at the in-memory grid. Scope is deliberately the
engine's needs, not a general library:

* values as inline strings / numbers (the sinks emit T7-converted strings,
  ints, floats, and ISO-formatted dates);
* per-cell PatternFill solid colors (K5 diff highlighting);
* rich-text runs with per-run font colors (D3 word-level diffs);
* the K4 macro stored once, as a real ``xl/vbaProject.bin`` built to
  the public [MS-CFB]/[MS-OVBA] specs (``sinks/vba_bin.py``; workbook
  switches to the macroEnabled content type + vbaProject relationship)
  and read back through the same module's spec-driven reader. Module
  names and sources are strict cp1252, so the writer rejects anything
  the reader could not return. Validation is spec-citation + round-trip
  through independent spec-driven readers, not Excel.

Reference behaviors replicated: fill colors ``FF94DCF8``/``FFED8EDA``
(Compare.py:14-15), red rich-text words (Compare.py:87-110).
"""

from __future__ import annotations

import re
import zipfile
from xml.etree import ElementTree as ET
from xml.parsers import expat
from xml.sax.saxutils import escape

from etl_pipeline_excel_sql__spark.sinks.excel_writer import CellGrid
from etl_pipeline_excel_sql__spark.sinks.vba_bin import (
    build_vba_project_bin,
    read_vba_project_bin,
)

_NS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"

_CONTENT_TYPES = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
<Default Extension="xml" ContentType="application/xml"/>
<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>
<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
</Types>
"""

#: Macro-enabled variant: same parts plus the [MS-OVBA] binary project.
#: The workbook main part switches to the macroEnabled content type and
#: the .bin default maps to the vbaProject type — the OPC layout ECMA-376
#: prescribes for .xlsm.
_CONTENT_TYPES_MACRO = _CONTENT_TYPES.replace(
    "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml",
    "application/vnd.ms-excel.sheet.macroEnabled.main+xml",
).replace(
    '<Default Extension="xml" ContentType="application/xml"/>',
    '<Default Extension="xml" ContentType="application/xml"/>\n'
    '<Default Extension="bin" '
    'ContentType="application/vnd.ms-office.vbaProject"/>',
)

_ROOT_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
</Relationships>
"""

_WORKBOOK = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets>
</workbook>
"""

_WORKBOOK_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/styles" Target="styles.xml"/>
</Relationships>
"""

_WORKBOOK_RELS_MACRO = _WORKBOOK_RELS.replace(
    "</Relationships>",
    '<Relationship Id="rId3" '
    'Type="http://schemas.microsoft.com/office/2006/relationships/vbaProject"'
    ' Target="vbaProject.bin"/>\n</Relationships>',
)


def col_letter(col: int) -> str:
    """1-based column index → Excel letters (1→A, 27→AA)."""
    out = ""
    while col > 0:
        col, rem = divmod(col - 1, 26)
        out = chr(ord("A") + rem) + out
    return out


def _letter_col(letters: str) -> int:
    out = 0
    for ch in letters:
        out = out * 26 + (ord(ch) - ord("A") + 1)
    return out


def _styles_xml(fill_colors: list[str]) -> str:
    """styles.xml with one solid-fill xf per distinct ARGB color.

    Fill index mapping: Excel reserves fills 0 (none) and 1 (gray125);
    color i lands at fill index i+2 and cell-xf index i+1 (xf 0 = default).
    """
    fills = [
        '<fill><patternFill patternType="none"/></fill>',
        '<fill><patternFill patternType="gray125"/></fill>',
    ]
    xfs = ['<xf numFmtId="0" fontId="0" fillId="0" borderId="0"/>']
    for i, argb in enumerate(fill_colors):
        fills.append(
            f'<fill><patternFill patternType="solid">'
            f'<fgColor rgb="{argb}"/><bgColor indexed="64"/>'
            f"</patternFill></fill>"
        )
        xfs.append(
            f'<xf numFmtId="0" fontId="0" fillId="{i + 2}" borderId="0" '
            f'applyFill="1"/>'
        )
    return (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<styleSheet xmlns="{_NS}">'
        '<fonts count="1"><font><sz val="11"/><name val="Calibri"/></font></fonts>'
        f'<fills count="{len(fills)}">{"".join(fills)}</fills>'
        '<borders count="1"><border/></borders>'
        '<cellStyleXfs count="1"><xf/></cellStyleXfs>'
        f'<cellXfs count="{len(xfs)}">{"".join(xfs)}</cellXfs>'
        "</styleSheet>"
    )


def _cell_xml(ref: str, value, style_idx: int, runs) -> str:
    s = f' s="{style_idx}"' if style_idx else ""
    if runs is not None:
        parts = []
        for text, argb in runs:
            rpr = f'<rPr><color rgb="{argb}"/></rPr>' if argb else ""
            parts.append(
                f'<r>{rpr}<t xml:space="preserve">{escape(text)}</t></r>'
            )
        return f'<c r="{ref}"{s} t="inlineStr"><is>{"".join(parts)}</is></c>'
    if isinstance(value, bool):
        return f'<c r="{ref}"{s} t="b"><v>{int(value)}</v></c>'
    if isinstance(value, (int, float)):
        return f'<c r="{ref}"{s}><v>{value!r}</v></c>'
    text = escape(str(value))
    return (
        f'<c r="{ref}"{s} t="inlineStr">'
        f'<is><t xml:space="preserve">{text}</t></is></c>'
    )


def grid_to_xlsx(grid: CellGrid, path: str) -> None:
    """Write the grid as a real one-sheet .xlsx (values, fills, rich text,
    and the VBA modules as ``xl/vbaProject.bin``)."""
    fill_colors = sorted({c for c in grid.fills.values()})
    fill_idx = {c: i + 1 for i, c in enumerate(fill_colors)}  # cell-xf index

    by_row: dict[int, list[int]] = {}
    for r, c in grid.cells:
        by_row.setdefault(r, []).append(c)
    rows_xml = []
    for r in sorted(by_row):
        cells_xml = []
        for c in sorted(by_row[r]):
            ref = f"{col_letter(c)}{r}"
            style = fill_idx.get(grid.fills.get((r, c), ""), 0)
            cells_xml.append(
                _cell_xml(ref, grid.cells[(r, c)], style, grid.rich.get((r, c)))
            )
        rows_xml.append(f'<row r="{r}">{"".join(cells_xml)}</row>')
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<worksheet xmlns="{_NS}">'
        f'<sheetData>{"".join(rows_xml)}</sheetData>'
        "</worksheet>"
    )

    has_macros = bool(grid.vba_modules)
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr(
            "[Content_Types].xml",
            _CONTENT_TYPES_MACRO if has_macros else _CONTENT_TYPES,
        )
        z.writestr("_rels/.rels", _ROOT_RELS)
        z.writestr("xl/workbook.xml", _WORKBOOK)
        z.writestr(
            "xl/_rels/workbook.xml.rels",
            _WORKBOOK_RELS_MACRO if has_macros else _WORKBOOK_RELS,
        )
        z.writestr("xl/styles.xml", _styles_xml(fill_colors))
        z.writestr("xl/worksheets/sheet1.xml", sheet)
        if has_macros:
            # Real [MS-OVBA] binary project (see sinks/vba_bin.py for the
            # conformance story) — the macro-enabled OPC layout Excel
            # expects: bin part + vbaProject relationship + macroEnabled
            # main content type.
            z.writestr(
                "xl/vbaProject.bin",
                build_vba_project_bin(dict(grid.vba_modules)),
            )


_CELL_REF_RE = re.compile(r"^([A-Z]+)([0-9]+)$")

#: Namespaced names as expat reports them (``namespace_separator=" "``).
_C, _R, _T, _V, _COLOR = (f"{_NS} {t}" for t in ("c", "r", "t", "v", "color"))


def xlsx_to_grid(path: str) -> CellGrid:
    """Read a grid back from an .xlsx written by :func:`grid_to_xlsx`
    (inline strings/numbers, solid fills, rich runs, VBA modules from
    ``xl/vbaProject.bin``).

    The sheet is read in one streaming expat pass (:class:`_SheetReader`);
    no element tree is built for it.
    """
    ns = {"m": _NS}
    grid = CellGrid()
    with zipfile.ZipFile(path) as z:
        styles = ET.fromstring(z.read("xl/styles.xml"))
        fill_rgbs: list[str | None] = []
        for fill in styles.findall("m:fills/m:fill/m:patternFill", ns):
            fg = fill.find("m:fgColor", ns)
            fill_rgbs.append(fg.get("rgb") if fg is not None else None)
        xf_fill: list[str | None] = []
        for xf in styles.findall("m:cellXfs/m:xf", ns):
            fid = int(xf.get("fillId", "0"))
            xf_fill.append(fill_rgbs[fid] if fid < len(fill_rgbs) else None)

        reader = _SheetReader(grid, xf_fill)
        parser = expat.ParserCreate(namespace_separator=" ")
        parser.buffer_text = True
        parser.StartElementHandler = reader.start
        parser.EndElementHandler = reader.end
        parser.CharacterDataHandler = reader.chars
        parser.Parse(z.read("xl/worksheets/sheet1.xml"), True)
        if "xl/vbaProject.bin" in z.namelist():
            grid.vba_modules.update(
                read_vba_project_bin(z.read("xl/vbaProject.bin"))
            )
    return grid


class _SheetReader:
    """expat callbacks that fill a :class:`CellGrid` from ``sheet1.xml``.

    A ``<c>`` start places the cell and its fill; the text of its ``<v>``
    or ``<t>`` (inline string), or its ``<r>`` runs (rich text), is
    gathered until the ``<c>`` end writes the value.
    """

    def __init__(self, grid: CellGrid, xf_fill: list[str | None]) -> None:
        self.grid, self.xf_fill = grid, xf_fill
        #: (row, col, t attribute) of the open cell; None outside a cell
        self.cell: tuple[int, int, str | None] | None = None
        #: text of the open ``<t>``/``<v>``; None outside one
        self.text: str | None = None
        #: the open cell's ``<v>`` or plain ``<t>`` text
        self.value: str | None = None
        self.runs: list[tuple[str, str | None]] = []
        #: [text, colour] of the open ``<r>``; None outside a run
        self.run: list | None = None

    def start(self, name: str, attrs: dict[str, str]) -> None:
        if name == _C:
            m = _CELL_REF_RE.match(attrs.get("r", ""))
            if m is None:
                self.cell = None
                return
            r, c = int(m.group(2)), _letter_col(m.group(1))
            argb = self.xf_fill[int(attrs.get("s", "0"))]
            if argb:
                self.grid.fill(r, c, argb)
            self.cell = (r, c, attrs.get("t"))
            self.value = None
            self.runs = []
        elif name == _T or name == _V:
            self.text = ""
        elif name == _R:
            self.run = ["", None]
        elif name == _COLOR and self.run is not None:
            self.run[1] = attrs.get("rgb")

    def chars(self, data: str) -> None:
        if self.text is not None:
            self.text += data

    def end(self, name: str) -> None:
        if name == _T or name == _V:
            if self.run is not None:
                self.run[0] = self.text
            else:
                self.value = self.text
            self.text = None
        elif name == _R:
            self.runs.append(tuple(self.run))
            self.run = None
        elif name == _C and self.cell is not None:
            r, c, kind = self.cell
            v = self.value
            if kind == "inlineStr":
                if self.runs:
                    self.grid.set_rich(r, c, self.runs)
                else:
                    self.grid.set(r, c, v or "")
            elif kind == "b":
                self.grid.set(r, c, v == "1")
            elif v is not None:
                f = float(v)
                self.grid.set(r, c, int(f) if f.is_integer() and "." not in v and "e" not in v.lower() else f)
            self.cell = None
