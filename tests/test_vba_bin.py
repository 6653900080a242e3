"""Tests for the [MS-CFB]/[MS-OVBA] vbaProject.bin builder (K4 closure).

Conformance is demonstrated by round-trip through the SPEC-DRIVEN readers
(cfb.read_cfb walks FAT/miniFAT/directory like a foreign reader;
vba_bin.read_vba_project_bin walks dir-stream MODULE records), plus
hand-built spec vectors for the compression container. Real-Excel
validation is impossible in this container — documented in the module.
"""

from __future__ import annotations

import struct
import zipfile

import pytest

from etl_pipeline_excel_sql__spark.sinks.cfb import CfbWriter, read_cfb
from etl_pipeline_excel_sql__spark.sinks.excel_writer import (
    CellGrid,
    inject_vba_guard,
    vba_paste_guard_code,
)
from etl_pipeline_excel_sql__spark.sinks.vba_bin import (
    build_vba_project_bin,
    compress,
    decompress,
    read_vba_project_bin,
)
from etl_pipeline_excel_sql__spark.sinks.xlsx import grid_to_xlsx, xlsx_to_grid


def test_compression_round_trip_sizes():
    for payload in (
        b"",
        b"a",
        b"hello world " * 10,
        bytes(range(256)) * 64,  # 16 KiB incompressible-ish
        b"x" * 3600,  # exactly one writer chunk
        b"y" * 3601,  # chunk boundary + 1
    ):
        assert decompress(compress(payload)) == payload


def test_decompress_copy_token_spec_vector():
    """Hand-built chunk: literals 'a','b' then copy(offset=2, len=3).
    At filled=2 the offset field is 4 bits wide -> token 0x1000."""
    body = bytes([0b00000100, ord("a"), ord("b")]) + struct.pack("<H", 1 << 12)
    hdr = struct.pack("<H", (len(body) + 2 - 3) | (0b011 << 12) | (1 << 15))
    assert decompress(b"\x01" + hdr + body) == b"ababa"


def test_decompress_raw_chunk():
    """CompressedFlag=0 chunk: 4096 raw bytes appended verbatim."""
    raw = bytes((i * 7) % 256 for i in range(4096))
    hdr = struct.pack("<H", (4098 - 3) | (0b011 << 12))
    assert decompress(b"\x01" + hdr + raw) == raw


def test_cfb_round_trip_nested_and_big_streams():
    w = CfbWriter()
    big = b"B" * 9000  # > 4096: regular sectors
    w.add_stream(("PROJECT",), b"tiny")
    w.add_stream(("VBA", "dir"), b"d" * 100)
    w.add_stream(("VBA", "Module1"), big)
    w.add_stream(("VBA", "empty"), b"")
    blob = w.tobytes()
    assert len(blob) % 512 == 0
    back = read_cfb(blob)
    assert back == {
        ("PROJECT",): b"tiny",
        ("VBA", "dir"): b"d" * 100,
        ("VBA", "Module1"): big,
        ("VBA", "empty"): b"",
    }


def test_cfb_rejects_duplicates_and_long_names():
    w = CfbWriter()
    w.add_stream(("a",), b"1")
    with pytest.raises(ValueError):
        w.add_stream(("a",), b"2")
    with pytest.raises(ValueError):
        w.add_stream(("x" * 40,), b"")


def test_vba_project_bin_round_trip():
    modules = {
        "Sheet1": vba_paste_guard_code(),
        "Module1": "Attribute VB_Name = \"Module1\"\r\nSub A()\r\nEnd Sub\r\n"
        * 200,  # forces multi-chunk compression
    }
    blob = build_vba_project_bin(modules)
    streams = read_cfb(blob)
    # required [MS-OVBA] 2.2 project structure
    for path in (
        ("PROJECT",),
        ("PROJECTwm",),
        ("VBA", "_VBA_PROJECT"),
        ("VBA", "dir"),
        ("VBA", "Sheet1"),
        ("VBA", "Module1"),
    ):
        assert path in streams, path
    assert streams[("VBA", "_VBA_PROJECT")][:2] == b"\xcc\x61"
    proj = streams[("PROJECT",)].decode("cp1252")
    assert "Module=Module1" in proj and "Module=Sheet1" in proj
    assert read_vba_project_bin(blob) == modules


def test_xlsm_opc_layout(tmp_path):
    g = CellGrid()
    g.cells[(1, 1)] = "hello"
    inject_vba_guard(g)
    path = str(tmp_path / "out.xlsm")
    grid_to_xlsx(g, path)
    with zipfile.ZipFile(path) as z:
        names = set(z.namelist())
        assert "xl/vbaProject.bin" in names
        ct = z.read("[Content_Types].xml").decode()
        assert "macroEnabled.main+xml" in ct
        assert "vnd.ms-office.vbaProject" in ct
        rels = z.read("xl/_rels/workbook.xml.rels").decode()
        assert "vbaProject.bin" in rels and "relationships/vbaProject" in rels
        bin_modules = read_vba_project_bin(z.read("xl/vbaProject.bin"))
    assert bin_modules == dict(g.vba_modules)
    # the normal reader returns the same modules from the .bin part
    assert xlsx_to_grid(path).vba_modules == g.vba_modules


def test_macros_stored_once_in_vba_project_bin(tmp_path):
    """The .bin part is the only copy of the macros: a cp1252 non-ASCII
    module name and a source with mixed newlines read back exactly, and
    no plain-text source part is written beside it."""
    g = CellGrid()
    g.cells[(1, 1)] = "hola"
    inject_vba_guard(g)
    g.vba_modules["Módulo2"] = (
        "Attribute VB_Name = \"Módulo2\"\r\n"
        "Sub Año()\n  MsgBox \"€ señal\"\r\nEnd Sub\n"
    )
    path = str(tmp_path / "out.xlsm")
    grid_to_xlsx(g, path)
    with zipfile.ZipFile(path) as z:
        names = z.namelist()
        ct = z.read("[Content_Types].xml").decode()
    assert "xl/vbaProject.bin" in names
    assert not [n for n in names if n.startswith("xl/vbaSource/")]
    assert 'Extension="vba"' not in ct
    assert xlsx_to_grid(path).vba_modules == g.vba_modules


def test_macro_free_workbook_stays_plain(tmp_path):
    g = CellGrid()
    g.cells[(1, 1)] = 42
    path = str(tmp_path / "plain.xlsx")
    grid_to_xlsx(g, path)
    with zipfile.ZipFile(path) as z:
        assert "xl/vbaProject.bin" not in z.namelist()
        assert "macroEnabled" not in z.read("[Content_Types].xml").decode()
