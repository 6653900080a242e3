"""Every top-level definition in the package has a caller (no Spark needed).

A top-level function or class counts as reached when some ``Name``,
``Attribute`` or import alias in the package, ``tests/``, ``tools/``,
``perfbench/``, ``bench.py`` or ``__spark_entry__.py`` spells its name
outside the definition itself. The rule is by name only, so it is
generous (any same-named attribute counts) and never flags a live
definition; what it does flag has no caller anywhere and should go.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "etl_pipeline_excel_sql__spark"
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _sources() -> list[Path]:
    paths = sorted(PKG.rglob("*.py"))
    for d in ("tests", "tools", "perfbench"):
        paths += sorted((ROOT / d).rglob("*.py"))
    return paths + [ROOT / "bench.py", ROOT / "__spark_entry__.py"]


def _names(node: ast.AST):
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name.rsplit(".", 1)[-1]
            if n.asname:
                yield n.asname


def test_every_top_level_definition_has_a_reference():
    seen: Counter[str] = Counter()
    defs = []
    for path in _sources():
        for stmt in ast.parse(path.read_text(), str(path)).body:
            names = Counter(_names(stmt))
            seen.update(names)
            if isinstance(stmt, DEFS) and path.is_relative_to(PKG):
                defs.append((path, stmt, names[stmt.name]))
    assert len(defs) > 500
    dead = [
        f"{path.relative_to(ROOT)}:{stmt.lineno} {stmt.name}"
        for path, stmt, own in defs
        if seen[stmt.name] == own
    ]
    assert not dead, dead
