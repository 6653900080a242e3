"""Every top-level definition in the package has a caller (no Spark needed).

A top-level function or class counts as reached when some ``Name``,
``Attribute`` or import alias in the package, ``tests/``, ``tools/``,
``perfbench/``, ``bench.py`` or ``__spark_entry__.py`` spells its name
outside the definition itself. The rule is by name only, so it is
generous (any same-named attribute counts) and never flags a live
definition; what it does flag has no caller anywhere and should go.

A stricter census counts only the names outside ``tests/``: a definition
that only tests reach is surface no program uses, and stays only when
``TEST_ONLY`` lists it with its reason.

A third census reads each package module's imports: a name an import
binds is loaded somewhere in that module, or in a string annotation
there. ``__init__.py`` re-exports are exempt.
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


def _unreached(tests: bool) -> list[tuple[str, str]]:
    """(name, "path:line name") of every top-level package definition
    whose name appears nowhere beyond its own body, counting the names
    in ``tests/`` only when ``tests`` is true."""
    seen: Counter[str] = Counter()
    defs = []
    for path in _sources():
        counted = tests or not path.is_relative_to(ROOT / "tests")
        for stmt in ast.parse(path.read_text(), str(path)).body:
            names = Counter(_names(stmt))
            if counted:
                seen.update(names)
            if isinstance(stmt, DEFS) and path.is_relative_to(PKG):
                defs.append((path, stmt, names[stmt.name]))
    assert len(defs) > 500
    return [
        (stmt.name, f"{path.relative_to(ROOT)}:{stmt.lineno} {stmt.name}")
        for path, stmt, own in defs
        if seen[stmt.name] == own
    ]


def test_every_top_level_definition_has_a_reference():
    dead = [where for _, where in _unreached(tests=True)]
    assert not dead, dead


#: Package definitions whose only callers are tests, with the reason each
#: stays. Anything else that only tests reach is surface no program uses.
TEST_ONLY = {
    "_rho_int": (
        "the Python reference test_rho_spark_matches_python compares "
        "Spark's rho against"
    ),
    "output_filename": "SURVEY S4: the reference's dated output file name",
    "run_with_state_metrics": (
        "reads the state of the registry's streaming queries, which "
        "test_streaming_state.py bounds"
    ),
}


def test_every_definition_has_a_caller_outside_tests():
    """A top-level package definition counts as reached only when its name
    appears outside ``tests/`` beyond its own body; ``TEST_ONLY`` lists
    the exceptions, and a stale entry fails too."""
    test_only = _unreached(tests=False)
    assert sorted(n for n, _ in test_only) == sorted(TEST_ONLY), sorted(
        where for _, where in test_only
    )


def _annotation_names(tree: ast.AST):
    """Names read inside string annotations (``x: "GroupState"``)."""
    for node in ast.walk(tree):
        anns = []
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            a = node.args
            anns = [
                x.annotation
                for x in a.posonlyargs + a.args + a.kwonlyargs
                + [a.vararg, a.kwarg]
                if x
            ] + [node.returns]
        elif isinstance(node, ast.AnnAssign):
            anns = [node.annotation]
        for ann in filter(None, anns):
            for c in ast.walk(ann):
                if isinstance(c, ast.Constant) and isinstance(c.value, str):
                    for n in ast.walk(ast.parse(c.value, mode="eval")):
                        if isinstance(n, ast.Name):
                            yield n.id


def test_every_import_is_used():
    unused = []
    for path in sorted(PKG.rglob("*.py")):
        if path.name == "__init__.py":
            continue
        tree = ast.parse(path.read_text(), str(path))
        bound = {}
        for node in ast.walk(tree):
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                for al in node.names:
                    name = al.asname or al.name.split(".")[0]
                    if name != "annotations":  # from __future__
                        bound[name] = node.lineno
        used = {
            n.id
            for n in ast.walk(tree)
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
        }
        used.update(_annotation_names(tree))
        unused += [
            f"{path.relative_to(ROOT)}:{line} {name}"
            for name, line in bound.items()
            if name not in used
        ]
    assert not unused, unused
