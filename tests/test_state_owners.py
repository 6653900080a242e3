"""One owner for call-spanning state (no Spark needed).

Default persist and truncator slots live behind
``operators.iterative.shared_slot``; build-once artifact dirs live
behind ``sources.registry.built_dir``. This census scans the package
source so a new module-global slot, dir map or ``global`` statement
elsewhere fails here instead of growing its own lifetime rule.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "etl_pipeline_excel_sql__spark"
SLOT_OWNER = PKG / "operators" / "iterative.py"
DIR_OWNER = PKG / "sources" / "registry.py"
SLOT_TYPES = {"SignatureCache", "LineageTruncator"}


def _modules():
    paths = sorted(PKG.rglob("*.py"))
    assert SLOT_OWNER in paths and DIR_OWNER in paths
    return [(p, ast.parse(p.read_text(), str(p))) for p in paths]


def _where(path: Path, node: ast.AST) -> str:
    return f"{path.relative_to(PKG.parent)}:{node.lineno}"


def _is_globals_call(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == "globals"
    )


def _module_assignments(tree: ast.Module):
    """(target names, value) of every module-level assignment."""
    for stmt in tree.body:
        if isinstance(stmt, ast.Assign):
            names = [t.id for t in stmt.targets if isinstance(t, ast.Name)]
            yield stmt, names, stmt.value
        elif isinstance(stmt, ast.AnnAssign) and isinstance(
            stmt.target, ast.Name
        ):
            yield stmt, [stmt.target.id], stmt.value


def test_no_global_statements_or_globals_writes_outside_slot_owner():
    found = []
    for path, tree in _modules():
        if path == SLOT_OWNER:
            continue
        for node in ast.walk(tree):
            if isinstance(node, ast.Global):
                found.append(f"{_where(path, node)} global {node.names}")
            targets = (
                node.targets
                if isinstance(node, ast.Assign)
                else [node.target]
                if isinstance(node, (ast.AugAssign, ast.AnnAssign))
                else []
            )
            for t in targets:
                if isinstance(t, ast.Subscript) and _is_globals_call(t.value):
                    found.append(f"{_where(path, node)} globals()[...] =")
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and _is_globals_call(node.func.value)
            ):
                found.append(f"{_where(path, node)} globals().{node.func.attr}")
    assert not found, found


def test_no_module_level_slot_instances_outside_slot_owner():
    found = []
    for path, tree in _modules():
        if path == SLOT_OWNER:
            continue
        for stmt, names, value in _module_assignments(tree):
            if value is None:
                continue
            for node in ast.walk(value):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Name)
                    and node.func.id in SLOT_TYPES
                ):
                    found.append(f"{_where(path, stmt)} {names}")
    assert not found, found


def test_no_module_level_dir_maps_outside_dir_owner():
    found = []
    for path, tree in _modules():
        if path == DIR_OWNER:
            continue
        for stmt, names, _ in _module_assignments(tree):
            found += [
                f"{_where(path, stmt)} {n}" for n in names if n.endswith("_DIRS")
            ]
    assert not found, found


def test_shared_slot_makes_one_slot_per_session_under_contention():
    """Sixteen threads asking for one new name at once get ONE slot; a
    second session gets its own. ``session`` is any object: the accessor
    only compares identity. The slow factory widens the check-then-act
    window a missing lock would lose."""
    import sys
    import threading
    import time

    from etl_pipeline_excel_sql__spark.operators.iterative import shared_slot

    made = []

    def factory():
        time.sleep(0.01)
        made.append(object())
        return made[-1]

    session = object()
    got = []
    start = threading.Barrier(16, timeout=10)

    def worker():
        start.wait()
        got.append(shared_slot(session, "test.contended", factory))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(made) == 1 and len(got) == 16
    assert all(slot is made[0] for slot in got)
    other = shared_slot(object(), "test.contended", factory)
    assert other is made[1]
