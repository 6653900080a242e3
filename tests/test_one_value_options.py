"""Every on/off option in the package is used both ways (no Spark needed).

A keyword option with a ``True``/``False`` default selects between two
code paths. When every caller outside ``tests/`` passes the same value,
the other path runs only in tests or nowhere, and the option should be a
constant. The census resolves calls by function name across the package,
``tools/``, ``perfbench/``, ``bench.py`` and ``__spark_entry__.py``:

* a call that omits the option passes its default;
* a call that forwards a same-named parameter of its enclosing function
  passes whatever values that function receives;
* any other non-literal argument, ``*args`` or ``**kwargs`` counts as
  both values.

A second rule: a ``LineageTruncator`` that is constructed and
``.truncate``d in one expression has no prior cut to retire, so the
call is a plain ``localCheckpoint(eager=True)``.
"""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "etl_pipeline_excel_sql__spark"
FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)
BOTH = frozenset({True, False})

#: Options that keep one value in use, with the reason they stay.
KEPT = {
    "pagerank_integer.truncate_lineage": (
        "plan-test seam: tests build the untruncated plan to count hints"
    ),
    "download_pipeline.inject_vba": (
        "perfbench passes it explicitly, and perfbench's calls are fixed"
    ),
}


def _caller_sources() -> list[Path]:
    paths = sorted(PKG.rglob("*.py"))
    for d in ("tools", "perfbench"):
        paths += sorted((ROOT / d).rglob("*.py"))
    return paths + [ROOT / "bench.py", ROOT / "__spark_entry__.py"]


def _trees(paths):
    return [(p, ast.parse(p.read_text(), str(p))) for p in paths]


def _bool_options(trees):
    """(function name, option) → (position or None, default) for every
    bool-literal-defaulted parameter of a package function."""
    opts = {}
    for path, tree in trees:
        if not path.is_relative_to(PKG):
            continue
        for fn in ast.walk(tree):
            if not isinstance(fn, FUNCS):
                continue
            a = fn.args
            pos = a.posonlyargs + a.args
            skip = 1 if pos and pos[0].arg in ("self", "cls") else 0
            pairs = list(zip(pos[len(pos) - len(a.defaults):], a.defaults))
            pairs += [(k, d) for k, d in zip(a.kwonlyargs, a.kw_defaults) if d]
            for arg, d in pairs:
                if isinstance(d, ast.Constant) and isinstance(d.value, bool):
                    i = pos.index(arg) - skip if arg in pos else None
                    opts[(fn.name, arg.arg)] = (i, d.value)
    return opts


def _calls(trees):
    """Every call with its enclosing function's name and parameters."""
    out = []

    def visit(node, encl, params):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name:
                out.append((name, node, params, encl))
        if isinstance(node, FUNCS):
            a = node.args
            encl = node.name
            params = {x.arg for x in a.posonlyargs + a.args + a.kwonlyargs}
        for child in ast.iter_child_nodes(node):
            visit(child, encl, params)

    for _, tree in trees:
        visit(tree, None, frozenset())
    return out


def _census() -> dict[str, set]:
    """``"function.option"`` → the values its non-test callers pass."""
    trees = _trees(_caller_sources())
    opts = _bool_options(trees)
    by_name = defaultdict(list)
    for name, call, params, encl in _calls(trees):
        by_name[name].append((call, params, encl))

    values: dict[tuple, set] = {k: set() for k in opts}
    forwards = defaultdict(set)  # (fn, opt) → enclosing (fn, opt) it forwards
    for (fn, opt), (pos, default) in opts.items():
        for call, params, encl in by_name.get(fn, []):
            kw = {k.arg: k.value for k in call.keywords}
            if None in kw or any(isinstance(a, ast.Starred) for a in call.args):
                values[(fn, opt)] |= BOTH
                continue
            if opt in kw:
                expr = kw[opt]
            elif pos is not None and pos < len(call.args):
                expr = call.args[pos]
            else:
                values[(fn, opt)].add(default)
                continue
            if isinstance(expr, ast.Constant) and isinstance(expr.value, bool):
                values[(fn, opt)].add(expr.value)
            elif isinstance(expr, ast.Name) and expr.id in params:
                forwards[(fn, opt)].add((encl, expr.id))
            else:
                values[(fn, opt)] |= BOTH
    changed = True
    while changed:
        changed = False
        for key, srcs in forwards.items():
            for src in srcs:
                extra = values.get(src, BOTH) - values[key]
                if extra:
                    values[key] |= extra
                    changed = True
    return {
        f"{fn}.{opt}": vals
        for (fn, opt), vals in values.items()
        if by_name.get(fn)
    }


def test_every_bool_option_is_passed_both_ways():
    census = _census()
    one_value = sorted(k for k, v in census.items() if len(v) < 2)
    # KEPT entries must still be found: this also shows the census
    # resolves calls at all
    assert set(KEPT) <= set(one_value), sorted(set(KEPT) - set(one_value))
    flipped_by_none = [k for k in one_value if k not in KEPT]
    assert not flipped_by_none, flipped_by_none


def test_no_one_shot_lineage_truncator():
    sites = []
    for path, tree in _trees(_caller_sources()):
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and node.attr == "truncate"
                and isinstance(node.value, ast.Call)
                and getattr(node.value.func, "id", None) == "LineageTruncator"
            ):
                sites.append(f"{path.relative_to(ROOT)}:{node.lineno}")
    assert not sites, sites
