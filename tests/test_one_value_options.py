"""Every option in the package is set by some caller (no Spark needed).

A keyword option with a ``True``/``False`` default selects between two
code paths. When every caller outside ``tests/`` passes the same value,
the other path runs only in tests or nowhere, and the option should be a
constant. More generally, a keyword option of any default that no caller
sets, tests included, is a constant spelled as a parameter. The census
resolves calls by function name across the package, ``tools/``,
``perfbench/``, ``bench.py`` and ``__spark_entry__.py`` (and ``tests/``
for the any-default rule):

* a call that omits the option passes its default;
* a call that forwards a same-named parameter of its enclosing function
  passes whatever values that function receives;
* a literal argument passes its value, so a literal equal to the default
  sets nothing;
* a named constant passes its value: an UPPER_CASE name assigned once at
  module level in a package module, read directly or through
  ``from <package module> import NAME [as ALIAS]``, or ``+ - * / // %``
  arithmetic over such names and literals. Defaults resolve the same
  way;
* any other argument counts as every value: a name that a parameter,
  local assignment, loop target or import from outside the package
  binds, any other expression, ``*args`` or ``**kwargs``.

The same resolver checks more rules. A keyword option that every
caller outside ``tests/`` sets to one value other than its default is
a constant spelled as a parameter with the wrong default: the value
becomes the default (or a constant), unless ``KEPT_NON_DEFAULT`` lists
the option with its reason. A required parameter of a function called
outside ``tests/`` that every call, tests included, passes one value is
a constant too. A keyword option that only tests set is listed with its
reason, so a new one is a decision. The any-default and the
required-parameter rules cover private (``_``-prefixed) helpers as
well; since calls resolve by bare name, no private function name is
defined in two package modules.

Two rules outside the census: an UPPER_CASE name is assigned at module
level in one package module only, so a constant is said once; and a
``LineageTruncator`` that cuts once has no prior cut to retire, so the
cut is a plain ``localCheckpoint``.
"""

from __future__ import annotations

import ast
import operator
import re
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "etl_pipeline_excel_sql__spark"
FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)
ANY = "<any value>"

#: Boolean options that keep one value in use, with the reason they stay.
KEPT = {
    "pagerank_integer.truncate_lineage": (
        "plan-test seam: tests build the untruncated plan to count hints"
    ),
}

_PERFBENCH = "perfbench passes it explicitly, and perfbench's calls are fixed"

#: Options every caller outside ``tests/`` sets to one value other than
#: the default, with the reason they stay.
KEPT_NON_DEFAULT = {
    "compare_pipeline.old_order_col": _PERFBENCH,
    "download_pipeline.inject_vba": _PERFBENCH,
}

_CALLER_SLOT = (
    "the caller-owned slot of operators/iterative.py's lifetime rule; "
    "omitted, the call uses the session's shared_slot default"
)

_TEST_SEAM = "a test drives a path the registry's fixed inputs never reach"
_SMALL_SPANS = "tests replay a naive transcription on short texts at k = 2-3"
_MIX_REFERENCE = (
    "tests replay a Python reference on hand-built domains and weights"
)
_MARGIN_REFERENCE = (
    "tests replay a Python reference on hand-built vectors (4 nonzero "
    "components) with every pair a candidate"
)

#: Keyword options that only tests set, with the reason they stay.
SET_ONLY_BY_TESTS = {
    "bpe_train_merges_from_words.stats": (
        "out-parameter: tests read the driver round count to pin job scaling"
    ),
    "cell_centroids.cell_col": "ivf_topk forwards its tests' label cells",
    "contaminated_spans.k": _SMALL_SPANS,
    "connected_components.propagate_rounds": _TEST_SEAM,
    "domain_mixture_rates.weights": _MIX_REFERENCE,
    "domain_mixture_sample.weights": _MIX_REFERENCE,
    "download_pipeline.skip_cols": (
        "reference sheet layout; tests pin a different skip list"
    ),
    "duplicated_spans.k": _SMALL_SPANS,
    "get_session.master": "deployment setting; tests build a small session",
    "get_session.shuffle_partitions": (
        "deployment setting; tests build a small session"
    ),
    "ivf_topk.cell_col": "tests probe the label cells of hand-built vectors",
    "ivf_topk.k": _TEST_SEAM,
    "ivf_topk.nprobe": _TEST_SEAM,
    "kcore_membership.max_iters": "tests pin the non-convergence error",
    "kmeans_train_assign.truncator": _CALLER_SLOT,
    "label_propagation.rounds": (
        "tests pin single sweeps and convergence on hand-built graphs"
    ),
    "margin_topk.candidates": _MARGIN_REFERENCE,
    "margin_topk.k": _MARGIN_REFERENCE,
    "margin_topk.k_nn": _MARGIN_REFERENCE,
    "minhash_lsh_pairs.cache": _CALLER_SLOT,
    "minhash_lsh_pairs.threshold": _TEST_SEAM,
    "ngram_containment_pairs.threshold": _TEST_SEAM,
    "ngram_jaccard_pairs.threshold": _TEST_SEAM,
    "pack_lm_sequences.range_size": (
        "tests force several prefix-sum ranges on a small corpus"
    ),
    "pagerank_integer.iters": "tests pin one hand-computed iteration",
    "pagerank_integer.truncate_lineage": KEPT["pagerank_integer.truncate_lineage"],
    "pq_adc_topk.k": (
        "tests rank every code to compare ADC distances with IVF-PQ's"
    ),
    "reconcile_schema.manual_overrides": (
        "the reference Upload's user rename map; tests pin its contract"
    ),
    "run_with_state_metrics.output_mode": _TEST_SEAM,
    "running_user_totals_stream.state_timeout_ms": (
        "tests pin state expiry, which the bounded registry drain never hits"
    ),
    "salted_join.how": _TEST_SEAM,
    "sample_frames.every_ms": "tests sample a short payload at 4 ms ticks",
    "sq8_rerank_topk.candidates": (
        "tests widen the candidate pass to all pairs to equal brute force"
    ),
    "sq8_rerank_topk.k": "tests compare against a brute-force top-5",
    "srp_candidate_stats.block_col": _TEST_SEAM,
    "trim_duplicated_spans.k": _SMALL_SPANS,
    "triangle_participation.truncator": _CALLER_SLOT,
    "upload_pipeline.order_tiebreak": (
        "the reference Upload's row order; tests pin the tie-break"
    ),
    "write_positional.col_start": (
        "reference sheet layout; tests place a grid elsewhere"
    ),
    "write_positional.row_start": (
        "reference sheet layout; tests place a grid elsewhere"
    ),
    "write_positional.skip_cols": (
        "reference sheet layout; tests pin a different skip list"
    ),
    "zorder_key.bits": "tests pin the bit-width bounds",
}

#: Required parameters that every caller passes one value, with the
#: reason they stay.
KEPT_REQUIRED = {
    "scd2_upsert.load_date": "per-run input data (the load date), not a setting",
}


def _caller_sources(tests: bool = False) -> list[Path]:
    paths = sorted(PKG.rglob("*.py"))
    for d in ("tools", "perfbench") + (("tests",) if tests else ()):
        paths += sorted((ROOT / d).rglob("*.py"))
    return paths + [ROOT / "bench.py", ROOT / "__spark_entry__.py"]


def _trees(paths):
    return [(p, ast.parse(p.read_text(), str(p))) for p in paths]


_UPPER = re.compile(r"_?[A-Z][A-Z0-9_]*")
SCOPES = FUNCS + (ast.Lambda, ast.ClassDef)
_OPS = {
    ast.Add: operator.add,
    ast.Sub: operator.sub,
    ast.Mult: operator.mul,
    ast.FloorDiv: operator.floordiv,
    ast.Div: operator.truediv,
    ast.Mod: operator.mod,
    ast.USub: operator.neg,
    ast.UAdd: operator.pos,
}


def _module(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _bindings(scope) -> dict[str, list]:
    """Name → what binds it directly in ``scope``: a ``NAME = value``
    statement, an ``(ImportFrom, alias)`` pair, or any other binding node
    (parameter, loop or comprehension target, nested definition, ...).
    Names bound only inside nested scopes are not included."""
    out = defaultdict(list)
    if isinstance(scope, FUNCS + (ast.Lambda,)):
        a = scope.args
        for x in a.posonlyargs + a.args + a.kwonlyargs + [a.vararg, a.kwarg]:
            if x:
                out[x.arg].append(x)
        stack = list(scope.body if isinstance(scope, FUNCS) else [scope.body])
    else:
        stack = list(scope.body)
    while stack:
        node = stack.pop()
        if isinstance(node, SCOPES):
            if not isinstance(node, ast.Lambda):
                out[node.name].append(node)
            continue
        targets = ()
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, ast.AnnAssign) and node.value:
            targets = [node.target]
        if len(targets) == 1 and isinstance(targets[0], ast.Name):
            out[targets[0].id].append(node)
            stack.append(node.value)
            continue
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Load):
            out[node.id].append(node)
        elif isinstance(node, ast.ImportFrom):
            for al in node.names:
                out[al.asname or al.name].append((node, al))
        elif isinstance(node, ast.Import):
            for al in node.names:
                out[(al.asname or al.name).split(".")[0]].append(node)
        elif isinstance(node, (ast.Global, ast.Nonlocal)):
            for n in node.names:
                out[n].append(node)
        elif isinstance(node, ast.ExceptHandler) and node.name:
            out[node.name].append(node)
        stack.extend(ast.iter_child_nodes(node))
    return out


class _Resolver:
    """Resolves an argument expression to its value where that value is
    fixed by the source: a literal, or an UPPER_CASE constant assigned once
    at module level in a package module and reached by name, directly or
    through ``from <package module> import NAME [as ALIAS]``. A name that
    any enclosing function binds otherwise (parameter, local assignment,
    loop target, import from outside the package) is any value."""

    def __init__(self, trees):
        self.modules = {}
        self.globals = defaultdict(set)  # module → ``global`` names
        for path, tree in trees:
            if path.is_relative_to(PKG):
                mod = _module(path)
                self.modules[mod] = (tree, path.name == "__init__.py")
                for node in ast.walk(tree):
                    if isinstance(node, ast.Global):
                        self.globals[mod].update(node.names)
        self._bindings = {}

    def bindings(self, scope):
        key = id(scope)
        if key not in self._bindings:
            self._bindings[key] = _bindings(scope)
        return self._bindings[key]

    def _source(self, imp, module):
        if not imp.level:
            return imp.module
        _, is_pkg = self.modules.get(module, (None, False))
        parts = module.split(".")
        base = parts if is_pkg else parts[:-1]
        base = base[: len(base) - (imp.level - 1)]
        return ".".join(base + ([imp.module] if imp.module else []))

    def constant(self, module, name, seen=()):
        """The value of ``module``'s module-level constant ``name``."""
        if module not in self.modules or (module, name) in seen:
            raise LookupError(name)
        tree = self.modules[module][0]
        return self._lookup(name, (tree,), module, seen + ((module, name),))

    def _lookup(self, name, chain, module, seen):
        for scope in reversed(chain):
            found = self.bindings(scope).get(name)
            if not found:
                continue
            if len(found) == 1 and name not in self.globals.get(module, ()):
                node = found[0]
                if isinstance(node, tuple):
                    imp, al = node
                    src = self._source(imp, module)
                    if (
                        src
                        and src.split(".")[0] == PKG.name
                        and _UPPER.fullmatch(al.name)
                    ):
                        return self.constant(src, al.name, seen)
                elif (
                    isinstance(scope, ast.Module)
                    and isinstance(node, (ast.Assign, ast.AnnAssign))
                    and _UPPER.fullmatch(name)
                    and module in self.modules
                ):
                    return self._eval(node.value, chain[:1], module, seen)
            raise LookupError(name)
        raise LookupError(name)

    def _eval(self, expr, chain, module, seen):
        def ev(e):
            return self._eval(e, chain, module, seen)

        if isinstance(expr, ast.Name):
            return self._lookup(expr.id, chain, module, seen)
        if isinstance(expr, (ast.Tuple, ast.List, ast.Set)):
            kind = {ast.Tuple: tuple, ast.List: list, ast.Set: set}
            return kind[type(expr)](ev(e) for e in expr.elts)
        if isinstance(expr, ast.Dict) and None not in expr.keys:
            return {ev(k): ev(v) for k, v in zip(expr.keys, expr.values)}
        if isinstance(expr, ast.BinOp) and type(expr.op) in _OPS:
            return _OPS[type(expr.op)](ev(expr.left), ev(expr.right))
        if isinstance(expr, ast.UnaryOp) and type(expr.op) in _OPS:
            return _OPS[type(expr.op)](ev(expr.operand))
        return ast.literal_eval(expr)

    def value(self, expr, chain, module, fallback=ANY):
        """``repr`` of ``expr``'s value where the source fixes it, else
        ``fallback``."""
        try:
            return repr(self._eval(expr, chain, module, ()))
        except (
            ValueError, TypeError, SyntaxError, LookupError,
            ArithmeticError, MemoryError, RecursionError,
        ):
            return fallback


def _walk(trees):
    """Every function definition, with the scopes around it, and every
    call, with its enclosing function's name and parameters and the
    scopes around it."""
    defs, calls = [], []

    def visit(node, chain, module, encl, params):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name:
                calls.append((name, node, params, encl, chain, module))
        if isinstance(node, FUNCS):
            defs.append((node, chain, module))
            a = node.args
            encl = node.name
            params = {x.arg for x in a.posonlyargs + a.args + a.kwonlyargs}
        if isinstance(node, SCOPES):
            chain = chain + (node,)
        for child in ast.iter_child_nodes(node):
            visit(child, chain, module, encl, params)

    for path, tree in trees:
        visit(tree, (tree,), _module(path), None, frozenset())
    return defs, calls


def _options(defs, resolver, keep, required: bool = False):
    """(function name, option) → (position or None, default) for every
    defaulted parameter of a package function for which
    ``keep(function name, default)`` holds. With ``required``, the
    undefaulted parameters instead, each with ``ANY`` as its default, so
    a call that omits one counts as any value."""
    opts = {}
    for fn, chain, module in defs:
        if module not in resolver.modules:
            continue
        a = fn.args
        pos = a.posonlyargs + a.args
        skip = 1 if pos and pos[0].arg in ("self", "cls") else 0
        n_req = len(pos) - len(a.defaults)
        if required:
            pairs = [(x, None) for x in pos[skip:n_req]]
            pairs += [
                (k, None) for k, d in zip(a.kwonlyargs, a.kw_defaults)
                if d is None
            ]
        else:
            pairs = list(zip(pos[n_req:], a.defaults))
            pairs += [(k, d) for k, d in zip(a.kwonlyargs, a.kw_defaults) if d]
        for arg, d in pairs:
            if keep(fn.name, d):
                i = pos.index(arg) - skip if arg in pos else None
                dflt = ANY if d is None else resolver.value(
                    d, chain, module, ast.dump(d)
                )
                opts[(fn.name, arg.arg)] = (i, dflt)
    return opts


def _census(
    keep, tests: bool = False, required: bool = False
) -> dict[str, tuple[str, set]]:
    """``"function.option"`` → (its default, the values its callers pass)."""
    trees = _trees(_caller_sources(tests))
    resolver = _Resolver(trees)
    defs, calls = _walk(trees)
    opts = _options(defs, resolver, keep, required)
    by_name = defaultdict(list)
    for name, call, params, encl, chain, module in calls:
        by_name[name].append((call, params, encl, chain, module))

    values: dict[tuple, set] = {k: set() for k in opts}
    forwards = defaultdict(set)  # (fn, opt) → enclosing (fn, opt) it forwards
    for (fn, opt), (pos, default) in opts.items():
        for call, params, encl, chain, module in by_name.get(fn, []):
            kw = {k.arg: k.value for k in call.keywords}
            if None in kw or any(isinstance(a, ast.Starred) for a in call.args):
                values[(fn, opt)].add(ANY)
                continue
            if opt in kw:
                expr = kw[opt]
            elif pos is not None and pos < len(call.args):
                expr = call.args[pos]
            else:
                values[(fn, opt)].add(default)
                continue
            if isinstance(expr, ast.Name) and expr.id in params:
                forwards[(fn, opt)].add((encl, expr.id))
            else:
                values[(fn, opt)].add(resolver.value(expr, chain, module))
    changed = True
    while changed:
        changed = False
        for key, srcs in forwards.items():
            for src in srcs:
                extra = values.get(src, {ANY}) - values[key]
                if extra:
                    values[key] |= extra
                    changed = True
    return {
        f"{fn}.{opt}": (opts[(fn, opt)][1], vals)
        for (fn, opt), vals in values.items()
        if by_name.get(fn)
    }


def _is_bool(name, default):
    return isinstance(default, ast.Constant) and isinstance(default.value, bool)


def _is_public(name, default):
    return not name.startswith("_")


def _is_any(name, default):
    return True


def test_every_bool_option_is_passed_both_ways():
    census = _census(_is_bool)
    one_value = sorted(
        k for k, (_, v) in census.items() if ANY not in v and len(v) < 2
    )
    # KEPT entries must still be found: this also shows the census
    # resolves calls at all
    assert set(KEPT) <= set(one_value), sorted(set(KEPT) - set(one_value))
    flipped_by_none = [
        k for k in one_value if k not in KEPT and k not in KEPT_NON_DEFAULT
    ]
    assert not flipped_by_none, flipped_by_none


def test_no_option_defaults_to_a_value_no_caller_passes():
    """A keyword option that every caller outside ``tests/`` sets to one
    value other than its default: that value is the one in use, and the
    default is a path only tests or nothing reach."""
    census = _census(_is_public)
    other = sorted(
        k for k, (d, v) in census.items()
        if ANY not in v and len(v) == 1 and d not in v
    )
    # a stale KEPT_NON_DEFAULT entry fails too
    assert other == sorted(KEPT_NON_DEFAULT), (len(other), other)


def test_every_keyword_option_is_set_by_some_caller():
    census = _census(_is_any, tests=True)
    unset = sorted(k for k, (d, v) in census.items() if not v - {d})
    assert not unset, (len(unset), unset)


def test_options_set_only_by_tests_are_listed():
    """An option that no caller outside ``tests/`` sets, but a test does,
    is either a contract a test pins or a path only a test reaches; each
    one carries its reason in ``SET_ONLY_BY_TESTS``."""
    outside = _census(_is_public)
    census = _census(_is_public, tests=True)
    only = sorted(
        k for k, (d, v) in census.items()
        if v - {d} and (k not in outside or not outside[k][1] - {d})
    )
    # a stale SET_ONLY_BY_TESTS entry fails too
    assert only == sorted(SET_ONLY_BY_TESTS), (len(only), only)


def test_every_required_parameter_takes_two_values():
    """A required parameter of a function called outside ``tests/`` that
    every call, tests included, passes one value is a constant."""
    outside = _census(_is_any, required=True)
    census = _census(_is_any, tests=True, required=True)
    one_value = sorted(
        k for k, (_, v) in census.items()
        if k in outside and ANY not in v and len(v) == 1
    )
    # a stale KEPT_REQUIRED entry fails too
    assert one_value == sorted(KEPT_REQUIRED), (len(one_value), one_value)


_SCOPING_DEFS = """
SIG = 12
"""

_SCOPING_USES = """
from etl_pipeline_excel_sql__spark.scoping_defs import SIG as ALIAS
from os import SEEK_END

ROUNDS = 3
LIMIT = 5
SHADOWED = 4
STEP = 2


def caller(LIMIT):
    SHADOWED = LIMIT + 1
    for STEP in range(2):
        probe(
            defined=ROUNDS,
            aliased=ALIAS,
            parameter=LIMIT,
            shadowed=SHADOWED,
            loop=STEP,
            outside=SEEK_END,
        )
"""


def test_resolver_scoping():
    """Module constants and aliased package imports resolve; a name that
    a parameter, a local assignment or a loop binds, or that comes from
    outside the package, stays any value even where a module constant
    of the same name exists."""
    trees = [
        (PKG / "scoping_defs.py", ast.parse(_SCOPING_DEFS)),
        (PKG / "scoping_uses.py", ast.parse(_SCOPING_USES)),
    ]
    resolver = _Resolver(trees)
    _, calls = _walk(trees)
    ((call, chain, module),) = [
        (c, ch, m) for name, c, _, _, ch, m in calls if name == "probe"
    ]
    got = {
        k.arg: resolver.value(k.value, chain, module) for k in call.keywords
    }
    assert got == {
        "defined": "3",
        "aliased": "12",
        "parameter": ANY,
        "shadowed": ANY,
        "loop": ANY,
        "outside": ANY,
    }


#: Module-level names every registry module defines for itself.
PER_MODULE = {"QUERIES", "ORACLE"}


def test_no_private_function_is_defined_in_two_modules():
    """The census resolves a call by the bare function name, so a private
    helper name defined (outside a class) in two package modules would
    merge two helpers' callers into one census entry."""
    where = defaultdict(set)

    def visit(node, path):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, FUNCS) and child.name.startswith("_"):
                where[child.name].add(str(path.relative_to(PKG)))
            if not isinstance(child, ast.ClassDef):
                visit(child, path)

    for path, tree in _trees(sorted(PKG.rglob("*.py"))):
        visit(tree, path)
    twice = {k: sorted(v) for k, v in where.items() if len(v) > 1}
    assert not twice, twice


def test_no_constant_is_defined_in_two_modules():
    """An UPPER_CASE name assigned at module level in two package modules
    is one constant said twice (or two constants that read as one)."""
    where = defaultdict(set)
    for path, tree in _trees(sorted(PKG.rglob("*.py"))):
        for node in tree.body:
            targets = getattr(node, "targets", None) or [
                getattr(node, "target", None)
            ]
            for t in targets:
                for n in ast.walk(t) if t else ():
                    if isinstance(n, ast.Name) and _UPPER.fullmatch(n.id):
                        where[n.id].add(str(path.relative_to(PKG)))
    twice = {
        k: sorted(v)
        for k, v in where.items()
        if len(v) > 1 and k not in PER_MODULE
    }
    assert not twice, twice


#: The environment variables the package may read: where it runs, not how
#: it computes.
ENV_SETTINGS = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_SF_DIR"}


def _is_environ(node) -> bool:
    return getattr(node, "attr", getattr(node, "id", None)) == "environ"


def test_every_environment_read_is_a_deployment_setting():
    """``os.environ[k]``, ``os.environ.get(k)``, ``k in os.environ`` and
    ``os.getenv(k)`` in the package name a literal ``ENV_SETTINGS`` key;
    any other use of the environment fails too."""
    bad = []
    for path, tree in _trees(sorted(PKG.rglob("*.py"))):
        where = path.relative_to(ROOT)
        seen = set()
        for node in ast.walk(tree):
            key = environ = None
            if isinstance(node, ast.Subscript) and _is_environ(node.value):
                environ, key = node.value, node.slice
            elif isinstance(node, ast.Compare) and any(
                _is_environ(c) for c in node.comparators
            ):
                environ, key = node.comparators[0], node.left
            elif isinstance(node, ast.Call):
                f = node.func
                if isinstance(f, ast.Attribute) and _is_environ(f.value):
                    environ = f.value
                elif getattr(f, "attr", getattr(f, "id", None)) == "getenv":
                    environ = f
                key = node.args[0] if environ and node.args else None
            if environ is None:
                continue
            seen.add(id(environ))
            name = key.value if isinstance(key, ast.Constant) else None
            if name not in ENV_SETTINGS:
                bad.append(f"{where}:{node.lineno}: {name!r}")
        bad += [
            f"{where}:{n.lineno}: unrecognised use of the environment"
            for n in ast.walk(tree)
            if _is_environ(n) and id(n) not in seen
        ]
    assert not bad, bad


def test_default_driver_memory_fits_the_host(monkeypatch):
    """Without ``SPARK_GRAFT_DRIVER_MEM`` the driver heap is 40% of
    physical memory, never above it and never above 32g; the variable
    wins when set."""
    import os

    from etl_pipeline_excel_sql__spark.session import default_driver_memory

    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    got = default_driver_memory()
    assert re.fullmatch(r"[1-9][0-9]*g", got), got
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert int(got[:-1]) * 2**30 <= phys and int(got[:-1]) <= 32, got
    pages = {"SC_PAGE_SIZE": 4096}
    monkeypatch.setattr(os, "sysconf", lambda k: pages[k])
    pages["SC_PHYS_PAGES"] = 16 * 2**30 // 4096
    assert default_driver_memory() == "6g"
    pages["SC_PHYS_PAGES"] = 2**40 // 4096
    assert default_driver_memory() == "32g"
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert default_driver_memory() == "3g"


#: Where a statement runs more than once per call of its function.
_REPEATS = (
    ast.For, ast.AsyncFor, ast.While,
    ast.ListComp, ast.SetComp, ast.DictComp, ast.GeneratorExp,
) + SCOPES


def _is_truncator(node) -> bool:
    return (
        isinstance(node, ast.Call)
        and getattr(node.func, "id", None) == "LineageTruncator"
    )


def _one_shot_truncators(fn) -> list[int]:
    """Lines where ``fn`` cuts through a name bound to
    ``LineageTruncator(...)`` whose ``.truncate``/``.truncate_with`` is
    called at one site, outside any loop, when the name is passed to no
    other call."""
    bound, passed, cuts = set(), set(), defaultdict(list)

    def visit(node, repeated):
        if isinstance(node, ast.Assign) and _is_truncator(node.value):
            bound.update(t.id for t in node.targets if isinstance(t, ast.Name))
        if isinstance(node, ast.Call):
            f = node.func
            if (
                isinstance(f, ast.Attribute)
                and f.attr in ("truncate", "truncate_with")
                and isinstance(f.value, ast.Name)
            ):
                cuts[f.value.id].append((node.lineno, repeated))
            passed.update(
                a.id
                for a in node.args + [k.value for k in node.keywords]
                if isinstance(a, ast.Name)
            )
        for child in ast.iter_child_nodes(node):
            visit(child, repeated or isinstance(child, _REPEATS))

    for stmt in fn.body:
        visit(stmt, isinstance(stmt, _REPEATS))
    return [
        cuts[name][0][0]
        for name in bound - passed
        if len(cuts[name]) == 1 and not cuts[name][0][1]
    ]


def test_no_one_shot_lineage_truncator():
    """A truncator that cuts once has no prior cut to retire: the cut is
    a plain ``localCheckpoint``. Two shapes: ``LineageTruncator(...)``
    cut in the same expression, and a name bound to one that is cut at
    a single site outside any loop and handed to no other call."""
    sites = set()
    for path, tree in _trees(_caller_sources()):
        where = path.relative_to(ROOT)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and node.attr in ("truncate", "truncate_with")
                and _is_truncator(node.value)
            ):
                sites.add(f"{where}:{node.lineno}")
            if isinstance(node, FUNCS):
                sites.update(f"{where}:{n}" for n in _one_shot_truncators(node))
    assert not sites, sorted(sites)
