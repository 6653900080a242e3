"""Registry invariants the driver gate implicitly relies on.

A rotation or a new module must not be able to silently (a) shrink the
window, (b) pull a rows-only query into the oracle-checked window,
(c) export a query without a callable, or (d) collide names across
modules (dict-merge order would pick a winner silently).
"""

from __future__ import annotations

import inspect

from etl_pipeline_excel_sql__spark import plans


def test_window_is_50_unique_oracle_backed():
    assert len(plans.DRIVER_PRIORITY) == 50
    assert len(set(plans.DRIVER_PRIORITY)) == 50
    missing = [n for n in plans.DRIVER_PRIORITY if n not in plans.ORACLE]
    assert not missing, f"window entries without an oracle: {missing}"


def test_every_query_is_a_two_arg_callable():
    for name, fn in plans.QUERIES.items():
        assert callable(fn), name
        params = inspect.signature(fn).parameters
        assert len(params) == 2, f"{name} must take (spark, sf_dir)"


def test_oracle_keys_subset_of_queries_and_are_sql_strings():
    extra = set(plans.ORACLE) - set(plans.QUERIES)
    assert not extra
    for name, sql in plans.ORACLE.items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name


def test_no_query_returns_array_map_or_struct(registry_plans):
    """The verification harness canonicalizes result frames via pandas
    sort/factorize, which requires hashable cells — the ``array_funcs``
    doctrine (``plans/extended_queries.py``). A registered query that
    returns a raw array/map/struct column passes its local tuple-based
    oracle but errors in the driver's canonicalizer (round-7's only red
    row, ``curate_pack_pipeline``). Enforce the doctrine at the schema
    level for every registered query so it can never rotate back in.
    """
    from pyspark.sql.types import ArrayType, MapType, StructType

    offenders = {}
    for name, built in sorted(registry_plans.items()):
        bad = [
            f.name
            for f in built.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        "queries returning non-hashable (array/map/struct) columns — "
        f"render them (e.g. concat_ws) per the array_funcs doctrine: {offenders}"
    )


def test_no_cross_module_name_collisions():
    modules = [
        getattr(plans, m)
        for m in dir(plans)
        if m.endswith("_queries") and hasattr(getattr(plans, m), "QUERIES")
    ]
    for attr in ("QUERIES", "ORACLE"):
        seen: dict[str, str] = {}
        for mod in modules:
            for name in getattr(mod, attr):
                assert name not in seen, (
                    f"{name} defined in both {seen[name]} and {mod.__name__}"
                )
                seen[name] = mod.__name__
        assert len(seen) == len(getattr(plans, attr))
