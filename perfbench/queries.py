"""Registry-query workload: ``curation_heavy``.

One operation is one registry query: the ``QUERIES[name](spark, sf_dir)``
call (the build layer — eager training, checkpoint and state jobs run
here) followed by a ``noop`` write (the execute layer; ``count()`` would
let Catalyst prune the work). The output check collects the same built
frame once, before the persisted-state sweep, and compares it with the
query's DuckDB twin using the oracle gate's order-insensitive digest.
"""

from __future__ import annotations

import importlib.util
import time
from pathlib import Path

#: Iterative curation queries whose time is mostly the build layer (eager
#: training jobs); each leaves persisted RDDs behind.
CURATION_HEAVY = [
    "label_propagation",
    "perceptron_quality",
    "curate_pack_pipeline",
]


def _check_oracle():
    """``tools/check_oracle.py``, loaded by path (``tools`` is no package)."""
    path = Path(__file__).resolve().parent.parent / "tools" / "check_oracle.py"
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class QueryWorkload:
    """A fixed list of registry queries over one table directory."""

    def __init__(self, queries: list[str], sf_dir: str) -> None:
        self.ops = list(queries)
        self.sf_dir = sf_dir
        self._duck = None

    def prepare(self, ctx) -> None:
        from etl_pipeline_excel_sql__spark.plans import ORACLE, QUERIES

        missing = [q for q in self.ops if q not in QUERIES or q not in ORACLE]
        if missing:
            raise SystemExit(f"queries without a registry entry or oracle: {missing}")
        self._queries, self._oracle = QUERIES, ORACLE
        self._digest = _check_oracle().rows_to_multiset

    def run_op(self, ctx, op: str, check: bool) -> float:
        tracer = ctx.tracer
        t0 = time.perf_counter()
        with tracer.span("plans.build", spark_work=True):
            df = self._queries[op](ctx.spark, self.sf_dir)
        with tracer.span("operators.execute", spark_work=True):
            df.write.format("noop").mode("overwrite").save()
        latency = time.perf_counter() - t0
        if check:
            self._check(ctx, op, df)
        return latency

    def _check(self, ctx, op: str, df) -> None:
        got_cols = df.columns
        got = self._digest(got_cols, [tuple(r) for r in df.collect()])
        res = self._duckdb(ctx).execute(self._oracle[op])
        want_cols = [d[0] for d in res.description]
        want = self._digest(want_cols, res.fetchall())
        if sorted(got_cols) != sorted(want_cols) or got != want:
            raise AssertionError(
                f"{op}: result differs from its DuckDB oracle "
                f"({sum(got.values())} vs {sum(want.values())} rows)"
            )

    def _duckdb(self, ctx):
        if self._duck is None:
            self._duck = ctx.duckdb()
            for path in sorted(Path(self.sf_dir).glob("*.parquet")):
                self._duck.execute(
                    f"CREATE VIEW {path.stem} AS SELECT * FROM '{path}'"
                )
        return self._duck

    def close(self) -> None:
        if self._duck is not None:
            self._duck.close()
            self._duck = None
