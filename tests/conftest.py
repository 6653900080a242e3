from __future__ import annotations

import sys
from pathlib import Path
from typing import Any, NamedTuple

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from etl_pipeline_excel_sql__spark.session import get_session

    s = get_session(master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    if not Path(SF_SMOKE).is_dir():
        pytest.skip(f"generated test corpus missing: {SF_SMOKE}")
    return SF_SMOKE


class BuiltQuery(NamedTuple):
    """What the registry-wide census tests read of one built query."""

    schema: Any  # pyspark StructType
    optimized: Any  # JVM optimized logical plan
    executed: Any  # JVM executed physical plan, session conf as is
    executed_no_auto_broadcast: Any  # same, autoBroadcastJoinThreshold=-1


@pytest.fixture(scope="session")
def registry_plans(spark, sf_dir) -> dict[str, BuiltQuery]:
    """Every registry query built ONCE at sf0.001, shared by the census
    tests (plan invariants, corpus broadcasts, float doctrine, oracle
    types, hashable result columns).

    Each record is taken right after its build: a later build retires the
    shared slots that this frame's cache substitution reads. The
    no-auto-broadcast plan is re-planned from the held analyzed plan, not
    by calling the query again — a held frame's cached ``executedPlan``
    ignores a conf change, while the re-plan drops the engine's automatic
    broadcasts and keeps ``F.broadcast`` hints. The analyzed plan, not the
    parsed one: a frame built by ``spark.sql`` with DataFrame arguments
    parses to names of temp views that are dropped once the call returns.
    """
    from etl_pipeline_excel_sql__spark.plans import QUERIES

    threshold = "spark.sql.autoBroadcastJoinThreshold"
    default = spark.conf.get(threshold)
    of_rows = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows
    built: dict[str, BuiltQuery] = {}
    for name, fn in QUERIES.items():
        df = fn(spark, sf_dir)
        qe = df._jdf.queryExecution()
        optimized, executed = qe.optimizedPlan(), qe.executedPlan()
        spark.conf.set(threshold, "-1")
        try:
            replanned = of_rows(spark._jsparkSession, qe.analyzed())
            no_auto = replanned.queryExecution().executedPlan()
        finally:
            spark.conf.set(threshold, default)
        built[name] = BuiltQuery(df.schema, optimized, executed, no_auto)
    return built
