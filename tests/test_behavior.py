"""Hand-corpus semantics + plan shape for the blocked best-match
record-linkage family."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_linkage_best_match_hand(spark):
    from etl_pipeline_excel_sql__spark.operators.linkage import (
        blocked_best_match,
    )

    rows = [
        (10, "red widget", "widget"),
        (11, "rad widget", "widget"),   # dist 1 to red widget
        (12, "blue widget", "widget"),  # dist 3 to red widget
        (13, "red bolt", "bolt"),       # different block — never compared
        (20, "tiny gear", "gear"),      # alone in its block — no match row
    ]
    cat = spark.createDataFrame(rows, "k BIGINT, name STRING, b STRING")
    probes = cat.filter(F.col("k").isin(10, 20))
    got = {
        r["k"]: (r["match_key"], r["dist"])
        for r in blocked_best_match(
            cat, probes, key_col="k", name_col="name", block_col="b"
        ).collect()
    }
    assert got == {10: (11, 1)}


def test_linkage_tie_breaks_on_smaller_key(spark):
    from etl_pipeline_excel_sql__spark.operators.linkage import (
        blocked_best_match,
    )

    rows = [
        (1, "aaa", "x"),
        (5, "aab", "x"),  # dist 1
        (3, "aac", "x"),  # dist 1 — smaller key wins
    ]
    cat = spark.createDataFrame(rows, "k BIGINT, name STRING, b STRING")
    got = blocked_best_match(
        cat, cat.filter("k = 1"), "k", "name", "b"
    ).collect()
    assert (got[0]["match_key"], got[0]["dist"]) == (3, 1)


def test_linkage_plan_broadcasts_probes_no_cartesian(spark):
    from etl_pipeline_excel_sql__spark.plans import QUERIES

    plan = (
        QUERIES["linkage_best_match"](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # best-match is an AGGREGATE (partial+final), not a window sort
    assert "HashAggregate" in plan
    assert "Window" not in plan


def test_blocked_match_pairs_hand(spark):
    """Edges only within a block, only under the distance budget,
    id_a < id_b canonical orientation."""
    from etl_pipeline_excel_sql__spark.operators.linkage import (
        blocked_match_pairs,
    )

    rows = [
        (1, "blue gear", "gear"),
        (2, "blue gearr", "gear"),   # dist 1 from key 1
        (3, "red gear", "gear"),     # dist 3+ from both blues
        (4, "blue bolt", "bolt"),    # other block — never compared
    ]
    df = spark.createDataFrame(rows, ["k", "name", "b"])
    got = {
        (r.id_a, r.id_b): r.dist
        for r in blocked_match_pairs(df, "k", "name", "b").collect()
    }
    assert got == {(1, 2): 1}


def test_entity_resolution_pipeline_semantics(spark):
    """Capstone invariants on real data: record counts are conserved
    through collapse + clustering; every canonical name is a real part
    name; entity count <= distinct-name count (merging only shrinks)."""
    from etl_pipeline_excel_sql__spark.plans import QUERIES
    from etl_pipeline_excel_sql__spark.sources.registry import load_table

    parts = load_table(spark, "part", SF)
    n_parts = parts.count()
    n_names = parts.select("p_name").distinct().count()
    got = QUERIES["entity_resolution_pipeline"](spark, SF).collect()
    assert sum(r.n_records for r in got) == n_parts
    assert sum(r.n_names for r in got) == n_names
    assert len(got) <= n_names
    names = {r.p_name for r in parts.select("p_name").collect()}
    assert all(r.canonical_name in names for r in got)
    # every entity's canonical id is the min over its merged names'
    # representatives by construction (cluster_id = min member id)
    assert len({r.entity_id for r in got}) == len(got)
