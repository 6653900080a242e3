"""Tests for integer-exact PageRank."""

from __future__ import annotations

from etl_pipeline_excel_sql__spark.operators.graph import PAGERANK_SCALE
from etl_pipeline_excel_sql__spark.plans.graph_queries import (
    N_NATIONS,
    q_pagerank_nations,
)


def test_pagerank_deterministic_and_mass_conserving(spark, sf_dir):
    a = {r["nation_key"]: r["rank_scaled"] for r in q_pagerank_nations(spark, sf_dir).collect()}
    b = {r["nation_key"]: r["rank_scaled"] for r in q_pagerank_nations(spark, sf_dir).collect()}
    assert a == b  # bit-identical across runs (integer arithmetic)
    assert len(a) == N_NATIONS
    assert all(r > 0 for r in a.values())
    total = sum(a.values())
    # floor divisions only ever LOSE mass, and only a hair of it
    assert total <= PAGERANK_SCALE
    assert total >= int(0.95 * PAGERANK_SCALE)


def test_pagerank_rewards_indegree(spark, sf_dir):
    """A nation receiving more weighted trade must outrank the minimum."""
    rows = q_pagerank_nations(spark, sf_dir).collect()
    ranks = sorted(r["rank_scaled"] for r in rows)
    assert ranks[-1] > ranks[0]  # graph is not rank-uniform


def test_pagerank_broadcasts_rank_vector(spark):
    """One iteration's plan has exactly two forced broadcasts: the |V|-row
    rank vector and the dangling-mass singleton."""
    from etl_pipeline_excel_sql__spark.operators.graph import pagerank_integer

    edges = spark.createDataFrame(
        [(1, 2, 3), (2, 3, 1), (3, 1, 2), (1, 3, 1), (4, 1, 5)],
        "src long, dst long, w long",
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, 6)], "node long")
    one = pagerank_integer(
        edges, nodes, n_nodes=5, iters=1, truncate_lineage=False
    )
    plan = one._jdf.queryExecution().analyzed().toString()
    assert plan.count("ResolvedHint") == 2


def test_pagerank_overflow_guard_raises(spark):
    """The int64 guard the module docstring promises must actually fire:
    a single edge weight large enough that rank*weight wraps is a
    ValueError, not silently wrong ranks."""
    import pytest

    from etl_pipeline_excel_sql__spark.operators.graph import (
        pagerank_integer,
    )

    edges = spark.createDataFrame(
        [(1, 2, 1 << 55)], "src long, dst long, w long"
    )
    nodes = spark.createDataFrame([(1,), (2,)], "node long")
    with pytest.raises(ValueError, match="overflow"):
        pagerank_integer(edges, nodes, n_nodes=2, iters=1)


def test_triangle_participation_bounded_block_storage(spark):
    """Repeated invocations must not accumulate persisted pair tables —
    the module retires the previous call's checkpoint blocks."""
    from etl_pipeline_excel_sql__spark.operators.graph import (
        triangle_participation,
    )
    from etl_pipeline_excel_sql__spark.operators.iterative import (
        _persisted_rdd_ids,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "id_a long, id_b long"
    )
    counts = []
    for _ in range(3):
        triangle_participation(pairs).collect()
        counts.append(len(_persisted_rdd_ids(spark)))
    assert counts[2] <= counts[0] + 1  # bounded, not one new table per call


def _brute_kcore(edges: set[tuple[int, int]], k: int) -> dict[int, int]:
    """Reference peeling: {node: within-core degree} of the k-core."""
    edges = set(edges)
    while True:
        deg: dict[int, int] = {}
        for a, b in edges:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        keep = {n for n, d in deg.items() if d >= k}
        nxt = {(a, b) for a, b in edges if a in keep and b in keep}
        if nxt == edges:
            return {n: d for n, d in deg.items() if n in keep}
        edges = nxt


def test_kcore_membership_matches_brute_force(spark):
    from etl_pipeline_excel_sql__spark.operators.graph import kcore_membership

    # triangle + pendant tail + separate 4-clique + isolated edge
    edges = [
        (1, 2), (2, 3), (1, 3),          # triangle: in the 2-core
        (3, 4),                          # tail: peeled
        (10, 11), (10, 12), (10, 13),    # 4-clique: in the 2- AND 3-core
        (11, 12), (11, 13), (12, 13),
        (20, 21),                        # isolated edge: peeled at k=2
    ]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    for k in (1, 2, 3, 4):
        got = {
            r.node: r.core_degree
            for r in kcore_membership(df, k=k).collect()
        }
        assert got == _brute_kcore(set(edges), k), f"k={k}"


def test_kcore_hypothesis_random_graphs(spark):
    import random

    from etl_pipeline_excel_sql__spark.operators.graph import kcore_membership

    rng = random.Random(42)
    for trial in range(4):
        n = 30
        edges = {
            (min(a, b), max(a, b))
            for a, b in (
                (rng.randrange(n), rng.randrange(n)) for _ in range(70)
            )
            if a != b
        }
        df = spark.createDataFrame(sorted(edges), ["id_a", "id_b"])
        k = 2 + trial % 2
        got = {
            r.node: r.core_degree for r in kcore_membership(df, k=k).collect()
        }
        assert got == _brute_kcore(edges, k), f"trial={trial} k={k}"


def test_kcore_chain_cliff_is_a_hard_error(spark):
    """A long chain peels one node per end per round — exceeding
    max_iters must raise (the documented anomaly-detector contract),
    and a big enough budget must converge to the empty 2-core."""
    import pytest

    from etl_pipeline_excel_sql__spark.operators.graph import kcore_membership

    chain = [(i, i + 1) for i in range(30)]
    df = spark.createDataFrame(chain, ["id_a", "id_b"])
    with pytest.raises(RuntimeError, match="no fixpoint"):
        kcore_membership(df, k=2, max_iters=5)
    assert kcore_membership(df, k=2, max_iters=30).count() == 0


def test_label_propagation_evaluates_upstream_dag_once(spark):
    """The round-10 scale bug: without an adjacency-frame lineage cut,
    the pair-generating DAG (in production the whole MinHash-LSH
    pipeline) re-evaluated once for the initial labels plus once per
    sweep — rounds+1 corpus passes. The accumulator counts upstream
    evaluations: the single truncation pass reads each edge row once
    per union branch (adj = e ∪ e-reversed → 2n bumps); any re-read of
    the upstream frame by the sweeps would exceed that."""
    from pyspark.sql import functions as F

    from etl_pipeline_excel_sql__spark.operators.graph import (
        label_propagation,
    )

    edges = [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)]
    acc = spark.sparkContext.accumulator(0)

    def bump(x):
        acc.add(1)
        return x

    bump_udf = F.udf(bump, "bigint")
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"]).withColumn(
        "id_a", bump_udf("id_a")
    )
    labels = {
        r.node: r.label for r in label_propagation(pairs, rounds=3).collect()
    }
    assert len(labels) == 6
    assert acc.value <= 2 * len(edges), (
        f"upstream DAG evaluated more than once: {acc.value} bumps "
        f"for {len(edges)} edges (expected <= {2 * len(edges)})"
    )
