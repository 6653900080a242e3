"""Graph analytics over the trade network: integer-exact PageRank.

The nation-to-nation trade graph — an edge (supplier nation → customer
nation) per lineitem, weighted by shipment count — ranked with
``operators/graph.pagerank_integer``. The oracle replays the identical
scaled-integer iteration as unrolled SQL CTEs, so the driver's value hash
checks all 8 iterations bit-for-bit (no float tolerance anywhere).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.operators.graph import (
    PAGERANK_DAMPING_PCT,
    PAGERANK_ITERS,
    PAGERANK_SCALE,
    pagerank_integer,
)
from etl_pipeline_excel_sql__spark.sources.registry import load_table

N_NATIONS = 25


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(supplier nation → customer nation, shipment count) edge list.

    lineitem is the fact side; orders/customer/supplier broadcast. The
    grouped edge list is at most |V|² = 625 rows regardless of data scale,
    so everything after this aggregate is effectively free.
    """
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_suppkey"
    )
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    c = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_nationkey"
    )
    s = load_table(spark, "supplier", sf_dir).select(
        "s_suppkey", "s_nationkey"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(
            F.col("s_nationkey").cast("int").alias("src"),
            F.col("c_nationkey").cast("int").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )


def q_pagerank_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, "nation", sf_dir)
    nodes = nation.select(
        F.col("n_nationkey").cast("int").alias("node")
    )
    ranks = pagerank_integer(
        _trade_edges(spark, sf_dir), nodes, n_nodes=N_NATIONS
    )
    return ranks.join(
        F.broadcast(nation), ranks.node == nation.n_nationkey
    ).select(
        F.col("node").alias("nation_key"),
        F.col("n_name").alias("nation_name"),
        F.col("r").alias("rank_scaled"),
    )


_EDGES_SQL = """
  SELECT CAST(s_nationkey AS INT) AS src,
         CAST(c_nationkey AS INT) AS dst,
         COUNT(*) AS w
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY 1, 2"""

_NODES_SQL = "SELECT CAST(n_nationkey AS INT) AS node FROM nation"


def _pagerank_nations_sql() -> str:
    """DuckDB oracle twin of :func:`pagerank_integer` over the trade
    graph: the same iteration unrolled as chained CTEs. Returns the
    WITH-clause body up to and including ``r{PAGERANK_ITERS}``; the
    caller appends its own final SELECT over it.
    """
    scale, damping_pct = PAGERANK_SCALE, PAGERANK_DAMPING_PCT
    base = ((100 - damping_pct) * scale) // (100 * N_NATIONS)
    # Every chained CTE is AS MATERIALIZED: r{i} references r{i-1} twice
    # (dangling-mass sum + contribution join), so inlined CTEs re-evaluate
    # the whole chain — 2^iters blowup (observed: 4 minutes at sf0.001
    # before materialization, seconds after). Same fix as the Spark side's
    # per-iteration localCheckpoint.
    parts = [
        f"edges AS MATERIALIZED ({_EDGES_SQL})",
        f"nodes AS MATERIALIZED ({_NODES_SQL})",
        "outw AS (SELECT src, SUM(w) AS tw FROM edges GROUP BY src)",
        "ew AS MATERIALIZED (SELECT e.src, e.dst, e.w, o.tw"
        " FROM edges e JOIN outw o ON e.src = o.src)",
        f"r0 AS MATERIALIZED (SELECT node,"
        f" CAST({scale // N_NATIONS} AS BIGINT) AS r FROM nodes)",
    ]
    parts.append("srcs AS MATERIALIZED (SELECT DISTINCT src FROM ew)")
    for i in range(1, PAGERANK_ITERS + 1):
        parts.append(
            f"""d{i} AS MATERIALIZED (
  SELECT COALESCE(SUM(r), 0) AS d FROM r{i - 1}
  WHERE node NOT IN (SELECT src FROM srcs))"""
        )
        parts.append(
            f"""r{i} AS MATERIALIZED (
  SELECT n.node,
         CAST({base} + ({damping_pct} * (COALESCE(s.c, 0)
              + (SELECT d FROM d{i}) // {N_NATIONS})) // 100
              AS BIGINT) AS r
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, SUM((p.r * e.w) // e.tw) AS c
    FROM r{i - 1} p JOIN ew e ON p.node = e.src
    GROUP BY e.dst) s ON n.node = s.node)"""
        )
    return "WITH " + ",\n".join(parts)


ORACLE: dict[str, str] = {
    "pagerank_nations": _pagerank_nations_sql()
    + f"""
SELECT node AS nation_key, n_name AS nation_name, r AS rank_scaled
FROM r{PAGERANK_ITERS} JOIN nation ON node = n_nationkey""",
}

QUERIES = {
    "pagerank_nations": q_pagerank_nations,
}


def q_dedup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle participation over the MinHash near-dup pair graph.

    A triangle = three documents pairwise above the similarity threshold
    — the densest copy-groups. Runs the degree-oriented wedge join
    (``operators/graph.triangle_participation``) over the same canonical
    pair list ``dedup_minhash`` emits; the oracle re-derives the pairs in
    SQL and closes triangles with a three-way self-join.
    """
    from etl_pipeline_excel_sql__spark.operators.graph import (
        triangle_participation,
    )
    from etl_pipeline_excel_sql__spark.plans.pipeline_queries import (
        q_dedup_minhash,
    )

    pairs = q_dedup_minhash(spark, sf_dir).select("id_a", "id_b")
    return triangle_participation(pairs)


def _triangles_sql() -> str:
    from etl_pipeline_excel_sql__spark.plans.pipeline_queries import (
        _MINHASH_SQL,
    )

    # MATERIALIZED: the triangle join references pairs three times; an
    # inlined CTE would re-run the whole LSH pipeline per reference.
    return f"""
WITH pairs AS MATERIALIZED ({_MINHASH_SQL}),
tri AS (
  SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
  FROM pairs e1
  JOIN pairs e2 ON e2.id_a = e1.id_b
  JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
)
SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM (
  SELECT a AS node FROM tri
  UNION ALL SELECT b AS node FROM tri
  UNION ALL SELECT c AS node FROM tri
)
GROUP BY node"""


ORACLE["dedup_triangles"] = _triangles_sql()
QUERIES["dedup_triangles"] = q_dedup_triangles


def q_graph_cluster_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient over the near-dup graph: per node,
    ``2·T / (d·(d-1))`` as integer basis points (``20000·T div d(d-1)``
    — pure integer arithmetic, so no cross-engine float division).

    Distinguishes tight copy-CLIQUES (coefficient → 10000) from hub-and-
    spoke near-dup stars (coefficient → 0), which need different dedup
    treatment (drop-all-but-one vs keep-the-hub-review-the-spokes).
    ``with_degrees=True`` reuses the degree aggregate the operator's
    orientation step already computes over its one materialized pair
    list — no second pass over the LSH pair generator.
    """
    from etl_pipeline_excel_sql__spark.operators.graph import (
        triangle_participation,
    )
    from etl_pipeline_excel_sql__spark.plans.pipeline_queries import (
        q_dedup_minhash,
    )

    pairs = q_dedup_minhash(spark, sf_dir).select("id_a", "id_b")
    tri = triangle_participation(pairs, with_degrees=True)
    return tri.select(
        "node",
        "degree",
        "n_triangles",
        F.when(
            F.col("degree") >= 2,
            F.expr(
                "(20000 * n_triangles) div (degree * (degree - 1))"
            ),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("coeff_bp"),
    )


def _cluster_coeff_sql() -> str:
    from etl_pipeline_excel_sql__spark.plans.pipeline_queries import (
        _MINHASH_SQL,
    )

    return f"""
WITH pairs AS MATERIALIZED ({_MINHASH_SQL}),
tri AS (
  SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
  FROM pairs e1
  JOIN pairs e2 ON e2.id_a = e1.id_b
  JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
),
tcnt AS (
  SELECT node, COUNT(*) AS n_triangles
  FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b AS node FROM tri
    UNION ALL SELECT c AS node FROM tri
  )
  GROUP BY node
),
deg AS (
  SELECT node, COUNT(*) AS degree
  FROM (
    SELECT id_a AS node FROM pairs
    UNION ALL SELECT id_b AS node FROM pairs
  )
  GROUP BY node
)
SELECT deg.node,
       CAST(degree AS BIGINT) AS degree,
       CAST(COALESCE(n_triangles, 0) AS BIGINT) AS n_triangles,
       CAST(CASE WHEN degree >= 2
                 THEN (20000 * COALESCE(n_triangles, 0))
                      // (degree * (degree - 1))
                 ELSE 0 END AS BIGINT) AS coeff_bp
FROM deg LEFT JOIN tcnt USING (node)"""


ORACLE["graph_cluster_coeff"] = _cluster_coeff_sql()
QUERIES["graph_cluster_coeff"] = q_graph_cluster_coeff


def q_dedup_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the MinHash near-dup pair graph: documents that stay in
    a duplicate cluster even after every bridge-only member is peeled —
    the "robustly duplicated" subset (``operators/graph.kcore_membership``).
    """
    from etl_pipeline_excel_sql__spark.operators.graph import (
        kcore_membership,
    )
    from etl_pipeline_excel_sql__spark.plans.pipeline_queries import (
        q_dedup_minhash,
    )

    pairs = q_dedup_minhash(spark, sf_dir).select("id_a", "id_b")
    return kcore_membership(pairs, k=2)


def kcore_unrolled_sql(edges_cte: str) -> str:
    """DuckDB oracle twin of :func:`kcore_membership` at ``k=2``: peeling
    unrolled as chained CTEs. Returns a COMPLETE query (leading WITH
    included); ``edges_cte`` must yield (id_a, id_b) in any form — e0
    replays the Spark side's canonicalization (self-loop filter,
    least/greatest, distinct), so duplicated/reversed/self pairs cannot
    desync the twins.

    The 6 unrolled rounds must be >= the graph's actual peeling depth or
    the oracle is NOT the fixpoint — measured depth is 2 on the near-dup
    graph at every driver SF (sf0.001/0.01/0.1), so 6 is margin; an
    insufficient unroll shows up as a value-hash mismatch at the gate
    rather than passing silently, because the Spark side always runs to
    the true fixpoint.
    """
    # Every CTE is MATERIALIZED: each round references the previous edge
    # set three times (degree count + two semi-join sides), and DuckDB
    # inlines plain CTEs — an un-materialized 6-round unroll re-expands
    # the chain 3^6 times and the planner never comes back.
    parts = [
        f"""e0 AS MATERIALIZED (
  SELECT DISTINCT least(id_a, id_b) AS a, greatest(id_a, id_b) AS b
  FROM ({edges_cte}) WHERE id_a <> id_b
)"""
    ]
    for i in range(1, 7):
        p = i - 1
        parts.append(
            f"""s{i} AS MATERIALIZED (
  SELECT n FROM (SELECT a AS n FROM e{p} UNION ALL SELECT b FROM e{p})
  GROUP BY n HAVING COUNT(*) >= 2
), e{i} AS MATERIALIZED (
  SELECT e.a, e.b FROM e{p} e
  JOIN s{i} sa ON e.a = sa.n
  JOIN s{i} sb ON e.b = sb.n
)"""
        )
    final = """SELECT node, CAST(COUNT(*) AS BIGINT) AS core_degree
FROM (SELECT a AS node FROM e6 UNION ALL SELECT b AS node FROM e6)
GROUP BY node"""
    return "WITH " + ",\n".join(parts) + "\n" + final


def _kcore_sql() -> str:
    from etl_pipeline_excel_sql__spark.plans.pipeline_queries import (
        _MINHASH_SQL,
    )

    # e0 is MATERIALIZED, so inlining the full MinHash pipeline here
    # still runs it exactly once.
    return kcore_unrolled_sql(_MINHASH_SQL)


ORACLE["dedup_kcore"] = _kcore_sql()
QUERIES["dedup_kcore"] = q_dedup_kcore


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the MinHash near-dup graph: 3 synchronous
    label-propagation sweeps (deterministic min-tie-break variant) —
    groups template families tighter than connected components without
    k-core's membership-only output. See
    :func:`operators.graph.label_propagation`."""
    from etl_pipeline_excel_sql__spark.operators.graph import (
        label_propagation,
    )
    from etl_pipeline_excel_sql__spark.plans.pipeline_queries import (
        q_dedup_minhash,
    )

    pairs = q_dedup_minhash(spark, sf_dir).select("id_a", "id_b")
    return label_propagation(pairs)


def _lpa_sql() -> str:
    from etl_pipeline_excel_sql__spark.operators.graph import (
        label_propagation_unrolled_sql,
    )
    from etl_pipeline_excel_sql__spark.plans.pipeline_queries import (
        _MINHASH_SQL,
    )

    return label_propagation_unrolled_sql(_MINHASH_SQL)


ORACLE["label_propagation"] = _lpa_sql()
QUERIES["label_propagation"] = q_label_propagation
