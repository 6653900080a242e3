"""Iterative graph algorithms as DataFrame loops — PageRank, integer-exact.

The interesting engineering problem with iterative algorithms on a
verification-gated engine is determinism: float PageRank accumulates
per-partition partial sums whose order differs run-to-run, so two engines
(or two runs) disagree in the last ulps. This implementation keeps every
rank as a SCALED BIGINT and every per-edge contribution as integer floor
division — addition of integers is associative, so the result is
bit-identical on any engine, any partitioning, any retry, and an external
SQL oracle can replay it exactly.

Scale design (100 TB of edges):
* the edge table is the big side; it is aggregated once to
  ``(src, dst, w, tw)`` and its lineage truncated (``localCheckpoint``) so
  the per-iteration plan re-reads a small materialized table instead of
  re-deriving edges ``iters`` times;
* the rank vector is |V| rows — broadcast to the edge side each iteration,
  so the only shuffle per iteration is the ``groupBy(dst)`` contribution
  sum (partial-aggregated map-side);
* per-edge products stay under int64: rank ≤ scale (1e9) and the guard
  below rejects weight sums that could overflow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.operators.iterative import (
    LineageTruncator,
    shared_slot,
)

PAGERANK_SCALE = 10**9
PAGERANK_DAMPING_PCT = 85
PAGERANK_ITERS = 8
#: Synchronous sweeps of :func:`label_propagation`.
LPA_ROUNDS = 3


def pagerank_integer(
    edges: DataFrame,
    nodes: DataFrame,
    n_nodes: int,
    iters: int = PAGERANK_ITERS,
    truncate_lineage: bool = True,
) -> DataFrame:
    """Weighted PageRank with scaled-integer arithmetic.

    ``edges``: columns ``src``, ``dst``, ``w`` (bigint weight).
    ``nodes``: column ``node`` (must cover every vertex; vertices with no
    in-edges get the teleport mass only). ``n_nodes`` is passed as a
    static literal (it parameterizes the teleport term) so the plan needs
    no driver-side count action.

    Per iteration: ``r'[v] = base + (damping_pct * Σ_u floor(r[u]*w_uv /
    outw[u])) DIV 100`` with ``base = ((100-damping_pct)*scale) DIV
    (100*n_nodes)``. All floor divisions; rank mass shrinks by at most a
    few ulps of the scale per iteration, identically in every engine.

    The per-iteration rank×edge join always broadcasts the |V|-row rank
    vector to the edge side, so the only shuffle per iteration is the
    ``groupBy(dst)`` contribution sum. |V| must therefore fit in the
    broadcast budget.

    Each iteration's lineage cut retires the previous iteration's
    blocks, so block usage stays O(|V|) however many iterations run.
    """
    scale, damping_pct = PAGERANK_SCALE, PAGERANK_DAMPING_PCT
    # ew is cut once and read every iteration; the rank loop's truncator
    # retires iteration i-1's blocks once i materializes.
    r_trunc = LineageTruncator(edges.sparkSession)
    outw = edges.groupBy("src").agg(F.sum("w").alias("tw"))
    ew = edges.join(outw, "src").select("src", "dst", "w", "tw")
    # materialize once: the loop below references ew `iters` times and the
    # final plan would otherwise re-aggregate the full edge table per
    # iteration. The table is |E'| (distinct src,dst) rows — small.
    # The max-weight aggregate IS the materializing action of the lazy
    # cut, so the overflow guard below costs zero extra jobs — folding it
    # in recovers the +10% the guard added in round 4 as a separate job
    # against the already-materialized table.
    ew = ew.localCheckpoint(eager=False)
    max_w = ew.agg(F.max("w").alias("m")).collect()[0]["m"] or 0

    # Overflow guard (promised by the module docstring): every per-edge
    # product is r * w with r <= scale (total mass is conserved at
    # scale), so the largest single weight must satisfy
    # scale * max_w < 2^62 or the integer contract silently wraps.
    if scale * max_w >= 1 << 62:
        raise ValueError(
            f"pagerank_integer: scale ({scale}) * max edge weight "
            f"({max_w}) would overflow int64 — rescale weights"
        )

    base = ((100 - damping_pct) * scale) // (100 * n_nodes)
    srcs = ew.select("src").distinct()
    r = nodes.select(
        "node", F.lit(scale // n_nodes).cast("bigint").alias("r")
    )
    for _ in range(iters):
        rank_side = F.broadcast(r.withColumnRenamed("node", "src"))
        contrib = (
            ew.join(rank_side, "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("(r * w) DIV tw").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("c"))
        )
        # dangling nodes (no out-edges) redistribute their mass uniformly —
        # without this, their rank evaporates each iteration and total mass
        # collapses toward the teleport floor.
        dang = (
            r.join(srcs, r.node == srcs.src, "left_anti")
            .agg(F.sum("r").alias("d"))
            .select(F.coalesce("d", F.lit(0).cast("bigint")).alias("d"))
        )
        r = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                F.expr(
                    f"cast({base} as bigint) + ({damping_pct} * "
                    f"(coalesce(c, cast(0 as bigint)) + d DIV {n_nodes}))"
                    f" DIV 100"
                ).alias("r"),
            )
        )
        # Truncate lineage every iteration: r{i} references r{i-1} twice
        # (contrib + dangling mass), so the un-truncated plan doubles per
        # iteration — 2^iters analysis cost. Checkpointing |V| rows per
        # iteration is the standard iterative-algorithm pattern (GraphX
        # does the same); values are unchanged, and the truncator retires
        # r{i-1}'s blocks once r{i} is materialized so storage does not
        # grow with iters. ``truncate_lineage=False`` exists only so
        # plan tests can inspect the iteration's logical plan
        # (checkpointing collapses it to a LogicalRDD scan).
        if truncate_lineage:
            r = r_trunc.truncate(r)
    return r


def triangle_participation(
    pairs: DataFrame,
    with_degrees: bool = False,
    truncator: LineageTruncator | None = None,
) -> DataFrame:
    """Per-node triangle counts via the degree-oriented wedge join.

    ``pairs`` is a canonical undirected edge list (``id_a < id_b``, no
    duplicates). Returns ``(node, n_triangles)`` for every node that
    closes at least one triangle; with ``with_degrees=True``, returns
    ``(node, degree, n_triangles)`` for EVERY node in the edge list
    (n_triangles 0 where none close), reusing the degree aggregate the
    orientation step already computes — callers needing both must not
    re-derive degrees from a second pass over the pair generator.

    The scale problem with naive triangle enumeration is the high-degree
    wedge blowup: a node of degree d spawns d² wedge candidates, and the
    skewed reducer dominates the job. The published fix [Suri &
    Vassilvitskii, "Counting Triangles and the Curse of the Last
    Reducer", WWW'11] orients every edge from the (degree, id)-smaller
    endpoint to the larger; each node then only spawns wedges among its
    HIGHER-ranked neighbors, bounding per-node work by O(arboricity²)
    instead of O(max-degree²), and every triangle gets exactly one apex
    (its unique (degree, id)-minimum — orientation by a total order is
    acyclic). Shuffles carry (node, node) id pairs only.

    The edge list is materialized once up front: this plan consumes it
    four times (two degree projections, the orientation join, the wedge
    closure), and pair GENERATORS like minhash_lsh_pairs have expensive
    subtrees that must not re-run per consumer (same practice as
    ngram_containment_pairs).

    The materialization goes through ``truncator`` under the slot rule
    of :mod:`~etl_pipeline_excel_sql__spark.operators.iterative`.
    """
    # Bounded block storage: LineageTruncator's eager cut materializes
    # the pair table once for its four consumers AND retires the
    # previous invocation's blocks (DataFrame.unpersist cannot free a
    # localCheckpoint's internal RDD — the truncator tracks the actual
    # persisted-RDD ids).
    spark = pairs.sparkSession
    truncator = truncator or shared_slot(
        spark, "graph.triangles", lambda: LineageTruncator(spark)
    )
    pairs = truncator.truncate(pairs.select("id_a", "id_b"))
    e = pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    deg = (
        e.select(F.col("u").alias("n"))
        .union(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    ranked = e.join(du, "u").join(dv, "v")
    up = F.struct(F.col("du"), F.col("u")) < F.struct(F.col("dv"), F.col("v"))
    oriented = ranked.select(
        F.when(up, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(up, F.col("v")).otherwise(F.col("u")).alias("dst"),
    )
    o1 = oriented.select(F.col("src").alias("apex"), F.col("dst").alias("x"))
    o2 = oriented.select(F.col("src").alias("apex"), F.col("dst").alias("y"))
    # wedge {x, y} out of the apex, one canonical ordering; close it
    # against the CANONICAL edge list (triangle edge may run either way
    # in the orientation, but always exists as least/greatest in pairs)
    wedges = o1.join(o2, "apex").filter(F.col("x") < F.col("y"))
    closing = pairs.select(F.col("id_a").alias("x"), F.col("id_b").alias("y"))
    tri = wedges.join(closing, ["x", "y"])
    nodes = (
        tri.select(F.col("apex").alias("node"))
        .union(tri.select(F.col("x").alias("node")))
        .union(tri.select(F.col("y").alias("node")))
    )
    counts = nodes.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )
    if not with_degrees:
        return counts
    return (
        deg.select(F.col("n").alias("node"), F.col("d").alias("degree"))
        .join(counts, "node", "left")
        .select(
            "node",
            F.col("degree").cast("bigint").alias("degree"),
            F.coalesce("n_triangles", F.lit(0))
            .cast("bigint")
            .alias("n_triangles"),
        )
    )


def kcore_membership(
    pairs: DataFrame,
    k: int,
    max_iters: int = 50,
) -> DataFrame:
    """The k-core of an undirected pair graph: the (unique) maximal node
    subset in which every node keeps degree >= k within the subset.

    Dedup-graph quality control: a near-duplicate cluster held together
    by a single bridge doc falls apart in the 2-core; spam farms /
    template mills show up as dense high-k cores [Seidman, "Network
    structure and minimum degree", Social Networks 1983]. Returns
    ``(node, core_degree)`` — every surviving node with its within-core
    degree. Nodes outside the core (including all of a graph with no
    k-core) simply don't appear.

    Algorithm: standard peeling, distributed — each round computes
    degrees (one map-side-combined aggregate over the current edge set),
    drops nodes below k, and keeps only edges with BOTH endpoints
    surviving (two semi-joins against the tiny surviving-node set). The
    edge set shrinks monotonically; the removal count doubles as the
    round's lineage-cut action (one job per round, same practice as the
    components loop).

    Round-count contract: peeling finishes in "degeneracy depth" rounds
    — small for the blob-shaped graphs this targets, but a pathological
    chain with k=2 peels one node per end per round, so an adversarial
    input can exceed ``max_iters``, and the hard RuntimeError is the
    anomaly detector. (A Montresor-style h-index iteration trades this for
    full coreness at more per-round work — out of scope until a caller
    needs core NUMBERS rather than k-membership.)
    """
    if k < 1:
        raise ValueError("kcore_membership: k must be >= 1")
    trunc = LineageTruncator(pairs.sparkSession)
    e = (
        pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
    )
    e, n_edges = trunc.truncate_with(e, lambda d: d.count())
    for _ in range(max_iters):
        if n_edges == 0:
            return e.select(
                F.col("a").alias("node"), F.lit(0).cast("bigint").alias("core_degree")
            )
        deg = (
            e.select(F.col("a").alias("n"))
            .union(e.select(F.col("b").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        survivors = deg.filter(F.col("d") >= k)
        nxt = e.join(
            survivors.select(F.col("n").alias("a")), "a", "semi"
        ).join(survivors.select(F.col("n").alias("b")), "b", "semi")
        nxt, n_next = trunc.truncate_with(nxt, lambda d: d.count())
        if n_next == n_edges:
            # Fixpoint: every remaining endpoint has degree >= k.
            return (
                nxt.select(F.col("a").alias("node"))
                .union(nxt.select(F.col("b").alias("node")))
                .groupBy("node")
                .agg(F.count(F.lit(1)).cast("bigint").alias("core_degree"))
            )
        e, n_edges = nxt, n_next
    raise RuntimeError(
        f"kcore_membership: no fixpoint in {max_iters} rounds "
        "(peeling depth exceeds the budget — raise max_iters for "
        "deep/chain-shaped graphs)"
    )


def label_propagation(
    pairs: DataFrame,
    rounds: int = LPA_ROUNDS,
) -> DataFrame:
    """Synchronous label-propagation communities (Raghavan/Albert/Kumara,
    Phys. Rev. E 2007) over an undirected pair graph — the community
    detector that sits between connected components (too coarse: one
    bridge edge merges two template families) and k-core (membership
    only, no grouping): densely-linked near-dup families converge to one
    label while bridge-joined families keep their own.

    Deterministic variant, exactly ``rounds`` SYNCHRONOUS sweeps: every
    node starts as its own label; each sweep every node simultaneously
    adopts the most frequent label among its NEIGHBORS (no self-vote),
    ties broken by smallest label. Fixed round count + min-tie-break
    removes both nondeterminism sources of classic async LPA (visit
    order, random tie choice), so the result is an engine-checkable
    function of the graph. Isolated self-loop-only nodes drop out with
    the canonicalization, as in :func:`kcore_membership`.

    Scale shape per round: one join of the directed-both-ways edge list
    against the current (node, label) frame — shuffle keyed on the
    edge's source — then a (node, label) count aggregate (map-side
    combined) and a per-node argmax window. Labels frame is truncated
    every round (the components-loop practice) so the plan stays flat.
    Returns ``(node, label)``.
    """
    # adj is cut once, apart from the labels loop's truncator: it is read
    # every sweep and must never be retired by the loop's cleanup; without
    # its own cut the whole upstream DAG (e.g. the full MinHash-LSH
    # pipeline feeding `pairs`) re-evaluates once for the initial label
    # frame and once per sweep — rounds+1 corpus passes.
    trunc = LineageTruncator(pairs.sparkSession)
    e = (
        pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
    )
    adj = e.union(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=True)
    labels = (
        adj.select(F.col("a").alias("node")).distinct()
        .select("node", F.col("node").alias("label"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("node").orderBy(
        F.col("c").desc(), F.col("label").asc()
    )
    for _ in range(rounds):
        msgs = adj.join(
            labels.withColumnRenamed("node", "a"), "a"
        ).select(F.col("b").alias("node"), "label")
        counts = msgs.groupBy("node", "label").agg(
            F.count(F.lit(1)).alias("c")
        )
        labels = (
            counts.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("node", "label")
        )
        labels = trunc.truncate(labels)
    return labels


def label_propagation_unrolled_sql(edges_cte: str) -> str:
    """DuckDB oracle twin of :func:`label_propagation`: the synchronous
    sweeps unrolled as chained MATERIALIZED CTEs (the
    :func:`kcore_unrolled_sql` convention — e0 replays the Spark side's
    canonicalization so reversed/duplicated/self pairs cannot desync the
    twins). Returns a complete query over ``LPA_ROUNDS`` sweeps, the
    Spark side's default round count — unlike a fixpoint loop there is
    no depth to guess."""
    parts = [
        f"""e0 AS MATERIALIZED (
  SELECT DISTINCT least(id_a, id_b) AS a, greatest(id_a, id_b) AS b
  FROM ({edges_cte}) WHERE id_a <> id_b
), adj AS MATERIALIZED (
  SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0
), l0 AS MATERIALIZED (
  SELECT DISTINCT a AS node, a AS label FROM adj
)"""
    ]
    for i in range(1, LPA_ROUNDS + 1):
        p = i - 1
        parts.append(
            f"""m{i} AS MATERIALIZED (
  SELECT adj.b AS node, l.label, COUNT(*) AS c
  FROM adj JOIN l{p} l ON adj.a = l.node
  GROUP BY adj.b, l.label
), l{i} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node
                ORDER BY c DESC, label ASC) AS rn
    FROM m{i}
  ) WHERE rn = 1
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT node, label FROM l{LPA_ROUNDS}"
    )
