"""Connected components over near-duplicate pair graphs.

Pair generators (``minhash_lsh_pairs``, ``cosine_neardup_pairs``,
``ngram_jaccard_pairs``) emit edges; deduplication needs the *clusters*
those edges imply — every document in a component is a copy-group and one
keeper survives. This is the standard third stage of a web-scale dedup
pipeline (pairs -> components -> keeper policy), absent from the reference
(its dedup is single-key ``drop_duplicates``, Upload.py:48) but required
at training-data scale.

Two algorithms, both pure DataFrame ops with per-round lineage truncation:

* **min-label propagation** — each round every node takes the minimum
  label among itself and its neighbors; fixpoint in graph-diameter
  rounds. One shuffle join + one shuffle aggregate per round, both on
  (node, label) pairs. The cheapest loop for the near-dup shape
  (dense blobs, diameter 2-4), but O(diameter) rounds on chains.
* **large-star / small-star alternation** [Kiveris et al., "Connected
  Components in MapReduce and Beyond", SoCC'14] — large-star connects
  every strictly-larger neighbor of u to u's minimum neighborhood id;
  small-star connects the smaller neighbors. The alternation converges
  in O(log² n) rounds on ANY graph shape (log n in practice) to a
  star-set: every component collapsed to (root=min-id, child) edges.

``algorithm="auto"`` (default) runs propagation for a small round budget
— near-dup blobs converge inside it and pay nothing new — then, only if
unconverged, CONTRACTS the graph by the partial labels (nodes sharing a
label are provably in one component, so the contracted graph has one
node per label and is diameter/propagate_rounds times smaller) and
finishes with the star alternation on the contraction. The round-4
``RuntimeError`` cliff on graphs of diameter > ``STAR_MAX_ROUNDS`` is gone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.operators.iterative import LineageTruncator

#: round budget of the star alternation (theory bound O(log² n)).
STAR_MAX_ROUNDS = 25


def _large_star(e: DataFrame) -> DataFrame:
    """One large-star pass over a canonical (a < b, distinct) edge set.

    For each node u, every STRICTLY LARGER neighbor v is connected to
    m(u) = min(neighborhood(u) ∪ {u}). Output stays canonical because
    m(u) <= u < v.
    """
    sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    mins = sym.groupBy("u").agg(F.min("v").alias("mv"))
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(
            F.least(F.col("u"), F.col("mv")).alias("a"),
            F.col("v").alias("b"),
        )
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star pass over a canonical (a < b, distinct) edge set.

    Directing each edge child=b (the larger endpoint), every node in
    b's smaller neighborhood ∪ {b} except the minimum m is connected to
    m. Output stays canonical because m = min(a's) < everything emitted.
    """
    mins = e.groupBy("b").agg(F.min("a").alias("m"))
    children = (
        e.join(mins, "b")
        .filter(F.col("a") != F.col("m"))
        .select(F.col("m").alias("a"), F.col("a").alias("b"))
    )
    selfs = mins.select(F.col("m").alias("a"), F.col("b"))
    return children.union(selfs).distinct()


def _star_labels(edges: DataFrame, trunc: LineageTruncator) -> DataFrame:
    """Run the large/small-star alternation to a star-set; return
    (node, lbl) for every node in ``edges`` (canonical a < b, distinct,
    no self-loops). lbl = component minimum id.

    Converged when NEITHER pass changes the edge set within one round
    (checked exactly: equal count + empty except, both sides distinct);
    the final set is additionally verified to be star-shaped (no node on
    both root and child side) — a violated check means a logic bug, not
    an input property, hence the hard raise.

    Probe cost: the count is the materializing action the truncator needs
    anyway; the ``exceptAll`` set-equality probe (a full distinct-shuffle
    of both sides) runs ONLY when the counts match. Both sides are
    distinct sets, so equal counts + empty except ⟺ equal sets, and
    unequal counts alone prove change — mid-convergence rounds (where
    counts still move) pay one count per pass instead of count + except.
    """

    def _probe(d: DataFrame, p: DataFrame, n_prev: int) -> tuple[int, int]:
        n = d.count()
        if n != n_prev:
            return n, 1  # size changed ⇒ set changed; skip the set probe
        return n, d.exceptAll(p).count()

    e = trunc.truncate(edges)
    n_e = e.count()
    if n_e == 0:
        return e.select(F.col("a").alias("node"), F.col("b").alias("lbl"))
    for _ in range(STAR_MAX_ROUNDS):
        # The convergence probe runs INSIDE the truncating action, while
        # the previous cut's blocks are still alive (the truncator
        # retires them only after the new cut materializes).
        prev = e
        e, (n1, ch1) = trunc.truncate_with(
            _large_star(prev),
            lambda d, p=prev, n=n_e: _probe(d, p, n),
        )
        prev = e
        e, (n2, ch2) = trunc.truncate_with(
            _small_star(prev),
            lambda d, p=prev, n=n1: _probe(d, p, n),
        )
        if ch1 == 0 and ch2 == 0:
            break
        n_e = n2
    else:
        raise RuntimeError(
            f"star alternation: no fixpoint in {STAR_MAX_ROUNDS} rounds "
            "(theory bound is O(log^2 n) — this indicates a bug)"
        )
    # Defensive star-set verification: roots (a side) must never appear
    # as children (b side). One tiny join on the final edge set.
    non_star = (
        e.select("a").join(e.select(F.col("b").alias("a")), "a").limit(1)
    )
    if non_star.count() > 0:
        raise RuntimeError("star alternation fixpoint is not a star set")
    return e.select(F.col("b").alias("node"), F.col("a").alias("lbl")).union(
        e.select("a").distinct().select(
            F.col("a").alias("node"), F.col("a").alias("lbl")
        )
    )


def _propagate_labels(
    edges: DataFrame,
    trunc: LineageTruncator,
    rounds: int,
) -> tuple[DataFrame, bool]:
    """Min-label propagation on a self-looped symmetric edge set.

    Returns ``(labels, converged)`` — labels is (node, lbl) where lbl is
    the minimum id within <= rounds hops (the exact component minimum
    when converged).
    """
    labels = edges.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    converged = False
    for _ in range(rounds):
        plan = (
            edges.join(
                labels.select(F.col("node").alias("u"), "lbl"), on="u"
            )
            .groupBy(F.col("v").alias("node"))
            .agg(F.min("lbl").alias("new_lbl"))
            .join(labels, on="node")
            .select(
                "node",
                F.col("lbl").alias("old_lbl"),
                F.col("new_lbl").alias("lbl"),
            )
        )
        # The changed-label count doubles as the materializing action for
        # the round's lineage cut: one job per round. (A full count, never
        # limit(1) — every partition must compute for the cut to be whole.)
        nxt, changed = trunc.truncate_with(
            plan,
            lambda d: d.filter(F.col("lbl") != F.col("old_lbl")).count(),
        )
        labels = nxt.select("node", "lbl")
        if changed == 0:
            converged = True
            break
    return labels, converged


def connected_components(
    pairs: DataFrame,
    algorithm: str = "auto",
    propagate_rounds: int = 8,
) -> DataFrame:
    """Resolve an undirected pair graph into components.

    Returns ``(member_id, cluster_id, cluster_size)`` for every node that
    appears in the ``(id_a, id_b)`` ``pairs``; ``cluster_id`` is the
    minimum node id in the component (deterministic, no RNG),
    ``cluster_size`` the component's node count. Nodes with no edges
    (singletons) are by definition absent — callers wanting them keep a
    left-anti of the corpus against this result.

    ``algorithm``:

    * ``"auto"`` (default) — min-label propagation for
      ``propagate_rounds`` rounds (the cheapest loop for near-dup blobs,
      which converge in 2-4); if unconverged, contract the graph by the
      partial labels and finish with the large/small-star alternation on
      the contraction (O(log² n') rounds on the ~rounds-times-smaller
      graph). Converges on EVERY graph shape.
    * ``"star"`` — pure large/small-star alternation from round 0
      [Kiveris et al., SoCC'14]; O(log² n) rounds on any shape.

    Values are identical under either algorithm.
    """
    if algorithm not in ("auto", "star"):
        raise ValueError(f"unknown algorithm {algorithm!r}")
    spark = pairs.sparkSession
    # Separate truncators: edges are read every round and must never be
    # retired; the loops retire round N-1's storage once round N has
    # materialized (bounded: ≤1 round of loop state alive).
    edge_trunc = LineageTruncator(spark)
    loop_trunc = LineageTruncator(spark)
    # Materialize the RAW pair table before anything derives from it.
    # Every derived set below (symmetric union, node set, self-looped
    # edges) references the pair plan 2-4 times WITHIN the first
    # materializing job, and Spark only de-duplicates identical subtrees
    # via opportunistic ReusedExchange — for an expensive generator
    # subtree (SRP cosine verify, LSH banding) that re-execution tripled
    # the job. Measured at sf0.1 on the SRP cosine pairs: 13.7 s → 3.9 s
    # for the full components run. The truncator retires these blocks at
    # its next cut (auto path) or end of job (star path).
    pairs_m = edge_trunc.truncate(pairs.select("id_a", "id_b"))
    sym = pairs_m.select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v")
    ).union(
        pairs_m.select(F.col("id_b").alias("u"), F.col("id_a").alias("v"))
    )

    if algorithm == "star":
        # `canon` (which _star_labels truncates via loop_trunc) and
        # `nodes` both derive from the stored pair blocks; edge_trunc is
        # not cut again on this path, so pairs_m stays alive for the
        # final anti-join read of `nodes`.
        canon = (
            sym.filter(F.col("u") != F.col("v"))
            .select(
                F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
            )
            .distinct()
        )
        nodes = sym.select("u").distinct()
        star = _star_labels(canon, loop_trunc)
        labels = star.union(
            nodes.join(
                star.select(F.col("node").alias("u")), "u", "left_anti"
            ).select(F.col("u").alias("node"), F.col("u").alias("lbl"))
        )
        return _with_sizes(labels)

    # auto path: propagation first. Self-loops make "min over self" part
    # of the same aggregate as "min over neighbors" — one groupBy per
    # round instead of a join + least().
    nodes = sym.select("u").distinct()  # sym is symmetric: u covers v too
    # Materialize the self-looped edge set: it is re-read every round.
    # This second cut derives cheaply from the stored pair blocks and
    # retires them (edge_trunc's previous cut) once materialized.
    edges = edge_trunc.truncate(
        sym.union(nodes.select("u", F.col("u").alias("v"))).distinct()
    )
    labels, converged = _propagate_labels(edges, loop_trunc, propagate_rounds)
    if not converged:
        # auto fallback: contract by partial labels (same-label nodes are
        # proven co-component), star-resolve the contraction, compose.
        # The contracted edge set has one node per surviving label.
        lab_u = labels.select(F.col("node").alias("u"), F.col("lbl").alias("lu"))
        lab_v = labels.select(F.col("node").alias("v"), F.col("lbl").alias("lv"))
        contracted = (
            edges.join(lab_u, "u")
            .join(lab_v, "v")
            .filter(F.col("lu") != F.col("lv"))
            .select(
                F.least("lu", "lv").alias("a"),
                F.greatest("lu", "lv").alias("b"),
            )
            .distinct()
        )
        star_trunc = LineageTruncator(spark)
        roots = _star_labels(contracted, star_trunc).select(
            F.col("node").alias("lbl"), F.col("lbl").alias("root")
        )
        # Labels absent from the contraction are already component minima.
        labels = (
            labels.join(roots, "lbl", "left")
            .select(
                "node", F.coalesce(F.col("root"), F.col("lbl")).alias("lbl")
            )
        )
    return _with_sizes(labels)


def _with_sizes(labels: DataFrame) -> DataFrame:
    sizes = labels.groupBy("lbl").agg(F.count("*").alias("cluster_size"))
    return labels.join(sizes, on="lbl").select(
        F.col("node").alias("member_id"),
        F.col("lbl").alias("cluster_id"),
        "cluster_size",
    )


def cluster_safe_split_audit(
    docs: DataFrame,
    pairs: DataFrame,
    salt: str,
) -> DataFrame:
    """Leakage-free train/val/test assignment + self-audit, one pair pass.

    Assigns every ``doc_id`` in ``docs`` to an 80/10/10 train/val/test
    split keyed by its near-dup CLUSTER (``group_id =
    coalesce(component(min-id), own id)``) so no near-duplicate pair
    ``(id_a, id_b)`` can straddle splits, then PROVES it by joining
    the same pair list against the assignment and counting straddlers.

    The pair frame feeds two consumers — :func:`connected_components`
    and the leak probe — so it is lineage-truncated ONCE here and the
    materialized cut passed to both. Without the cut the full upstream
    pair-generating DAG (in production the whole MinHash-LSH banding +
    Jaccard verify over the corpus) executes twice: the same scale bug
    class fixed in ``graph.label_propagation`` (rounds+1 corpus passes).
    At 100 TB a second evaluation is a second full corpus dedup pass.

    Returns ``(split, n_docs, n_groups, leak_pairs)``; ``leak_pairs`` is
    zero by construction and the oracle recomputes the proof.
    """
    pairs_m = pairs.select("id_a", "id_b").localCheckpoint(eager=True)
    comp = connected_components(pairs_m).select(
        F.col("member_id").alias("doc_id"), "cluster_id"
    )
    grouped = docs.select("doc_id").join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id"))
        .cast("bigint")
        .alias("group_id"),
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit(salt), F.col("group_id").cast("string"))
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    assigned = grouped.select(
        "doc_id",
        "group_id",
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )
    leaks = (
        pairs_m.join(
            assigned.select(
                F.col("doc_id").alias("id_a"), F.col("split").alias("split_a")
            ),
            "id_a",
        )
        .join(
            assigned.select(
                F.col("doc_id").alias("id_b"), F.col("split").alias("split_b")
            ),
            "id_b",
        )
        .filter(F.col("split_a") != F.col("split_b"))
        .select(
            F.explode(F.array(F.col("split_a"), F.col("split_b"))).alias(
                "split"
            )
        )
        .groupBy("split")
        .agg(F.count(F.lit(1)).cast("bigint").alias("leak_pairs"))
    )
    per_split = assigned.groupBy("split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("group_id").cast("bigint").alias("n_groups"),
    )
    return per_split.join(leaks, "split", "left").select(
        "split",
        "n_docs",
        "n_groups",
        F.coalesce(F.col("leak_pairs"), F.lit(0)).cast("bigint").alias(
            "leak_pairs"
        ),
    )
