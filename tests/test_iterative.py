"""Tests for LineageTruncator and the call-spanning slots: bounded
block storage across iterations, and caller-owned slots that let
interleaved results stay readable (ADVICE graph leak).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.operators.iterative import (
    LineageTruncator,
    SignatureCache,
    _persisted_rdd_ids,
    _unpersist_rdd_ids,
    shared_slot,
)


def test_local_truncation_blocks_bounded(spark):
    """Block-manager persisted-RDD count stays flat across iterations:
    each truncate retires the prior one (the ADVICE graph.py leak)."""
    tr = LineageTruncator(spark)
    df = spark.range(100).select(F.col("id").alias("v"))
    df = tr.truncate(df)
    baseline = len(_persisted_rdd_ids(spark))
    for _ in range(5):
        df = tr.truncate(df.withColumn("v", F.col("v") + 1))
        assert len(_persisted_rdd_ids(spark)) <= baseline
    assert [r.v for r in df.orderBy("v").limit(3).collect()] == [5, 6, 7]


def test_truncate_with_returns_action_result(spark):
    tr = LineageTruncator(spark)
    df = spark.range(10).select(F.col("id").alias("v"))
    cut, n_even = tr.truncate_with(
        df, lambda d: d.filter(F.col("v") % 2 == 0).count()
    )
    assert n_even == 5
    assert cut.count() == 10


def test_caller_owned_truncators_allow_interleaved_results(spark, sf_dir):
    """Two interleaved kmeans calls, each with its OWN truncator: the
    FIRST call's result must still be collectable after the second call
    runs (through the shared default truncator, call 2 would retire
    call 1's blocks and this read would fail block-not-found)."""
    from etl_pipeline_excel_sql__spark.operators.similarity import (
        IVF_NCELLS,
        kmeans_train_assign,
    )
    from etl_pipeline_excel_sql__spark.sources.registry import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    t1, t2 = LineageTruncator(spark), LineageTruncator(spark)
    r1 = kmeans_train_assign(emb.limit(60), truncator=t1)
    r2 = kmeans_train_assign(emb.limit(90), truncator=t2)
    # Interleaved reads of BOTH results — r1 first ran, r2 truncated after.
    assert r2.count() == 90
    assert r1.count() == 60  # would raise via a shared truncator
    # And the assignments themselves differ (different corpora).
    assert r1.select("cell").distinct().count() <= IVF_NCELLS


def test_caller_owned_truncator_interleaves_triangles(spark):
    """Same contract for triangle_participation's edge materialization."""
    from etl_pipeline_excel_sql__spark.operators.graph import (
        triangle_participation,
    )

    tri = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], ["id_a", "id_b"]
    )
    square = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4)], ["id_a", "id_b"]
    )
    t1, t2 = LineageTruncator(spark), LineageTruncator(spark)
    r1 = triangle_participation(tri, truncator=t1)
    r2 = triangle_participation(square, truncator=t2)
    assert r2.count() == 0  # a 4-cycle closes no triangle
    got = {r.node: r.n_triangles for r in r1.collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def test_caller_owned_signature_cache_scopes_minhash_persist(spark, sf_dir):
    """minhash_lsh_pairs with caller-owned SignatureCache slots: each
    cache holds exactly one persisted table, swap releases the previous,
    and interleaved calls through different caches don't interfere."""
    from etl_pipeline_excel_sql__spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from etl_pipeline_excel_sql__spark.sources.registry import load_table

    docs = load_table(spark, "documents", sf_dir).limit(200)
    c1, c2 = SignatureCache(), SignatureCache()
    p1 = minhash_lsh_pairs(docs, cache=c1)
    n1 = p1.count()
    p2 = minhash_lsh_pairs(docs.limit(100), cache=c2)
    # Both results remain consistent after interleaving (persist keeps
    # lineage, so this is a correctness re-read, not a crash test).
    assert p1.count() == n1
    assert p2.count() <= n1
    # Each slot holds its own table; swapping c1 releases only c1's.
    held1, held2 = c1._df, c2._df
    assert held1 is not None and held2 is not None and held1 is not held2
    c1.swap(spark.range(1).toDF("x"))
    assert held1.storageLevel.useMemory is False  # released
    assert held2.storageLevel.useMemory is True  # untouched


@pytest.mark.parametrize("rdd_sweep", [False, True], ids=["plain", "swept"])
def test_default_signature_slot_stays_cached_on_repeat_calls(
    spark, sf_dir, rdd_sweep
):
    """A repeat minhash_lsh_pairs call without ``cache=`` builds an
    identical plan; its default slot must still hold a CACHED table.
    Persisting before releasing the previous table lands the new persist
    on the old CacheManager entry, and the release then drops that entry
    for both. ``swept``: an RDD-level harness sweep between the calls
    (perfbench sweeps this way) leaves a stale entry behind, which the
    same order also inherits and drops."""
    from etl_pipeline_excel_sql__spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from etl_pipeline_excel_sql__spark.sources.registry import load_table

    docs = load_table(spark, "documents", sf_dir).limit(200)
    n = minhash_lsh_pairs(docs).count()
    if rdd_sweep:
        _unpersist_rdd_ids(spark, _persisted_rdd_ids(spark))
    again = minhash_lsh_pairs(docs)
    held = shared_slot(spark, "dedup.signatures", SignatureCache)._df
    assert held.storageLevel.useMemory is True
    assert again.count() == n
