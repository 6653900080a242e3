"""srp_candidate_stats: the diagnostic must agree with the operator it
explains — same keys, same candidate set — or the scaling attribution
it feeds (tools/bench_scaling.py) is fiction."""

from __future__ import annotations

from etl_pipeline_excel_sql__spark.functions.vectors import (
    EMB_DIMS,
    SRP_NEARDUP_BITS,
    SRP_NEARDUP_MAX_BITS,
    SRP_NEARDUP_TABLES,
    SRP_TARGET_BUCKET,
    adaptive_srp_bits,
)
from etl_pipeline_excel_sql__spark.operators.similarity import (
    cosine_neardup_pairs,
    srp_candidate_stats,
)
from etl_pipeline_excel_sql__spark.plans.reference_queries import load_table


def test_stats_internally_consistent_and_bound_the_operator(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir)
    stats = srp_candidate_stats(
        emb, block_col="label", srp_bits=SRP_NEARDUP_BITS
    )
    n = stats["n_vectors"]
    assert n == emb.count() > 0
    # every vector occupies exactly one bucket per table
    assert 0 < stats["n_buckets"] <= n * SRP_NEARDUP_TABLES
    assert 1 <= stats["max_bucket"] <= n
    # raw counts C(size,2) per bucket; distinct dedups cross-table repeats
    assert stats["distinct_candidates"] <= stats["raw_candidates"]
    assert stats["raw_candidates"] <= SRP_NEARDUP_TABLES * n * (n - 1) // 2
    # the operator verifies exactly the distinct candidates -> its output
    # (threshold-filtered) can never exceed them
    verified = cosine_neardup_pairs(
        emb, threshold=0.0, srp_bits=SRP_NEARDUP_BITS
    ).count()
    assert verified <= stats["distinct_candidates"]


def test_stats_identical_vectors_collapse_to_one_bucket_per_table(spark):
    import pytest

    rows = [(i, [1.0] + [0.0] * (EMB_DIMS - 1)) for i in range(30)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    # identical vectors share a bucket in every table -> one bucket per
    # table, all pairs raw, exactly C(n,2) distinct after cross-table dedup
    stats = srp_candidate_stats(df, block_col=None, srp_bits=4)
    assert stats["n_vectors"] == 30
    assert stats["n_buckets"] == SRP_NEARDUP_TABLES
    assert stats["max_bucket"] == 30
    assert stats["raw_candidates"] == SRP_NEARDUP_TABLES * 30 * 29 // 2
    assert stats["distinct_candidates"] == 30 * 29 // 2
    with pytest.raises(ValueError, match="srp_bits"):
        srp_candidate_stats(df, block_col=None, srp_bits=0)


def test_adaptive_bits_matches_clamped_ceil_log2():
    import math

    # integer threshold ladder == clamp(ceil(log2(n/target)), MIN, MAX)
    for n in [0, 1, 500, 1024, 1025, 2000, 2048, 2049, 20000, 10**7, 10**12]:
        expect = SRP_NEARDUP_BITS
        if n > SRP_TARGET_BUCKET * (1 << SRP_NEARDUP_BITS):
            expect = min(
                SRP_NEARDUP_MAX_BITS,
                math.ceil(math.log2(n / SRP_TARGET_BUCKET)),
            )
        assert adaptive_srp_bits(n) == expect, n
    # the SFs the gates actually run at
    assert adaptive_srp_bits(500) == 6
    assert adaptive_srp_bits(2000) == 7
    assert adaptive_srp_bits(20000) == 11


def test_plane_stride_is_prefix_stable(spark):
    """Growing bits under a constant stride must only ADD planes: the
    b-bit bucket is the (b+1)-bit bucket masked to its low b bits, so
    an adaptive re-derivation never re-seeds the planes already in use.
    """
    from etl_pipeline_excel_sql__spark.functions.vectors import srp_buckets_long

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001").limit(50)
    def buckets(bits):
        return {
            (r["vec_id"], r["__table"]): r["__bucket"]
            for r in srp_buckets_long(emb, "vec_id", "embedding", bits).collect()
        }

    b6, b8 = buckets(6), buckets(8)
    assert set(b6) == set(b8)
    assert all(b8[k] & 63 == b6[k] for k in b6)


def test_stats_empty_corpus_reports_zeros(spark):
    df = spark.createDataFrame([], "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    stats = srp_candidate_stats(df, block_col=None, srp_bits=4)
    assert stats == {
        "n_vectors": 0,
        "n_buckets": 0,
        "max_bucket": 0,
        "raw_candidates": 0,
        "distinct_candidates": 0,
    }
