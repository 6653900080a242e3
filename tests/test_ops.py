"""Tests for the ops/export utilities: global ordinals, table
fingerprints, and fixed-k per-group sampling."""

from __future__ import annotations

from etl_pipeline_excel_sql__spark.plans.ops_queries import (
    FIXED_K,
    q_global_row_number,
    q_sample_fixed_per_group,
    q_table_fingerprint,
)
from etl_pipeline_excel_sql__spark.sources.registry import load_table


def test_global_row_number_is_dense_and_order_correct(spark, sf_dir):
    rows = q_global_row_number(spark, sf_dir).collect()
    n = load_table(spark, "orders", sf_dir).count()
    assert sorted(r["rn"] for r in rows) == list(range(1, n + 1))
    # numbering must follow (o_orderdate, o_orderkey) order
    orders = {
        r["o_orderkey"]: r["o_orderdate"]
        for r in load_table(spark, "orders", sf_dir)
        .select("o_orderkey", "o_orderdate")
        .collect()
    }
    by_rn = sorted(rows, key=lambda r: r["rn"])
    keys = [(orders[r["o_orderkey"]], r["o_orderkey"]) for r in by_rn]
    assert keys == sorted(keys)


def test_global_row_number_no_single_partition_table_sort(spark, sf_dir):
    """The offsets cumsum may run single-partition (it is #buckets rows);
    the orders table itself must never pass through one partition."""
    df = q_global_row_number(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # exactly the one tiny single-partition exchange for the offsets table
    assert plan.count("Exchange SinglePartition") <= 1
    assert "hashpartitioning(month" in plan


def test_table_fingerprint_detects_any_change(spark, sf_dir):
    base = {r["l_returnflag"]: r for r in q_table_fingerprint(spark, sf_dir).collect()}
    assert len(base) == 3
    # recompute on a perturbed copy: one row's quantity changed
    li = load_table(spark, "lineitem", sf_dir)
    from pyspark.sql import functions as F

    from etl_pipeline_excel_sql__spark.functions.hashing import md5_hash60
    from etl_pipeline_excel_sql__spark.plans.ops_queries import _FP_EXPR

    # pick a real row; any duplicates of it share the same returnflag
    # group, so exactly one fingerprint row must move
    r0 = li.first()
    perturbed = li.withColumn(
        "l_quantity",
        F.when(
            (F.col("l_orderkey") == r0["l_orderkey"])
            & (F.col("l_linenumber") == r0["l_linenumber"])
            & (F.col("l_returnflag") == r0["l_returnflag"])
            & (F.col("l_extendedprice") == r0["l_extendedprice"]),
            F.col("l_quantity") + 1.0,
        ).otherwise(F.col("l_quantity")),
    )
    h = md5_hash60(F.expr(_FP_EXPR))
    got = {
        r["l_returnflag"]: r
        for r in perturbed.select("l_returnflag", h.alias("h"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.bit_xor("h").alias("fp_xor"),
            F.sum(F.col("h").cast("decimal(38,0)")).cast("string").alias("fp_sum"),
        )
        .collect()
    }
    diffs = [
        flag
        for flag in base
        if (base[flag]["fp_xor"], base[flag]["fp_sum"])
        != (got[flag]["fp_xor"], got[flag]["fp_sum"])
    ]
    assert len(diffs) == 1  # exactly the group holding the changed row
    # counts unchanged — the fingerprint, not the row count, caught it
    assert all(base[f]["n_rows"] == got[f]["n_rows"] for f in base)


def test_sample_fixed_per_group_exact_k_and_deterministic(spark, sf_dir):
    s1 = q_sample_fixed_per_group(spark, sf_dir).collect()
    s2 = q_sample_fixed_per_group(spark, sf_dir).collect()
    assert sorted(r["doc_id"] for r in s1) == sorted(r["doc_id"] for r in s2)
    doc = load_table(spark, "documents", sf_dir)
    sizes = {
        r["lang"]: r["n"]
        for r in doc.groupBy("lang").count().withColumnRenamed("count", "n").collect()
    }
    per_lang: dict[str, int] = {}
    for r in s1:
        per_lang[r["lang"]] = per_lang.get(r["lang"], 0) + 1
        assert 1 <= r["rank_in_lang"] <= FIXED_K
    for lang, n in sizes.items():
        assert per_lang.get(lang, 0) == min(FIXED_K, n)


def test_fingerprint_distinguishes_null_shifted_rows(spark):
    """Rows differing only in WHICH field is NULL must hash differently —
    the tagged representation exists exactly for this (plain concat_ws
    would skip NULLs and collapse them)."""
    from pyspark.sql import functions as F

    from etl_pipeline_excel_sql__spark.functions.hashing import md5_hash60
    from etl_pipeline_excel_sql__spark.plans.ops_queries import _FP_EXPR

    schema = (
        "l_orderkey long, l_linenumber int, l_returnflag string, "
        "l_linestatus string, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double"
    )
    a = spark.createDataFrame([(1, 1, "N", "O", None, 5.0, 0.1, 0.2)], schema)
    b = spark.createDataFrame([(1, 1, "N", "O", 5.0, None, 0.1, 0.2)], schema)
    c = spark.createDataFrame([(1, 1, "N", "", None, 5.0, 0.1, 0.2)], schema)
    d = spark.createDataFrame([(1, 1, "N", None, None, 5.0, 0.1, 0.2)], schema)
    hashes = [
        df.select(md5_hash60(F.expr(_FP_EXPR)).alias("h")).collect()[0]["h"]
        for df in (a, b, c, d)
    ]
    assert len(set(hashes)) == 4  # NULL-shift, NULL-vs-empty all distinct


def test_categorical_order_null_category_is_unlisted(spark):
    from etl_pipeline_excel_sql__spark.operators.ordering import (
        categorical_order,
    )

    df = spark.createDataFrame(
        [("b", 1), (None, 2), ("a", 3), ("zz", 4)], "cat string, v int"
    )
    # default: NULL and unlisted rows are dropped like any unlisted value
    kept = categorical_order(df, "cat", ["b", "a"]).collect()
    assert [r["cat"] for r in kept] == ["b", "a"]
