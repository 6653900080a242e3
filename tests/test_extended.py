"""Extended-query checks that the SQL oracle can't express."""

from __future__ import annotations

import pandas as pd

from etl_pipeline_excel_sql__spark.plans.extended_queries import (
    q_approx_distinct,
)
from etl_pipeline_excel_sql__spark.plans.analytics_queries import (
    q_agg_count_distinct,
)


def test_approx_distinct_error_bounded(spark, sf_dir):
    exact = {
        r.l_returnflag: r.n_parts
        for r in q_agg_count_distinct(spark, sf_dir).collect()
    }
    approx = {
        r.l_returnflag: r.approx_parts
        for r in q_approx_distinct(spark, sf_dir).collect()
    }
    assert set(exact) == set(approx)
    for flag, n in exact.items():
        # HLL++ default rsd is 5%; allow 3 sigma
        assert abs(approx[flag] - n) <= max(0.15 * n, 5), (flag, n, approx[flag])


def test_zscore_pandas_udf_twin_matches_expressions(spark, sf_dir):
    """SURVEY §2.11: the vectorized Pandas-UDF surface, demonstrated as a
    grouped-map twin of the expression-based window_zscore query. Arrow
    batches + numpy vectorization — the escape hatch for semantics the
    built-ins can't express (numeric agreement to float tolerance; the
    expression path is the oracle-exact one)."""
    from etl_pipeline_excel_sql__spark.plans.extended_queries import q_window_zscore
    from etl_pipeline_excel_sql__spark.sources.registry import load_table

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["o_totalprice"]
        return pd.DataFrame(
            {
                "o_orderkey": pdf["o_orderkey"],
                "o_orderstatus": pdf["o_orderstatus"],
                "price_z": (v - v.mean()) / v.std(ddof=0),
            }
        )

    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    udf_out = {
        r.o_orderkey: r.price_z
        for r in o.groupBy("o_orderstatus")
        .applyInPandas(zscore, "o_orderkey long, o_orderstatus string, price_z double")
        .collect()
    }
    expr_out = {
        r.o_orderkey: r.price_z for r in q_window_zscore(spark, sf_dir).collect()
    }
    assert set(udf_out) == set(expr_out)
    for k, v in expr_out.items():
        assert abs(udf_out[k] - v) < 1e-9, k


def test_grouped_agg_pandas_udf_matches_expression(spark, sf_dir):
    """The grouped-aggregate pandas_udf surface (a Series -> scalar
    type-hinted, Arrow-batched aggregate UDF —
    the third vectorized flavor next to mapInPandas/applyInPandas): a
    quantity-weighted mean per return flag must equal the expression
    twin to float tolerance. Expressions stay the hot path (codegen);
    this proves the escape hatch works when an aggregate genuinely
    can't be expressed. The type hints are resolved against this module's
    globals, so ``pd`` must be imported at module level."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from etl_pipeline_excel_sql__spark.sources.registry import load_table

    @pandas_udf("double")
    def wmean(v: pd.Series, w: pd.Series) -> float:
        return float((v * w).sum() / w.sum())

    li = load_table(spark, "lineitem", sf_dir)
    got = {
        r["l_returnflag"]: r["wm"]
        for r in li.groupBy("l_returnflag")
        .agg(wmean("l_extendedprice", "l_quantity").alias("wm"))
        .collect()
    }
    want = {
        r["l_returnflag"]: r["wm"]
        for r in li.groupBy("l_returnflag")
        .agg(
            (
                F.sum(F.col("l_extendedprice") * F.col("l_quantity"))
                / F.sum("l_quantity")
            ).alias("wm")
        )
        .collect()
    }
    assert set(got) == set(want)
    for k in got:
        assert abs(got[k] - want[k]) <= 1e-9 * max(1.0, abs(want[k]))
