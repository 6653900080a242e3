"""Round-3 analytics widening: sliding windows, exact discrete percentiles,
histogram binning.

Numeric-determinism rules (the driver hash-compares against DuckDB):

* percentiles are DISCRETE — the query SELECTS an existing double value by
  rank position instead of interpolating, so no float arithmetic can differ
  between engines;
* histogram buckets use explicit ``FLOOR`` — Spark's double→bigint CAST
  truncates while DuckDB's rounds half-even, so a bare CAST is an
  engine-dependent trap; ``FLOOR(x / width)`` is IEEE-identical on both.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.functions.text import WS_TOKENS_SQL
from etl_pipeline_excel_sql__spark.sources.registry import load_table


def q_window_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window counts (2 h window, 1 h slide) by event type — each
    event lands in exactly two overlapping windows. Batch twin of
    ``streaming/events.sliding_counts_stream``; one shuffle on the grouping
    key, Spark expands the window memberships map-side."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
        )
    )


def q_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete percentiles (p25/p50/p75/p90) of order value per
    priority class.

    Rank positions are computed with integer ceiling arithmetic
    (``(n*q + 99) DIV 100``) and the value AT that rank is selected — one
    window sort, then a conditional max per target rank folds the group to
    a single row. Scales as one shuffle + one partial-aggregated groupBy;
    no collect, no interpolation.
    """
    o = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    wn = Window.partitionBy("o_orderpriority")
    ranked = o.select(
        "o_orderpriority",
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    picks = [
        F.max(
            F.when(
                F.col("rn") == F.expr(f"(n * {q} + 99) DIV 100"),
                F.col("o_totalprice"),
            )
        ).alias(f"p{q}")
        for q in (25, 50, 75, 90)
    ]
    return ranked.groupBy("o_orderpriority").agg(
        F.max("n").alias("n_orders"), *picks
    )


def q_histogram_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order values ($50k buckets): bucket ordinal,
    inclusive lower bound, count. Pure map-side bucket expression + one
    partial-aggregated groupBy — the canonical distributed histogram."""
    o = load_table(spark, "orders", sf_dir)
    bucket = F.expr("CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT)")
    return (
        o.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .select(
            "bucket",
            (F.col("bucket") * F.lit(50000)).cast("bigint").alias("bucket_lo"),
            "n_orders",
        )
    )


def q_join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted equi-join (lineitem × supplier) — the hot-key mitigation for
    when the build side exceeds broadcast scale and one probe key dominates.
    Salting only changes physical distribution: the result is the plain
    join's multiset, which is exactly what the oracle checks."""
    from etl_pipeline_excel_sql__spark.operators.skew import salted_join

    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )
    s = load_table(spark, "supplier", sf_dir).select(
        F.col("s_suppkey").alias("l_suppkey"), "s_name"
    )
    return salted_join(li, s, key="l_suppkey").select(
        "l_orderkey", "l_suppkey", "s_name", "l_quantity"
    )


def q_window_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DISCRETE moving median of a customer's trailing 5 orders.

    No interpolation (even-count medians pick the lower element), so the
    selected double is bit-identical on any engine. The frame's values ride
    a ``collect_list`` → ``array_sort`` → ``element_at`` chain — all
    JVM-side expressions inside the one window shuffle; frames are ≤5
    elements so the per-row array never grows with data scale."""
    o = load_table(spark, "orders", sf_dir)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-4, Window.currentRow)
    )
    frame = F.array_sort(F.collect_list("o_totalprice").over(w))
    return o.select(
        "o_custkey",
        "o_orderkey",
        # (n+1) >> 1 == (n+1) DIV 2 for the non-negative frame size:
        # integer arithmetic keeps the midpoint index out of the
        # float-doctrine QUANTIZED_COMPUTED class (oracle uses //)
        F.element_at(
            frame, F.shiftright(F.size(frame) + F.lit(1), 1).cast("int")
        ).alias("median5"),
        F.size(frame).cast("int").alias("frame_n"),
    )


def q_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral explode with position: first 10 tokens of each document as
    (doc_id, pos, token) rows — ``posexplode`` is the Spark-native lateral
    unnest a tokenization/feature pipeline fans out with (map-side only,
    no shuffle)."""
    from etl_pipeline_excel_sql__spark.functions.text import ws_tokens

    docs = load_table(spark, "documents", sf_dir)
    return docs.select(
        "doc_id",
        F.posexplode(F.slice(ws_tokens(F.col("text")), 1, 10)).alias(
            "pos", "token"
        ),
    )


ORACLE: dict[str, str] = {
    # every event belongs to the two hour-aligned starts covering it
    "window_sliding_counts": """
        SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type,
               COUNT(*) AS n_events
        FROM (
          SELECT event_type,
                 time_bucket(INTERVAL 1 HOUR, ts)
                   - INTERVAL 1 HOUR * off AS ws
          FROM events
          CROSS JOIN (SELECT unnest([0, 1]) AS off) offs
        )
        GROUP BY 1, 2""",
    "percentile_disc": """
        WITH ranked AS (
          SELECT o_orderpriority, o_totalprice,
                 row_number() OVER (PARTITION BY o_orderpriority
                                    ORDER BY o_totalprice, o_orderkey) AS rn,
                 COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
          FROM orders
        )
        SELECT o_orderpriority,
               MAX(n) AS n_orders,
               MAX(CASE WHEN rn = (n * 25 + 99) // 100
                        THEN o_totalprice END) AS p25,
               MAX(CASE WHEN rn = (n * 50 + 99) // 100
                        THEN o_totalprice END) AS p50,
               MAX(CASE WHEN rn = (n * 75 + 99) // 100
                        THEN o_totalprice END) AS p75,
               MAX(CASE WHEN rn = (n * 90 + 99) // 100
                        THEN o_totalprice END) AS p90
        FROM ranked GROUP BY o_orderpriority""",
    "histogram_totalprice": """
        SELECT bucket,
               CAST(bucket * 50000 AS BIGINT) AS bucket_lo,
               COUNT(*) AS n_orders
        FROM (SELECT CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT) AS bucket
              FROM orders)
        GROUP BY bucket""",
    "join_skew_salted": """
        SELECT l_orderkey, l_suppkey, s_name, l_quantity
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey""",
    "window_moving_median": """
        WITH framed AS (
          SELECT o_custkey, o_orderkey,
                 list_sort(list(o_totalprice) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) AS frame
          FROM orders
        )
        SELECT o_custkey, o_orderkey,
               frame[(len(frame) + 1) // 2] AS median5,
               CAST(len(frame) AS INT) AS frame_n
        FROM framed""",
    "explode_tokens": f"""
        WITH d AS (SELECT doc_id, {WS_TOKENS_SQL} AS toks FROM documents),
        e AS (SELECT doc_id, toks,
                     unnest(generate_series(1, least(len(toks), 10))) AS i
              FROM d)
        SELECT doc_id, CAST(i - 1 AS INT) AS pos, toks[i] AS token FROM e""",
}

QUERIES = {
    "window_sliding_counts": q_window_sliding_counts,
    "percentile_disc": q_percentile_disc,
    "histogram_totalprice": q_histogram_totalprice,
    "join_skew_salted": q_join_skew_salted,
    "window_moving_median": q_window_moving_median,
    "explode_tokens": q_explode_tokens,
}
