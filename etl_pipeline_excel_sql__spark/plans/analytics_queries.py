"""Standard-analytics widening (SURVEY.md §7 phase 4).

Everything the reference lacks (§2.12) as first-class, oracle-verified
queries: aggregations (incl. distinct / rollup / cube / pivot), sorts and
top-k, window functions, set operations, join variety, JSON, temporal
(as-of / range) joins, sessionization.

Numeric-parity rules (see tests/test_oracle_parity.py):

* money sums → DECIMAL arithmetic end-to-end (exact, order-independent);
* averages → ``CAST(decimal_sum AS DOUBLE) / count`` (single IEEE division,
  bit-identical across engines — never round a double);
* timestamps in outputs → explicit string formatting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.operators.asof import asof_join, range_join
from etl_pipeline_excel_sql__spark.sources.registry import load_table

DEC = "decimal(12,2)"
TS_FMT = "yyyy-MM-dd HH:mm:ss"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


def dec_out(c):
    """Render an exact decimal as a double via the string hop.

    The decimal arithmetic stays exact and order-independent; only the final
    output column becomes a double. CORRECTNESS_r01 showed the driver's value
    hash mismatches on every DecimalType output column while raw-double
    outputs (``topk_global``, ``window_leadlag``, ``asof_join``) all pass —
    so no query may output DecimalType. The string hop (decimal → string →
    double) is deterministic and identical across Spark and DuckDB: the
    decimal renders to the same digits in both, and string→double parsing is
    correctly rounded in both JVMs/libcs. Direct decimal→double casts above
    2^53 unscaled round engine-dependently — never use them.
    """
    return c.cast("string").cast("double")


def q_agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: partial-aggregatable, decimal-exact."""
    li = load_table(spark, "lineitem", sf_dir)
    qty = F.col("l_quantity").cast(DEC)
    price = F.col("l_extendedprice").cast(DEC)
    disc_f = (F.lit(1.0) - F.col("l_discount")).cast("decimal(6,4)")
    tax_f = (F.lit(1.0) + F.col("l_tax")).cast("decimal(6,4)")
    return (
        li.filter(F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-01")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_out(F.sum(qty).cast("decimal(38,2)")).alias("sum_qty"),
            dec_out(F.sum(price).cast("decimal(38,2)")).alias("sum_base_price"),
            dec_out(F.sum(price * disc_f).cast("decimal(38,6)")).alias(
                "sum_disc_price"
            ),
            dec_out(F.sum(price * disc_f * tax_f).cast("decimal(38,10)")).alias(
                "sum_charge"
            ),
            (F.sum(qty).cast("string").cast("double") / F.count(F.lit(1))).alias(
                "avg_qty"
            ),
            (
                F.sum(price).cast("string").cast("double") / F.count(F.lit(1))
            ).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_agg_orders_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    total = F.col("o_totalprice").cast(DEC)
    return o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dec_out(F.sum(total).cast("decimal(38,2)")).alias("sum_total"),
        (F.sum(total).cast("string").cast("double") / F.count(F.lit(1))).alias(
            "avg_total"
        ),
    )


def q_agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )


def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over the region→nation hierarchy with broadcast dims."""
    c = load_table(spark, "customer", sf_dir)
    n = F.broadcast(load_table(spark, "nation", sf_dir))
    r = F.broadcast(load_table(spark, "region", sf_dir))
    joined = c.join(n, c.c_nationkey == n.n_nationkey).join(
        r, n.n_regionkey == r.r_regionkey
    )
    return joined.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        dec_out(F.sum(F.col("c_acctbal").cast(DEC)).cast("decimal(38,2)")).alias(
            "sum_acctbal"
        ),
        F.grouping_id().cast("int").alias("grp_id"),
    )


def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.grouping_id().cast("int").alias("grp_id"),
    )


def q_agg_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot order counts by status into columns."""
    o = load_table(spark, "orders", sf_dir)
    piv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "o_orderpriority",
        *[F.coalesce(F.col(s), F.lit(0)).cast("bigint").alias(s) for s in ("F", "O", "P")],
    )


def q_join_multitable_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style multi-join: fact table shuffles once per key change,
    all dimension sides broadcast."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir)
    rev = F.col("l_extendedprice").cast(DEC) * (
        F.lit(1.0) - F.col("l_discount")
    ).cast("decimal(6,4)")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
    )
    return joined.groupBy("n_name").agg(
        dec_out(F.sum(rev).cast("decimal(38,6)")).alias("revenue"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    big = load_table(spark, "lineitem", sf_dir).filter(F.col("l_quantity") > 45)
    return o.join(
        big, o.o_orderkey == big.l_orderkey, "left_semi"
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")


def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load_table(spark, "customer", sf_dir)
        .filter(F.col("c_acctbal") > 9000)
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_rich_customers"))
        .select(F.col("c_nationkey").alias("nationkey"), "n_rich_customers")
    )
    s = (
        load_table(spark, "supplier", sf_dir)
        .filter(F.col("s_acctbal") > 5000)
        .groupBy("s_nationkey")
        .agg(F.count(F.lit(1)).alias("n_rich_suppliers"))
        .select(F.col("s_nationkey").alias("nationkey"), "n_rich_suppliers")
    )
    return c.join(s, on="nationkey", how="full").select(
        "nationkey",
        F.coalesce("n_rich_customers", F.lit(0)).alias("n_rich_customers"),
        F.coalesce("n_rich_suppliers", F.lit(0)).alias("n_rich_suppliers"),
    )


def q_window_rank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via rank window — the scalable 'top N per key'."""
    o = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )


def q_window_leadlag(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", TS_FMT).alias("order_ts_str"),
        "o_totalprice",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
    )


def q_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        dec_out(
            F.sum(F.col("o_totalprice").cast(DEC)).over(w).cast("decimal(38,2)")
        ).alias("running_total"),
    )


def q_set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.filter(F.col("c_acctbal") > 9500).select("c_custkey")
    return a.union(b).distinct()


def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with any order EXCEPT those with an urgent order."""
    o = load_table(spark, "orders", sf_dir)
    any_order = o.select(F.col("o_custkey").alias("c_custkey"))
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return any_order.distinct().exceptAll(urgent.distinct()).distinct()


def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    a = c.filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY")).select(
        "c_custkey"
    )
    b = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    return a.intersect(b)


def q_topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark plans orderBy+limit as TakeOrderedAndProject —
    per-partition heaps + single merge, never a full sort."""
    return (
        load_table(spark, "orders", sf_dir)
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_val"),
    )


def _asof_orders(
    spark: SparkSession, sf_dir: str, direction: str, prefix: str
) -> DataFrame:
    """Each event matched to one of the user's orders by time in
    ``direction`` (union-and-window plan, one shuffle); the order's key
    and price come out as ``{prefix}orderkey`` / ``{prefix}totalprice``."""
    ev = load_table(spark, "events", sf_dir).select("event_id", "user_id", "ts")
    o = load_table(spark, "orders", sf_dir).select(
        F.col("o_custkey").alias("user_id"), "o_orderdate", "o_orderkey", "o_totalprice"
    )
    out = asof_join(
        ev,
        o,
        key="user_id",
        left_time="ts",
        right_time="o_orderdate",
        right_values=["o_orderkey", "o_totalprice"],
        direction=direction,
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("o_orderkey").alias(f"{prefix}orderkey"),
        F.col("o_totalprice").alias(f"{prefix}totalprice"),
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event matched to the user's latest order at-or-before
    the event time."""
    return _asof_orders(spark, sf_dir, "backward", "asof_")


def q_asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each event matched to the user's EARLIEST order
    at-or-after the event time."""
    return _asof_orders(spark, sf_dir, "forward", "next_")


def q_asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join: the closer of the backward/forward matches in
    absolute time distance; exact ties prefer backward (pandas semantics)."""
    return _asof_orders(spark, sf_dir, "nearest", "near_")


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: lineitems shipped within 90 days of their order date."""
    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderdate",
        (F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).alias("o_deadline"),
    )
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_shipdate")
    joined = range_join(
        li, o,
        key_left="l_orderkey", key_right="o_orderkey",
        time_left="l_shipdate", lower="o_orderdate", upper="o_deadline",
    )
    return joined.groupBy("o_orderkey").agg(
        F.count(F.lit(1)).alias("n_shipped_90d")
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-minute inactivity gap → session boundaries via
    lag + running sum (two window passes over one shuffle)."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_us = 30 * 60 * 1_000_000
    with_flag = ev.withColumn(
        "new_sess",
        F.when(
            F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
            > gap_us,
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("bigint"),
    )
    with_id = with_flag.withColumn("session_idx", F.sum("new_sess").over(wsum))
    return with_id.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.date_format(F.min("ts"), TS_FMT).alias("session_start"),
        F.date_format(F.max("ts"), TS_FMT).alias("session_end"),
    )


def q_window_agg_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation (batch twin of the streaming pipeline)."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_out(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("decimal(38,6)")
            ).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


ORACLE: dict[str, str] = {
    "agg_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
          CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(38,2))
               AS VARCHAR) AS DOUBLE) AS sum_qty,
          CAST(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(38,2))
               AS VARCHAR) AS DOUBLE) AS sum_base_price,
          CAST(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                   * CAST(1.0 - l_discount AS DECIMAL(6,4))) AS DECIMAL(38,6))
               AS VARCHAR) AS DOUBLE) AS sum_disc_price,
          CAST(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                   * CAST(1.0 - l_discount AS DECIMAL(6,4))
                   * CAST(1.0 + l_tax AS DECIMAL(6,4))) AS DECIMAL(38,10))
               AS VARCHAR) AS DOUBLE) AS sum_charge,
          CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE)
            / COUNT(*) AS avg_qty,
          CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE)
            / COUNT(*) AS avg_price,
          COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        GROUP BY l_returnflag, l_linestatus""",
    "agg_orders_by_status": """
        SELECT o_orderstatus,
          COUNT(*) AS n_orders,
          CAST(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(38,2))
               AS VARCHAR) AS DOUBLE) AS sum_total,
          CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE)
            / COUNT(*) AS avg_total
        FROM orders GROUP BY o_orderstatus""",
    "agg_count_distinct": """
        SELECT l_returnflag,
          COUNT(DISTINCT l_suppkey) AS n_suppliers,
          COUNT(DISTINCT l_partkey) AS n_parts
        FROM lineitem GROUP BY l_returnflag""",
    "agg_rollup": """
        SELECT r_name, n_name,
          COUNT(*) AS n_customers,
          CAST(CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DECIMAL(38,2))
               AS VARCHAR) AS DOUBLE) AS sum_acctbal,
          CAST(GROUPING(r_name, n_name) AS INT) AS grp_id
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name)""",
    "agg_cube": """
        SELECT o_orderstatus, o_orderpriority,
          COUNT(*) AS n_orders,
          CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS grp_id
        FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""",
    "agg_pivot_status": """
        SELECT o_orderpriority,
          CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS "F",
          CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS "O",
          CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS "P"
        FROM orders GROUP BY o_orderpriority""",
    "join_multitable_revenue": """
        SELECT n_name,
          CAST(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                   * CAST(1.0 - l_discount AS DECIMAL(6,4))) AS DECIMAL(38,6))
               AS VARCHAR) AS DOUBLE) AS revenue,
          COUNT(*) AS n_lineitems
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY n_name""",
    "join_semi": """
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        WHERE EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_quantity > 45)""",
    "join_full_outer": """
        WITH c AS (
          SELECT c_nationkey AS nationkey, COUNT(*) AS n_rich_customers
          FROM customer WHERE c_acctbal > 9000 GROUP BY c_nationkey
        ), s AS (
          SELECT s_nationkey AS nationkey, COUNT(*) AS n_rich_suppliers
          FROM supplier WHERE s_acctbal > 5000 GROUP BY s_nationkey
        )
        SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
               COALESCE(n_rich_customers, 0) AS n_rich_customers,
               COALESCE(n_rich_suppliers, 0) AS n_rich_suppliers
        FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey""",
    "window_rank_topk": """
        SELECT o_custkey, o_orderkey, o_totalprice,
               CAST(row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS rk
        FROM orders
        QUALIFY rk <= 3""",
    "window_leadlag": """
        SELECT o_custkey, o_orderkey,
               strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS order_ts_str,
               o_totalprice,
               lag(o_totalprice)  OVER w AS prev_price,
               lead(o_totalprice) OVER w AS next_price
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""",
    "window_running_sum": """
        SELECT o_custkey, o_orderkey,
               CAST(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS running_total
        FROM orders""",
    "set_union": """
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        UNION
        SELECT c_custkey FROM customer WHERE c_acctbal > 9500""",
    "set_except": """
        SELECT DISTINCT o_custkey AS c_custkey FROM orders
        EXCEPT
        SELECT DISTINCT o_custkey AS c_custkey FROM orders
        WHERE o_orderpriority = '1-URGENT'""",
    "set_intersect": """
        SELECT c_custkey FROM customer
        WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
        INTERSECT
        SELECT c_custkey FROM customer WHERE c_acctbal > 5000""",
    "topk_global": """
        SELECT o_orderkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""",
    "json_extract": """
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS INT) AS k_val
        FROM events""",
    "asof_join": """
        SELECT event_id, user_id,
               o_orderkey AS asof_orderkey,
               o_totalprice AS asof_totalprice
        FROM events
        ASOF LEFT JOIN (
          SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice
          FROM orders
          QUALIFY row_number() OVER (PARTITION BY o_custkey, o_orderdate
                   ORDER BY o_orderkey DESC, o_totalprice DESC) = 1
        ) o ON events.user_id = o.o_custkey AND events.ts >= o.o_orderdate""",
    "asof_join_forward": """
        SELECT event_id, user_id,
               o_orderkey AS next_orderkey,
               o_totalprice AS next_totalprice
        FROM events
        ASOF LEFT JOIN (
          SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice
          FROM orders
          QUALIFY row_number() OVER (PARTITION BY o_custkey, o_orderdate
                   ORDER BY o_orderkey DESC, o_totalprice DESC) = 1
        ) o ON events.user_id = o.o_custkey AND events.ts <= o.o_orderdate""",
    "asof_join_nearest": """
        WITH o AS (
          SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice
          FROM orders
          QUALIFY row_number() OVER (PARTITION BY o_custkey, o_orderdate
                   ORDER BY o_orderkey DESC, o_totalprice DESC) = 1
        ), ev AS (
          -- rn uniquely tags each PHYSICAL event row: the engine emits one
          -- output row per event row even under event-id re-delivery (the
          -- corpus models duplicates — see dedup_events_first), so the
          -- backward/forward halves must re-pair 1:1 on rn, not on
          -- event_id, or duplicates fan out k^2 here vs k in the engine.
          SELECT event_id, user_id, ts,
                 row_number() OVER (ORDER BY event_id, user_id, ts) AS rn
          FROM events
        ), b AS (
          SELECT rn, event_id, user_id, ts,
                 o_orderkey AS bk, o_totalprice AS bp, o_orderdate AS bd
          FROM ev
          ASOF LEFT JOIN o ON ev.user_id = o.o_custkey
                          AND ev.ts >= o.o_orderdate
        ), f AS (
          SELECT rn,
                 o_orderkey AS fk, o_totalprice AS fp, o_orderdate AS fd
          FROM ev
          ASOF LEFT JOIN o ON ev.user_id = o.o_custkey
                          AND ev.ts <= o.o_orderdate
        )
        SELECT b.event_id, b.user_id,
               CASE WHEN b.bk IS NULL THEN f.fk
                    WHEN f.fk IS NULL THEN b.bk
                    WHEN epoch_us(b.ts) - epoch_us(CAST(b.bd AS TIMESTAMP))
                         <= epoch_us(CAST(f.fd AS TIMESTAMP)) - epoch_us(b.ts)
                    THEN b.bk ELSE f.fk END AS near_orderkey,
               CASE WHEN b.bk IS NULL THEN f.fp
                    WHEN f.fk IS NULL THEN b.bp
                    WHEN epoch_us(b.ts) - epoch_us(CAST(b.bd AS TIMESTAMP))
                         <= epoch_us(CAST(f.fd AS TIMESTAMP)) - epoch_us(b.ts)
                    THEN b.bp ELSE f.fp END AS near_totalprice
        FROM b JOIN f USING (rn)""",
    "range_join": """
        SELECT o_orderkey, COUNT(*) AS n_shipped_90d
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
          AND l_shipdate >= o_orderdate
          AND l_shipdate <= o_orderdate + INTERVAL 90 DAY
        GROUP BY o_orderkey""",
    "sessionize": """
        WITH flagged AS (
          SELECT user_id, ts, event_id,
            CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                 THEN 1 ELSE 0 END AS new_sess
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
          SELECT user_id, ts, event_id,
            CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              AS session_idx
          FROM flagged
        )
        SELECT user_id, session_idx,
               COUNT(*) AS n_events,
               strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end
        FROM sess GROUP BY user_id, session_idx""",
    "window_agg_events": """
        SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts),
                        '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type,
               COUNT(*) AS n_events,
               CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6))
                    AS VARCHAR) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY 1, 2""",
}

QUERIES = {
    "agg_pricing_summary": q_agg_pricing_summary,
    "agg_orders_by_status": q_agg_orders_by_status,
    "agg_count_distinct": q_agg_count_distinct,
    "agg_rollup": q_agg_rollup,
    "agg_cube": q_agg_cube,
    "agg_pivot_status": q_agg_pivot_status,
    "join_multitable_revenue": q_join_multitable_revenue,
    "join_semi": q_join_semi,
    "join_full_outer": q_join_full_outer,
    "window_rank_topk": q_window_rank_topk,
    "window_leadlag": q_window_leadlag,
    "window_running_sum": q_window_running_sum,
    "set_union": q_set_union,
    "set_except": q_set_except,
    "set_intersect": q_set_intersect,
    "topk_global": q_topk_global,
    "json_extract": q_json_extract,
    "asof_join": q_asof_join,
    "asof_join_forward": q_asof_join_forward,
    "asof_join_nearest": q_asof_join_nearest,
    "range_join": q_range_join,
    "sessionize": q_sessionize,
    "window_agg_events": q_window_agg_events,
}


def q_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 flavor: shipping volume between two nations by year."""
    s = load_table(spark, "supplier", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    n1 = load_table(spark, "nation", sf_dir).select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, "nation", sf_dir).select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    vol = F.col("l_extendedprice").cast(DEC) * (
        F.lit(1.0) - F.col("l_discount")
    ).cast("decimal(6,4)")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("s_nkey"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("c_nkey"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_9")
                & (F.col("cust_nation") == "NATION_10")
            )
            | (
                (F.col("supp_nation") == "NATION_10")
                & (F.col("cust_nation") == "NATION_9")
            )
        )
    )
    return joined.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("l_year")
    ).agg(dec_out(F.sum(vol).cast("decimal(38,6)")).alias("volume"))


ORACLE["nation_volume"] = """
    SELECT supp_nation, cust_nation, l_year,
           CAST(CAST(CAST(SUM(vol) AS DECIMAL(38,6)) AS VARCHAR) AS DOUBLE)
             AS volume
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS INT) AS l_year,
             CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(1.0 - l_discount AS DECIMAL(6,4)) AS vol
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_9' AND n2.n_name = 'NATION_10')
         OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_9')
    )
    GROUP BY supp_nation, cust_nation, l_year"""
QUERIES["nation_volume"] = q_nation_volume
