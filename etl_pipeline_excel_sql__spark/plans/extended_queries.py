"""Extended analytics coverage: scalar function families, HAVING, set-op
variants, limit/offset pagination, grouping sets, subqueries, exact
percentiles, and the ``spark.sql`` SQL surface.

Numeric-parity rules as in analytics_queries.py. Transcendentals (exp/log/
pow) are deliberately absent from oracle-checked outputs — JVM and C libm
differ in the last ulp; sqrt is IEEE-exact so it is fine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.functions.cleaning import to_str
from etl_pipeline_excel_sql__spark.functions.text import WS_TOKENS_SQL
from etl_pipeline_excel_sql__spark.sources.registry import load_table


def q_filter_nonblank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 standalone: drop rows whose key is blank after to_str
    (Compare.py:60-62). The corpus has no blanks — the expression is the
    operator under test; row count equality is the assertion."""
    c = load_table(spark, "customer", sf_dir)
    return c.filter(to_str(F.col("c_name")) != "").select("c_custkey", "c_name")


def q_agg_rowcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2: the written-rows tally / empty-test as a query."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.select(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) == 0).alias("is_empty"),
    )


def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    return o.select(
        "o_orderkey",
        F.upper("o_orderpriority").alias("prio_upper"),
        F.lower("o_orderstatus").alias("status_lower"),
        F.substring("o_orderpriority", 1, 3).alias("prio_prefix"),
        F.length("o_orderpriority").cast("int").alias("prio_len"),
        F.concat_ws("|", "o_orderstatus", "o_orderpriority").alias("combined"),
        F.lpad(F.col("o_orderkey").cast("string"), 10, "0").alias("key_padded"),
        F.col("o_orderpriority").like("%URGENT%").alias("is_urgent"),
        F.regexp_extract("o_orderpriority", r"^(\d+)-", 1).alias("prio_num"),
    )


def q_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_quantity") - 25).alias("qty_dev"),
        F.floor("l_extendedprice").cast("bigint").alias("price_floor"),
        F.ceil("l_extendedprice").cast("bigint").alias("price_ceil"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        (F.col("l_orderkey") % 7).alias("key_mod7"),
        F.signum(F.col("l_discount") - 0.05).alias("disc_sign"),
    )


def q_conditional_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 300000, "large")
        .when(F.col("o_totalprice") > 100000, "medium")
        .otherwise("small")
        .alias("size_class"),
        F.coalesce(F.nullif("o_orderstatus", F.lit("O")), F.lit("OPEN")).alias(
            "status_or_open"
        ),
        F.greatest("o_orderkey", "o_custkey").alias("max_key"),
        F.least("o_orderkey", "o_custkey").alias("min_key"),
    )


def q_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    return (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 15)
    )


def q_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    big = o.filter(F.col("o_totalprice") > 400000).select("o_orderkey")
    return urgent.unionAll(big)  # duplicates preserved (distinct from set_union)


def q_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .offset(5)
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via the SQL surface (views registered per call)."""
    load_table(spark, "orders", sf_dir).createOrReplaceTempView("v_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(grouping_id() AS INT) AS grp_id
        FROM v_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


def q_subquery_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, "orders", sf_dir).createOrReplaceTempView("v_orders")
    load_table(spark, "customer", sf_dir).createOrReplaceTempView("v_customer")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM v_orders
        WHERE o_custkey IN (
          SELECT c_custkey FROM v_customer WHERE c_mktsegment = 'BUILDING'
        )
        """
    )


def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders above the global mean price; the mean is a decimal-exact sum
    over count so the comparison threshold is bit-identical to the oracle."""
    load_table(spark, "orders", sf_dir).createOrReplaceTempView("v_orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM v_orders
        WHERE o_totalprice > (
          SELECT CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS STRING)
                      AS DOUBLE)
                 / COUNT(*)
          FROM v_orders
        )
        """
    )


def q_distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    return o.select("o_orderstatus", "o_orderpriority").distinct()


def q_percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles over an integral-valued column — interpolation of
    integral doubles is exact in both engines, so values hash-match."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", 0.5).alias("median_qty"),
        F.percentile("l_quantity", 0.9).alias("p90_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    )


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct — the at-scale counterpart of
    agg_count_distinct. No SQL oracle (sketch internals are engine-
    specific); the driver records a rows-only check, and
    tests/test_extended.py bounds its error against the exact count."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts")
    )


def q_sql_topk_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-flavored query written entirely in SQL — demonstrates the
    engine's SQL surface end-to-end (parse → plan → execute)."""
    load_table(spark, "orders", sf_dir).createOrReplaceTempView("v_orders")
    load_table(spark, "customer", sf_dir).createOrReplaceTempView("v_customer")
    load_table(spark, "lineitem", sf_dir).createOrReplaceTempView("v_lineitem")
    return spark.sql(
        """
        SELECT l_orderkey,
               CAST(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                        * CAST(1.0 - l_discount AS DECIMAL(6,4)))
                    AS DECIMAL(38,6)) AS STRING) AS DOUBLE) AS revenue,
               date_format(o_orderdate, 'yyyy-MM-dd') AS order_date_str
        FROM v_customer
        JOIN v_orders   ON c_custkey = o_custkey
        JOIN v_lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1997-01-01'
          AND l_shipdate  > TIMESTAMP '1997-01-01'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, l_orderkey ASC
        LIMIT 10
        """
    )


ORACLE: dict[str, str] = {
    "filter_nonblank": """
        SELECT c_custkey, c_name FROM customer
        WHERE coalesce(trim(CAST(c_name AS VARCHAR)), '') <> ''""",
    "agg_rowcount": """
        SELECT COUNT(*) AS n_rows, COUNT(*) = 0 AS is_empty FROM lineitem""",
    "string_funcs": """
        SELECT o_orderkey,
               upper(o_orderpriority) AS prio_upper,
               lower(o_orderstatus) AS status_lower,
               substr(o_orderpriority, 1, 3) AS prio_prefix,
               CAST(length(o_orderpriority) AS INT) AS prio_len,
               concat_ws('|', o_orderstatus, o_orderpriority) AS combined,
               lpad(CAST(o_orderkey AS VARCHAR), 10, '0') AS key_padded,
               o_orderpriority LIKE '%URGENT%' AS is_urgent,
               coalesce(regexp_extract(o_orderpriority, '^(\\d+)-', 1), '')
                 AS prio_num
        FROM orders""",
    "math_funcs": """
        SELECT l_orderkey, l_linenumber,
               abs(l_quantity - 25) AS qty_dev,
               CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
               CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
               sqrt(l_quantity) AS qty_sqrt,
               l_orderkey % 7 AS key_mod7,
               CASE WHEN l_discount - 0.05 > 0 THEN CAST(1 AS DOUBLE)
                    WHEN l_discount - 0.05 < 0 THEN CAST(-1 AS DOUBLE)
                    ELSE CAST(0 AS DOUBLE) END
                 AS disc_sign
        FROM lineitem""",
    "conditional_case": """
        SELECT o_orderkey,
               CASE WHEN o_totalprice > 300000 THEN 'large'
                    WHEN o_totalprice > 100000 THEN 'medium'
                    ELSE 'small' END AS size_class,
               coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_or_open,
               greatest(o_orderkey, o_custkey) AS max_key,
               least(o_orderkey, o_custkey) AS min_key
        FROM orders""",
    "having": """
        SELECT o_custkey, COUNT(*) AS n_orders FROM orders
        GROUP BY o_custkey HAVING COUNT(*) >= 15""",
    "union_all": """
        SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
        UNION ALL
        SELECT o_orderkey FROM orders WHERE o_totalprice > 400000""",
    "limit_offset": """
        SELECT o_orderkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10 OFFSET 5""",
    "grouping_sets": """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS grp_id
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""",
    "subquery_in": """
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        WHERE o_custkey IN (
          SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')""",
    "scalar_subquery": """
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_totalprice > (
          SELECT CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR)
                      AS DOUBLE)
                 / COUNT(*)
          FROM orders)""",
    "distinct_rows": """
        SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders""",
    "percentile_exact": """
        SELECT l_returnflag,
               quantile_cont(l_quantity, 0.5) AS median_qty,
               quantile_cont(l_quantity, 0.9) AS p90_qty,
               MIN(l_quantity) AS min_qty,
               MAX(l_quantity) AS max_qty
        FROM lineitem GROUP BY l_returnflag""",
    # approx_distinct: deliberately no oracle (rows-only check)
    "sql_topk_revenue": """
        SELECT l_orderkey,
               CAST(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                        * CAST(1.0 - l_discount AS DECIMAL(6,4)))
                    AS DECIMAL(38,6)) AS VARCHAR) AS DOUBLE) AS revenue,
               strftime(o_orderdate, '%Y-%m-%d') AS order_date_str
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1997-01-01'
          AND l_shipdate  > TIMESTAMP '1997-01-01'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, l_orderkey ASC
        LIMIT 10""",
}

QUERIES = {
    "filter_nonblank": q_filter_nonblank,
    "agg_rowcount": q_agg_rowcount,
    "string_funcs": q_string_funcs,
    "math_funcs": q_math_funcs,
    "conditional_case": q_conditional_case,
    "having": q_having,
    "union_all": q_union_all,
    "limit_offset": q_limit_offset,
    "grouping_sets": q_grouping_sets,
    "subquery_in": q_subquery_in,
    "scalar_subquery": q_scalar_subquery,
    "distinct_rows": q_distinct_rows,
    "percentile_exact": q_percentile_exact,
    "approx_distinct": q_approx_distinct,
    "sql_topk_revenue": q_sql_topk_revenue,
}


def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("int").alias("order_year"),
        F.month("o_orderdate").cast("int").alias("order_month"),
        F.dayofmonth("o_orderdate").cast("int").alias("order_day"),
        F.quarter("o_orderdate").cast("int").alias("order_quarter"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias(
            "month_start"
        ),
        F.datediff(F.to_timestamp(F.lit("2000-01-01")), "o_orderdate")
        .cast("int")
        .alias("days_to_y2k"),
    )


def q_window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / percent_rank / ntile / cume_dist in one pass.

    percent_rank and cume_dist are ratios of small ints — exact doubles,
    so they hash-match the oracle bit-for-bit.
    """
    from pyspark.sql import Window

    o = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.rank().over(w).cast("int").alias("rnk"),
        F.dense_rank().over(w).cast("int").alias("drnk"),
        F.percent_rank().over(w).alias("prnk"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.cume_dist().over(w).alias("cdist"),
    )


def q_returned_items_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 flavor: top customers by revenue lost to returns."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1.0) - F.col("l_discount")
    ).cast("decimal(6,4)")
    joined = (
        li.filter(F.col("l_returnflag") == "R")
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
    )
    return (
        joined.groupBy("c_custkey", "c_name", "c_mktsegment")
        .agg(
            F.sum(rev)
            .cast("decimal(38,6)")
            .cast("string")
            .cast("double")
            .alias("lost_revenue")
        )
        .orderBy(F.col("lost_revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


def q_window_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group standardization with exact-by-construction moments.

    mean and E[x²] come from decimal sums (order-independent), variance and
    z-score from single IEEE double ops — bit-identical to the oracle.
    The Pandas-UDF twin of this operator is tested for near-equality in
    tests/test_extended.py (vectorized path demo, SURVEY §2.11).
    """
    from pyspark.sql import Window

    o = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_orderstatus")
    price_dec = F.col("o_totalprice").cast("decimal(12,2)")
    # decimal→double via a string hop: above 2**53 the direct conversion is
    # not exactly representable and engines may round the last ulp
    # differently; parsing the exact decimal string is correctly rounded
    # everywhere (proven divergent at sf0.1 without this).
    sum_str = F.sum(price_dec).over(w).cast("string").cast("double")
    sumsq_str = (
        F.sum((price_dec * price_dec).cast("decimal(30,4)"))
        .over(w)
        .cast("string")
        .cast("double")
    )
    mean = sum_str / F.count(F.lit(1)).over(w)
    mean_sq = sumsq_str / F.count(F.lit(1)).over(w)
    var = mean_sq - mean * mean
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        ((F.col("o_totalprice") - mean) / F.sqrt(var)).alias("price_z"),
    )


ORACLE.update(
    {
        "date_funcs": """
        SELECT o_orderkey,
               CAST(year(o_orderdate) AS INT) AS order_year,
               CAST(month(o_orderdate) AS INT) AS order_month,
               CAST(day(o_orderdate) AS INT) AS order_day,
               CAST(quarter(o_orderdate) AS INT) AS order_quarter,
               strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
               CAST(datediff('day', o_orderdate, TIMESTAMP '2000-01-01') AS INT)
                 AS days_to_y2k
        FROM orders""",
        "window_rank_family": """
        SELECT o_orderkey, o_orderstatus,
               CAST(rank() OVER w AS INT) AS rnk,
               CAST(dense_rank() OVER w AS INT) AS drnk,
               percent_rank() OVER w AS prnk,
               CAST(ntile(4) OVER w AS INT) AS quartile,
               cume_dist() OVER w AS cdist
        FROM orders
        WINDOW w AS (PARTITION BY o_orderstatus
                     ORDER BY o_totalprice DESC, o_orderkey ASC)""",
        "returned_items_report": """
        SELECT c_custkey, c_name, c_mktsegment,
               CAST(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                        * CAST(1.0 - l_discount AS DECIMAL(6,4)))
                    AS DECIMAL(38,6)) AS VARCHAR) AS DOUBLE) AS lost_revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE l_returnflag = 'R'
        GROUP BY c_custkey, c_name, c_mktsegment
        ORDER BY lost_revenue DESC, c_custkey ASC
        LIMIT 20""",
        "window_zscore": """
        WITH stats AS (
          SELECT o_orderkey, o_orderstatus, o_totalprice,
            CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER w
                      AS VARCHAR) AS DOUBLE)
              / COUNT(*) OVER w AS mean,
            CAST(CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2))
                          * CAST(o_totalprice AS DECIMAL(12,2))
                          AS DECIMAL(30,4))) OVER w AS VARCHAR) AS DOUBLE)
              / COUNT(*) OVER w AS mean_sq
          FROM orders
          WINDOW w AS (PARTITION BY o_orderstatus)
        )
        SELECT o_orderkey, o_orderstatus,
               (o_totalprice - mean) / sqrt(mean_sq - mean * mean) AS price_z
        FROM stats""",
    }
)

QUERIES.update(
    {
        "date_funcs": q_date_funcs,
        "window_rank_family": q_window_rank_family,
        "returned_items_report": q_returned_items_report,
        "window_zscore": q_window_zscore,
    }
)


def q_text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 non-stopword terms per document by term frequency.

    The log-free half of tf-idf: integer term frequencies and ranks are
    oracle-exact (idf's logarithm is libm-dependent, so scoring variants
    that need it live outside the hash-checked surface).
    """
    from pyspark.sql import Window

    from etl_pipeline_excel_sql__spark.functions.text import STOPWORDS, ws_tokens

    docs = load_table(spark, "documents", sf_dir)
    sw = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    toks = docs.select(
        "doc_id", F.explode(ws_tokens(F.col("text"))).alias("term")
    ).filter(~F.array_contains(sw, F.col("term")))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    w = Window.partitionBy("doc_id").orderBy(F.col("tf").desc(), F.col("term").asc())
    return (
        tf.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 5)
        .select("doc_id", "term", "tf", "rnk")
    )


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch MERGE: even-keyed orders as target, 3-divisible keys as the
    updating source (price bumped, status rewritten), full-outer + coalesce."""
    from etl_pipeline_excel_sql__spark.operators.merge import merge_upsert

    o = load_table(spark, "orders", sf_dir)
    target = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    source = o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") + 1000.0).alias("o_totalprice"),
    )
    return merge_upsert(
        target, source, "o_orderkey", ["o_orderstatus", "o_totalprice"]
    )


from etl_pipeline_excel_sql__spark.plans.pipeline_queries import _STOP  # noqa: E402

ORACLE.update(
    {
        "text_top_terms": f"""
        WITH toks AS (
          SELECT doc_id, unnest({WS_TOKENS_SQL}) AS term FROM documents
        ), tf AS (
          SELECT doc_id, term, COUNT(*) AS tf
          FROM toks
          WHERE NOT list_contains({_STOP['en']}, term)
          GROUP BY doc_id, term
        )
        SELECT doc_id, term, tf,
               CAST(row_number() OVER (PARTITION BY doc_id
                    ORDER BY tf DESC, term ASC) AS INT) AS rnk
        FROM tf
        QUALIFY rnk <= 5""",
        "merge_upsert": """
        WITH t AS (
          SELECT o_orderkey, o_orderstatus, o_totalprice
          FROM orders WHERE o_orderkey % 2 = 0
        ), s AS (
          SELECT o_orderkey, 'U' AS o_orderstatus,
                 o_totalprice + 1000.0 AS o_totalprice
          FROM orders WHERE o_orderkey % 3 = 0
        )
        SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
               CASE WHEN s.o_orderkey IS NOT NULL
                    THEN s.o_orderstatus ELSE t.o_orderstatus
               END AS o_orderstatus,
               CASE WHEN s.o_orderkey IS NOT NULL
                    THEN s.o_totalprice ELSE t.o_totalprice
               END AS o_totalprice
        FROM t FULL OUTER JOIN s ON t.o_orderkey = s.o_orderkey""",
    }
)

QUERIES.update(
    {
        "text_top_terms": q_text_top_terms,
        "merge_upsert": q_merge_upsert,
    }
)


def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 array surface: split / size / element access / slice / contains /
    sort / distinct over document token arrays.

    The array-valued results (``first_three``, ``first_five_sorted``) are
    rendered to delimited strings: the verification harness canonicalizes
    result frames via pandas sort/factorize, which requires hashable cells.
    Same information, hashable dtype.
    """
    from etl_pipeline_excel_sql__spark.functions.text import ws_tokens

    docs = load_table(spark, "documents", sf_dir)
    toks = ws_tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(toks).cast("int").alias("n_tokens"),
        F.element_at(toks, 1).alias("first_token"),
        F.element_at(toks, -1).alias("last_token"),
        F.concat_ws(" ", F.slice(toks, 1, 3)).alias("first_three"),
        F.array_contains(toks, "table").alias("has_table"),
        F.size(F.array_distinct(toks)).cast("int").alias("n_distinct_tokens"),
        F.concat_ws(
            " ", F.sort_array(F.array_distinct(F.slice(toks, 1, 5)))
        ).alias("first_five_sorted"),
    )


ORACLE["array_funcs"] = f"""
    SELECT doc_id,
           CAST(len(toks) AS INT) AS n_tokens,
           toks[1] AS first_token,
           toks[-1] AS last_token,
           array_to_string(toks[1:3], ' ') AS first_three,
           list_contains(toks, 'table') AS has_table,
           CAST(len(list_distinct(toks)) AS INT) AS n_distinct_tokens,
           array_to_string(list_sort(list_distinct(toks[1:5])), ' ')
               AS first_five_sorted
    FROM (SELECT doc_id, {{toks}} AS toks FROM documents)
""".format(toks=WS_TOKENS_SQL)
QUERIES["array_funcs"] = q_array_funcs


def q_window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value over an explicit frame."""
    from pyspark.sql import Window

    o = load_table(spark, "orders", sf_dir)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w).alias("last_price"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
    )


def q_fill_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null imputation with group means — the standard feature-cleaning op.

    Deterministic nulls are injected (error events lose their value), then
    filled with the per-type mean of the surviving values (decimal-exact
    mean, string-hopped to double).
    """
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir)
    v = F.when(F.col("event_type") != "error", F.col("value"))
    w = Window.partitionBy("event_type")
    # Float-parity idiom: sum as decimal (associative, partition-order
    # free), render decimal→string→double so both engines parse the same
    # correctly-rounded double. Don't collapse to a plain double SUM.
    mean = (
        F.sum(v.cast("decimal(18,6)")).over(w).cast("string").cast("double")
        / F.count(v).over(w)
    )
    return ev.select(
        "event_id",
        "event_type",
        F.coalesce(v, mean).alias("value_filled"),
        v.isNull().alias("was_imputed"),
    )


ORACLE.update(
    {
        "window_first_last": """
        SELECT o_custkey, o_orderkey,
               first_value(o_totalprice) OVER w AS first_price,
               last_value(o_totalprice) OVER w AS last_price,
               nth_value(o_totalprice, 2) OVER w AS second_price
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""",
        "fill_impute": """
        WITH v AS (
          SELECT event_id, event_type,
                 CASE WHEN event_type <> 'error' THEN value END AS v
          FROM events
        )
        SELECT event_id, event_type,
               COALESCE(v,
                 CAST(CAST(SUM(CAST(v AS DECIMAL(18,6)))
                           OVER (PARTITION BY event_type) AS VARCHAR) AS DOUBLE)
                 / COUNT(v) OVER (PARTITION BY event_type)) AS value_filled,
               v IS NULL AS was_imputed
        FROM v""",
    }
)
QUERIES.update(
    {
        "window_first_last": q_window_first_last,
        "fill_impute": q_fill_impute,
    }
)


def q_fuzzy_join_partnames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy self-join: distinct part-name pairs sharing a blocking
    token whose Levenshtein distance is <= 3 — the standard record-linkage
    shape (block -> verify) the reference's manual header matching hints
    at, distributed.

    Blocking on the first name token keeps the verify step per-block
    (never all-pairs); Levenshtein is the classic DP, identical integers
    on both engines. Names dedupe BEFORE the self-join so the quadratic
    step runs on distinct values only.
    """
    part = load_table(spark, "part", sf_dir)
    names = (
        part.select(
            F.col("p_name").alias("name"),
            F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("blk"),
        )
        .distinct()
    )
    a = names.select(F.col("name").alias("name_a"), "blk")
    b = names.select(F.col("name").alias("name_b"), "blk")
    return (
        a.join(b, on="blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("edit_dist") <= 3)
        .select("name_a", "name_b", F.col("edit_dist").cast("int").alias("edit_dist"))
    )


def q_window_rank_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-metric family over one window: ntile quartile, percent_rank,
    cume_dist per order within its status, ordered by (price, key) so
    every metric is tie-free deterministic.

    percent_rank = (rank-1)/(n-1) and cume_dist = peers/n are single
    IEEE divisions — bit-identical across engines; ntile depends only on
    row position.
    """
    o = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


ORACLE.update(
    {
        "fuzzy_join_partnames": """
        WITH names AS (
          SELECT DISTINCT p_name AS name, split_part(p_name, ' ', 1) AS blk
          FROM part
        )
        SELECT a.name AS name_a, b.name AS name_b,
               CAST(levenshtein(a.name, b.name) AS INT) AS edit_dist
        FROM names a JOIN names b ON a.blk = b.blk AND a.name < b.name
        WHERE levenshtein(a.name, b.name) <= 3""",
        "window_rank_metrics": """
        SELECT o_orderkey, o_orderstatus, o_totalprice,
               CAST(ntile(4) OVER w AS INT) AS quartile,
               percent_rank() OVER w AS pct_rank,
               cume_dist() OVER w AS cume
        FROM orders
        WINDOW w AS (PARTITION BY o_orderstatus
                     ORDER BY o_totalprice ASC, o_orderkey ASC)""",
    }
)
QUERIES.update(
    {
        "fuzzy_join_partnames": q_fuzzy_join_partnames,
        "window_rank_metrics": q_window_rank_metrics,
    }
)


def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality audit over ``orders``: one row per rule
    with its violation count — the distributed form of the reference's
    upload-side validation (empty-source guard, key checks).

    Row-level rules (positivity, domain membership, non-null) fold into
    ONE conditional aggregate over a single scan; the referential rule is
    a broadcast anti-join count; the uniqueness rule is sum(per-key count
    - 1) over a map-side-combined groupBy. All-integer outputs.
    """
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    row_rules = o.agg(
        F.sum(
            F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)
        ).cast("bigint").alias("totalprice_positive"),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)
        ).cast("bigint").alias("status_in_domain"),
        F.sum(
            F.when(F.col("o_custkey").isNull(), 1).otherwise(0)
        ).cast("bigint").alias("custkey_not_null"),
    )
    melted = row_rules.selectExpr(
        "stack(3, 'totalprice_positive', totalprice_positive, "
        "'status_in_domain', status_in_domain, "
        "'custkey_not_null', custkey_not_null) AS (rule, violations)"
    )
    fk = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left_anti")
        .agg(F.count("*").cast("bigint").alias("violations"))
        .select(F.lit("custkey_fk").alias("rule"), "violations")
    )
    uniq = (
        o.groupBy("o_orderkey")
        .agg(F.count("*").alias("n"))
        .agg(
            F.coalesce(F.sum(F.col("n") - 1), F.lit(0))
            .cast("bigint")
            .alias("violations")
        )
        .select(F.lit("orderkey_unique").alias("rule"), "violations")
    )
    return melted.unionAll(fk).unionAll(uniq)


ORACLE["dq_checks"] = """
SELECT 'totalprice_positive' AS rule,
       CAST(COUNT(*) FILTER (o_totalprice <= 0) AS BIGINT) AS violations
FROM orders
UNION ALL
SELECT 'status_in_domain',
       CAST(COUNT(*) FILTER (o_orderstatus NOT IN ('O','F','P')) AS BIGINT)
FROM orders
UNION ALL
SELECT 'custkey_not_null',
       CAST(COUNT(*) FILTER (o_custkey IS NULL) AS BIGINT)
FROM orders
UNION ALL
SELECT 'custkey_fk',
       CAST(COUNT(*) AS BIGINT)
FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
UNION ALL
SELECT 'orderkey_unique',
       CAST(COALESCE(SUM(n - 1), 0) AS BIGINT)
FROM (SELECT o_orderkey, COUNT(*) AS n FROM orders GROUP BY o_orderkey)
"""
QUERIES["dq_checks"] = q_dq_checks
