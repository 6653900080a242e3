"""Reference-semantic queries (SURVEY.md §2.1-§2.8) re-aimed at the corpus.

Each query exercises one reference operator with its exact semantics; the
paired DuckDB SQL is the independent oracle. Aliases match exactly between
both sides (the driver's value hash sorts columns by name).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.functions.cleaning import (
    date_reformat,
    null_literal_to_null,
    percent_format,
    to_str,
)
from etl_pipeline_excel_sql__spark.operators.diff import snapshot_diff, word_diff
from etl_pipeline_excel_sql__spark.operators.ordering import categorical_order
from etl_pipeline_excel_sql__spark.sources.registry import load_table

PRIORITY_ORDER = ["2-HIGH", "1-URGENT", "3-MEDIUM"]


def q_filter_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 equality filter (reference Download.py:89 semantics)."""
    return load_table(spark, "customer", sf_dir).filter(
        F.col("c_mktsegment") == "BUILDING"
    )


def q_filter_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 IN-list filter (reference Upload.py:127)."""
    return (
        load_table(spark, "orders", sf_dir)
        .filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                "o_orderpriority")
    )


def q_drop_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 drop-columns projection (reference Download.py:95-113).

    Catalyst turns the drop into column pruning at the parquet scan — the
    dropped columns are never read (the reference fetched everything and
    discarded client-side).
    """
    return load_table(spark, "lineitem", sf_dir).drop(
        "l_tax", "l_shipdate", "l_linestatus"
    )


def q_rename_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 positional rename — erase names to ordinals (Download.py:157)."""
    df = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )
    return df.toDF(*[str(i) for i in range(len(df.columns))])


def q_date_fmt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 parse-coerce-reformat (Download.py:130-136)."""
    return load_table(spark, "orders", sf_dir).select(
        "o_orderkey", date_reformat("o_orderdate").alias("order_date_str")
    )


def q_pct_fmt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 percent formatter with round-half-even (Download.py:146-155)."""
    return load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey",
        "l_linenumber",
        percent_format("l_discount").alias("discount_pct"),
    )


def q_null_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'NULL'-literal → NULL rewrite (Download.py:148)."""
    return load_table(spark, "orders", sf_dir).select(
        "o_orderkey", null_literal_to_null("o_orderstatus").alias("status_clean")
    )


def q_to_str_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 null-safe stringify (Compare.py:45-48)."""
    return load_table(spark, "customer", sf_dir).select(
        "c_custkey",
        to_str("c_name").alias("name_str"),
        to_str("c_mktsegment").alias("segment_str"),
    )


def q_order_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 fixed categorical block order (Upload.py:193-196)."""
    return categorical_order(
        load_table(spark, "orders", sf_dir),
        "o_orderpriority",
        PRIORITY_ORDER,
        tiebreak_cols=["o_orderkey"],
    ).select("o_orderkey", "o_orderpriority", "_ord")


def q_dedup_lastwins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 last-wins key dedup with explicit ordinal (Compare.py:59-62)."""
    from etl_pipeline_excel_sql__spark.operators.diff import dedup_last_wins

    return dedup_last_wins(
        load_table(spark, "lineitem", sf_dir),
        "l_orderkey",
        ["l_linenumber", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice"],
    ).select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")


def q_join_left_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 left-outer equi-join, dimension side broadcast (Compare.py:153-178)."""
    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    return orders.join(
        F.broadcast(customer), orders.o_custkey == customer.c_custkey, "left"
    ).select("o_orderkey", "o_custkey", "c_name", "c_mktsegment")


def q_join_anti_new(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 anti-join: keys absent from the other side (Compare.py:179-185)."""
    customer = load_table(spark, "customer", sf_dir)
    urgent = (
        load_table(spark, "orders", sf_dir)
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return customer.join(urgent, on="c_custkey", how="left_anti").select(
        "c_custkey", "c_name"
    )


def _snapshots(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Deterministic Q1/Q2 snapshot pair derived from ``orders``.

    * old (q1): orders with ``o_orderkey % 13 != 0`` → the %13 keys are
      'new' in q2;
    * new (q2): all orders, with status blanked when ``%17 == 0`` (cleared)
      and priority rewritten when ``%10 == 0`` (changed).
    """
    orders = load_table(spark, "orders", sf_dir)
    key = F.col("o_orderkey").cast("string").alias("k")
    old = orders.filter(F.col("o_orderkey") % 13 != 0).select(
        key,
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("prio"),
    )
    new = orders.select(
        key,
        F.when(F.col("o_orderkey") % 17 == 0, F.lit("")).otherwise(
            F.col("o_orderstatus")
        ).alias("status"),
        F.when(F.col("o_orderkey") % 10 == 0, F.lit("CHANGED")).otherwise(
            F.col("o_orderpriority")
        ).alias("prio"),
    )
    return old, new


def q_diff_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1+D2 snapshot diff: one join, derived status columns (Compare.py:168-210)."""
    old, new = _snapshots(spark, sf_dir)
    return snapshot_diff(old, new, key="k", compare_cols=["status", "prio"])


def q_word_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 positional word diff, exploded per token (Compare.py:87-110)."""
    docs = load_table(spark, "documents", sf_dir)
    wd = word_diff("text", "concat(replace(text, 'table', 'tbl'), ' zz')")
    return docs.select("doc_id", F.posexplode(wd).alias("idx", "w")).select(
        "doc_id", "idx", F.col("w.word").alias("word"), F.col("w.same").alias("same")
    )


def q_download_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the Download transform core end-to-end (SURVEY.md §3.1).

    Extract (pushed-down filter) → dimension broadcast join → drop → date
    reformat (T1) → percent render (T2) → categorical order key (O1).
    """
    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    joined = orders.join(
        F.broadcast(customer), orders.o_custkey == customer.c_custkey
    ).filter(F.col("c_mktsegment") == "BUILDING")
    return joined.select(
        "o_orderkey",
        "c_name",
        date_reformat("o_orderdate").alias("order_date_str"),
        percent_format(F.col("o_totalprice") / F.lit(1_000_000.0)).alias(
            "price_pct_of_1m"
        ),
        F.col("o_orderpriority").alias("prio"),
    )


# --- DuckDB oracle SQL (names/aliases must mirror the queries above) -------

_TO_STR = "coalesce(trim(CAST({c} AS VARCHAR)), '')"

_DIFF_SQL = """
WITH old AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS k,
         o_orderstatus AS status,
         o_orderpriority AS prio
  FROM orders WHERE o_orderkey % 13 <> 0
), new AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS k,
         CASE WHEN o_orderkey % 17 = 0 THEN '' ELSE o_orderstatus END AS status,
         CASE WHEN o_orderkey % 10 = 0 THEN 'CHANGED' ELSE o_orderpriority END AS prio
  FROM orders
), o AS (
  SELECT k, {s_old} AS status, {p_old} AS prio, TRUE AS in_old
  FROM old WHERE {k_old} <> ''
), n AS (
  SELECT k, {s_new} AS status, {p_new} AS prio
  FROM new WHERE {k_new} <> ''
)
SELECT n.k,
  CASE WHEN o.in_old IS NULL THEN 'new' ELSE 'present' END AS row_status,
  CASE WHEN o.in_old IS NULL THEN NULL
       WHEN o.status <> '' AND n.status = '' THEN 'cleared'
       WHEN n.status <> o.status THEN 'changed' ELSE 'same' END AS status__status,
  CASE WHEN o.in_old IS NULL THEN NULL ELSE o.status END AS status__old,
  n.status AS status__new,
  CASE WHEN o.in_old IS NULL THEN NULL
       WHEN o.prio <> '' AND n.prio = '' THEN 'cleared'
       WHEN n.prio <> o.prio THEN 'changed' ELSE 'same' END AS prio__status,
  CASE WHEN o.in_old IS NULL THEN NULL ELSE o.prio END AS prio__old,
  n.prio AS prio__new
FROM n LEFT JOIN o USING (k)
""".format(
    s_old=_TO_STR.format(c="status"),
    p_old=_TO_STR.format(c="prio"),
    k_old=_TO_STR.format(c="k"),
    s_new=_TO_STR.format(c="status"),
    p_new=_TO_STR.format(c="prio"),
    k_new=_TO_STR.format(c="k"),
)

_WORD_DIFF_SQL = """
WITH base AS (
  SELECT doc_id,
    regexp_split_to_array(trim({old}), '\\s+') AS wo,
    regexp_split_to_array(trim({new}), '\\s+') AS wn
  FROM documents
)
SELECT doc_id, CAST(i - 1 AS INT) AS idx,
       wn[i] AS word,
       (wn[i] IS NOT DISTINCT FROM wo[i]) AS same
FROM base, UNNEST(range(1, greatest(len(wn), 1) + 1)) AS t(i)
""".format(
    old="coalesce(trim(CAST(text AS VARCHAR)), '')",
    new="coalesce(trim(CAST(replace(text, 'table', 'tbl') || ' zz' AS VARCHAR)), '')",
)

ORACLE: dict[str, str] = {
    "filter_eq": "SELECT * FROM customer WHERE c_mktsegment = 'BUILDING'",
    "filter_in": """
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
        FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')""",
    "drop_cols": """
        SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
               l_extendedprice, l_discount, l_returnflag
        FROM lineitem""",
    "rename_positional": """
        SELECT l_orderkey AS "0", l_linenumber AS "1", l_quantity AS "2",
               l_returnflag AS "3"
        FROM lineitem""",
    "date_fmt": """
        SELECT o_orderkey, strftime(o_orderdate, '%m-%d-%Y') AS order_date_str
        FROM orders""",
    "pct_fmt": """
        SELECT l_orderkey, l_linenumber,
               CAST(CAST(round_even(l_discount * 100, 0) AS BIGINT) AS VARCHAR)
                 || '%' AS discount_pct
        FROM lineitem""",
    "null_literal": """
        SELECT o_orderkey,
               CASE WHEN o_orderstatus = 'NULL' THEN NULL ELSE o_orderstatus END
                 AS status_clean
        FROM orders""",
    "to_str_trim": f"""
        SELECT c_custkey,
               {_TO_STR.format(c='c_name')} AS name_str,
               {_TO_STR.format(c='c_mktsegment')} AS segment_str
        FROM customer""",
    "order_custom": """
        SELECT o_orderkey, o_orderpriority,
               CAST(list_position(['2-HIGH','1-URGENT','3-MEDIUM'], o_orderpriority)
                    AS INT) AS _ord
        FROM orders
        WHERE coalesce(list_position(['2-HIGH','1-URGENT','3-MEDIUM'],
                                     o_orderpriority), 0) > 0""",
    "dedup_lastwins": """
        SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
        FROM lineitem
        QUALIFY row_number() OVER (PARTITION BY l_orderkey
                                   ORDER BY l_linenumber DESC, l_partkey DESC,
                                            l_suppkey DESC, l_quantity DESC,
                                            l_extendedprice DESC) = 1""",
    "join_left_probe": """
        SELECT o_orderkey, o_custkey, c_name, c_mktsegment
        FROM orders LEFT JOIN customer ON o_custkey = c_custkey""",
    "join_anti_new": """
        SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderpriority = '1-URGENT')""",
    "diff_cells": _DIFF_SQL,
    "word_diff": _WORD_DIFF_SQL,
    "download_pipeline": """
        SELECT o_orderkey, c_name,
               strftime(o_orderdate, '%m-%d-%Y') AS order_date_str,
               CAST(CAST(round_even(o_totalprice / 1000000.0 * 100, 0) AS BIGINT)
                    AS VARCHAR) || '%' AS price_pct_of_1m,
               o_orderpriority AS prio
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'""",
}

QUERIES = {
    "filter_eq": q_filter_eq,
    "filter_in": q_filter_in,
    "drop_cols": q_drop_cols,
    "rename_positional": q_rename_positional,
    "date_fmt": q_date_fmt,
    "pct_fmt": q_pct_fmt,
    "null_literal": q_null_literal,
    "to_str_trim": q_to_str_trim,
    "order_custom": q_order_custom,
    "dedup_lastwins": q_dedup_lastwins,
    "join_left_probe": q_join_left_probe,
    "join_anti_new": q_join_anti_new,
    "diff_cells": q_diff_cells,
    "word_diff": q_word_diff,
    "download_pipeline": q_download_pipeline,
}
