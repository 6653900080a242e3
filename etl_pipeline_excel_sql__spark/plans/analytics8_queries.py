"""Round-4 widening #4: embedding-space geometry, classifier evaluation,
and cumulative inventory/backlog tracking.

* ``emb_centroid_distances`` — exact pairwise squared-L2 distance between
  label centroids, entirely in integer micro-units: centroids come from
  the ``emb_label_centroids`` FLOOR-quantized integer-mean trick, and the
  distance is a sum of squared integer differences — bit-exact on any
  engine, no float accumulation anywhere. This is the cluster-separation
  diagnostic run after every embedding build; the join is centroid-sized
  (labels × dims), the corpus never moves.
* ``lang_confusion`` — confusion matrix of the n-gram/stopword language
  identifier against the labeled ``lang`` column, with per-class recall
  in exact ppm. The classifier-evaluation pattern: predictions are an
  expression (no UDF), the matrix is one (actual, predicted) aggregate,
  and class totals broadcast back for the rate.
* ``scd2_pointintime`` — as-of lookup against the SCD2 dimension built by
  ``merge_scd2``: the version set valid at each probe instant
  (``valid_from <= D < valid_to``, NULL = open). Probe dates broadcast,
  the version table never shuffles, and the oracle wraps the merge_scd2
  oracle verbatim as its base relation — the temporal join is certified
  against the SAME versioned state the MERGE gate certifies.
* ``orders_backlog`` — daily opened / fully-shipped / cumulative-open
  order counts: the event-delta prefix-sum pattern (open = +1 at order
  date, close = −1 at the order's LAST ship date). The cumulative sum
  runs single-partition — over per-DAY aggregates, whose cardinality is
  the calendar (~2.5k rows here, bounded at any corpus scale), which is
  the honest place for a global cumsum (cf. ``global_row_number`` for
  the table-sized variant that must never do this).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.functions.text import (
    WS_TOKENS_SQL,
    lang_id,
    ws_tokens,
)
from etl_pipeline_excel_sql__spark.plans.analytics2_queries import (
    ORACLE as _A2_ORACLE,
)
from etl_pipeline_excel_sql__spark.plans.analytics2_queries import (
    q_merge_scd2,
)
from etl_pipeline_excel_sql__spark.plans.analytics5_queries import (
    q_emb_label_centroids,
)
from etl_pipeline_excel_sql__spark.sources.registry import load_table

#: as-of probe dates for the SCD2 point-in-time lookup: inside the
#: history-only window, the steady pre-merge window, and post-merge.
SCD2_PROBES = ("2019-06-01", "2020-06-01", "2021-07-01")


def q_emb_centroid_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer squared-L2 between every label-centroid pair."""
    cent = q_emb_label_centroids(spark, sf_dir).select(
        "label", "dim", "mean_micro"
    )
    a = cent.select(
        F.col("label").alias("label_a"), "dim", F.col("mean_micro").alias("ma")
    )
    b = cent.select(
        F.col("label").alias("label_b"), "dim", F.col("mean_micro").alias("mb")
    )
    d = (
        a.join(b, "dim")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.count(F.lit(1)).alias("n_dims"),
            F.sum(
                (F.col("ma") - F.col("mb")) * (F.col("ma") - F.col("mb"))
            ).alias("dist_sq_micro2"),
        )
    )
    return d


def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix with exact per-class recall (ppm)."""
    docs = load_table(spark, "documents", sf_dir)
    pred = docs.select(
        "lang", lang_id(ws_tokens(F.col("text"))).alias("pred_lang")
    )
    cells = pred.groupBy("lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    totals = cells.groupBy("lang").agg(F.sum("n_docs").alias("n_class"))
    return (
        cells.join(F.broadcast(totals), "lang")
        .select(
            "lang",
            "pred_lang",
            "n_docs",
            F.col("n_class").cast("bigint").alias("n_class"),
            F.expr("n_docs * 1000000 div n_class").alias("rate_ppm"),
        )
    )


def q_scd2_pointintime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup against the SCD2 dimension: for each probe
    date, the version set valid at that instant (``valid_from <= D <
    valid_to``, open intervals current). The temporal-join semantics
    every versioned dimension serves; ISO date strings compare
    lexicographically, so validity is a pure string predicate on both
    engines. Probe dates broadcast; the version table never shuffles —
    one aggregate exchange on the (tiny) probe key.
    """
    scd2 = q_merge_scd2(spark, sf_dir)
    probes = local_df(
        spark, [(d,) for d in SCD2_PROBES], "probe_date string"
    )
    hit = scd2.crossJoin(F.broadcast(probes)).filter(
        (F.col("valid_from") <= F.col("probe_date"))
        & (
            F.col("valid_to").isNull()
            | (F.col("valid_to") > F.col("probe_date"))
        )
    )
    return hit.groupBy("probe_date").agg(
        F.count(F.lit(1)).alias("n_versions"),
        F.count_distinct("c_custkey").alias("n_customers"),
        F.sum(F.col("c_acctbal").cast("decimal(18,6)"))
        .cast("decimal(38,6)")
        .cast("string")
        .cast("double")
        .alias("total_acctbal"),
    )


def q_orders_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily opened / fully-shipped / cumulative open order counts."""
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    opened = orders.groupBy(
        F.to_date("o_orderdate").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_opened"))
    closed = (
        li.groupBy("l_orderkey")
        .agg(F.max(F.to_date("l_shipdate")).alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_closed"))
    )
    days = opened.join(closed, "day", "full_outer").select(
        "day",
        F.coalesce("n_opened", F.lit(0)).cast("bigint").alias("n_opened"),
        F.coalesce("n_closed", F.lit(0)).cast("bigint").alias("n_closed"),
    )
    # single-partition cumsum is deliberate: the frame is per-DAY rows —
    # calendar-bounded, never data-volume-bounded (see module docstring)
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return days.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_opened",
        "n_closed",
        F.sum(F.col("n_opened") - F.col("n_closed"))
        .over(w)
        .cast("bigint")
        .alias("backlog"),
    )


# DuckDB centroid base relation — IMPORTED from the emb_label_centroids
# oracle (not copied): a fix to the centroid arithmetic there (it has
# been patched once already for a FLOOR-quantization bug) must flow into
# this distance oracle automatically, mirroring the Spark side's direct
# call to q_emb_label_centroids.
from etl_pipeline_excel_sql__spark.plans.analytics5_queries import (  # noqa: E402
    ORACLE as _A5_ORACLE,
)
from etl_pipeline_excel_sql__spark.functions.localframe import local_df

_CENTROID_CTE = _A5_ORACLE["emb_label_centroids"]

# Tokenizer + stopword-hit SQL fragments — DuckDB twins of
# functions/text.py (same definitions as the text_lang_id oracle).


def _text_sw_hits(lang: str) -> str:
    from etl_pipeline_excel_sql__spark.functions.text import STOPWORDS

    arr = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return (
        f"len(list_filter(toks, t -> list_contains([{arr}], lower(t))))"
    )


ORACLE: dict[str, str] = {
    "emb_centroid_distances": f"""
        WITH cent AS ({_CENTROID_CTE})
        SELECT a.label AS label_a, b.label AS label_b,
               COUNT(*) AS n_dims,
               CAST(SUM((a.mean_micro - b.mean_micro)
                   * (a.mean_micro - b.mean_micro)) AS BIGINT)
                 AS dist_sq_micro2
        FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
        GROUP BY 1, 2""",
    "lang_confusion": f"""
        WITH pred AS (
          SELECT lang,
            CASE
              WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr
                   AND h_de > 0 THEN 'de'
              WHEN h_en >= h_es AND h_en >= h_fr AND h_en > 0 THEN 'en'
              WHEN h_es >= h_fr AND h_es > 0 THEN 'es'
              WHEN h_fr > 0 THEN 'fr'
              ELSE 'und'
            END AS pred_lang
          FROM (
            SELECT lang,
              {_text_sw_hits('de')} AS h_de, {_text_sw_hits('en')} AS h_en,
              {_text_sw_hits('es')} AS h_es, {_text_sw_hits('fr')} AS h_fr
            FROM (SELECT lang, {WS_TOKENS_SQL} AS toks FROM documents)
          )
        ), cells AS (
          SELECT lang, pred_lang, COUNT(*) AS n_docs
          FROM pred GROUP BY 1, 2
        ), totals AS (
          SELECT lang, SUM(n_docs) AS n_class FROM cells GROUP BY lang
        )
        SELECT lang, pred_lang, n_docs,
               CAST(n_class AS BIGINT) AS n_class,
               CAST(n_docs * 1000000 // n_class AS BIGINT) AS rate_ppm
        FROM cells JOIN totals USING (lang)""",
    "orders_backlog": """
        WITH opened AS (
          SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n_opened
          FROM orders GROUP BY 1
        ), closed AS (
          SELECT day, COUNT(*) AS n_closed FROM (
            SELECT l_orderkey, MAX(CAST(l_shipdate AS DATE)) AS day
            FROM lineitem GROUP BY l_orderkey
          ) GROUP BY day
        ), days AS (
          SELECT COALESCE(o.day, c.day) AS day,
                 COALESCE(n_opened, 0) AS n_opened,
                 COALESCE(n_closed, 0) AS n_closed
          FROM opened o FULL OUTER JOIN closed c ON o.day = c.day
        )
        SELECT strftime(day, '%Y-%m-%d') AS day,
               CAST(n_opened AS BIGINT) AS n_opened,
               CAST(n_closed AS BIGINT) AS n_closed,
               CAST(SUM(n_opened - n_closed) OVER (ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS backlog
        FROM days""",
}

# The merge_scd2 oracle (analytics2_queries) verbatim as the versioned
# base relation; the point-in-time predicate and rollup wrap it.
_probe_values = ", ".join(f"('{d}')" for d in SCD2_PROBES)
ORACLE["scd2_pointintime"] = f"""
    SELECT probe_date,
           COUNT(*) AS n_versions,
           COUNT(DISTINCT c_custkey) AS n_customers,
           CAST(CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6)))
                AS DECIMAL(38,6)) AS VARCHAR) AS DOUBLE) AS total_acctbal
    FROM ({_A2_ORACLE["merge_scd2"]}) scd2
    JOIN (VALUES {_probe_values}) p(probe_date)
      ON valid_from <= probe_date
     AND (valid_to IS NULL OR valid_to > probe_date)
    GROUP BY probe_date"""

QUERIES = {
    "emb_centroid_distances": q_emb_centroid_distances,
    "lang_confusion": q_lang_confusion,
    "orders_backlog": q_orders_backlog,
    "scd2_pointintime": q_scd2_pointintime,
}
