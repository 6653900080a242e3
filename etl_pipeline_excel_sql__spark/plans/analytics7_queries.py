"""Round-4 widening #3: robust/temporal aggregates and market-basket
association mining.

* ``agg_trimmed_mean`` — 5%-trimmed mean per return flag: exact rank
  trimming (row_number + count, the same arithmetic as
  ``agg_median_price``), never an approximate percentile. Boundary ties
  are value-equal by construction, so ANY tie order keeps the same value
  multiset — the result is deterministic without a total order. The sum
  of survivors accumulates in ``decimal`` (associative) and renders
  through the decimal→string→double parity idiom; the final mean is one
  IEEE divide.
* ``events_twap`` — time-weighted average per user-day, the hypertable
  ``time_weight('locf')`` aggregate: each reading holds until the next
  one, weights are integer epoch-micro durations, and the
  value×duration products accumulate exactly in decimal. Days whose
  events all share one timestamp (zero total duration) fall back to the
  plain mean. One shuffle: the (user, day) window.
* ``events_m4_downsample`` — M4 time-series downsampling (Jugel et al.,
  VLDB'14): per (event_type, hour) bucket keep min, max, first, and
  last — the four points that preserve a line chart's pixel-exact shape.
  First/last are ``min_by``/``max_by`` over the total order
  (epoch-micros, event_id): one partial-aggregated exchange, no window,
  no per-row rank rows — the plan that downsamples a trillion points.
* ``basket_lift`` — association-rule mining over order baskets at the
  brand level: support, directional confidence, and lift for every
  unordered brand pair. All statistics are exact integers (parts-per-
  million via integer division), so cross-engine parity is trivial. The
  pair join runs on the DISTINCT (order, brand) set — fan-out per basket
  is at most C(|brands|, 2), independent of line-item volume.
* ``profile_columns`` — one-pass data-profiling summary (null count,
  exact NDV, min/max) for the four lineitem measures via STACK: the
  wide→long melt means ONE scan and one 4-key aggregate instead of four
  separate jobs — the shape a 100 TB profiler needs.
* ``weighted_median_price`` — exact weighted median by the cumulative-
  weight crossing rule: weights accumulate in decimal, the first price
  whose running weight reaches half the total wins, and equal-price runs
  make the selected value tie-order-independent. No interpolation — the
  result is always an observed value, like every exact order statistic
  here.
* ``text_weighted_sample`` — deterministic size-weighted document
  sampling: priority = hash60(doc_id) div weight, keep the k smallest.
  Longer documents divide their uniform hash by a larger weight, so
  inclusion odds scale with length, yet the sample is a pure function of
  the data — identical on any engine, any partitioning, any retry
  (the same no-RNG doctrine as ``sample_stratified``). Global top-k is
  per-partition top-k then a k-row merge, never a full sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.functions.hashing import (
    H60_SQL,
    md5_hash60,
)
from etl_pipeline_excel_sql__spark.sources.registry import load_table

#: basis points trimmed from EACH tail of the per-group distribution.
TRIM_BP = 500

HOUR_US = 3_600_000_000

#: documents kept by the weighted sampler.
WSAMPLE_K = 200


def q_agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-trimmed mean of l_extendedprice per return flag, by exact ranks."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_returnflag", F.col("l_extendedprice").alias("v")
    )
    w = Window.partitionBy("l_returnflag").orderBy("v")
    wall = Window.partitionBy("l_returnflag")
    ranked = li.select(
        "l_returnflag",
        "v",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("cnt"),
    )
    lo = F.expr(f"cnt * {TRIM_BP} div 10000")
    kept = ranked.filter(
        (F.col("rn") > lo) & (F.col("rn") <= F.col("cnt") - lo)
    )
    return kept.groupBy("l_returnflag").agg(
        F.min("cnt").cast("bigint").alias("n_total"),
        F.count(F.lit(1)).alias("n_kept"),
        (
            # decimal sum → string → double: the float-parity idiom (sum
            # order varies per partition; decimal addition is associative)
            F.sum(F.col("v").cast("decimal(18,6)"))
            .cast("decimal(38,6)")
            .cast("string")
            .cast("double")
            / F.count(F.lit(1))
        ).alias("trimmed_mean"),
    )


def q_events_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user-day (LOCF weighting)."""
    ev = load_table(spark, "events", sf_dir).select(
        "user_id",
        F.to_date("ts").alias("day"),
        F.unix_micros(F.col("ts")).alias("tus"),
        "event_id",
        F.col("value").cast("decimal(18,6)").alias("vdec"),
    )
    w = Window.partitionBy("user_id", "day").orderBy("tus", "event_id")
    dur = (F.lead("tus").over(w) - F.col("tus")).alias("dur_us")
    timed = ev.select("user_id", "day", "vdec", dur)
    agg = timed.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.coalesce(
            F.sum(F.col("dur_us")), F.lit(0).cast("bigint")
        ).alias("den_us"),
        # value×duration accumulates exactly in decimal; the last event of
        # the day has NULL duration and drops out of the weighted sum
        F.sum(F.col("vdec") * F.col("dur_us").cast("decimal(18,0)"))
        .cast("decimal(38,6)")
        .cast("string")
        .cast("double")
        .alias("num"),
        F.sum("vdec")
        .cast("decimal(38,6)")
        .cast("string")
        .cast("double")
        .alias("vsum"),
    )
    return agg.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_events",
        F.col("den_us").cast("bigint").alias("den_us"),
        F.when(F.col("den_us") > 0, F.col("num") / F.col("den_us"))
        .otherwise(F.col("vsum") / F.col("n_events"))
        .alias("twap"),
    )


def q_events_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 downsampling: (min, max, first, last) per type per hour."""
    ev = load_table(spark, "events", sf_dir).select(
        "event_type",
        F.unix_micros(F.col("ts")).alias("tus"),
        "event_id",
        "value",
    ).withColumn("bucket", F.expr(f"tus div {HOUR_US}"))
    key = F.struct(F.col("tus"), F.col("event_id"))
    return (
        ev.groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.min("value").alias("v_min"),
            F.max("value").alias("v_max"),
            F.min_by("value", key).alias("v_first"),
            F.max_by("value", key).alias("v_last"),
        )
        .select(
            "event_type",
            F.date_format(
                F.timestamp_micros(F.col("bucket") * HOUR_US),
                "yyyy-MM-dd HH:mm:ss",
            ).alias("bucket_start"),
            "n_points",
            "v_min",
            "v_max",
            "v_first",
            "v_last",
        )
    )


def q_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Support / confidence / lift for every unordered brand pair.

    All ratios are parts-per-million by integer division — exact on both
    engines. n_both × n_orders × 1e6 fits a bigint up to ~3M baskets per
    pair count; beyond that, promote to decimal(38,0).
    """
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    part = load_table(spark, "part", sf_dir).select("p_partkey", "p_brand")
    items = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_orderkey", F.col("p_brand").alias("brand"))
        .distinct()
    )
    n_orders = items.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    brand_cnt = items.groupBy("brand").agg(F.count(F.lit(1)).alias("n_brand"))
    a = items.select("l_orderkey", F.col("brand").alias("brand_a"))
    b = items.select("l_orderkey", F.col("brand").alias("brand_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    ca = brand_cnt.select(
        F.col("brand").alias("brand_a"), F.col("n_brand").alias("n_a")
    )
    cb = brand_cnt.select(
        F.col("brand").alias("brand_b"), F.col("n_brand").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(ca), "brand_a")
        .join(F.broadcast(cb), "brand_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "brand_a",
            "brand_b",
            "n_both",
            "n_a",
            "n_b",
            "n_orders",
            F.expr("n_both * 1000000 div n_a").alias("conf_ab_ppm"),
            F.expr(
                "n_both * n_orders * 1000000 div (n_a * n_b)"
            ).alias("lift_ppm"),
        )
    )


def q_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact QUANTITY-weighted median price per return flag.

    The crossing rule: walking prices in ascending order, the weighted
    median is the first value whose cumulative weight reaches half the
    total. Weights accumulate in decimal (associative — partition order
    can't flip the crossing), and equal-price runs make the selected
    VALUE independent of how engines order ties, so no tie-break column
    is needed. Same one-sort-per-group cost as every exact order
    statistic here; the approximate path at 100 TB is a weighted sketch.
    """
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_returnflag",
        F.col("l_extendedprice").alias("v"),
        F.col("l_quantity").cast("decimal(18,6)").alias("w"),
    )
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("l_returnflag")
    cum = li.select(
        "l_returnflag",
        "v",
        F.sum("w").over(wcum).alias("cum_w"),
        F.sum("w").over(wall).alias("tot_w"),
    )
    crossed = cum.filter(F.col("cum_w") * 2 >= F.col("tot_w"))
    return crossed.groupBy("l_returnflag").agg(
        F.min("v").alias("weighted_median"),
        F.min(F.col("tot_w"))
        .cast("decimal(38,6)")
        .cast("string")
        .cast("double")
        .alias("total_weight"),
    )


#: the four profiled lineitem measures, in output order.
PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def q_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-scan column profile: nulls, exact NDV, min/max per measure."""
    li = load_table(spark, "lineitem", sf_dir)
    stack_args = ", ".join(f"'{c}', {c}" for c in PROFILE_COLS)
    long = li.select(
        F.expr(
            f"stack({len(PROFILE_COLS)}, {stack_args}) AS (col_name, value)"
        )
    )
    return long.groupBy("col_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(F.col("value").isNull(), F.lit(1)).otherwise(F.lit(0))
        ).cast("bigint").alias("n_null"),
        F.count_distinct("value").alias("n_distinct"),
        F.min("value").alias("v_min"),
        F.max("value").alias("v_max"),
    )


def q_text_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic length-weighted top-k document sample.

    Priority uses INTEGER division (``div``) — `/` would go through
    double and lose bits 54-60 of the hash, silently de-randomizing ties.
    """
    doc = load_table(spark, "documents", sf_dir)
    h = md5_hash60(
        F.concat(F.lit("wsample:"), F.col("doc_id").cast("string"))
    )
    weight = F.greatest(F.col("n_chars").cast("bigint"), F.lit(1))
    return (
        doc.select(
            "doc_id", "lang", "n_chars", h.alias("h"), weight.alias("w")
        )
        .select(
            "doc_id",
            "lang",
            "n_chars",
            F.expr("h div w").alias("priority"),
        )
        .orderBy("priority", "doc_id")
        .limit(WSAMPLE_K)
    )


ORACLE: dict[str, str] = {
    "agg_trimmed_mean": f"""
        WITH r AS (
          SELECT l_returnflag, l_extendedprice AS v,
                 row_number() OVER (PARTITION BY l_returnflag ORDER BY
                   l_extendedprice) AS rn,
                 COUNT(*) OVER (PARTITION BY l_returnflag) AS cnt
          FROM lineitem
        )
        SELECT l_returnflag,
               CAST(MIN(cnt) AS BIGINT) AS n_total,
               COUNT(*) AS n_kept,
               CAST(CAST(CAST(SUM(CAST(v AS DECIMAL(18,6)))
                    AS DECIMAL(38,6)) AS VARCHAR) AS DOUBLE) / COUNT(*)
                 AS trimmed_mean
        FROM r
        WHERE rn > cnt * {TRIM_BP} // 10000
          AND rn <= cnt - cnt * {TRIM_BP} // 10000
        GROUP BY l_returnflag""",
    "events_twap": """
        WITH t AS (
          SELECT user_id, CAST(ts AS DATE) AS day, epoch_us(ts) AS tus,
                 event_id, CAST(value AS DECIMAL(18,6)) AS vdec
          FROM events
        ), d AS (
          SELECT user_id, day, vdec,
                 lead(tus) OVER (PARTITION BY user_id, day
                   ORDER BY tus, event_id) - tus AS dur_us
          FROM t
        ), a AS (
          SELECT user_id, day, COUNT(*) AS n_events,
                 COALESCE(SUM(dur_us), 0) AS den_us,
                 -- HUGEINT (not DECIMAL(18,0)): DuckDB promotes both
                 -- multiply operands to a COMMON decimal type, which
                 -- overflows at width 18; decimal x hugeint widens exactly
                 CAST(CAST(CAST(SUM(vdec * CAST(dur_us AS HUGEINT))
                      AS DECIMAL(38,6)) AS VARCHAR) AS DOUBLE) AS num,
                 CAST(CAST(CAST(SUM(vdec) AS DECIMAL(38,6)) AS VARCHAR)
                      AS DOUBLE) AS vsum
          FROM d GROUP BY user_id, day
        )
        SELECT user_id, strftime(day, '%Y-%m-%d') AS day, n_events,
               CAST(den_us AS BIGINT) AS den_us,
               CASE WHEN den_us > 0 THEN num / den_us
                    ELSE vsum / n_events END AS twap
        FROM a""",
    "events_m4_downsample": f"""
        WITH b AS (
          SELECT event_type, epoch_us(ts) // {HOUR_US} AS bucket,
                 epoch_us(ts) AS tus, event_id, value
          FROM events
        ), r AS (
          SELECT *,
                 row_number() OVER (PARTITION BY event_type, bucket
                   ORDER BY tus, event_id) AS rn_a,
                 row_number() OVER (PARTITION BY event_type, bucket
                   ORDER BY tus DESC, event_id DESC) AS rn_d
          FROM b
        )
        SELECT event_type,
               strftime(make_timestamp(bucket * {HOUR_US}),
                        '%Y-%m-%d %H:%M:%S') AS bucket_start,
               COUNT(*) AS n_points,
               MIN(value) AS v_min,
               MAX(value) AS v_max,
               MAX(CASE WHEN rn_a = 1 THEN value END) AS v_first,
               MAX(CASE WHEN rn_d = 1 THEN value END) AS v_last
        FROM r
        GROUP BY event_type, bucket""",
    "basket_lift": """
        WITH items AS (
          SELECT DISTINCT l_orderkey, p_brand AS brand
          FROM lineitem JOIN part ON l_partkey = p_partkey
        ), n AS (
          SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM items
        ), bc AS (
          SELECT brand, COUNT(*) AS n_brand FROM items GROUP BY brand
        ), pairs AS (
          SELECT a.brand AS brand_a, b.brand AS brand_b, COUNT(*) AS n_both
          FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
                                   AND a.brand < b.brand
          GROUP BY 1, 2
        )
        SELECT brand_a, brand_b, n_both,
               ca.n_brand AS n_a, cb.n_brand AS n_b, n_orders,
               n_both * 1000000 // ca.n_brand AS conf_ab_ppm,
               n_both * n_orders * 1000000 // (ca.n_brand * cb.n_brand)
                 AS lift_ppm
        FROM pairs
        JOIN bc ca ON ca.brand = brand_a
        JOIN bc cb ON cb.brand = brand_b
        CROSS JOIN n""",
    "profile_columns": """
        WITH long AS (
          SELECT 'l_quantity' AS col_name, l_quantity AS value FROM lineitem
          UNION ALL
          SELECT 'l_extendedprice', l_extendedprice FROM lineitem
          UNION ALL
          SELECT 'l_discount', l_discount FROM lineitem
          UNION ALL
          SELECT 'l_tax', l_tax FROM lineitem
        )
        SELECT col_name, COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_null,
               COUNT(DISTINCT value) AS n_distinct,
               MIN(value) AS v_min,
               MAX(value) AS v_max
        FROM long
        GROUP BY col_name""",
    "text_weighted_sample": f"""
        SELECT doc_id, lang, n_chars,
               {H60_SQL.format(x="'wsample:' || CAST(doc_id AS VARCHAR)")}
                 // GREATEST(n_chars, 1) AS priority
        FROM documents
        ORDER BY priority, doc_id
        LIMIT {WSAMPLE_K}""",
}

ORACLE["weighted_median_price"] = """
    WITH cum AS (
      SELECT l_returnflag, l_extendedprice AS v,
             SUM(CAST(l_quantity AS DECIMAL(18,6))) OVER
               (PARTITION BY l_returnflag ORDER BY l_extendedprice
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_w,
             SUM(CAST(l_quantity AS DECIMAL(18,6))) OVER
               (PARTITION BY l_returnflag) AS tot_w
      FROM lineitem
    )
    SELECT l_returnflag,
           MIN(v) AS weighted_median,
           CAST(CAST(CAST(MIN(tot_w) AS DECIMAL(38,6)) AS VARCHAR)
                AS DOUBLE) AS total_weight
    FROM cum
    WHERE cum_w * 2 >= tot_w
    GROUP BY l_returnflag"""

QUERIES = {
    "agg_trimmed_mean": q_agg_trimmed_mean,
    "events_twap": q_events_twap,
    "events_m4_downsample": q_events_m4_downsample,
    "basket_lift": q_basket_lift,
    "profile_columns": q_profile_columns,
    "text_weighted_sample": q_text_weighted_sample,
    "weighted_median_price": q_weighted_median_price,
}


#: exponential-decay activity score: half-life = 1 day, ages capped so
#: the shift stays in-range (a 40-day-old event's contribution is 0 at
#: micro-unit magnitudes — which IS the decay semantics).
DECAY_CAP_DAYS = 40
_DAY_US = 86_400_000_000


def q_events_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-decayed activity score (half-life 1 day,
    anchored at the corpus max timestamp): each event contributes
    ``floor(value·1e6) >> age_days`` — FLOOR-quantized micro-units with
    an arithmetic right shift, so every contribution is an exact
    integer and the sum is order-free (the float form ``value·2^-age``
    would accumulate in partition order). One scalar-anchor broadcast,
    one partial-combining aggregate; shift semantics (arithmetic ==
    floor) agree between Spark shiftright and DuckDB ``>>``."""
    ev = load_table(spark, "events", sf_dir).select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("tus"),
        F.expr("CAST(FLOOR(value * 1000000) AS BIGINT)").alias("vu"),
    )
    tmax = ev.agg(F.max("tus").alias("tmax"))
    contrib = ev.crossJoin(F.broadcast(tmax)).select(
        "user_id",
        F.expr(
            f"shiftright(vu, least(CAST((tmax - tus) DIV {_DAY_US} AS INT),"
            f" {DECAY_CAP_DAYS}))"
        ).alias("c"),
    )
    return contrib.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("c").alias("decay_score_u"),
    )


ORACLE["events_decay_score"] = f"""
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS tus,
         CAST(FLOOR(value * 1000000) AS BIGINT) AS vu
  FROM events
), t AS (SELECT MAX(tus) AS tmax FROM ev)
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(vu >> LEAST(CAST((t.tmax - tus) // {_DAY_US} AS INT),
                            {DECAY_CAP_DAYS})) AS BIGINT) AS decay_score_u
FROM ev CROSS JOIN t GROUP BY user_id
"""
QUERIES["events_decay_score"] = q_events_decay_score
