"""Round-4 widening #2: time-RANGE window frames, grouped mode, and
robust (MAD) outlier detection.

* ``window_range_frame`` — a TRUE time-range frame (``RANGE BETWEEN
  INTERVAL 1 HOUR PRECEDING AND CURRENT ROW``), distinct from the
  row-count frames in ``window_moving_avg``: the frame width is measured
  in event time, so bursty users aggregate over many rows and quiet
  users over few. Spark expresses it as ``rangeBetween`` over integer
  epoch-micros (``unix_micros`` — exact, never a double of seconds);
  peers with equal timestamps are all in-frame on both engines, which is
  what keeps the result deterministic under ties.
* ``agg_mode_per_user`` — most frequent event type per user with a
  deterministic tie-break (highest count, then lexicographically
  smallest type). Two aggregates, both map-side combined; the second
  uses ``min_by`` over the composite ``(-cnt, type)`` key (it compiles
  to SortAggregate — struct buffers aren't hash-mutable — but keeps the
  partial/final split), so no Window ever materializes per-user rank
  rows — the plan that survives a billion users.
* ``events_anomaly_mad`` — robust per-type outlier counts via median /
  median-absolute-deviation. Both medians are EXACT, by the same rank
  arithmetic as ``agg_median_price`` (engine ``median()`` interpolation
  is implementation-defined, so neither side uses it); the ``3 × MAD``
  gate is a single deterministic IEEE multiply-compare. Scale note: the
  two rank windows partition by event_type (low cardinality), which is
  the honest cost of EXACT medians — the approximate path at 100 TB is
  ``percentile_approx``; the exact path distributes each type's sort
  across its partition range, and this formulation keeps only
  ``(event_type, value)`` pairs in the shuffle, never payloads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.sources.registry import load_table

#: trailing window width for window_range_frame, in microseconds.
RANGE_FRAME_US = 3_600_000_000


def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-1-hour count/sum per user with a time-RANGE frame.

    The decimal sum + string render is the cross-engine float-parity
    idiom (see streaming/events.py) — window sums accumulate in frame
    order, which only stays engine-identical because decimal addition is
    associative.
    """
    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "user_id", "ts", "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-RANGE_FRAME_US, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        F.count(F.lit(1)).over(w).alias("n_trail_1h"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .over(w)
        .cast("decimal(38,6)")
        .cast("string")
        .cast("double")
        .alias("sum_trail_1h"),
    )


def q_agg_mode_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user modal event type, ties broken toward the smaller string.

    ``min_by`` over ``(-cnt, event_type)`` picks (max count, min type) in
    one partial-aggregated exchange — no window rank rows.
    """
    ev = load_table(spark, "events", sf_dir)
    cnt = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    picked = cnt.groupBy("user_id").agg(
        F.min_by(
            F.struct(F.col("event_type"), F.col("cnt")),
            F.struct(
                (-F.col("cnt")).alias("neg_cnt"),
                F.col("event_type").alias("tie"),
            ),
        ).alias("p")
    )
    return picked.select(
        "user_id",
        F.col("p.event_type").alias("mode_event_type"),
        F.col("p.cnt").alias("n_occurrences"),
    )


def _median_by_rank(ranked: DataFrame, val: str, out: str) -> DataFrame:
    """Exact per-``event_type`` median of ``val`` from an (event_type,
    val, rn, cnt) frame: the value at rank (cnt+1)//2 averaged with the
    value at rank (cnt+2)//2 (the same rank when cnt is odd — one row
    survives the OR).
    Averaging two doubles is a commutative add + halve: bit-identical on
    both engines regardless of which engine visits which row first."""
    mid = ranked.filter(
        (F.col("rn") == F.expr("(cnt + 1) div 2"))
        | (F.col("rn") == F.expr("(cnt + 2) div 2"))
    )
    return mid.groupBy("event_type").agg(
        (F.sum(val) / F.count(F.lit(1))).alias(out)
    )


def q_events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type robust outlier audit: exact median, exact MAD, and the
    count of events whose absolute deviation exceeds 3 × MAD."""
    ev = load_table(spark, "events", sf_dir).select(
        "event_type", F.col("value").cast("double").alias("v")
    )
    wcnt = Window.partitionBy("event_type")
    ranked_v = ev.select(
        "event_type",
        "v",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("v"))
        .alias("rn"),
        F.count(F.lit(1)).over(wcnt).alias("cnt"),
    )
    med = _median_by_rank(ranked_v, "v", "med")
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "d", F.abs(F.col("v") - F.col("med"))
    )
    ranked_d = dev.select(
        "event_type",
        "d",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("d"))
        .alias("rn"),
        F.count(F.lit(1)).over(wcnt).alias("cnt"),
    )
    mad = _median_by_rank(ranked_d, "d", "mad")
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.min("med").alias("med_value"),
            F.min("mad").alias("mad_value"),
            F.sum(
                F.when(
                    F.col("d") > F.lit(3.0) * F.col("mad"), F.lit(1)
                ).otherwise(F.lit(0))
            ).alias("n_outliers"),
            F.count(F.lit(1)).alias("n_total"),
        )
    )


#: band width for band_join_recent_errors, in microseconds (10 minutes).
BAND_US = 600_000_000


def q_band_join_recent_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEYLESS time-band join: for every event, how many ``error`` events
    occurred corpus-wide in the trailing 10 minutes.

    There is no equi-key, which on Spark naively becomes a broadcast
    nested-loop (or cartesian) — the classic band-join scale trap. The
    scalable formulation replicates each PROBE row into the two
    band-width buckets its window can span and equi-joins on the bucket
    id, then applies the exact band filter: the join is a plain hash
    join, each build row lands in exactly one bucket, and no pair outside
    adjacent buckets is ever materialized. Bucket width = band width, so
    probe replication is exactly 2×, independent of data volume.
    """
    ev = load_table(spark, "events", sf_dir)
    err = (
        ev.filter(F.col("event_type") == "error")
        .select(F.unix_micros(F.col("ts")).alias("ets"))
        .withColumn("bucket", F.expr(f"ets div {BAND_US}"))
    )
    probe = ev.select(
        "event_id", "event_type", F.unix_micros(F.col("ts")).alias("pts")
    )
    probe2 = probe.withColumn(
        "bucket",
        F.explode(
            F.array(
                F.expr(f"pts div {BAND_US}"),
                F.expr(f"pts div {BAND_US} - 1"),
            )
        ),
    )
    j = probe2.join(err, "bucket").filter(
        (F.col("ets") <= F.col("pts"))
        & (F.col("ets") >= F.col("pts") - BAND_US)
    )
    cnt = j.groupBy("event_id").agg(F.count(F.lit(1)).alias("n"))
    return probe.join(cnt, "event_id", "left").select(
        "event_id",
        "event_type",
        F.coalesce("n", F.lit(0)).cast("bigint").alias("n_recent_errors"),
    )


def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users per day (the WAU curve) —
    EXACT sliding-window DISTINCT, which no window frame can express
    (COUNT(DISTINCT) over frames doesn't exist, and merging per-day
    distinct counts undercounts repeat users).

    The scalable formulation: collapse to distinct (day, user) pairs
    first (the corpus's only big aggregate), then replicate each pair
    into the 7 window-end days it contributes to and run an ordinary
    COUNT(DISTINCT) per window end. Replication is 7× the per-day-
    distinct pairs — bounded by users × days, independent of raw event
    volume — and windows ending on days with no events are dropped by
    the calendar semi-join.
    """
    ev = load_table(spark, "events", sf_dir)
    pairs = ev.select(
        F.to_date("ts").alias("day"), "user_id"
    ).distinct()
    contrib = pairs.select(
        "user_id",
        "day",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
    ).select(
        "user_id", F.expr("date_add(day, i)").alias("win_end")
    )
    days = pairs.select("day").distinct()
    return (
        contrib.join(days, contrib.win_end == days.day)
        .groupBy("win_end")
        .agg(F.count_distinct("user_id").alias("wau"))
        .select(
            F.date_format("win_end", "yyyy-MM-dd").alias("day"),
            F.col("wau").cast("bigint").alias("wau"),
        )
    )


def q_session_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence over sessions: for every unordered
    event-type pair, in how many (user, session) baskets both occur —
    the support-counting step of frequent-itemset mining.

    Sessions are the same 30-minute-gap definition as ``sessionize``
    (lag + running sum over one user_id exchange). The basket self-join
    runs on the DISTINCT (user, session, type) set — bounded by baskets ×
    |types|, not event volume — and ``type_a < type_b`` keeps each pair
    canonical, so the join fan-out per basket is at most C(|types|, 2).
    """
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_us = 30 * 60 * 1_000_000
    sess = ev.select(
        "user_id",
        "event_type",
        F.sum(
            F.when(
                F.unix_micros(F.col("ts"))
                - F.unix_micros(F.lag("ts").over(w))
                > gap_us,
                F.lit(1),
            ).otherwise(F.lit(0))
        )
        .over(wsum)
        .alias("session_idx"),
    )
    basket = sess.distinct()
    a = basket.select(
        "user_id", "session_idx", F.col("event_type").alias("type_a")
    )
    b = basket.select(
        "user_id", "session_idx", F.col("event_type").alias("type_b")
    )
    pairs = a.join(b, ["user_id", "session_idx"]).filter(
        F.col("type_a") < F.col("type_b")
    )
    return pairs.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).alias("n_sessions")
    )


ORACLE: dict[str, str] = {
    "session_cooccurrence": """
        WITH flagged AS (
          SELECT user_id, event_type, ts, event_id,
            CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                 THEN 1 ELSE 0 END AS new_sess
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
          SELECT DISTINCT user_id, event_type,
            SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS session_idx
          FROM flagged
        )
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               COUNT(*) AS n_sessions
        FROM sess a
        JOIN sess b ON a.user_id = b.user_id
                   AND a.session_idx = b.session_idx
                   AND a.event_type < b.event_type
        GROUP BY 1, 2""",
    "rolling_active_users": """
        WITH pairs AS (
          SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
        ), contrib AS (
          SELECT user_id, day + CAST(t.i AS INT) AS win_end
          FROM pairs CROSS JOIN range(0, 7) t(i)
        ), days AS (SELECT DISTINCT day FROM pairs)
        SELECT strftime(win_end, '%Y-%m-%d') AS day,
               COUNT(DISTINCT user_id) AS wau
        FROM contrib JOIN days ON win_end = days.day
        GROUP BY 1""",
    "band_join_recent_errors": f"""
        WITH err AS (
          SELECT ts AS ets FROM events WHERE event_type = 'error'
        ), cnt AS (
          SELECT e.event_id, COUNT(*) AS n
          FROM events e
          JOIN err ON ets <= e.ts
                  AND epoch_us(ets) >= epoch_us(e.ts) - {BAND_US}
          GROUP BY e.event_id
        )
        SELECT e.event_id, e.event_type,
               CAST(COALESCE(n, 0) AS BIGINT) AS n_recent_errors
        FROM events e LEFT JOIN cnt USING (event_id)""",
    "window_range_frame": f"""
        SELECT event_id, user_id,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
               COUNT(*) OVER w AS n_trail_1h,
               CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w
                    AS DECIMAL(38,6)) AS VARCHAR) AS DOUBLE) AS sum_trail_1h
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                     RANGE BETWEEN {RANGE_FRAME_US} PRECEDING
                     AND CURRENT ROW)""",
    "agg_mode_per_user": """
        WITH c AS (
          SELECT user_id, event_type, COUNT(*) AS cnt
          FROM events GROUP BY 1, 2
        )
        SELECT user_id, event_type AS mode_event_type, cnt AS n_occurrences
        FROM c
        QUALIFY row_number() OVER (PARTITION BY user_id
                 ORDER BY cnt DESC, event_type ASC) = 1""",
    "events_anomaly_mad": """
        WITH ev AS (
          SELECT event_type, CAST(value AS DOUBLE) AS v FROM events
        ), r1 AS (
          SELECT event_type, v,
                 row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn,
                 COUNT(*) OVER (PARTITION BY event_type) AS cnt
          FROM ev
        ), med AS (
          SELECT event_type, SUM(v) / COUNT(*) AS med FROM r1
          WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2
          GROUP BY event_type
        ), dev AS (
          SELECT ev.event_type, v, med, abs(v - med) AS d
          FROM ev JOIN med USING (event_type)
        ), r2 AS (
          SELECT event_type, d,
                 row_number() OVER (PARTITION BY event_type ORDER BY d) AS rn,
                 COUNT(*) OVER (PARTITION BY event_type) AS cnt
          FROM dev
        ), mad AS (
          SELECT event_type, SUM(d) / COUNT(*) AS mad FROM r2
          WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2
          GROUP BY event_type
        )
        SELECT dev.event_type,
               MIN(med) AS med_value,
               MIN(mad.mad) AS mad_value,
               CAST(SUM(CASE WHEN d > 3.0 * mad.mad THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_outliers,
               COUNT(*) AS n_total
        FROM dev JOIN mad USING (event_type)
        GROUP BY dev.event_type""",
}

QUERIES = {
    "window_range_frame": q_window_range_frame,
    "agg_mode_per_user": q_agg_mode_per_user,
    "events_anomaly_mad": q_events_anomaly_mad,
    "band_join_recent_errors": q_band_join_recent_errors,
    "rolling_active_users": q_rolling_active_users,
    "session_cooccurrence": q_session_cooccurrence,
}
