"""Analytics widening, round 2: time rollups, skew-safe aggregation in the
correctness gate, frame-based moving averages, and unpivot.

* ``events_time_rollup`` — hypertable-style continuous aggregate: ROLLUP
  over the (day, hour) time hierarchy, the shape a monitoring/metrics
  store materializes incrementally.
* ``agg_skew_salted`` — the two-stage salted aggregation from
  ``operators/skew.py`` registered as an oracle-checked query: the oracle
  is the PLAIN group-by, proving the salt+merge is value-identical (exact
  decimal sums make the merge order-free).
* ``window_moving_avg`` — 7-row trailing average per priority over a
  deterministic (date, key) order; the frame sum stays DECIMAL so
  slide-accumulation order can't perturb it, divided once as doubles.
* ``unpivot_measures`` — wide→long melt of three lineitem measures via
  ``STACK``; the oracle is the equivalent UNION ALL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.operators.skew import salted_count_sum
from etl_pipeline_excel_sql__spark.plans.analytics_queries import DEC, dec_out
from etl_pipeline_excel_sql__spark.sources.registry import load_table


def q_events_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over the (day, hour) hierarchy of the events stream.

    One shuffle produces the hour, day, and grand-total levels together
    (Spark expands grouping sets map-side). Value sums ride DECIMAL.
    """
    ev = load_table(spark, "events", sf_dir)
    bucketed = ev.select(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH").alias(
            "hour"
        ),
        "value",
    )
    return bucketed.rollup("day", "hour").agg(
        F.count(F.lit(1)).alias("n_events"),
        dec_out(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("decimal(38,6)")
        ).alias("sum_value"),
        F.grouping_id().cast("int").alias("grp_id"),
    )


def q_agg_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-stage aggregation, oracle-checked against the direct form.

    A hot grouping key (few distinct return flags over all of lineitem)
    is exactly the shape that funnels one reducer at 100 TB; the salt
    spreads stage one over 16 partitions and the merge is
    value-identical because counts and DECIMAL sums are associative.
    """
    li = load_table(spark, "lineitem", sf_dir)
    out = salted_count_sum(li, ["l_returnflag"], "l_extendedprice")
    return out.select(
        "l_returnflag",
        "n_rows",
        dec_out(F.col("sum_l_extendedprice")).alias("sum_price"),
    )


def q_window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-row trailing average order total per priority.

    The order key (o_orderdate, o_orderkey) is unique, so every engine
    sees the same frame contents; the frame sum stays DECIMAL (exact
    under any accumulate/retract strategy) and one double division at
    the end renders the average.
    """
    o = load_table(spark, "orders", sf_dir)
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-6, 0)
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        (
            dec_out(
                F.sum(F.col("o_totalprice").cast(DEC)).over(w).cast(
                    "decimal(38,2)"
                )
            )
            / F.count(F.lit(1)).over(w)
        ).alias("moving_avg"),
    )


def q_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt of three lineitem measures (quantity, price,
    discount) via STACK — the inverse of the pivot query, and the common
    first step of metric normalization pipelines. Pure row expansion: no
    shuffle at all."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(
            "stack(3, 'qty', l_quantity, 'price', l_extendedprice,"
            " 'disc', l_discount) AS (measure, value)"
        ),
    )


def q_recursive_key_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE: walk each seed customer's implicit binary-key
    hierarchy (parent = key div 2) to the root, labelling every ancestor.

    Exercises Spark's WITH RECURSIVE surface (iterative union fixpoint —
    the SQL twin of the connected-components loop in operators/clusters).
    Depth is bounded by log2(max key), so the recursion is shallow no
    matter the corpus size; each round is one join against the previous
    frontier.
    """
    load_table(spark, "customer", sf_dir).createOrReplaceTempView(
        "v_rec_customer"
    )
    return spark.sql(
        """
        WITH RECURSIVE chain(start_key, node_key, depth) AS (
          SELECT c_custkey, c_custkey, 0
          FROM v_rec_customer WHERE c_custkey % 131 = 0 AND c_custkey > 0
          UNION ALL
          SELECT start_key, node_key div 2, depth + 1
          FROM chain WHERE node_key > 1
        )
        SELECT start_key, node_key, depth, c_name AS node_name
        FROM chain JOIN v_rec_customer ON node_key = c_custkey
        """
    )


def q_merge_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 versioning MERGE over the customer dimension.

    Deterministic fixture built from the corpus: every customer is a
    current version opened 2020-01-01 (keys ``% 10 == 1`` also carry one
    closed 2019 version, exercising history passthrough); the 2021-06-01
    source changes ``% 7 == 0`` balances (+100), re-sends ``% 11 == 3``
    rows unchanged (must be a no-op), and introduces shifted new keys for
    ``% 13 == 5`` (insert path). Changed rows close and re-open; nothing
    else moves.
    """
    from etl_pipeline_excel_sql__spark.operators.merge import scd2_upsert

    c = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_name", "c_acctbal"
    )
    cur = c.select(
        "c_custkey",
        "c_name",
        "c_acctbal",
        F.lit("2020-01-01").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    hist = c.filter(F.col("c_custkey") % 10 == 1).select(
        "c_custkey",
        "c_name",
        (F.col("c_acctbal") - F.lit(50.0)).alias("c_acctbal"),
        F.lit("2019-01-01").alias("valid_from"),
        F.lit("2020-01-01").alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    target = hist.unionByName(cur)
    source = (
        c.filter(F.col("c_custkey") % 7 == 0)
        .select(
            "c_custkey",
            "c_name",
            (F.col("c_acctbal") + F.lit(100.0)).alias("c_acctbal"),
        )
        .unionByName(
            c.filter(
                (F.col("c_custkey") % 7 != 0) & (F.col("c_custkey") % 11 == 3)
            ).select("c_custkey", "c_name", "c_acctbal")
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 13 == 5).select(
                (F.col("c_custkey") + F.lit(1000000)).alias("c_custkey"),
                "c_name",
                "c_acctbal",
            )
        )
    )
    return scd2_upsert(
        target, source, "c_custkey", ["c_name", "c_acctbal"], "2021-06-01"
    )


def q_agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic LISTAGG: per-region nation names, alphabetical, as
    one comma-joined string.

    ``collect_list`` alone has no ordering guarantee under parallel
    merge, so the list goes through ``sort_array`` before joining — the
    output is identical no matter the partitioning. The DuckDB twin is
    ``string_agg(... ORDER BY ...)``.
    """
    n = load_table(spark, "nation", sf_dir)
    r = F.broadcast(load_table(spark, "region", sf_dir))
    return (
        n.join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.array_join(
                F.sort_array(F.collect_list("n_name")), ","
            ).alias("nations"),
            F.count(F.lit(1)).alias("n_nations"),
        )
    )


ORACLE: dict[str, str] = {
    "events_time_rollup": """
        WITH bucketed AS (
          SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                 strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour,
                 value
          FROM events
        )
        SELECT day, hour,
               COUNT(*) AS n_events,
               CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(18,6)))
                    AS DECIMAL(38,6)) AS VARCHAR) AS DOUBLE) AS sum_value,
               CAST(GROUPING(day, hour) AS INT) AS grp_id
        FROM bucketed
        GROUP BY ROLLUP (day, hour)""",
    "agg_skew_salted": """
        SELECT l_returnflag,
               COUNT(*) AS n_rows,
               CAST(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)))
                    AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS sum_price
        FROM lineitem GROUP BY l_returnflag""",
    "window_moving_avg": """
        SELECT o_orderkey, o_orderpriority,
               CAST(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER w
                    AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE)
               / COUNT(*) OVER w AS moving_avg
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""",
    "recursive_key_chain": """
        WITH RECURSIVE chain(start_key, node_key, depth) AS (
          SELECT c_custkey, c_custkey, 0
          FROM customer WHERE c_custkey % 131 = 0 AND c_custkey > 0
          UNION ALL
          SELECT start_key, node_key // 2, depth + 1
          FROM chain WHERE node_key > 1
        )
        SELECT start_key, node_key, depth, c_name AS node_name
        FROM chain JOIN customer ON node_key = c_custkey""",
    "merge_scd2": """
        WITH c AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
        cur AS (
          SELECT c_custkey, c_name, c_acctbal,
                 '2020-01-01' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to,
                 TRUE AS is_current
          FROM c
        ), hist AS (
          SELECT c_custkey, c_name, c_acctbal - 50.0 AS c_acctbal,
                 '2019-01-01' AS valid_from, '2020-01-01' AS valid_to,
                 FALSE AS is_current
          FROM c WHERE c_custkey % 10 = 1
        ), src AS (
          SELECT c_custkey, c_name, c_acctbal + 100.0 AS c_acctbal
          FROM c WHERE c_custkey % 7 = 0
          UNION ALL
          SELECT c_custkey, c_name, c_acctbal
          FROM c WHERE c_custkey % 7 <> 0 AND c_custkey % 11 = 3
          UNION ALL
          SELECT c_custkey + 1000000, c_name, c_acctbal
          FROM c WHERE c_custkey % 13 = 5
        ), matched AS (
          SELECT cur.c_custkey,
                 cur.c_name AS t_name, cur.c_acctbal AS t_bal,
                 src.c_name AS s_name, src.c_acctbal AS s_bal,
                 (cur.c_name IS NOT DISTINCT FROM src.c_name
                  AND cur.c_acctbal IS NOT DISTINCT FROM src.c_acctbal)
                   AS same
          FROM cur JOIN src USING (c_custkey)
        )
        SELECT * FROM hist
        UNION ALL
        SELECT cur.* FROM cur
        WHERE c_custkey NOT IN (SELECT c_custkey FROM matched WHERE NOT same)
        UNION ALL
        SELECT c_custkey, t_name, t_bal, '2020-01-01', '2021-06-01', FALSE
        FROM matched WHERE NOT same
        UNION ALL
        SELECT c_custkey, s_name, s_bal, '2021-06-01', CAST(NULL AS VARCHAR),
               TRUE
        FROM matched WHERE NOT same
        UNION ALL
        SELECT src.c_custkey, src.c_name, src.c_acctbal, '2021-06-01',
               CAST(NULL AS VARCHAR), TRUE
        FROM src
        WHERE src.c_custkey NOT IN (SELECT c_custkey FROM cur)""",
    "agg_listagg": """
        SELECT r_name,
               string_agg(n_name, ',' ORDER BY n_name) AS nations,
               COUNT(*) AS n_nations
        FROM nation JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name""",
    "unpivot_measures": """
        SELECT l_orderkey, l_linenumber, 'qty' AS measure,
               l_quantity AS value FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'price', l_extendedprice
        FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'disc', l_discount FROM lineitem""",
}

QUERIES = {
    "events_time_rollup": q_events_time_rollup,
    "agg_skew_salted": q_agg_skew_salted,
    "window_moving_avg": q_window_moving_avg,
    "unpivot_measures": q_unpivot_measures,
    "recursive_key_chain": q_recursive_key_chain,
    "merge_scd2": q_merge_scd2,
    "agg_listagg": q_agg_listagg,
}


def q_events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly resample of the event stream with LOCF gap fill — the
    hypertable/time-bucket rollup pattern every TSDB workload needs.

    Per event_type: hourly buckets from that type's first to last hour
    (``sequence`` → ``explode`` builds the grid DISTRIBUTED, sized by the
    per-type hour span, never collected to the driver), left-joined with
    the observed per-hour aggregate; missing hours get ``n_events = 0``
    and carry the last observed hour's sum forward (``last(...,
    ignorenulls=True)`` over an unbounded-preceding window — one shuffle
    on event_type, same key as the aggregate). Bucket ids are integer
    epoch-hours (``unix_micros DIV 3600e6``, truncation = floor for
    positive epochs on both engines); sums ride DECIMAL and render via
    the standard string hop.
    """
    ev = load_table(spark, "events", sf_dir)
    bucket = F.expr("unix_micros(ts) DIV 3600000000").alias("bucket_hour")
    obs = ev.select("event_type", bucket, "value").groupBy(
        "event_type", "bucket_hour"
    ).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("decimal(38,6)")
        .alias("__sum"),
    )
    rng = obs.groupBy("event_type").agg(
        F.min("bucket_hour").alias("__lo"), F.max("bucket_hour").alias("__hi")
    )
    grid = rng.select(
        "event_type",
        F.explode(F.sequence(F.col("__lo"), F.col("__hi"))).alias(
            "bucket_hour"
        ),
    )
    j = grid.join(obs, ["event_type", "bucket_hour"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket_hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "event_type",
        F.col("bucket_hour").cast("bigint").alias("bucket_hour"),
        F.coalesce("__n", F.lit(0)).cast("bigint").alias("n_events"),
        F.col("__n").isNull().alias("is_gap"),
        dec_out(F.last("__sum", ignorenulls=True).over(w)).alias(
            "filled_value"
        ),
    )


ORACLE["events_gap_fill"] = """
WITH obs AS (
  SELECT event_type,
         epoch_us(ts) // 3600000000 AS bucket_hour,
         COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS s
  FROM events GROUP BY 1, 2
), rng AS (
  SELECT event_type, MIN(bucket_hour) AS lo, MAX(bucket_hour) AS hi
  FROM obs GROUP BY event_type
), grid AS (
  SELECT event_type, unnest(generate_series(lo, hi)) AS bucket_hour
  FROM rng
)
SELECT g.event_type,
       CAST(g.bucket_hour AS BIGINT) AS bucket_hour,
       CAST(COALESCE(o.n, 0) AS BIGINT) AS n_events,
       o.n IS NULL AS is_gap,
       CAST(CAST(last_value(o.s IGNORE NULLS) OVER (
              PARTITION BY g.event_type ORDER BY g.bucket_hour
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) AS VARCHAR) AS DOUBLE) AS filled_value
FROM grid g LEFT JOIN obs o
  ON g.event_type = o.event_type AND g.bucket_hour = o.bucket_hour"""

QUERIES["events_gap_fill"] = q_events_gap_fill


def q_events_interp_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly resample with LINEAR-interpolation gap fill — the
    numeric complement of ``events_gap_fill``'s LOCF carry.

    All interpolation arithmetic is INTEGER: per-hour sums are
    FLOOR-quantized micro-units (``floor(v·1e6 + 0.5)`` per row, int64
    sums — associative, engine-exact), and the interpolated value is
    ``prev + (next−prev)·(h−h_prev) DIV (h_next−h_prev)`` (Spark ``DIV``
    and DuckDB ``//`` both truncate, including for negative slopes, so
    the fill is bit-identical with no float division anywhere). Grid and
    shuffle shape identical to the LOCF twin: one exchange on event_type
    carries the grid join and BOTH direction windows (backward
    last-ignore-nulls, forward first-ignore-nulls — same sort order).
    Interior gaps always have both neighbors because the grid spans each
    type's observed [lo, hi]; endpoint rows are observed by construction.
    """
    ev = load_table(spark, "events", sf_dir)
    bucket = F.expr("unix_micros(ts) DIV 3600000000").alias("bucket_hour")
    micros = F.expr(
        "CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)"
    )
    obs = (
        ev.select("event_type", bucket, micros.alias("__m"))
        .groupBy("event_type", "bucket_hour")
        .agg(F.sum("__m").alias("__v"))
    )
    rng = obs.groupBy("event_type").agg(
        F.min("bucket_hour").alias("__lo"), F.max("bucket_hour").alias("__hi")
    )
    grid = rng.select(
        "event_type",
        F.explode(F.sequence(F.col("__lo"), F.col("__hi"))).alias(
            "bucket_hour"
        ),
    )
    j = grid.join(obs, ["event_type", "bucket_hour"], "left").withColumn(
        "__oh",
        F.when(F.col("__v").isNotNull(), F.col("bucket_hour")),
    )
    wb = (
        Window.partitionBy("event_type")
        .orderBy("bucket_hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("bucket_hour")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    x = j.select(
        "event_type",
        "bucket_hour",
        "__v",
        F.last("__v", ignorenulls=True).over(wb).alias("__pv"),
        F.last("__oh", ignorenulls=True).over(wb).alias("__ph"),
        F.first("__v", ignorenulls=True).over(wf).alias("__nv"),
        F.first("__oh", ignorenulls=True).over(wf).alias("__nh"),
    )
    return x.select(
        "event_type",
        F.col("bucket_hour").cast("bigint").alias("bucket_hour"),
        F.col("__v").isNull().alias("is_gap"),
        F.when(F.col("__v").isNotNull(), F.col("__v"))
        .otherwise(
            F.expr(
                "__pv + ((__nv - __pv) * (bucket_hour - __ph))"
                " div (__nh - __ph)"
            )
        )
        .cast("bigint")
        .alias("value_micros"),
    )


ORACLE["events_interp_linear"] = """
WITH obs AS (
  SELECT event_type,
         epoch_us(ts) // 3600000000 AS bucket_hour,
         SUM(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS v
  FROM events GROUP BY 1, 2
), rng AS (
  SELECT event_type, MIN(bucket_hour) AS lo, MAX(bucket_hour) AS hi
  FROM obs GROUP BY event_type
), grid AS (
  SELECT event_type, unnest(generate_series(lo, hi)) AS bucket_hour
  FROM rng
), j AS (
  SELECT g.event_type, g.bucket_hour, o.v,
         CASE WHEN o.v IS NOT NULL THEN g.bucket_hour END AS oh
  FROM grid g LEFT JOIN obs o
    ON g.event_type = o.event_type AND g.bucket_hour = o.bucket_hour
), x AS (
  SELECT event_type, bucket_hour, v,
         last_value(v IGNORE NULLS) OVER wb AS pv,
         last_value(oh IGNORE NULLS) OVER wb AS ph,
         first_value(v IGNORE NULLS) OVER wf AS nv,
         first_value(oh IGNORE NULLS) OVER wf AS nh
  FROM j
  WINDOW wb AS (PARTITION BY event_type ORDER BY bucket_hour
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY event_type ORDER BY bucket_hour
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_type,
       CAST(bucket_hour AS BIGINT) AS bucket_hour,
       v IS NULL AS is_gap,
       CAST(CASE WHEN v IS NOT NULL THEN v
                 ELSE pv + ((nv - pv) * (bucket_hour - ph)) // (nh - ph)
            END AS BIGINT) AS value_micros
FROM x"""

QUERIES["events_interp_linear"] = q_events_interp_linear


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user next-event transition matrix (first-order Markov counts).

    Orders each user's events by the total order (ts, event_id) — the
    tie-break makes consecutive-pair formation deterministic on both
    engines — then counts (from_type → to_type) transitions and each
    transition's share of its from-state in basis points (integer DIV,
    exact everywhere). One window shuffle on user_id; the transition
    aggregate is |types|² rows, model-sized, so the share window runs on
    the model, never the event stream.
    """
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    pairs = ev.select(
        prev.alias("from_type"), F.col("event_type").alias("to_type")
    ).filter(F.col("from_type").isNotNull())
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    tot = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        F.col("n_transitions").cast("bigint").alias("n_transitions"),
        F.expr(
            "(n_transitions * 10000) DIV SUM(n_transitions)"
            " OVER (PARTITION BY from_type)"
        ).cast("bigint").alias("share_bp"),
    )


ORACLE["event_transitions"] = """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS from_type
  FROM events
), pairs AS (
  SELECT from_type, event_type AS to_type FROM seq
  WHERE from_type IS NOT NULL
), counts AS (
  SELECT from_type, to_type, COUNT(*) AS n_transitions
  FROM pairs GROUP BY from_type, to_type
)
SELECT from_type, to_type,
       CAST(n_transitions AS BIGINT) AS n_transitions,
       CAST((n_transitions * 10000) // SUM(n_transitions)
            OVER (PARTITION BY from_type) AS BIGINT) AS share_bp
FROM counts"""

QUERIES["event_transitions"] = q_event_transitions
