"""Streaming pipelines registered as driver-checkable queries.

These entries execute REAL Structured Streaming jobs — file-source stream →
watermarked stateful aggregation → memory sink drained with ``availableNow``
— and return the sink as a batch DataFrame. Because the corpus input is
bounded and complete, the streamed result must equal the batch/SQL answer
exactly, so each entry carries a normal DuckDB oracle and the driver's
value-hash gate covers the streaming engine path end-to-end (watermark
bookkeeping, state store, window merge), not just its batch twins.

The reference has no streaming surface (SURVEY.md §2.12); this is the
engine-extension tier. Scale notes are in streaming/events.py — state is
watermark-bounded, grouping shuffles once, identical to batch.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.sources.registry import load_table
from etl_pipeline_excel_sql__spark.streaming.events import (
    dedup_events_stream,
    enrich_stream,
    m4_downsample_stream,
    left_attribution_stream,
    purchase_attribution_stream,
    read_events_stream,
    run_to_memory_sink,
    running_user_totals_stream,
    sessionize_stream,
    sliding_counts_stream,
    windowed_counts_stream,
)

#: memory-sink table names must be unique per started query within a session
#: (the driver may invoke an entry more than once).
_sink_seq = itertools.count()


def _sink_name(prefix: str) -> str:
    return f"{prefix}_{next(_sink_seq)}"


def q_stream_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window counts/sums computed BY THE STREAMING ENGINE.

    Same answer as the batch ``window_agg_events`` (same oracle SQL): the
    input is bounded, so the watermarked stream drains to the identical
    complete result. Sum runs in decimal so partial-aggregation order can
    never flip a float ulp between the streaming and SQL engines.
    """
    ev = read_events_stream(spark, sf_dir)
    return run_to_memory_sink(
        windowed_counts_stream(ev), _sink_name("stream_win_counts")
    )


def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization via ``session_window`` merging state.

    The streaming session merge (30-min gap) must produce exactly the
    sessions the batch lag/cumsum formulation finds — the oracle replays
    that batch formulation in SQL, minus the session ordinal (a stream has
    no global per-user session index until the watermark closes them all).
    """
    ev = read_events_stream(spark, sf_dir)
    return run_to_memory_sink(
        sessionize_stream(ev), _sink_name("stream_sessionize")
    )


def q_stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window (2 h window / 1 h slide) counts BY THE STREAMING
    ENGINE — each event feeds exactly window/slide = 2 open windows, and
    watermark eviction closes them in order. The oracle expands the two
    window starts per event explicitly (hour bucket and the hour before),
    proving the overlap accounting matches SQL exactly."""
    ev = read_events_stream(spark, sf_dir)
    return run_to_memory_sink(
        sliding_counts_stream(ev), _sink_name("stream_sliding")
    )


def q_stream_join_attrib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join by the streaming engine: purchases
    attributed to a prior click by the same user within 2 hours.

    Both sides are watermarked file streams; the time-range predicate
    bounds the join state (a buffered click is evictable once the
    purchase watermark passes click_ts + horizon). On the bounded corpus
    the drained append-mode result must equal the plain batch interval
    join the oracle runs — so the driver's value hash covers the
    streaming join state machine itself, not a batch stand-in.
    """
    clicks = read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "click"
    )
    purchases = read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    return run_to_memory_sink(
        purchase_attribution_stream(clicks, purchases),
        _sink_name("stream_attrib"),
        output_mode="append",
    )


def q_stream_dedup_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (``dropDuplicatesWithinWatermark``) under the
    value gate: the surviving key set after stateful first-wins dedup must
    equal DISTINCT event_id. Only the key is emitted — which payload row
    survives is batch-order-dependent by design (at-least-once semantics),
    but the KEY SET is exact, and that is the contract the state machine
    has to honor."""
    ev = read_events_stream(spark, sf_dir)
    deduped = dedup_events_stream(ev).select("event_id")
    return run_to_memory_sink(
        deduped, _sink_name("stream_dedup_ids"), output_mode="append"
    )


def q_stream_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUSTOM stateful operator (``applyInPandasWithState``) under the
    value gate: per-user lifetime counts and FLOOR-quantized integer
    micro-unit sums (integer addition is associative, so the drained
    update-mode state equals the batch GROUP BY bit-for-bit — a float sum
    here would hash differently per Arrow batch order).

    Update mode emits one row per user per micro-batch, so the drained
    table holds intermediate totals whenever the source splits into
    multiple batches (multi-file directory, maxFilesPerTrigger). A user's
    emitted n_events is strictly increasing (no emission for batches with
    none of their rows), so the max_by reduction keeps exactly the final
    state — the query is batch-split-agnostic instead of silently
    assuming one batch."""
    ev = read_events_stream(spark, sf_dir)
    totals = running_user_totals_stream(ev)
    drained = run_to_memory_sink(
        totals, _sink_name("stream_user_totals"), output_mode="update"
    )
    return drained.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("total_value_micros", "n_events").alias(
            "total_value_micros"
        ),
    )


def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment under the value gate: the event stream
    left-joins the (batch, broadcast) customer dimension per micro-batch.
    Stateless — composes freely with downstream watermarked aggregations;
    the drained append-mode result must equal the batch left join."""
    ev = read_events_stream(spark, sf_dir)
    cust = load_table(spark, "customer", sf_dir).select(
        F.col("c_custkey").alias("user_id"), "c_name", "c_mktsegment"
    )
    enriched = enrich_stream(ev, cust).select(
        "event_id", "user_id", "c_name", "c_mktsegment"
    )
    return run_to_memory_sink(
        enriched, _sink_name("stream_enrich"), output_mode="append"
    )




#: settle horizon for the left-outer drain comparison: watermark (4 h)
#: + join horizon (2 h) + 1 h safety for eviction-boundary semantics —
#: clicks older than max_ts − 7 h are guaranteed evicted (matched or
#: null-emitted) by the final no-data micro-batch; younger clicks may
#: be legitimately withheld by the engine and are excluded from BOTH
#: sides of the comparison.
LEFT_JOIN_SETTLE_US = 7 * 3600 * 1_000_000  # 7 hours in microseconds


def q_stream_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER stream-stream interval join by the streaming engine:
    every click, with its attributed purchase or engine-emitted NULLs
    once the watermark proves no match can arrive — the state-TIMEOUT
    path the inner join never takes.

    The drained result is post-filtered (batch side of the memory
    sink) to clicks older than ``max_ts − LEFT_JOIN_SETTLE_US``: outer
    rows younger than that are withheld by the engine by design (the
    watermark cannot advance past the final event), so the settle
    cutoff — applied identically in the oracle — is what makes the
    bounded drain comparable to the batch left join. The value hash
    then covers the eviction/null-emission state machine itself.
    """
    clicks = read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "click"
    )
    purchases = read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    drained = run_to_memory_sink(
        left_attribution_stream(clicks, purchases),
        _sink_name("stream_join_left"),
        output_mode="append",
    )
    from etl_pipeline_excel_sql__spark.sources.registry import load_table

    # The engine's global watermark is the MIN over both inputs'
    # per-side watermarks (multipleWatermarkPolicy=min), so the settle
    # cutoff anchors on the EARLIER of the two sides' max event times —
    # anchoring on the overall max overshoots whenever one side's
    # stream ends before the other's (each side only advances its own
    # watermark).
    ev = load_table(spark, "events", sf_dir)
    cut = ev.agg(
        (
            F.least(
                F.max(
                    F.when(
                        F.col("event_type") == "click",
                        F.unix_micros(F.col("ts")),
                    )
                ),
                F.max(
                    F.when(
                        F.col("event_type") == "purchase",
                        F.unix_micros(F.col("ts")),
                    )
                ),
            )
            - F.lit(LEFT_JOIN_SETTLE_US)
        ).alias("__cut")
    )
    return (
        drained.join(F.broadcast(cut))
        .filter(F.unix_micros(F.col("click_ts")) < F.col("__cut"))
        .select(
            "user_id", "click_id", "click_time", "purchase_id",
            "purchase_value",
        )
    )


ORACLE: dict[str, str] = {
    "stream_enrich": """
        SELECT event_id, user_id, c_name, c_mktsegment
        FROM events LEFT JOIN customer ON user_id = c_custkey""",
    "stream_dedup_ids": """
        SELECT DISTINCT event_id FROM events""",
    "stream_user_totals": """
        SELECT user_id,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT))
                    AS BIGINT) AS total_value_micros
        FROM events
        GROUP BY user_id""",
    "stream_join_left": """
        WITH cut AS (
          SELECT LEAST(
                   MAX(CASE WHEN event_type = 'click' THEN ts END),
                   MAX(CASE WHEN event_type = 'purchase' THEN ts END)
                 ) - INTERVAL 7 HOUR AS c FROM events
        )
        SELECT c.user_id,
               c.event_id AS click_id,
               strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_time,
               p.event_id AS purchase_id,
               p.value AS purchase_value
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        JOIN cut ON c.ts < cut.c
        LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id
         AND p.ts > c.ts
         AND p.ts <= c.ts + INTERVAL 2 HOUR""",
    "stream_join_attrib": """
        SELECT c.user_id,
               c.event_id AS click_id,
               p.event_id AS purchase_id,
               strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_time,
               strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_time,
               p.value AS purchase_value
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id
         AND p.ts > c.ts
         AND p.ts <= c.ts + INTERVAL 2 HOUR""",
    "stream_sliding_counts": """
        WITH s AS (
          SELECT event_type, time_bucket(INTERVAL 1 HOUR, ts) AS s1
          FROM events
        ), ex AS (
          SELECT event_type, s1 AS ws FROM s
          UNION ALL
          SELECT event_type, s1 - INTERVAL 1 HOUR AS ws FROM s
        )
        SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type,
               COUNT(*) AS n_events
        FROM ex GROUP BY 1, 2""",
    "stream_sessionize": """
        WITH flagged AS (
          SELECT user_id, ts, event_id,
            CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                 THEN 1 ELSE 0 END AS new_sess
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
          SELECT user_id, ts,
            SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
          FROM flagged
        )
        SELECT user_id,
               COUNT(*) AS n_events,
               strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end
        FROM sess GROUP BY user_id, session_idx""",
}

def q_stream_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 downsampling BY THE STREAMING ENGINE: min/max/first/last per
    (event_type, hour) via min_by/max_by streaming aggregates. On the
    bounded corpus the drained result must equal the batch
    ``events_m4_downsample`` exactly — same oracle SQL."""
    ev = read_events_stream(spark, sf_dir)
    return run_to_memory_sink(
        m4_downsample_stream(ev), _sink_name("stream_m4")
    )


QUERIES = {
    "stream_window_counts": q_stream_window_counts,
    "stream_sessionize": q_stream_sessionize,
    "stream_sliding_counts": q_stream_sliding_counts,
    "stream_join_attrib": q_stream_join_attrib,
    "stream_join_left": q_stream_join_left,
    "stream_dedup_ids": q_stream_dedup_ids,
    "stream_user_totals": q_stream_user_totals,
    "stream_enrich": q_stream_enrich,
    "stream_m4_downsample": q_stream_m4_downsample,
}

# the batch M4 oracle verbatim — stream and batch must agree exactly
from etl_pipeline_excel_sql__spark.plans.analytics7_queries import (  # noqa: E402
    ORACLE as _A7_ORACLE,
)

ORACLE["stream_m4_downsample"] = _A7_ORACLE["events_m4_downsample"]

# identical to the batch window_agg_events oracle BY IMPORT (not a copy):
# the "stream must equal batch" gate cannot drift if there is only one SQL
from etl_pipeline_excel_sql__spark.plans.analytics_queries import (  # noqa: E402
    ORACLE as _AN_ORACLE,
)
from etl_pipeline_excel_sql__spark.functions.localframe import local_df

ORACLE["stream_window_counts"] = _AN_ORACLE["window_agg_events"]


def q_stream_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour distinct-user HLL by the STREAMING engine: register
    state is HLL_M cells per window no matter the user cardinality (the
    reason COUNT(DISTINCT) is unsupported on streams is the reason this
    sketch exists). Same integer arithmetic as the batch sketch
    (operators/sketches.py), so the drained complete-mode result
    hash-matches the DuckDB batch replay."""
    from etl_pipeline_excel_sql__spark.streaming.events import (
        hll_users_stream,
    )

    ev = read_events_stream(spark, sf_dir)
    return run_to_memory_sink(
        hll_users_stream(ev), _sink_name("stream_hll_users")
    )


QUERIES["stream_hll_users"] = q_stream_hll_users


def _stream_hll_oracle() -> str:
    from etl_pipeline_excel_sql__spark.functions.hashing import H60_SQL
    from etl_pipeline_excel_sql__spark.operators.sketches import (
        HLL_ALPHA_DEN,
        HLL_ALPHA_NUM,
        HLL_M,
        HLL_RHO_SCALE,
    )

    h = H60_SQL.format(x="CAST(user_id AS VARCHAR)")
    numer = HLL_ALPHA_NUM * HLL_M * HLL_M * (1 << HLL_RHO_SCALE)
    return f"""
WITH hs AS (
  SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts),
                  '%Y-%m-%d %H:%M:%S') AS window_start,
         {h} AS h
  FROM events
), rr AS (
  SELECT window_start, h % {HLL_M} AS reg,
         CASE WHEN h // {HLL_M} = 0 THEN 55
              ELSE 55 - length(ltrim(bin(h // {HLL_M}), '0')) END AS rho
  FROM hs
), regs AS (
  SELECT window_start, reg, MAX(rho) AS rho FROM rr GROUP BY 1, 2
), est AS (
  SELECT window_start,
         CAST({HLL_M} - COUNT(*) AS INT) AS v_zero,
         CAST(SUM(1::BIGINT << ({HLL_RHO_SCALE}
                  - LEAST(rho, {HLL_RHO_SCALE})))
              + ({HLL_M} - COUNT(*))
                * (1::BIGINT << {HLL_RHO_SCALE}) AS BIGINT) AS sum_scaled
  FROM regs GROUP BY 1
)
SELECT window_start, v_zero, sum_scaled,
       {numer} // ({HLL_ALPHA_DEN} * sum_scaled) AS est_distinct
FROM est
"""


ORACLE["stream_hll_users"] = _stream_hll_oracle()


#: probe users for the streaming CMS point-queries (bounded batch).
CMS_PROBE_USERS = [1, 2, 3, 4, 5]


def q_stream_cms_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window user-frequency estimates from a Count-Min sketch
    maintained BY THE STREAMING ENGINE (d·w cells of state per window,
    whatever the user cardinality — the frequency twin of
    ``stream_hll_users``). The drained cell table is probed batch-side
    for the five fixed probe users: est = MIN over each user's d cells,
    absent cells counting 0 via a (window × probe-cell) grid left join.
    All integers; the oracle replays the cells and probes in DuckDB.
    """
    from etl_pipeline_excel_sql__spark.operators.sketches import (
        CMS_D,
        CMS_W,
        _cms_col,
    )
    from etl_pipeline_excel_sql__spark.streaming.events import (
        cms_cells_stream,
    )

    ev = read_events_stream(spark, sf_dir)
    cells = run_to_memory_sink(
        cms_cells_stream(ev), _sink_name("stream_cms_users")
    )
    probes = local_df(
        spark, [(u,) for u in CMS_PROBE_USERS], "user_id BIGINT"
    ).select(
        "user_id",
        F.posexplode(
            F.array(
                *[
                    _cms_col(F.col("user_id").cast("string"), j, CMS_W)
                    for j in range(CMS_D)
                ]
            )
        ).alias("row", "col"),
    )
    # the sink view feeds both the window list and the probe join —
    # rename the probe side's columns so the self-join carries no
    # ambiguous (or conflicting) attribute references
    grid = (
        cells.select("window_start")
        .distinct()
        .crossJoin(F.broadcast(probes))
    )
    c = cells.select(
        F.col("window_start").alias("__ws"),
        F.col("row").alias("__row"),
        F.col("col").alias("__col"),
        "cnt",
    )
    return (
        grid.join(
            c,
            (F.col("window_start") == F.col("__ws"))
            & (F.col("row") == F.col("__row"))
            & (F.col("col") == F.col("__col")),
            "left",
        )
        .groupBy("window_start", "user_id")
        .agg(
            F.min(F.coalesce(F.col("cnt"), F.lit(0)))
            .cast("bigint")
            .alias("est_count")
        )
    )


QUERIES["stream_cms_users"] = q_stream_cms_users


def _stream_cms_oracle() -> str:
    from etl_pipeline_excel_sql__spark.functions.hashing import H60_SQL
    from etl_pipeline_excel_sql__spark.operators.sketches import CMS_D, CMS_W

    def h(expr: str) -> str:
        return H60_SQL.format(
            x=f"'cms' || CAST(j AS VARCHAR) || ':' || {expr}"
        )

    users = ", ".join(f"({u})" for u in CMS_PROBE_USERS)
    return f"""
WITH rows_ AS (SELECT UNNEST(range({CMS_D})) AS j),
cells AS MATERIALIZED (
  SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts),
                  '%Y-%m-%d %H:%M:%S') AS window_start,
         j AS row, {h("CAST(user_id AS VARCHAR)")} % {CMS_W} AS col,
         COUNT(*) AS cnt
  FROM events CROSS JOIN rows_ GROUP BY 1, 2, 3
),
probes AS (
  SELECT u.user_id, j AS row,
         {h("CAST(u.user_id AS VARCHAR)")} % {CMS_W} AS col
  FROM (SELECT CAST(UNNEST([{", ".join(str(u) for u in CMS_PROBE_USERS)}])
               AS BIGINT) AS user_id) u
  CROSS JOIN rows_
),
grid AS (
  SELECT w.window_start, p.user_id, p.row, p.col
  FROM (SELECT DISTINCT window_start FROM cells) w CROSS JOIN probes p
)
SELECT g.window_start, g.user_id,
       CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS est_count
FROM grid g LEFT JOIN cells c
  ON c.window_start = g.window_start AND c.row = g.row AND c.col = g.col
GROUP BY g.window_start, g.user_id
"""


ORACLE["stream_cms_users"] = _stream_cms_oracle()
