"""Streaming tests: streaming results must equal their batch twins."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.plans.analytics_queries import (
    q_sessionize,
    q_window_agg_events,
)
from etl_pipeline_excel_sql__spark.streaming.events import (
    read_events_stream,
    run_to_memory_sink,
    sessionize_stream,
    windowed_counts_stream,
)


def test_windowed_counts_stream_equals_batch(spark, sf_dir):
    stream = windowed_counts_stream(read_events_stream(spark, sf_dir))
    got = run_to_memory_sink(stream, "win_counts_test")
    batch = q_window_agg_events(spark, sf_dir)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_sessionize_stream_equals_batch(spark, sf_dir):
    stream = sessionize_stream(read_events_stream(spark, sf_dir))
    got = {
        (r.user_id, r.session_start): (r.n_events, r.session_end)
        for r in run_to_memory_sink(stream, "sessionize_test").collect()
    }
    batch = {
        (r.user_id, r.session_start): (r.n_events, r.session_end)
        for r in q_sessionize(spark, sf_dir).collect()
    }
    assert got == batch


def test_sessionize_stream_exact_gap_boundary(spark, tmp_path):
    """Events separated by EXACTLY the 30-minute gap must share a session,
    matching the batch rule (diff > gap splits). session_window's half-open
    window would split them without the 1 µs default pad."""
    import glob
    import os
    import shutil

    from etl_pipeline_excel_sql__spark.streaming.events import (
        EVENTS_RAW_SCHEMA,
    )

    base = 1_700_000_000_000_000_000
    m30 = 30 * 60 * 1_000_000_000
    rows = [
        (1, base, 1, "click", 1.0, "{}"),
        (2, base + m30, 1, "click", 1.0, "{}"),  # exactly 30:00 later
        (3, base + 2 * m30 + 1_000_000_000, 1, "click", 1.0, "{}"),  # 30:01
    ]
    spark.createDataFrame(rows, EVENTS_RAW_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "w"))
    os.makedirs(tmp_path / "src")
    shutil.copy(
        glob.glob(str(tmp_path / "w" / "part-*.parquet"))[0],
        tmp_path / "src" / "events.parquet",
    )
    raw = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .format("parquet")
        .load(str(tmp_path / "src"))
    )
    ev = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    got = run_to_memory_sink(sessionize_stream(ev), "boundary_gap_test")
    assert sorted((r.user_id, r.n_events) for r in got.collect()) == [
        (1, 1),
        (1, 2),
    ]


def test_stream_static_enrichment(spark, sf_dir):
    from etl_pipeline_excel_sql__spark.sources.registry import load_table
    from etl_pipeline_excel_sql__spark.streaming.events import enrich_stream

    dim = load_table(spark, "customer", sf_dir).select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    stream = enrich_stream(read_events_stream(spark, sf_dir), dim)
    got = run_to_memory_sink(
        stream.select("event_id", "user_id", "c_mktsegment"),
        "enrich_test",
        output_mode="append",
    )
    batch = (
        load_table(spark, "events", sf_dir)
        .join(dim, on="user_id", how="left")
        .select("event_id", "user_id", "c_mktsegment")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_watermark_drops_late_rows(spark, tmp_path):
    """Rows arriving behind the watermark are dropped and never update state."""
    import time as _time

    from etl_pipeline_excel_sql__spark.streaming.events import (
        EVENTS_RAW_SCHEMA,
        windowed_counts_stream,
    )

    src = tmp_path / "stream_src"
    src.mkdir()

    def _write(events, name):
        spark.createDataFrame(events, EVENTS_RAW_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / name))
        import glob
        import shutil

        part = glob.glob(str(tmp_path / name / "part-*.parquet"))[0]
        shutil.copy(part, src / f"{name}.parquet")

    h = 3_600_000_000_000  # 1h in nanos
    base = 1_700_000_000_000_000_000
    # batch 1: events through hour 3 -> sets the watermark to hour 2
    _write(
        [
            (1, base + 0 * h, 1, "click", 1.0, "{}"),
            (2, base + 1 * h, 1, "click", 1.0, "{}"),
            (3, base + 3 * h, 1, "click", 1.0, "{}"),
        ],
        "batch1",
    )
    _time.sleep(1.1)  # distinct modTime so file order is deterministic
    # batch 2: on-time event — the advanced watermark takes effect AFTER the
    # batch that computed it, so this batch makes it active
    _write([(9, base + 3 * h + 1_000_000, 1, "click", 1.0, "{}")], "batch2")
    _time.sleep(1.1)
    # batch 3: a late event back in hour 0 — far behind the 1h watermark
    _write([(4, base + 1, 1, "click", 1.0, "{}")], "batch3")

    raw = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
    )
    events = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    counts = windowed_counts_stream(events)
    q = (
        counts.writeStream.format("memory")
        .queryName("late_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("late_test").collect()
    by_window: dict[str, list[int]] = {}
    for r in rows:
        by_window.setdefault(r.window_start, []).append(r.n_events)
    # hour-0 window only ever saw event 1 — the late event 4 was dropped
    # (no second update row for that window); hour-3 window updated 1 -> 2.
    assert by_window[min(by_window)] == [1]
    assert sorted(by_window[max(by_window)]) == [1, 2]


def test_stateful_running_totals_across_batches(spark, tmp_path):
    """applyInPandasWithState carries per-user state across micro-batches."""
    import glob
    import shutil
    import time as _time

    from etl_pipeline_excel_sql__spark.streaming.events import (
        EVENTS_RAW_SCHEMA,
        running_user_totals_stream,
    )

    src = tmp_path / "state_src"
    src.mkdir()

    def _write(events, name):
        spark.createDataFrame(events, EVENTS_RAW_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / name))
        part = glob.glob(str(tmp_path / name / "part-*.parquet"))[0]
        shutil.copy(part, src / f"{name}.parquet")

    base = 1_700_000_000_000_000_000
    _write(
        [
            (1, base, 1, "click", 2.0, "{}"),
            (2, base, 1, "click", 3.0, "{}"),
            (3, base, 2, "view", 5.0, "{}"),
        ],
        "b1",
    )
    _time.sleep(1.1)
    _write([(4, base, 1, "click", 10.0, "{}")], "b2")

    raw = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
    )
    events = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    totals = running_user_totals_stream(events)
    q = (
        totals.writeStream.format("memory")
        .queryName("state_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("state_test").collect()
    per_user: dict[int, list[tuple[int, int]]] = {}
    for r in rows:
        per_user.setdefault(r.user_id, []).append(
            (r.n_events, r.total_value_micros)
        )
    # user 1: batch1 emits (2, 5.0); batch2 emits the carried-forward (3, 15.0)
    assert (2, 5_000_000) in per_user[1] and (3, 15_000_000) in per_user[1]
    assert per_user[2] == [(1, 5_000_000)]


def test_dedup_stream_drops_redelivered_ids(spark, tmp_path):
    """Re-delivered event_ids across micro-batches are dropped while the
    watermark still covers them (at-least-once -> exactly-once payloads)."""
    import glob
    import shutil
    import time as _time

    from etl_pipeline_excel_sql__spark.streaming.events import (
        EVENTS_RAW_SCHEMA,
        dedup_events_stream,
    )

    src = tmp_path / "dedup_src"
    src.mkdir()

    def _write(events, name):
        spark.createDataFrame(events, EVENTS_RAW_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / name))
        part = glob.glob(str(tmp_path / name / "part-*.parquet"))[0]
        shutil.copy(part, src / f"{name}.parquet")

    m = 60_000_000_000  # 1 min in nanos
    base = 1_700_000_000_000_000_000
    _write(
        [
            (1, base + 0 * m, 1, "click", 1.0, "{}"),
            (2, base + 1 * m, 1, "click", 2.0, "{}"),
        ],
        "batch1",
    )
    _time.sleep(1.1)
    # batch 2 re-delivers event 2 (same id, later ts) + a fresh event 3
    _write(
        [
            (2, base + 2 * m, 1, "click", 2.0, "{}"),
            (3, base + 3 * m, 1, "click", 3.0, "{}"),
        ],
        "batch2",
    )

    raw = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
    )
    events = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    q = (
        dedup_events_stream(events)
        .writeStream.format("memory")
        .queryName("dedup_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("dedup_stream_test").collect()
    ids = sorted(r.event_id for r in rows)
    assert ids == [1, 2, 3]  # the re-delivery of 2 was deduped


def test_sliding_counts_stream_equals_batch(spark, sf_dir):
    from etl_pipeline_excel_sql__spark.sources.registry import load_table
    from etl_pipeline_excel_sql__spark.streaming.events import (
        sliding_counts_stream,
    )

    stream = sliding_counts_stream(read_events_stream(spark, sf_dir))
    got = run_to_memory_sink(stream, "sliding_test")
    batch = (
        load_table(spark, "events", sf_dir)
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))
    # sliding windows genuinely overlap: more window rows than tumbling
    tumbling = (
        load_table(spark, "events", sf_dir)
        .groupBy(F.window("ts", "2 hours").alias("w"), "event_type")
        .count()
    )
    assert got.count() > tumbling.count()


def test_stream_stream_interval_join_equals_batch(spark, sf_dir):
    from etl_pipeline_excel_sql__spark.sources.registry import load_table
    from etl_pipeline_excel_sql__spark.streaming.events import (
        purchase_attribution_stream,
    )

    ev = read_events_stream(spark, sf_dir)
    stream = purchase_attribution_stream(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
    )
    got = run_to_memory_sink(stream, "attrib_test", output_mode="append")

    b = load_table(spark, "events", sf_dir)
    c = b.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = b.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    batch = (
        c.join(
            p,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("purchase_ts") > F.col("click_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("click_ts") + F.expr("INTERVAL 2 hours")
            ),
        )
        .select(
            F.col("c_user").alias("user_id"),
            "click_id",
            "purchase_id",
            F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias(
                "click_time"
            ),
            F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias(
                "purchase_time"
            ),
            "purchase_value",
        )
    )
    assert got.count() > 0
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_stream_m4_equals_batch_m4(spark, sf_dir):
    """The streaming M4 aggregate (min_by/max_by state merged across
    micro-batches) must drain to exactly the batch M4 result."""
    from etl_pipeline_excel_sql__spark.plans.analytics7_queries import (
        q_events_m4_downsample,
    )
    from etl_pipeline_excel_sql__spark.streaming.events import (
        m4_downsample_stream,
        read_events_stream,
        run_to_memory_sink,
    )

    got = run_to_memory_sink(
        m4_downsample_stream(read_events_stream(spark, sf_dir)),
        "m4_stream_test",
    )
    batch = q_events_m4_downsample(spark, sf_dir)
    assert got.columns == batch.columns
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_user_totals_timeout_wiring(spark, sf_dir):
    """state_timeout_ms must actually arm ProcessingTimeTimeout on the
    stateful operator (it was once silently ignored). End-to-end firing
    is not drainable here: availableNow waits for every pending state
    timeout before terminating, so the assertion is on the analyzed
    plan's timeout conf — 0 keeps NoTimeout, >0 switches the operator."""
    from etl_pipeline_excel_sql__spark.streaming.events import (
        read_events_stream,
        running_user_totals_stream,
    )

    ev = read_events_stream(spark, sf_dir)
    armed = running_user_totals_stream(ev, state_timeout_ms=5000)
    plan = armed._jdf.queryExecution().analyzed().toString()
    assert "ProcessingTimeTimeout" in plan
    untimed = running_user_totals_stream(ev)
    plan2 = untimed._jdf.queryExecution().analyzed().toString()
    assert "NoTimeout" in plan2 and "ProcessingTimeTimeout" not in plan2


def test_hll_users_stream_equals_batch_sketch(spark, sf_dir):
    """The streamed per-window HLL drains to exactly the batch sketch
    (same helper on the batch frame — withWatermark is a no-op there),
    and every estimate is positive with v_zero in [0, HLL_M]."""
    from etl_pipeline_excel_sql__spark.operators.sketches import HLL_M
    from etl_pipeline_excel_sql__spark.sources.registry import load_table
    from etl_pipeline_excel_sql__spark.streaming.events import (
        hll_users_stream,
    )

    got = run_to_memory_sink(
        hll_users_stream(read_events_stream(spark, sf_dir)),
        "hll_users_test",
    ).collect()
    batch = hll_users_stream(load_table(spark, "events", sf_dir)).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, batch))
    assert got and all(
        r.est_distinct > 0 and 0 <= r.v_zero <= HLL_M for r in got
    )
