"""State-store sizing: measure that watermarks actually bound state.

SCALING.md claims the watermarked streaming operators hold a working set
proportional to the watermark horizon, not to the all-time key count.
These tests back that with numbers from the engine's own
``StreamingQueryProgress.stateOperators`` metrics: feed micro-batches
whose event time jumps far past the watermark, then assert

* ``numRowsRemoved`` > 0 — the store really evicted the old state, and
* the final batch's ``numRowsTotal`` equals the horizon working set,
  far below the total number of sessions/windows the run produced.

Without these, a regression that silently stopped evicting (e.g. a lost
``withWatermark`` in a refactor) would still pass every result-equality
test on bounded input — state growth only shows up in the metrics.
"""

from __future__ import annotations

import glob
import shutil
import time as _time

from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.streaming.events import (
    EVENTS_RAW_SCHEMA,
    run_with_state_metrics,
    sessionize_stream,
    sliding_counts_stream,
)

H = 3_600_000_000_000  # 1 hour in nanos
BASE = 1_700_000_000_000_000_000


def _multi_batch_source(spark, tmp_path, batches):
    """Write each batch as one parquet file (distinct mtimes so the file
    stream replays them in order), return a maxFilesPerTrigger=1 stream."""
    src = tmp_path / "state_src"
    src.mkdir()
    for i, events in enumerate(batches):
        name = f"batch{i}"
        spark.createDataFrame(events, EVENTS_RAW_SCHEMA).coalesce(
            1
        ).write.mode("overwrite").parquet(str(tmp_path / name))
        part = glob.glob(str(tmp_path / name / "part-*.parquet"))[0]
        shutil.copy(part, src / f"{name}.parquet")
        if i < len(batches) - 1:
            _time.sleep(1.05)
    raw = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
    )
    return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))


def test_sessionize_state_is_bounded_by_watermark_horizon(spark, tmp_path):
    n_users = 6
    # batch 0: every user opens a session at hour 0 (6 state rows).
    batch0 = [
        (u, BASE + u * 1_000_000, u, "click", 1.0, "{}")
        for u in range(n_users)
    ]
    # batch 1: hour 50 — advances the watermark to hour 49, far past the
    # hour-0 sessions (+30min gap), AND opens 2 fresh sessions.
    batch1 = [
        (100 + u, BASE + 50 * H + u * 1_000_000, u, "click", 1.0, "{}")
        for u in range(2)
    ]
    # batch 2: hour 51 — the hour-49 watermark computed by batch 1 is
    # active here, so this batch's state maintenance evicts the hour-0
    # sessions; opens 1 more session.
    batch2 = [(200, BASE + 51 * H, 5, "click", 1.0, "{}")]

    events = _multi_batch_source(spark, tmp_path, [batch0, batch1, batch2])
    # session_window aggregation only supports append output: a session
    # row is emitted once, when the watermark finalizes it.
    result, metrics = run_with_state_metrics(
        sessionize_stream(events),
        "sess_state_test",
        output_mode="append",
    )

    # Result sanity: only the hour-0 sessions were finalized by the
    # watermark before the bounded run ended; the 3 late-run sessions are
    # still open (in state, counted below).
    emitted = result.count()
    assert emitted == n_users

    session_ops = [m for m in metrics if "session" in m["operatorName"].lower()]
    assert session_ops, f"no session state operator in {metrics}"
    removed = sum(m["numRowsRemoved"] for m in session_ops)
    assert removed >= n_users, (
        f"watermark never evicted the hour-0 sessions: {session_ops}"
    )
    # Final working set: only sessions within the watermark horizon
    # (the 3 late-run sessions), NOT the all-time 9.
    final_total = session_ops[-1]["numRowsTotal"]
    assert final_total <= 3, (
        f"state grew past the horizon working set: {session_ops}"
    )
    assert final_total < emitted


def test_sliding_counts_state_is_bounded_by_watermark_horizon(
    spark, tmp_path
):
    # batch 0: events in hours 0..3, one event type -> with a 2h window /
    # 1h slide each event lands in 2 windows; hours 0-3 open ~5 windows.
    batch0 = [
        (i, BASE + i * H, 1, "click", 1.0, "{}") for i in range(4)
    ]
    # batch 1: hour 60 advances the watermark; batch 2's maintenance
    # evicts every hour-0..3 window.
    batch1 = [(100, BASE + 60 * H, 1, "click", 1.0, "{}")]
    batch2 = [(101, BASE + 61 * H, 1, "click", 1.0, "{}")]

    events = _multi_batch_source(spark, tmp_path, [batch0, batch1, batch2])
    result, metrics = run_with_state_metrics(
        sliding_counts_stream(events),
        "slide_state_test",
    )

    agg_ops = [m for m in metrics if m["numRowsTotal"] >= 0]
    assert agg_ops
    removed = sum(m["numRowsRemoved"] for m in agg_ops)
    assert removed >= 5, f"old sliding windows never evicted: {agg_ops}"
    # Horizon working set: the hour-60/61 events open at most 4 distinct
    # 2h/1h windows; the 5 early windows must be gone.
    assert agg_ops[-1]["numRowsTotal"] <= 4, f"unbounded state: {agg_ops}"


def test_cms_cells_state_is_capped_at_sketch_size(spark, tmp_path):
    """The streaming Count-Min state is d·w CELLS per window, not one
    row per key: 1500 distinct users in one window may naively need
    6000 (user, row) state rows, but the store must hold ≤ CMS_D·CMS_W;
    and the watermark must still evict closed windows."""
    from etl_pipeline_excel_sql__spark.operators.sketches import CMS_D, CMS_W
    from etl_pipeline_excel_sql__spark.streaming.events import (
        cms_cells_stream,
    )

    n_users = 1500
    batch0 = [
        (u, BASE + u * 1_000, u, "click", 1.0, "{}") for u in range(n_users)
    ]
    batch1 = [
        (100_000 + u, BASE + 50 * H + u * 1_000_000, u, "click", 1.0, "{}")
        for u in range(2)
    ]
    batch2 = [(200_000, BASE + 51 * H, 5, "click", 1.0, "{}")]
    events = _multi_batch_source(spark, tmp_path, [batch0, batch1, batch2])
    result, metrics = run_with_state_metrics(
        cms_cells_stream(events),
        "cms_state_test",
        output_mode="update",
    )
    cap = CMS_D * CMS_W
    ops = [m for m in metrics if m["numRowsTotal"] > 0]
    assert ops, f"no state metrics recorded: {metrics}"
    peak = max(m["numRowsTotal"] for m in ops)
    assert peak <= cap + 3 * CMS_D, (
        f"state exceeded the sketch cap d*w={cap}: {metrics}"
    )
    assert peak > CMS_W, "scenario too small to exercise the cap"
    removed = sum(m["numRowsRemoved"] for m in metrics)
    assert removed > 0, f"watermark never evicted closed windows: {metrics}"
    # the drained cells reconstruct exact counts' lower bound: every
    # hour-0 user contributes CMS_D cells' worth of increments
    rows = result.collect()
    first_window = min(r.window_start for r in rows)
    hour0 = [r for r in rows if r.window_start == first_window]
    assert sum(r.cnt for r in hour0) == n_users * CMS_D
