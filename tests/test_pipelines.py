"""End-to-end pipeline tests on reference-domain fixtures (FIXTURES.md B1/B2)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.pipelines import (
    EmptySourceError,
    compare_pipeline,
    download_pipeline,
    output_filename,
    resolve_columns,
    upload_pipeline,
)
from etl_pipeline_excel_sql__spark.sinks.excel_writer import FILL_CHANGED, FILL_CLEARED

TRACKER_SCHEMA = (
    "`OB Main ID` string, Ministry string, `RFP Issuance` string, "
    "`Design Readiness` string, `Risks to Project Cost` string, "
    "`Status Notes` string"
)

TRACKER_ROWS = [
    ("P1", "MOH", "2024-01-15", "0.876", "high", "on track for spring"),
    ("P2", "MOH", "garbage", "NULL", "low", "delayed until fall"),
    ("P3", "MAG", "2023-06-30", "0.5", "med", "complete"),
    ("P4", "OUT", "2023-06-30", "1.0", "med", "not in list"),
]


@pytest.fixture()
def tracker(spark):
    return spark.createDataFrame(TRACKER_ROWS, TRACKER_SCHEMA)


def test_output_filename():
    assert output_filename("MOH", dt.date(2026, 8, 13)) == "MOH_08_13_2026.xlsx"
    assert output_filename("A/B", dt.date(2026, 1, 2)) == "A_B_01_02_2026.xlsx"


def test_download_pipeline_end_to_end(tracker):
    res = download_pipeline(
        tracker,
        filter_col="Ministry",
        filter_value="MOH",
        drop_cols=["Risks to Project Cost"],
        date_cols=["RFP Issuance"],
        percent_cols=["Design Readiness"],
        run_date=dt.date(2026, 8, 13),
        skip_cols=frozenset({2}),
        inject_vba=True,
    )
    assert res.rows_written == 2
    assert res.grid.get(4, 11) == "08/13/2026"         # K3 stamp
    # columns after drop: OB Main ID, Ministry, RFP Issuance, Design
    # Readiness, Status Notes -> excel cols 1,3,4,5,6 (col 2 skipped)
    row_p1 = [res.grid.get(8, c) for c in (1, 3, 4, 5, 6)]
    assert row_p1 == ["P1", "MOH", "01-15-2024", "88%", "on track for spring"]
    row_p2 = [res.grid.get(9, c) for c in (1, 3, 4, 5, 6)]
    # 'garbage' date coerces to null -> ''; 'NULL' literal percent -> ''
    assert row_p2 == ["P2", "MOH", "", "", "delayed until fall"]
    assert res.notes and "vba-injection: recorded" in res.notes[0]
    # K4: the paste-guard macro source is carried on the grid verbatim
    # (Download.py:203-227 semantics — guard ranges + undo + message).
    vba = res.grid.vba_modules["Sheet1"]
    assert "Worksheet_SelectionChange" in vba
    assert '"C:C, D:D, E:E, J:J, K:K, AI:AI, AH:AH, AP:AP"' in vba
    assert "Application.Undo" in vba
    assert "Copy and paste is not allowed in this column." in vba


def test_upload_pipeline_all_block_order(tracker):
    template = ["ob main id", "MINISTRY", "Status_Notes", "Template Only"]
    res = upload_pipeline(
        tracker,
        ministry="ALL",
        ministry_list=["MOH", "MAG"],
        template_header_cells=template,
        order_tiebreak=["OB Main ID"],
    )
    # OUT ministry filtered by IN-list; blocks in [MOH, MAG] order
    assert res.rows_written == 3
    col1 = [res.grid.get(r, 1) for r in (6, 7, 8)]
    col2 = [res.grid.get(r, 2) for r in (6, 7, 8)]
    assert col2 == ["MOH", "MOH", "MAG"]
    assert col1 == ["P1", "P2", "P3"]
    # template-only column stays untouched
    assert all(res.grid.get(r, 4) is None for r in (6, 7, 8))


def test_upload_pipeline_empty_guard(tracker):
    with pytest.raises(EmptySourceError):
        upload_pipeline(
            tracker,
            ministry="NOPE",
            ministry_list=["MOH"],
            template_header_cells=["ministry"],
        )


def test_upload_pipeline_empty_guard_outranks_header_mismatch(tracker):
    # No rows AND no matching header: the empty extract is what reports.
    with pytest.raises(EmptySourceError):
        upload_pipeline(
            tracker,
            ministry="NOPE",
            ministry_list=["MOH"],
            template_header_cells=["no such header"],
        )


def test_pipelines_take_any_header_text(spark):
    """Caller-supplied names resolve as the one column they name: a dot in
    a header is text, not a struct-field path."""
    src = spark.createDataFrame(
        [
            ("P1", "MOH", "2024-01-15", "0.876", "r1"),
            ("P2", "MAG", "2023-06-30", "0.5", "r2"),
            ("P3", "MOH", "garbage", "1.0", "r3"),
        ],
        "`OB.Main ID` string, Ministry string, `RFP.Date` string, "
        "`Design.Readiness` string, `Risk.Notes` string",
    )
    res = download_pipeline(
        src,
        filter_col="OB.Main ID",
        filter_value="P1",
        drop_cols=["Risk.Notes"],
        date_cols=["RFP.Date"],
        percent_cols=["Design.Readiness"],
        run_date=dt.date(2026, 8, 13),
        skip_cols=frozenset(),
    )
    assert res.rows_written == 1
    assert [res.grid.get(8, c) for c in range(1, 6)] == [
        "P1", "MOH", "01-15-2024", "88%", None,
    ]
    template = ["OB.Main ID", "Design.Readiness"]
    res = upload_pipeline(
        src, ministry="ALL", ministry_list=["MOH", "MAG"],
        template_header_cells=template,
    )
    rows = [(res.grid.get(r, 1), res.grid.get(r, 2)) for r in (6, 7, 8)]
    assert rows == [("P1", "0.876"), ("P3", "1.0"), ("P2", "0.5")]
    res = upload_pipeline(
        src, ministry="MAG", ministry_list=["MOH", "MAG"],
        template_header_cells=template,
    )
    assert res.rows_written == 1
    assert (res.grid.get(6, 1), res.grid.get(6, 2)) == ("P2", "0.5")


def test_resolve_columns():
    assert resolve_columns(
        ["OB Main ID", "Status Notes", "Gone"],
        ["OB Main ID", "STATUS_NOTES", "Other"],
    ) == {"OB Main ID": "OB Main ID", "Status Notes": "STATUS_NOTES", "Gone": None}


@pytest.fixture()
def snapshots(spark):
    """Old/new Compare snapshots: a changed word-diff cell, a cleared cell,
    a duplicate old key (last wins by ``ord``), a blank key and a new row;
    the old side spells the compared header differently."""
    q1 = spark.createDataFrame(
        [
            ("P1", "on track for spring", "a"),
            ("P2", "x", "b"),
            ("P3", "keep", "c"),
            ("P3", "keep-last", "c2"),   # duplicate key: last wins by ord
            ("", "blankkey", "z"),
        ],
        "`OB Main ID` string, `STATUS_NOTES` string, other string",
    ).withColumn("ord", F.monotonically_increasing_id())
    q2 = spark.createDataFrame(
        [
            ("P1", "delayed until fall spring extra", "a"),   # changed + word diff
            ("P2", "", "b"),                                   # cleared
            ("P3", "keep-last", "c2"),                         # same vs last-wins row
            ("P9", "brand new", "n"),                          # new row
        ],
        "`OB Main ID` string, `Status Notes` string, other string",
    )
    return q1, q2


def test_compare_pipeline_end_to_end(snapshots):
    q1, q2 = snapshots
    diff, res = compare_pipeline(
        q1,
        q2,
        key="OB Main ID",
        compare_cols=["Status Notes"],
        word_diff_cols=["Status Notes"],
        old_order_col="ord",
    )
    rows = {r["OB Main ID"]: r for r in diff.collect()}
    assert rows["P1"]["Status Notes__status"] == "changed"
    assert [w.same for w in rows["P1"]["Status Notes__words"]] == [
        False, False, False, True, False,
    ]
    assert rows["P2"]["Status Notes__status"] == "cleared"
    assert rows["P3"]["Status Notes__status"] == "same"   # last-wins dedup
    assert rows["P9"].row_status == "new"
    fills = res.grid.fills
    assert FILL_CHANGED in fills.values() and FILL_CLEARED in fills.values()


def test_compare_pipeline_rejects_ambiguous_resolution(spark):
    """Two wanted names resolving to the same old-snapshot column must
    raise up front, not collapse the rename map and crash downstream."""
    import pytest

    from etl_pipeline_excel_sql__spark.pipelines import compare_pipeline

    q1 = spark.createDataFrame([(1, "x")], "a_b long, v string")
    q2 = spark.createDataFrame([(1, "x", "y")], "a_b long, `a b` string, v string")
    with pytest.raises(KeyError, match="ambiguous"):
        compare_pipeline(q1, q2, key="a_b", compare_cols=["a b"])


def test_compare_pipeline_any_header_text(spark):
    """Headers with a dot, a backtick, a space or braces name one column
    each, as the workbook reader keeps them verbatim; the old side's
    ``X_Y`` is resolved to ``x y`` by normalized name."""
    from pyspark.sql.types import StringType, StructField, StructType

    def frame(rows, names):
        return spark.createDataFrame(
            rows, StructType([StructField(n, StringType()) for n in names])
        )

    q1 = frame(
        [("K1", "open", "v", "b"), ("K2", "a", "b", "b")],
        ["Unit.Cost", "a`b", "X_Y", "{n}"],
    )
    q2 = frame(
        [("K1", "closed now", "v", "b"), ("K2", "a", "", "b"), ("K3", "n", "n", "b")],
        ["Unit.Cost", "a`b", "x y", "{n}"],
    )
    diff, res = compare_pipeline(
        q1,
        q2,
        key="Unit.Cost",
        compare_cols=["a`b", "x y", "{n}"],
        word_diff_cols=["a`b"],
    )
    assert diff.columns[:5] == [
        "Unit.Cost", "row_status", "a`b__status", "a`b__old", "a`b__new",
    ]
    g = res.grid
    assert [g.get(1, c) for c in (1, 2, 3, 4)] == ["Unit.Cost", "a`b", "x y", "{n}"]
    row = {g.get(r, 1): r for r in range(2, 5)}
    assert set(row) == {"K1", "K2", "K3"}

    def fills(key):
        return [g.fills.get((row[key], c)) for c in (1, 2, 3, 4)]

    assert fills("K1") == [None, FILL_CHANGED, None, None]
    assert g.rich[(row["K1"], 2)] == [("closed ", "FFFF0000"), ("now", "FFFF0000")]
    assert fills("K2") == [None, None, FILL_CLEARED, None]
    assert fills("K3") == [FILL_CHANGED] * 4


def test_pipeline_job_budgets(spark, tracker, snapshots):
    """Spark jobs each pipeline runs on these fixtures, counted in a job
    group of its own: one more eager action anywhere fails here.

    Upload answers its F4 empty guard from the sink's collect, so it runs
    one job; Compare's jobs are its old side's shuffle, the broadcast and
    the sink's collect."""
    sc = spark.sparkContext

    def jobs(group, run):
        sc.setJobGroup(group, group)
        try:
            run()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    q1, q2 = snapshots
    counts = {
        "download": jobs("budget-download", lambda: download_pipeline(
            tracker,
            filter_col="Ministry",
            filter_value="MOH",
            drop_cols=["Risks to Project Cost"],
            date_cols=["RFP Issuance"],
            percent_cols=["Design Readiness"],
            run_date=dt.date(2026, 8, 13),
        )),
        "upload": jobs("budget-upload", lambda: upload_pipeline(
            tracker,
            ministry="ALL",
            ministry_list=["MOH", "MAG"],
            template_header_cells=["ob main id", "MINISTRY", "Status_Notes"],
            order_tiebreak=["OB Main ID"],
        )),
        "compare": jobs("budget-compare", lambda: compare_pipeline(
            q1,
            q2,
            key="OB Main ID",
            compare_cols=["Status Notes"],
            word_diff_cols=["Status Notes"],
            old_order_col="ord",
        )),
    }
    assert counts == {"download": 1, "upload": 1, "compare": 4}
