"""End-to-end replicas of the reference's three pipelines (SURVEY.md §3).

Each function is the whole program re-expressed Spark-first: parameters in,
DataFrame plan built declaratively, one action at the terminal sink. The
GUI/COM boundaries of the reference become function arguments and the
CellGrid sink; everything between is lazy and distributed.

* :func:`download_pipeline` — §3.1: extract → filter → drop → date/percent
  formatting → positional rename → positional Excel write with skip-columns
  + run-date stamp (+ the VBA paste-guard macro, stored on the grid and
  written as ``xl/vbaProject.bin`` by ``sinks/xlsx.py`` —
  Download.py:203-227).
* :func:`upload_pipeline` — §3.2: extract once → IN-list filter → header
  scan + schema reconciliation → ministry block ordering → header-matched
  write with a written-rows tally → empty guard on that tally.
* :func:`compare_pipeline` — §3.3: two snapshots → key resolution →
  last-wins dedup → diff classification (+ word diff) → highlighted render.
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.functions.cleaning import (
    date_reformat,
    percent_format,
)
from etl_pipeline_excel_sql__spark.functions.normalize import (
    normalize_colname,
    quote,
    safe_fname_token,
)
from etl_pipeline_excel_sql__spark.operators.diff import snapshot_diff
from etl_pipeline_excel_sql__spark.operators.ordering import categorical_order
from etl_pipeline_excel_sql__spark.operators.reconcile import (
    EmptyIntersectionError,
    apply_reconciliation,
    reconcile_schema,
)
from etl_pipeline_excel_sql__spark.sinks.excel_writer import (
    DEFAULT_SKIP_COLS,
    CellGrid,
    inject_vba_guard,
    stamp_run_date,
    write_header_matched,
    write_highlighted_diff,
    write_positional,
)

#: The reference's fixed ministry write order (Upload.py:18-36). Kept as the
#: canonical example of O1 categorical ordering; callers supply their own.
MINISTRY_LIST = [
    "MAG", "MCCSS", "MCURES", "MECP", "MEDJCT", "MEDU", "MEM", "MEPR",
    "MLTC", "MNEDG", "MNR", "MOH", "MOI", "MTCG", "MTO", "MTO-T", "SOLGEN",
]


class EmptySourceError(RuntimeError):
    """F4: the filtered extract has no rows — abort before any output."""


@dataclass
class PipelineResult:
    grid: CellGrid
    rows_written: int
    #: side-channel notes (e.g. that the VBA paste-guard macro was stored)
    notes: list[str] = field(default_factory=list)


def output_filename(prefix: str, when: _dt.date) -> str:
    """S4 dated-output naming: ``{PREFIX}_{MM_DD_YYYY}.xlsx``, sanitized
    (Download.py:65-75, Upload.py:98-113)."""
    return safe_fname_token(f"{prefix}_{when.strftime('%m_%d_%Y')}") + ".xlsx"


def download_pipeline(
    source: DataFrame,
    filter_col: str,
    filter_value: str,
    drop_cols: list[str],
    date_cols: list[str],
    percent_cols: list[str],
    run_date: _dt.date,
    skip_cols: frozenset[int] = DEFAULT_SKIP_COLS,
    inject_vba: bool = False,
) -> PipelineResult:
    """§3.1 Download: filter → drop → T1/T2 formatting → P2 → K1/K3 write,
    rows from (8, 1) as in Download.py:160-201.

    The filter participates in the lazy plan, so unlike the reference
    (which pulled the whole table over ODBC and filtered client-side,
    Download.py:85-89) the predicate reaches the source scan. Column
    names may hold any header text.
    """
    df = source.filter(F.col(quote(filter_col)) == F.lit(filter_value))
    df = df.drop(*drop_cols)
    for c in date_cols:
        df = df.withColumn(c, date_reformat(F.col(quote(c))))
    for c in percent_cols:
        df = df.withColumn(c, percent_format(F.col(quote(c))))
    # P2: erase names to ordinals before positional writing (Download.py:157)
    df = df.toDF(*[str(i) for i in range(len(df.columns))])

    grid = CellGrid()
    stamp_run_date(grid, run_date)
    n = write_positional(df, grid, skip_cols=skip_cols)
    notes = []
    if inject_vba:
        # K4 (Download.py:203-227): the paste-guard macro source is stored
        # on the grid verbatim; grid_to_xlsx writes it as xl/vbaProject.bin
        # (executing it needs a VBA host, which Excel provides).
        inject_vba_guard(grid)
        notes.append("vba-injection: recorded (paste-guard module stored)")
    return PipelineResult(grid=grid, rows_written=n, notes=notes)


def upload_pipeline(
    source: DataFrame,
    ministry: str,
    ministry_list: list[str],
    template_header_cells: list[str | None],
    order_tiebreak: list[str] | None = None,
) -> PipelineResult:
    """§3.2 Upload: filter (F1/F2) → reconcile (S3/T3/P3) → block order
    (O1) → header-matched write (K2) with rows tally (A1) → guard (F4).

    The F4 empty guard runs no job of its own: the write's one collect
    tells it, and 0 rows written (which writes no cell) raises
    :class:`EmptySourceError`. Only when reconciliation fails does a
    separate ``isEmpty`` job run, so that an empty extract still reports
    as :class:`EmptySourceError` rather than
    :class:`~...operators.reconcile.EmptyIntersectionError`.

    ``ministry='ALL'`` writes every listed ministry in declaration order;
    the reference re-filtered the frame once per ministry (N scans,
    Upload.py:203-205) — here it is one ``array_position`` sort.
    """
    if ministry == "ALL":
        df = source.filter(F.col("Ministry").isin(ministry_list))
    else:
        df = source.filter(F.col("Ministry") == F.lit(ministry))
    no_rows = f"no rows for ministry selection {ministry!r}"
    try:
        rec = reconcile_schema(df.columns, template_header_cells)
    except EmptyIntersectionError:
        # F4 outranks the header check: an empty extract reports as such.
        if df.isEmpty():
            raise EmptySourceError(no_rows) from None
        raise
    if ministry == "ALL":
        # Order BEFORE the reconciliation projection: the template may
        # legitimately lack a 'Ministry' header, in which case
        # apply_reconciliation projects the column away and ordering
        # afterwards would crash on an unresolved column. The projection
        # is narrow, so the block order survives it. Tiebreak defaults to
        # every other source column — orderBy('_ord') alone leaves
        # intra-block order to the shuffle, breaking the preserved-order
        # contract of the reference's per-ministry block writes. NOTE:
        # this deviates from Upload.py:203-205, which writes each ministry
        # block in SQL result order (itself unspecified without ORDER BY);
        # a deterministic full-column sort is the distributed-safe
        # replacement. Pass order_tiebreak=[] explicitly to sort by the
        # block ordinal alone and accept shuffle-dependent intra-block
        # order.
        tiebreak = (
            [c for c in df.columns if c != "Ministry"]
            if order_tiebreak is None
            else order_tiebreak
        )
        df = categorical_order(
            df, "Ministry", ministry_list, tiebreak_cols=tiebreak
        ).drop("_ord")
    df = apply_reconciliation(df, rec)

    grid = CellGrid()
    mapping = {c: rec.mapping[c] for c in df.columns}
    n = write_header_matched(df, grid, mapping)
    if n == 0:
        # F4 read off the sink's own collect: 0 rows wrote no cell.
        raise EmptySourceError(no_rows)
    return PipelineResult(grid=grid, rows_written=n)


def resolve_columns(
    wanted: list[str], available: list[str]
) -> dict[str, str | None]:
    """P4 cross-snapshot column resolution (Compare.py:65-85, 141-151):
    exact name match, else normalized-name match, else None (the reference
    falls through to a passthrough that then misses — surfacing None makes
    the miss explicit)."""
    by_norm = {}
    for c in available:
        by_norm.setdefault(normalize_colname(c), c)
    out: dict[str, str | None] = {}
    for w in wanted:
        if w in available:
            out[w] = w
        else:
            out[w] = by_norm.get(normalize_colname(w))
    return out


def compare_pipeline(
    q1: DataFrame,
    q2: DataFrame,
    key: str,
    compare_cols: list[str],
    word_diff_cols: list[str] | None = None,
    old_order_col: str | None = None,
) -> tuple[DataFrame, PipelineResult]:
    """§3.3 Compare: resolve columns (P4) → diff (J1-J3, D1-D3) → render (K5).

    Returns the diff DataFrame (the analytics product) and the rendered
    highlight grid (the presentation product). Column names in ``q1`` are
    resolved against ``q2``'s by exact-then-normalized name.
    """
    resolution = resolve_columns([key, *compare_cols], q1.columns)
    missing = [w for w, got in resolution.items() if got is None]
    if missing:
        raise KeyError(f"columns not resolvable in the old snapshot: {missing}")
    # Two wanted names resolving to ONE source column would silently
    # collapse the rename map and crash downstream with an unresolved
    # column — surface the ambiguity here instead.
    by_target: dict[str, list[str]] = {}
    for w, got in resolution.items():
        by_target.setdefault(got, []).append(w)
    collided = {t: ws for t, ws in by_target.items() if len(ws) > 1}
    if collided:
        raise KeyError(
            "ambiguous column resolution — multiple wanted names map to "
            f"the same old-snapshot column: {collided}"
        )
    diff = snapshot_diff(
        q1,
        q2,
        key=key,
        compare_cols=compare_cols,
        word_diff_cols=word_diff_cols,
        old_order_col=old_order_col,
        old_names=resolution,
    )
    grid = CellGrid()
    n = write_highlighted_diff(
        diff, grid, key, compare_cols, word_diff_cols=word_diff_cols
    )
    return diff, PipelineResult(grid=grid, rows_written=n)
