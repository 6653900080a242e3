"""Schema reconciliation (SURVEY.md §2.4 P3, §2.1 S3, §2.6 T3).

The reference discovers the target schema by scanning a template's header
row (early-terminating after 10 consecutive blanks / 500 columns,
Upload.py:156-172), normalizes both sides (Upload.py:137-145), intersects by
normalized name with a manual-override rename hook (Upload.py:174-181), and
aborts without writing when the intersection is empty (Upload.py:184-190).

This is pure metadata work — it runs on the driver in microseconds and emits
a Spark ``select`` projection; executors never see it. That division is the
right one at any scale: schema decisions are O(columns), data movement is
O(rows), and conflating them (the reference's per-row header dict probing)
doesn't survive a distributed engine.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.functions.normalize import (
    norm_header,
    quote,
)

MAX_HEADER_COLS = 500
MAX_CONSECUTIVE_BLANKS = 10


def scan_header_row(cells: list[str | None]) -> dict[str, int]:
    """S3: normalized header → 0-based column index, early-terminated.

    Stops after :data:`MAX_CONSECUTIVE_BLANKS` consecutive blank cells or
    :data:`MAX_HEADER_COLS` columns, whichever first; blank runs shorter than
    the limit are skipped but scanning continues. First occurrence of a
    normalized name wins.
    """
    headers: dict[str, int] = {}
    blanks = 0
    for idx, raw in enumerate(cells[:MAX_HEADER_COLS]):
        name = norm_header(raw) if raw is not None else ""
        if not name:
            blanks += 1
            if blanks >= MAX_CONSECUTIVE_BLANKS:
                break
            continue
        blanks = 0
        headers.setdefault(name, idx)
    return headers


class EmptyIntersectionError(RuntimeError):
    """No source column matched any template header — abort before writing."""


@dataclass(frozen=True)
class ReconcileResult:
    #: source column name → template column index (0-based), in template order
    mapping: dict[str, int]
    #: source columns with no template match (ignored by the write)
    unmatched_source: tuple[str, ...]
    #: normalized template headers with no source match (left blank)
    unmatched_template: tuple[str, ...]


def reconcile_schema(
    source_cols: list[str],
    template_header_cells: list[str | None],
    manual_overrides: dict[str, str] | None = None,
) -> ReconcileResult:
    """P3: match source columns to template columns by normalized name.

    ``manual_overrides`` maps a source column name to the template header it
    should be treated as (both sides normalized before matching). Raises
    :class:`EmptyIntersectionError` when nothing matches — the caller must
    not produce output in that case (reference semantics: don't save a
    corrupt workbook).
    """
    overrides = {k: v for k, v in (manual_overrides or {}).items()}
    template = scan_header_row(template_header_cells)
    mapping: dict[str, int] = {}
    unmatched: list[str] = []
    for col in source_cols:
        target_name = norm_header(overrides.get(col, col))
        if target_name in template:
            mapping[col] = template[target_name]
        else:
            unmatched.append(col)
    if not mapping:
        raise EmptyIntersectionError(
            "no source column matched any template header; refusing to write"
        )
    matched_idx = set(mapping.values())
    unmatched_template = tuple(
        name for name, idx in sorted(template.items(), key=lambda kv: kv[1])
        if idx not in matched_idx
    )
    ordered = dict(sorted(mapping.items(), key=lambda kv: kv[1]))
    return ReconcileResult(
        mapping=ordered,
        unmatched_source=tuple(unmatched),
        unmatched_template=unmatched_template,
    )


def apply_reconciliation(df: DataFrame, result: ReconcileResult) -> DataFrame:
    """Project the source frame to matched columns, in template order.

    Output column names are the *source* names; the writer uses
    ``result.mapping`` for physical placement.
    """
    return df.select(*[F.col(quote(c)) for c in result.mapping])
