"""``reference_etl``: the paper's Download / Upload / Compare through .xlsx.

Inputs, all made from the seed before the first pass:

* a tracker frame, ``orders ⋈ customer`` with ``c_mktsegment`` as the
  ministry (the reference's ``Working_Table_Uploadtest_V2`` stand-in);
* the ministries each action selects (one for Download, two for Upload,
  one for the Compare snapshots);
* two snapshot workbooks of the Compare ministry: the new one has ~10%
  of rows with one changed word, ~6% with a cleared cell, ~3% with a
  changed status, ~2% removed keys and ~3% new keys.

One operation is one user action, including its workbook write; Compare
also reads both snapshot workbooks. The output check compares rows
written, fill counts and rich-text cells with DuckDB counts over the
same inputs, and reads every written workbook back cell for cell.
"""

from __future__ import annotations

import datetime as dt
import os
import time

KEY = "OB Main ID"
COMPARE_COLS = ["Project Name", "Status", "Priority", "Status Notes", "Budget"]
WORD_DIFF_COLS = ["Status Notes"]
CLEARABLE = ["Project Name", "Status", "Priority", "Status Notes"]
UPLOAD_TEMPLATE = [
    "ob main id", "MINISTRY", "project_name", "Status ", "priority",
    "budget", "Template Only",
]
RUN_DATE = dt.date(2026, 1, 5)
WORDS = (
    "permit design tender review budget site crew steel delay schedule "
    "audit funding scope phase handover contract council survey drainage "
    "roof paving signage lighting utility inspection closeout"
).split()


def tracker_frame(spark, tracker_dir: str):
    from pyspark.sql import functions as F

    orders = spark.read.parquet(f"{tracker_dir}/orders.parquet")
    customer = spark.read.parquet(f"{tracker_dir}/customer.parquet")
    return orders.join(customer, orders.o_custkey == customer.c_custkey).select(
        F.concat(F.lit("OB-"), F.col("o_orderkey").cast("string")).alias(KEY),
        F.col("c_mktsegment").alias("Ministry"),
        F.col("c_name").alias("Project Name"),
        F.col("o_orderstatus").alias("Status"),
        F.col("o_orderpriority").alias("Priority"),
        F.col("o_orderdate").alias("RFP Issuance"),
        F.date_add(
            F.col("o_orderdate").cast("date"), (F.col("o_orderkey") % 900).cast("int")
        ).alias("Estimated Project Completion Date"),
        (F.col("o_totalprice") / F.lit(500000.0)).alias("Design Readiness"),
        F.col("o_totalprice").alias("Budget"),
        F.col("c_acctbal").alias("Account Balance"),
    )


def _snapshots(rows: list[tuple], rng) -> tuple[list[tuple], list[tuple]]:
    """Old and new snapshot rows (all strings) of one ministry."""
    old = []
    for key, name, status, prio, budget in rows:
        notes = " ".join(rng.choice(WORDS) for _ in range(rng.randint(4, 8)))
        old.append((key, name, status, prio, notes, f"{budget:.2f}"))
    new = []
    for row in old:
        u = rng.random()
        row = list(row)
        if u < 0.02:
            continue  # removed key
        if u < 0.12:
            words = row[4].split(" ")
            i = rng.randrange(len(words))
            words[i] = rng.choice([w for w in WORDS if w != words[i]])
            row[4] = " ".join(words)
        elif u < 0.18:
            row[1 + CLEARABLE.index(rng.choice(CLEARABLE))] = ""
        elif u < 0.21:
            row[2] = "X" if row[2] != "X" else "Y"
        new.append(tuple(row))
    for i in range(max(1, len(old) * 3 // 100)):
        notes = " ".join(rng.choice(WORDS) for _ in range(5))
        new.append((f"OB-N{i}", f"Project N{i}", "O", "3-MEDIUM", notes, "100.00"))
    rng.shuffle(new)
    return old, new


def _write_snapshot(rows: list[tuple], path: str) -> None:
    from etl_pipeline_excel_sql__spark.sinks.excel_writer import CellGrid
    from etl_pipeline_excel_sql__spark.sinks.xlsx import grid_to_xlsx

    grid = CellGrid()
    for c, h in enumerate([KEY, *COMPARE_COLS], start=1):
        grid.set(1, c, h)
    for r, row in enumerate(rows, start=2):
        for c, v in enumerate(row, start=1):
            grid.set(r, c, v)
    grid_to_xlsx(grid, path)


def _expected_diff(con, old: list[tuple], new: list[tuple]) -> dict[str, int]:
    """Rows, fills and rich-text cells Compare must render, by DuckDB."""
    import pandas as pd

    cols = ["k", *[f"c{i}" for i in range(len(COMPARE_COLS))]]
    con.register("old_snap", pd.DataFrame(old, columns=cols))
    con.register("new_snap", pd.DataFrame(new, columns=cols))
    norm = "coalesce(trim({}), '')"
    sums = []
    for i, c in enumerate(COMPARE_COLS):
        o, n = norm.format(f"o.c{i}"), norm.format(f"n.c{i}")
        cleared = f"o.k IS NOT NULL AND {o} <> '' AND {n} = ''"
        changed = f"o.k IS NOT NULL AND NOT ({cleared}) AND {o} <> {n}"
        sums.append(f"sum(CASE WHEN {cleared} THEN 1 ELSE 0 END) AS cleared{i}")
        sums.append(f"sum(CASE WHEN {changed} THEN 1 ELSE 0 END) AS changed{i}")
        if c in WORD_DIFF_COLS:
            sums.append(
                f"sum(CASE WHEN {changed} AND {n} <> '' THEN 1 ELSE 0 END) AS rich{i}"
            )
    res = con.execute(
        f"""SELECT count(*) AS rows, sum(CASE WHEN o.k IS NULL THEN 1 ELSE 0 END)
                   AS new_rows, {", ".join(sums)}
            FROM (SELECT * FROM new_snap WHERE {norm.format('k')} <> '') n
            LEFT JOIN (SELECT * FROM old_snap WHERE {norm.format('k')} <> '') o
            ON {norm.format('n.k')} = {norm.format('o.k')}"""
    )
    names = [d[0] for d in res.description]
    got = dict(zip(names, (int(v or 0) for v in res.fetchone())))
    res = None
    con.unregister("old_snap")
    con.unregister("new_snap")
    n_cols = len(COMPARE_COLS)
    return {
        "rows": got["rows"],
        "changed_fills": got["new_rows"] * (1 + n_cols)
        + sum(got[f"changed{i}"] for i in range(n_cols)),
        "cleared_fills": sum(got[f"cleared{i}"] for i in range(n_cols)),
        "rich_cells": sum(
            got[f"rich{COMPARE_COLS.index(c)}"] for c in WORD_DIFF_COLS
        ),
    }


def _assert_reads_back(grid, path: str) -> None:
    from etl_pipeline_excel_sql__spark.sinks.xlsx import xlsx_to_grid

    back = xlsx_to_grid(path)
    for part in ("cells", "fills", "rich", "vba_modules"):
        if getattr(back, part) != getattr(grid, part):
            raise AssertionError(f"{os.path.basename(path)}: {part} differ on read-back")


def _spanned(tracer, module, name: str, span: str, note=None) -> None:
    """Replace ``module.name`` with a call wrapped in ``span`` (a bare call
    while untraced); ``note`` maps the result to counts on the span."""
    fn = getattr(module, name)

    def call(*args, **kwargs):
        with tracer.span(span):
            out = fn(*args, **kwargs)
            if note is not None:
                tracer.note(**note(out))
            return out

    setattr(module, name, call)


def _span_public_calls(tracer) -> None:
    """Spans around the public functions the actions reach: the sink
    writers the pipelines call (where the Python-side collect happens),
    and the two functions ``read_xlsx_all_string`` composes (it imports
    ``xlsx_to_grid`` and looks up ``grid_to_dataframe`` at call time)."""
    from etl_pipeline_excel_sql__spark import pipelines
    from etl_pipeline_excel_sql__spark.sinks import xlsx
    from etl_pipeline_excel_sql__spark.sources import excel

    for name in ("write_positional", "write_header_matched", "write_highlighted_diff"):
        _spanned(tracer, pipelines, name, "sinks.excel_writer.collect")
    _spanned(tracer, xlsx, "xlsx_to_grid", "sinks.xlsx.parse",
             note=lambda grid: {"cells_read": len(grid.cells)})
    _spanned(tracer, excel, "grid_to_dataframe", "sources.excel.to_frame")


class ReferenceWorkload:
    ops = ["download", "upload", "compare"]

    def __init__(self, tracker_dir: str) -> None:
        self.tracker_dir = tracker_dir

    def prepare(self, ctx) -> None:
        from pyspark.sql import functions as F

        rng = ctx.rng
        self.tracker = tracker_frame(ctx.spark, self.tracker_dir)
        con = ctx.duckdb()
        self._con = con
        for t in ("orders", "customer"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{self.tracker_dir}/{t}.parquet'"
            )
        segments = [r[0] for r in con.execute(
            "SELECT DISTINCT c_mktsegment FROM customer ORDER BY 1"
        ).fetchall()]
        self.download_ministry, up1, up2, snap = rng.sample(segments, 4)
        self.upload_ministries = [up1, up2]
        rows = (
            self.tracker.filter(F.col("Ministry") == snap)
            .select(KEY, "Project Name", "Status", "Priority", "Budget")
            .orderBy(KEY)
            .collect()
        )
        old, new = _snapshots([tuple(r) for r in rows], rng)
        self.old_path = os.path.join(ctx.work_dir, "snapshot_old.xlsx")
        self.new_path = os.path.join(ctx.work_dir, "snapshot_new.xlsx")
        _write_snapshot(old, self.old_path)
        _write_snapshot(new, self.new_path)

        joined = "FROM orders JOIN customer ON o_custkey = c_custkey"
        self.expected = {
            "download": con.execute(
                f"SELECT count(*) {joined} WHERE c_mktsegment = ?",
                [self.download_ministry],
            ).fetchone()[0],
            "upload": con.execute(
                f"SELECT count(*) {joined} WHERE c_mktsegment IN (?, ?)",
                self.upload_ministries,
            ).fetchone()[0],
            "compare": _expected_diff(con, old, new),
        }
        _span_public_calls(ctx.tracer)

    def run_op(self, ctx, op: str, check: bool) -> float:
        t0 = time.perf_counter()
        res = getattr(self, f"_{op}")(ctx)
        latency = time.perf_counter() - t0
        if check:
            self._check(op, res)
        return latency

    def _write(self, ctx, grid, op: str) -> str:
        from etl_pipeline_excel_sql__spark.sinks.xlsx import grid_to_xlsx

        path = os.path.join(ctx.work_dir, f"{op}_out.xlsx")
        with ctx.tracer.span("sinks.xlsx.write"):
            grid_to_xlsx(grid, path)
        ctx.tracer.note(mb_written=os.path.getsize(path) / (1024 * 1024))
        return path

    def _download(self, ctx):
        from etl_pipeline_excel_sql__spark.pipelines import download_pipeline

        with ctx.tracer.span("pipelines.download", spark_work=True):
            res = download_pipeline(
                self.tracker,
                filter_col="Ministry",
                filter_value=self.download_ministry,
                drop_cols=["Account Balance"],
                date_cols=["RFP Issuance", "Estimated Project Completion Date"],
                percent_cols=["Design Readiness"],
                run_date=RUN_DATE,
                inject_vba=True,
            )
        ctx.tracer.note(rows_written=res.rows_written)
        return res, self._write(ctx, res.grid, "download")

    def _upload(self, ctx):
        from etl_pipeline_excel_sql__spark.pipelines import upload_pipeline

        with ctx.tracer.span("pipelines.upload", spark_work=True):
            res = upload_pipeline(
                self.tracker,
                ministry="ALL",
                ministry_list=self.upload_ministries,
                template_header_cells=UPLOAD_TEMPLATE,
            )
        ctx.tracer.note(rows_written=res.rows_written)
        return res, self._write(ctx, res.grid, "upload")

    def _read(self, ctx, path: str):
        from etl_pipeline_excel_sql__spark.sources import excel

        with ctx.tracer.span("sources.excel.read"):
            return excel.read_xlsx_all_string(ctx.spark, path)

    def _compare(self, ctx):
        from etl_pipeline_excel_sql__spark.pipelines import compare_pipeline

        q1 = self._read(ctx, self.old_path)
        q2 = self._read(ctx, self.new_path).drop("_row_ordinal")
        with ctx.tracer.span("pipelines.compare", spark_work=True):
            _, res = compare_pipeline(
                q1,
                q2,
                key=KEY,
                compare_cols=COMPARE_COLS,
                word_diff_cols=WORD_DIFF_COLS,
                old_order_col="_row_ordinal",
            )
        ctx.tracer.note(rows_written=res.rows_written)
        return res, self._write(ctx, res.grid, "compare")

    def _check(self, op: str, out) -> None:
        from etl_pipeline_excel_sql__spark.sinks.excel_writer import (
            FILL_CHANGED,
            FILL_CLEARED,
        )

        res, path = out
        want = self.expected[op]
        if op == "compare":
            fills = list(res.grid.fills.values())
            got = {
                "rows": res.rows_written,
                "changed_fills": fills.count(FILL_CHANGED),
                "cleared_fills": fills.count(FILL_CLEARED),
                "rich_cells": len(res.grid.rich),
            }
        else:
            got = res.rows_written
        if got != want:
            raise AssertionError(f"{op}: rendered {got}, DuckDB expects {want}")
        _assert_reads_back(res.grid, path)

    def close(self) -> None:
        self._con.close()
