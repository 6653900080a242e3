"""Repository benchmark: one workload, one client, one Spark session.

    python3 perfbench/run.py --workload reference_etl --seed 1 --seconds 15 --trace 0

Closed loop, one client: each operation starts when the previous one has
ended. A run sets up the session (``setup_s``), makes the workload's
inputs (``reference_etl`` draws its ministries and snapshot edits from
``--seed``), runs one cold pass over the workload's operations
(``cold_pass_s``), checks every operation's output once (outside the
timings), then runs warm passes until ``--seconds`` have passed and at
least three have run, so every warm metric is a median. Every
pass runs the operations in their declared order: the codegen class
cache evicts least-recently-used plans, so a seeded order changes what
is recompiled, and in a probe one seed of five ran its warm passes a
fifth above the median. After each operation the persisted RDDs it left
behind are unpersisted, as ``bench.py`` does.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs warm
passes in blocks of untraced, traced, traced, untraced and prints the per-layer metrics of the
traced ones (medians), the share of pass time no layer span covers, and
the tracing overhead (traced minus untraced warm pass). Spans are kept
in memory and written to ``.perfbench_work/traces/`` at exit.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``; metric names and units are those
``BENCHMARK.json`` declares. Run it from the repository root; the inputs
are the parquet tables under ``perfbench/data``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DATA = HERE / "data"
WORK = ROOT / ".perfbench_work"
#: Spark JVM heap. ``session.py`` defaults to 32g, more than small hosts
#: have; the vendored tables need far less.
DRIVER_MEM = "2g"

sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

from queries import CURATION_HEAVY, QueryWorkload  # noqa: E402
from reference import ReferenceWorkload  # noqa: E402

WORKLOADS = {
    "reference_etl": lambda: ReferenceWorkload(str(DATA / "tracker")),
    "curation_heavy": lambda: QueryWorkload(CURATION_HEAVY, str(DATA / "sf0.001")),
}

#: Metric names and units, as ``BENCHMARK.json`` declares them.
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
END_TO_END = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}

#: Warm passes every end-to-end warm metric is a median over, at least.
MIN_WARM = 3

#: Layers whose self time a traced run reports (span name prefixes).
SELF_LAYERS = (
    "plans", "operators", "pipelines", "sinks.excel_writer", "sinks.xlsx",
    "sources.excel",
)
SELF_LAYERS_LONGEST_FIRST = sorted(SELF_LAYERS, key=len, reverse=True)


class Context:
    def __init__(self, spark, tracer, rng, work_dir: str) -> None:
        self.spark, self.tracer, self.rng, self.work_dir = spark, tracer, rng, work_dir

    def duckdb(self):
        import duckdb

        con = duckdb.connect()
        con.execute("SET memory_limit='1GB'")
        con.execute("SET threads=2")
        con.execute(f"SET temp_directory='{self.work_dir}/duckdb'")
        return con


def pin_env(work_dir: Path) -> dict[str, str]:
    """Environment every run uses; recorded in its output."""
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(work_dir / "spark-local"),
        "TMPDIR": str(work_dir / "tmp"),
        # native libraries the JVM unpacks (snappy, zstd) land here too
        "JAVA_TOOL_OPTIONS": " ".join(
            p for p in (os.environ.get("JAVA_TOOL_OPTIONS"),
                        f"-Djava.io.tmpdir={work_dir / 'tmp'}") if p
        ),
        # Python workers (Arrow UDFs) import the package too
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        ),
    }
    os.environ.update(env)
    for d in ("spark-local", "tmp", "duckdb"):
        (work_dir / d).mkdir(parents=True, exist_ok=True)
    return env


def host_facts() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_gb": round(mem_kb / 2**20, 1),
        "python": platform.python_version(),
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def median(xs):
    return statistics.median(xs) if xs else 0.0


def pass_metrics(workload, passes: list[dict]) -> dict[str, float]:
    """End-to-end timings from the cold pass and the untraced warm passes."""
    cold, warm = passes[0], [p for p in passes[1:] if not p["traced"]]
    per_op = {
        op: median([p["lat"][op] for p in warm if op in p["lat"]])
        for op in workload.ops
    }
    return {
        "cold_pass_s": sum(cold["lat"].values()),
        "warm_pass_s": median([sum(p["lat"].values()) for p in warm]),
        "op_geomean_s": math.exp(
            statistics.fmean(math.log(v) for v in per_op.values() if v > 0)
        ),
    }


#: Counts a span notes, by the per-layer metric they add to.
NOTE_METRICS = {
    "rows_written": "pipelines.rows_written",
    "mb_written": "sinks.xlsx.mb_written",
    "cells_read": "sources.excel.cells_read",
}
TASK_COUNTERS = (
    "tasks", "failed_tasks", "task_run_s", "task_cpu_s", "shuffle_read_mb",
    "shuffle_write_mb", "spill_mb",
)
#: The Spark counters of a span, by the metric each adds to; keyed by the
#: span's name, else by its top-level module.
SPAN_COUNTERS = {
    "plans.build": {"jobs": "plans.build_jobs", "stages": "plans.build_stages"},
    "operators.execute": {
        "jobs": "operators.execute_jobs",
        "stages": "operators.execute_stages",
        **{k: f"operators.{k}" for k in TASK_COUNTERS},
    },
    "pipelines": {k: f"pipelines.{k}" for k in ("jobs", "stages", "tasks", "task_cpu_s")},
}


def pass_layers(spans: list[dict], wall: float) -> dict[str, float]:
    """Per-layer totals of one traced pass."""
    row = dict.fromkeys(PER_LAYER, 0.0)
    by_id = {s["id"]: s for s in spans}
    kids: dict[int, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def dur(s: dict) -> float:
        return s["end"] - s["start"]

    covered = 0.0
    n_ops = 0
    for s in spans:
        name = s["name"]
        for k, v in s.get("notes", {}).items():
            row[NOTE_METRICS[k]] += v
        if name == "op":
            n_ops += 1
            op = s["op_name"]
            row["codegen.compiles"] += s["compiles"]
            row["jvm.gc_s"] += s["gc_s"]
            row["jvm.gc_count"] += s["gc_count"]
            row["cache.persisted_rdds_left"] += s.get("persisted_rdds", 0)
            row["cache.persisted_mb_left"] += s.get("persisted_mb", 0)
            if f"action.{op}_s" in row:
                row[f"action.{op}_s"] = dur(s)
            if f"op.{op}.compiles" in row:
                row[f"op.{op}.compiles"] = s["compiles"]
                for k in kids.get(s["id"], []):
                    part = "build" if k["name"] == "plans.build" else "execute"
                    row[f"op.{op}.{part}_s"] += dur(k)
                    if part == "build":
                        row[f"op.{op}.build_jobs"] += k["counters"].get("jobs", 0)
            continue
        parent = by_id.get(s["parent"])
        if parent is not None and parent["name"] == "op":
            covered += dur(s)
        if f"{name}_s" in row:
            row[f"{name}_s"] += dur(s)
        counters = s.get("counters")
        if counters:
            metrics = SPAN_COUNTERS.get(name) or SPAN_COUNTERS[name.split(".")[0]]
            for k, metric in metrics.items():
                row[metric] += counters.get(k, 0)
        layer = next(x for x in SELF_LAYERS_LONGEST_FIRST if name.startswith(x + "."))
        row[f"self.{layer}_s"] += dur(s) - sum(dur(k) for k in kids.get(s["id"], []))
    row["codegen.compiles_per_op"] = row["codegen.compiles"] / max(1, n_ops)
    row["trace.unattributed_frac"] = max(0.0, wall - covered) / wall
    return row


def layer_metrics(tracer, passes: list[dict]) -> dict[str, float]:
    """Per-layer metrics: medians over the traced warm passes."""
    traced = [p for p in passes[1:] if p["traced"]]
    untraced = [p for p in passes[1:] if not p["traced"]]
    rows = [
        pass_layers([s for s in tracer.spans if s["pass"] == p["no"]], p["wall"])
        for p in traced
    ]
    out = {k: median([r[k] for r in rows]) for k in rows[0]}
    out["trace.overhead_s"] = median(
        [sum(p["lat"].values()) for p in traced]
    ) - median([sum(p["lat"].values()) for p in untraced])
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        import etl_pipeline_excel_sql__spark as pkg
    except ImportError as exc:
        print(f"perfbench: the program is not importable here: {exc}", file=sys.stderr)
        return 2
    if ROOT not in Path(pkg.__file__).resolve().parents:
        print(f"perfbench: {pkg.__file__} is outside {ROOT}", file=sys.stderr)
        return 2

    run_dir = WORK / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    env = pin_env(run_dir)

    from pyspark import __version__ as spark_version

    from etl_pipeline_excel_sql__spark.session import get_session
    from layers import SparkProbe, Tracer

    t0 = time.perf_counter()
    spark = get_session()
    session_start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    setup_s = time.perf_counter() - T_START

    probe = SparkProbe(spark)
    tracer = Tracer(probe, enabled=False)
    ctx = Context(spark, tracer, random.Random(args.seed), str(run_dir))
    workload = WORKLOADS[args.workload]()
    t0 = time.perf_counter()
    workload.prepare(ctx)
    prepare_s = time.perf_counter() - t0

    passes: list[dict] = []
    attempted = failed = 0
    errors: list[str] = []

    def run_pass(traced: bool, check: bool) -> None:
        nonlocal attempted, failed
        tracer.enabled = traced
        no = tracer.pass_no = len(passes)
        lat: dict[str, float] = {}
        t_pass = time.perf_counter()
        for op in workload.ops:
            tracer.op_id = f"{no}:{op}"
            attempted += 1
            try:
                with tracer.span("op", jvm=True, op_name=op) as rec:
                    lat[op] = workload.run_op(ctx, op, check)
                if rec is not None:
                    rec["persisted_rdds"], rec["persisted_mb"] = probe.persisted()
            except Exception as exc:  # noqa: BLE001 — counted, run goes on
                failed += 1
                errors.append(f"pass {no} {op}: {type(exc).__name__}: {exc}"[:400])
            probe.sweep()
        passes.append({"no": no, "traced": traced, "lat": lat,
                       "wall": time.perf_counter() - t_pass})
        tracer.enabled = False

    run_pass(traced=False, check=True)
    t_warm = time.perf_counter()
    while True:
        n_warm = len(passes) - 1
        if args.trace:
            # blocks of untraced, traced, traced, untraced passes, so the
            # warm-up trend cancels out of the tracing overhead
            if n_warm % 4 == 0 and n_warm and time.perf_counter() - t_warm >= args.seconds:
                break
            run_pass(traced=n_warm % 4 in (1, 2), check=False)
        else:
            if n_warm >= MIN_WARM and time.perf_counter() - t_warm >= args.seconds:
                break
            run_pass(traced=False, check=False)

    values = {"setup_s": setup_s, "peak_rss_gb": probe.peak_rss_gb()}
    if len(passes[0]["lat"]) == len(workload.ops):
        values.update(pass_metrics(workload, passes))
    if args.trace:
        layer = layer_metrics(tracer, passes)
        layer["session.start_s"] = session_start_s
        values = layer
        units = PER_LAYER
    else:
        units = END_TO_END

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "env": env, "host": host_facts(),
        "spark": spark_version, "passes": passes, "errors": errors,
    }
    if args.trace:
        (WORK / "traces").mkdir(parents=True, exist_ok=True)
        record["spans"] = tracer.spans
        out = WORK / "traces" / f"{args.workload}-seed{args.seed}.json"
        out.write_text(json.dumps(record, indent=1, default=str))
    workload.close()
    stop_spark(spark)
    shutil.rmtree(run_dir, ignore_errors=True)

    print("perfbench " + json.dumps({k: record[k] for k in (
        "workload", "seed", "seconds", "trace", "env", "host", "spark")}))
    print(f"perfbench prepare_s={prepare_s:.2f} passes " + " ".join(
        f"{p['no']}{'T' if p['traced'] else ''}:{sum(p['lat'].values()):.2f}/{p['wall']:.2f}"
        for p in passes
    ))
    print("perfbench cold " + " ".join(f"{k}={v:.2f}" for k, v in passes[0]["lat"].items()))
    for e in errors:
        print(f"perfbench error: {e}")
    missing = [k for k in units if k not in values]
    for k in units:
        if k in values:
            print(f"  {k:40s} {values[k]:12.4f} {units[k]}")
    result = {
        "correct": not errors and not missing,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": values[k], "unit": units[k]} for k in units if k in values
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
