"""Two-SF scaling probe: the scale-decade evidence behind SCALING.md.

Runs a query set at a small and a big scale factor (default sf0.1 vs the
generated 10x corpus in .localdata/sf1 — see tools/gen_scaled_testdata.py)
with INTERLEAVED passes (host-noise bursts degrade one sample, not a whole
SF), reports min-of-N per query per SF, the growth ratio, and the SRP
bucket-occupancy/candidate-pair diagnostics that make the near-dup
family's growth attributable (bucket occupancy vs verification cost)
before anyone tunes SRP_NEARDUP_BITS/TABLES.

Gate: no query may grow more than 2x the data factor (default factor 10
=> ratio <= 20, i.e. at worst linear with a 2x constant drift). Exit 1
and a "violations" list otherwise.

Usage:
    python tools/bench_scaling.py --json BENCH_LOCAL_r07_sf1.json
    python tools/bench_scaling.py --queries dedup_exact,neardup_cosine
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import BENCH_QUERIES, run_one  # noqa: E402
from etl_pipeline_excel_sql__spark.plans import QUERIES  # noqa: E402
from etl_pipeline_excel_sql__spark.session import get_session  # noqa: E402


def srp_diagnostics(spark, sf_dir: str) -> dict:
    from etl_pipeline_excel_sql__spark.operators.similarity import (
        srp_candidate_stats,
    )
    from etl_pipeline_excel_sql__spark.functions.vectors import (
        adaptive_srp_bits,
    )
    from etl_pipeline_excel_sql__spark.plans.reference_queries import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    bits = adaptive_srp_bits(emb.count())
    stats = srp_candidate_stats(emb, block_col="label", srp_bits=bits)
    stats["srp_bits"] = bits
    return stats


def span_diagnostics(spark, sf_dir: str) -> dict:
    """K-gram volume and duplication profile at SPAN_K — decomposes the
    span family's growth into k-gram rows (scales with tokens/doc, the
    axis the --mode longdoc corpus exercises) vs duplicated fraction
    (should hold ~constant in a SCALED workload, not a new one)."""
    from etl_pipeline_excel_sql__spark.operators.spans import kgram_rows
    from etl_pipeline_excel_sql__spark.plans.reference_queries import load_table
    from etl_pipeline_excel_sql__spark.plans.spans_queries import SPAN_K
    from pyspark.sql import functions as F

    grams = kgram_rows(load_table(spark, "documents", sf_dir), SPAN_K)
    occ = grams.groupBy("h").agg(F.count(F.lit(1)).alias("cnt"))
    row = occ.agg(
        F.sum("cnt").alias("kgram_rows"),
        F.sum(F.when(F.col("cnt") >= 2, F.col("cnt")).otherwise(0)).alias(
            "dup_occurrences"
        ),
    ).collect()[0]
    total = int(row["kgram_rows"] or 0)
    dup = int(row["dup_occurrences"] or 0)
    return {
        "span_k": SPAN_K,
        "kgram_rows": total,
        "dup_occurrences": dup,
        "dup_fraction_ppm": (dup * 1_000_000) // total if total else 0,
    }


def main() -> None:
    repo = Path(__file__).resolve().parent.parent
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-small", default="/root/testdata/sf0.1")
    ap.add_argument("--sf-big", default=str(repo / ".localdata/sf1"))
    ap.add_argument("--factor", type=float, default=10.0)
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--queries", default=None, help="comma-separated override")
    ap.add_argument("--json", default=None, help="also write the report here")
    ap.add_argument(
        "--no-srp-diagnostics",
        action="store_true",
        help="skip the SRP bucket diagnostics (e.g. longdoc probes, "
        "where embeddings are identical across SFs)",
    )
    ap.add_argument(
        "--span-diagnostics",
        action="store_true",
        help="record k-gram volume + duplication profile per SF "
        "(the span-family growth attribution)",
    )
    args = ap.parse_args()

    names = (
        [n.strip() for n in args.queries.split(",") if n.strip()]
        if args.queries
        else list(BENCH_QUERIES)
    )
    unknown = sorted(set(names) - set(QUERIES))
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    spark = get_session()
    spark.sparkContext.setLogLevel("ERROR")
    QUERIES["filter_eq"](spark, args.sf_small).write.format("noop").mode(
        "overwrite"
    ).save()

    sfs = {"small": args.sf_small, "big": args.sf_big}
    raw: dict[str, dict[str, list[float]]] = {
        k: {n: [] for n in names} for k in sfs
    }
    errors: dict[str, str] = {}
    for _ in range(args.runs):
        for key, sf_dir in sfs.items():
            for n in names:
                if n in errors:
                    continue
                try:
                    raw[key][n].append(run_one(spark, n, sf_dir))
                except Exception as exc:  # noqa: BLE001
                    errors[n] = f"{type(exc).__name__}: {exc}"[:500]

    small = {n: round(min(r), 3) for n, r in raw["small"].items() if r}
    big = {n: round(min(r), 3) for n, r in raw["big"].items() if r}
    # Timings are rounded to ms; clamp the denominator so a sub-ms
    # small-SF sample can't ZeroDivisionError away a completed probe.
    ratios = {
        n: round(big[n] / max(small[n], 0.001), 2)
        for n in names
        if n in small and n in big
    }
    gate = 2.0 * args.factor
    violations = sorted(n for n, r in ratios.items() if r > gate)

    diagnostics = {}
    if not args.no_srp_diagnostics:
        diagnostics["srp_neardup"] = {
            k: srp_diagnostics(spark, d) for k, d in sfs.items()
        }
    if args.span_diagnostics:
        diagnostics["span_dedup"] = {
            k: span_diagnostics(spark, d) for k, d in sfs.items()
        }

    out = {
        "metric": (
            f"headline-family wall seconds, {args.sf_small} vs {args.sf_big} "
            f"({args.factor:g}x data), local"
            f"[{spark.sparkContext.defaultParallelism}], min of "
            f"{args.runs} interleaved runs"
        ),
        "unit": "sec",
        "gate_ratio": gate,
        "small": small,
        "big": big,
        "ratios": ratios,
        "violations": violations,
        "diagnostics": diagnostics,
        "raw_runs": raw,
    }
    if errors:
        out["errors"] = errors
    line = json.dumps(out)
    print(line)
    if args.json:
        Path(args.json).write_text(line + "\n")
    if errors or violations:
        sys.exit(1)


if __name__ == "__main__":
    main()
