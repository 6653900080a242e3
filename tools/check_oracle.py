"""Local replica of the driver's correctness gate.

Runs each named Spark query and its DuckDB oracle on the same parquet
tables, then compares row count, column-name set, and the order-insensitive
multiset of (column-sorted) row values. Strict equality: floats must be
bit-identical, decimals equal as ``decimal.Decimal``.

Usage:
    python tools/check_oracle.py [--sf /root/testdata/sf0.001] [name ...]
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from collections import Counter
from decimal import Decimal
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()


def canon(v):
    if isinstance(v, Decimal):
        return ("dec", str(v.normalize()))
    if isinstance(v, float):
        return ("f", v)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, bytes):
        return ("bytes", v)
    if isinstance(v, (list, tuple)):
        return ("l", tuple(canon(x) for x in v))
    if isinstance(v, dict):
        return ("d", tuple(sorted((k, canon(x)) for k, x in v.items())))
    if v is None:
        return ("n",)
    return ("s", str(v))


def rows_to_multiset(cols: list[str], rows) -> Counter:
    """Multiset of per-row 128-bit digests of the canonical row tuples.

    Digesting (rather than keeping the canonical tuples as Counter keys)
    matters for array-heavy results: a packed-sequence table at sf1 is
    millions of ints, and the nested ("i", v) tuples cost ~20× the raw
    data — the old form MemoryError'd exactly there. ``repr`` of the
    canonical structure is deterministic (floats round-trip shortest-repr,
    Decimals pre-normalized, type tags prevent cross-type collisions), so
    digest equality == canonical equality.
    """
    import hashlib

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(
        hashlib.md5(
            repr(tuple(canon(r[i]) for i in order)).encode()
        ).digest()
        for r in rows
    )


def driver_canon(cols: list[str], rows) -> "object":
    """Replicate the DRIVER's canonicalization shape: a pandas frame,
    columns sorted by name, multi-column ``sort_values`` over every
    column. Multi-key sort lexsorts via ``factorize``, which HASHES
    object cells — exactly where a raw ``array<int>`` result dies in the
    driver window (``TypeError: unhashable type: 'list'``, round 7's
    only red row) while the tuple-based local canon sails through. Run
    under ``--driver-canon`` so that failure mode surfaces here, for all
    queries, every round — not one 50-query driver rotation at a time.
    Returns the canonical frame; raises on any shape the driver's canon
    would reject."""
    import pandas as pd

    df = pd.DataFrame(rows, columns=cols)
    df = df[sorted(df.columns)]
    if len(df.columns) and len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def pandas_cell_canon(v) -> str:
    """Per-cell canonical repr through the PANDAS pathway — the dtype-
    SENSITIVE form the driver's canonicalizer observably applies.

    Round-8/9 driver forensics: ``bm25_topk`` was hash-red two rounds
    running with rows/schema green, and it was the ONLY gate-window query
    whose oracle's final projection emitted HUGEINT — DuckDB ``SUM(BIGINT)``
    widens to HUGEINT, and ``.df()`` converts HUGEINT to float64, so the
    driver hashed ``123.0`` (oracle) against ``123`` (Spark bigint → int64).
    The 49 green rows calibrate the rest of this function: whatever the
    driver does, it EQUATES everything those queries produce and
    DISTINGUISHES int64 from float64. So: keep the numpy scalar repr
    (which preserves int-vs-float), normalize only the cross-engine
    representation noise the green rows prove the driver tolerates
    (datetime64 resolution, bytes, None/NaN)."""
    import datetime

    import numpy as np
    import pandas as pd

    if v is None or (isinstance(v, float) and v != v) or v is pd.NaT:
        return "<null>"
    if isinstance(v, pd.Timestamp):
        return f"ts:{v.isoformat()}"
    if isinstance(v, datetime.datetime):
        return f"ts:{pd.Timestamp(v).isoformat()}"
    if isinstance(v, datetime.date):
        return f"ts:{pd.Timestamp(v).isoformat()}"
    if isinstance(v, (bytes, bytearray)):
        return f"bytes:{bytes(v).hex()}"
    if isinstance(v, (np.floating, float)):
        return f"f:{float(v)!r}"
    if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
        return f"i:{int(v)}"
    if isinstance(v, (np.bool_, bool)):
        return f"b:{bool(v)}"
    return f"s:{v}"


def pandas_frames_digest(pdf) -> "Counter":
    """Order-insensitive multiset of per-row digests of a pandas frame,
    columns sorted by name, every cell through ``pandas_cell_canon``."""
    import hashlib

    pdf = pdf[sorted(pdf.columns)]
    return Counter(
        hashlib.md5(
            "|".join(pandas_cell_canon(v) for v in row).encode()
        ).digest()
        for row in pdf.itertuples(index=False, name=None)
    )


def run_chunked(args) -> int:
    """The sf1 memory recipe as one command: run the name list in
    fresh-PROCESS chunks (process RSS fragmentation after dozens of
    million-row verifications next to the Spark JVM and the DuckDB
    buffer pool OOMs a single sweep at sf1 — see the verify skill),
    re-run any residual failures in their own fresh process (ambient
    failures pass there; real bugs stay red), and merge into --json."""
    import json as _json
    import subprocess
    import sys as _sys
    import tempfile

    import __spark_entry__ as entrymod

    names = args.names or sorted(entrymod.queries())
    env = {
        **os.environ,
        "ORACLE_DUCKDB_MEM": os.environ.get("ORACLE_DUCKDB_MEM", "24GB"),
    }
    here = os.path.dirname(os.path.abspath(__file__))

    def run_names(batch: list[str], out: str) -> None:
        cmd = [_sys.executable, os.path.join(here, "check_oracle.py"),
               "--sf", args.sf, "--json", out]
        if args.driver_canon:
            cmd.append("--driver-canon")
        if args.pandas_canon:
            cmd.append("--pandas-canon")
        # env carries the memory caps this mode exists to apply — without
        # it a chunk inherits only what the CALLER happened to export.
        r = subprocess.run(cmd + batch, capture_output=True, text=True, env=env)
        last = r.stdout.strip().splitlines()[-1:] or [""]
        print(f"  chunk rc={r.returncode} {last[0]}", flush=True)

    merged: dict = {}
    with tempfile.TemporaryDirectory() as td:
        for i in range(0, len(names), args.chunk_size):
            out = os.path.join(td, f"part_{i}.json")
            run_names(names[i : i + args.chunk_size], out)
            if os.path.exists(out):
                merged.update(_json.load(open(out)))
        # a chunk that CRASHED (the segfault class this mode contains)
        # never wrote its names — they must be retried, and if they stay
        # absent they are failures, not silently-skipped passes.
        bad = sorted(
            k
            for k, v in merged.items()
            if v.get("err")
            or v.get("hash_match") is False
            or v.get("pandas_hash_match") is False
        ) + sorted(set(names) - set(merged))
        if bad:
            print(f"retrying {len(bad)} residual failures fresh: {bad}")
            out = os.path.join(td, "retry.json")
            run_names(bad, out)
            if os.path.exists(out):
                merged.update(_json.load(open(out)))
    for name in names:
        if name not in merged:
            merged[name] = {"err": "chunk subprocess died before reporting"}
    still_bad = sorted(
        k
        for k, v in merged.items()
        if v.get("err")
        or v.get("hash_match") is False
        or v.get("pandas_hash_match") is False
    )
    if args.json:
        _json.dump(merged, open(args.json, "w"), indent=2)
        print(f"wrote {args.json}")
    print(f"\n{len(merged) - len(still_bad)}/{len(merged)} passed")
    if still_bad:
        print("still failing:", still_bad)
    return 1 if still_bad else 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument(
        "--chunk-size",
        type=int,
        default=None,
        help="run the sweep in fresh-process chunks of this many names "
        "and merge the reports — the sf1 memory recipe (suggested: 45)",
    )
    ap.add_argument(
        "--json",
        default=None,
        help="also write results as a driver-style JSON map to this path",
    )
    ap.add_argument(
        "--driver-canon",
        action="store_true",
        help="additionally push every result frame (Spark and oracle) "
        "through the driver's pandas sort/factorize canonicalization — "
        "catches harness-shape bugs (unhashable/unsortable cells) the "
        "tuple-based local canon tolerates",
    )
    ap.add_argument(
        "--pandas-canon",
        action="store_true",
        help="additionally compare Spark toPandas() against DuckDB .df() "
        "with dtype-SENSITIVE per-cell canonicalization (int64 != "
        "float64) — the pathway the driver's hash observably takes. "
        "Catches oracle type-widening reds (HUGEINT -> float64) that the "
        "fetchall-based local canon equates",
    )
    args = ap.parse_args()
    if args.chunk_size:
        return run_chunked(args)

    import __spark_entry__ as entrymod
    from etl_pipeline_excel_sql__spark.operators.iterative import (
        release_persisted,
    )
    from etl_pipeline_excel_sql__spark.session import get_session

    queries, oracles = entrymod.queries(), entrymod.oracle_sql()
    names = args.names or sorted(queries)

    spark = get_session()

    def fresh_con():
        """One connection PER ORACLE QUERY. A long-lived connection
        accumulates buffer-manager reservations across queries until a
        2 KB allocation fails mid-pass (observed: a full sf1 run wedged
        at DuckDB's default 80%-of-RAM limit — every query after the first failure OOM'd too).
        Fresh connections make each query's memory independent; view
        registration over parquet is metadata-only and costs ~ms."""
        c = duckdb.connect()
        # Cap at 40GB but never ABOVE DuckDB's default 80%-of-RAM — a
        # hard-coded 40GB on a smaller host would raise the cap and
        # invite an OS OOM-kill instead of clean spilling. Env override
        # for unusual hosts.
        limit = os.environ.get("ORACLE_DUCKDB_MEM")
        if not limit:
            try:
                total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
                limit = f"{min(40.0, total * 0.8 / 2**30):.1f}GB"
            except (ValueError, OSError):
                limit = "40GB"
        c.execute(f"SET memory_limit='{limit}'")
        c.execute("SET temp_directory='/tmp/duckdb_spill'")
        for t in TABLES:
            # `{t}.parquet` is a single file in the driver corpus but a
            # directory of part files from Spark writers (e.g. the
            # generated .localdata/sf1) — glob the directory form.
            path = f"{args.sf}/{t}.parquet"
            if os.path.isdir(path):
                path = f"{path}/*.parquet"
            c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        return c

    failures = []
    report: dict[str, dict] = {}
    for name in names:
        t0 = time.time()
        try:
            sdf = queries[name](spark, args.sf)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            report[name] = {"err": f"spark error: {exc}"[:300]}
            print(f"FAIL {name}: spark error: {exc}")
            continue
        if args.driver_canon:
            try:
                driver_canon(s_cols, s_rows)
            except Exception as exc:  # noqa: BLE001
                failures.append(name)
                report[name] = {
                    "err": f"driver-canon error: {type(exc).__name__}: {exc}"[:300]
                }
                print(f"FAIL {name}: driver-canon error: {exc}")
                continue
        if name not in oracles:
            report[name] = {
                "rows_only": True,
                "spark_rows": len(s_rows),
                "err": None,
            }
            print(f"SKIP {name}: rows-only ({len(s_rows)} rows)")
            continue
        try:
            con = fresh_con()
            try:
                res = con.execute(oracles[name])
                d_cols = [d[0] for d in res.description]
                d_rows = res.fetchall()
            finally:
                # destroy the result BEFORE its connection: a
                # DuckDBPyResult outliving a closed connection can
                # segfault in native code at GC time
                res = None
                con.close()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            report[name] = {"err": f"duckdb error: {exc}"[:300]}
            print(f"FAIL {name}: duckdb error: {exc}")
            continue
        if args.driver_canon:
            try:
                driver_canon(d_cols, d_rows)
            except Exception as exc:  # noqa: BLE001
                failures.append(name)
                report[name] = {
                    "err": f"driver-canon error (oracle): "
                    f"{type(exc).__name__}: {exc}"[:300]
                }
                print(f"FAIL {name}: driver-canon error (oracle): {exc}")
                continue

        ok = True
        msgs = []
        if sorted(s_cols) != sorted(d_cols):
            ok = False
            msgs.append(f"schema spark={sorted(s_cols)} duck={sorted(d_cols)}")
        if len(s_rows) != len(d_rows):
            ok = False
            msgs.append(f"rowcount spark={len(s_rows)} duck={len(d_rows)}")
        if ok:
            ms, md = rows_to_multiset(s_cols, s_rows), rows_to_multiset(d_cols, d_rows)
            if ms != md:
                ok = False
                only_s = list((ms - md).items())[:3]
                only_d = list((md - ms).items())[:3]
                msgs.append(f"values differ; spark-only={only_s} duck-only={only_d}")
        pandas_ok = None
        if args.pandas_canon and ok:
            # re-execute both sides through the PANDAS pathway the driver
            # takes: Spark toPandas() vs DuckDB .df() — dtype-sensitive
            # (int64 != float64), the exact axis fetchall() erases.
            try:
                s_pdf = queries[name](spark, args.sf).toPandas()
                con = fresh_con()
                try:
                    d_pdf = con.execute(oracles[name]).df()
                finally:
                    con.close()
                pandas_ok = pandas_frames_digest(s_pdf) == pandas_frames_digest(
                    d_pdf
                )
                if not pandas_ok:
                    ok = False
                    sk = {c: str(t) for c, t in s_pdf.dtypes.items()}
                    dk = {c: str(t) for c, t in d_pdf.dtypes.items()}
                    diff = {
                        c: (sk[c], dk.get(c))
                        for c in sk
                        if sk[c] != dk.get(c)
                    }
                    msgs.append(f"pandas-pathway hash differs; dtype diffs={diff}")
                del s_pdf, d_pdf
            except Exception as exc:  # noqa: BLE001
                ok = False
                pandas_ok = False
                msgs.append(
                    f"pandas-canon error: {type(exc).__name__}: {exc}"[:300]
                )
        dt = time.time() - t0
        report[name] = {
            "rows_match": len(s_rows) == len(d_rows),
            "schema_match": sorted(s_cols) == sorted(d_cols),
            "hash_match": ok,
            "spark_rows": len(s_rows),
            "oracle_rows": len(d_rows),
            "err": None,
        }
        if args.driver_canon:
            report[name]["driver_canon_ok"] = True
        if pandas_ok is not None:
            report[name]["pandas_hash_match"] = pandas_ok
        if ok:
            print(f"OK   {name} ({len(s_rows)} rows, {dt:.1f}s)")
        else:
            failures.append(name)
            print(f"FAIL {name}: " + " | ".join(msgs))
        # Multi-million-row results (as-of joins, date_funcs at sf1)
        # otherwise accumulate as high-water-mark heap across the loop.
        del s_rows, d_rows
        # Iterative queries (BPE, k-means, components) leave their FINAL
        # localCheckpoint blocks persisted — unevictable, so 206 queries
        # accumulate them in the driver JVM. The harness owns the
        # session and queries are independent: sweep them every query.
        release_persisted(spark)
    print(f"\n{len(names) - len(failures)}/{len(names)} passed")
    if args.json:
        import json

        Path(args.json).write_text(json.dumps(report, indent=2))
        print(f"wrote {args.json}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
