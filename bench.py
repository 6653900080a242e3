"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE COMPACT JSON line as the LAST line of stdout:
    {"metric": "...", "value": <total-sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": <sf>, "detail": <path>}

COMPACTNESS IS A CONTRACT: the driver captures only the final ~2000
characters of bench output and parses the last line — rounds 1-9 printed
a ~2.6 KB line (raw_runs inline) whose head fell outside the window, so
every ``BENCH_r0*.json`` recorded ``"parsed": null`` and the per-query
numbers were silently lost. The final line therefore carries min-of-runs
per query at 3 significant figures, no spaces, and asserts itself under
1950 bytes (dropping the largest-name entries into ``"omitted"`` rather
than overflowing); full detail — raw per-run samples, errors, per-run
JVM GC/heap deltas (the ivfpq_adc bimodality probe, round-9 verdict #6)
— goes to ``BENCH_DETAIL.json`` next to this script.

Each query is forced end-to-end with the ``noop`` sink (computes every
column, writes nothing) — ``count()`` would let Catalyst prune the very work
being measured.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from etl_pipeline_excel_sql__spark.operators.iterative import (  # noqa: E402
    release_persisted,
)
from etl_pipeline_excel_sql__spark.plans import QUERIES  # noqa: E402
from etl_pipeline_excel_sql__spark.session import get_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Raw samples per query (min is reported — see the aggregation-rule
#: comment in main). 3 since round 4: the suite is stable enough that the
#: extra pass buys noise rejection for ~40s of bench time.
N_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

#: Headline set: the flagship pipeline, the scale-critical shuffles/joins,
#: and one representative per operator family. Append-only: new queries go
#: at the end and existing ones never move, so per-query timings stay
#: aligned with earlier BENCH_*.json reports.
BENCH_QUERIES = [
    "download_pipeline",
    "diff_cells",
    "word_diff",
    "agg_pricing_summary",
    "join_multitable_revenue",
    "window_rank_topk",
    "sessionize",
    "asof_join",
    "range_join",
    "window_agg_events",
    "dedup_exact",
    "dedup_minhash",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "neardup_cosine",
    "ann_brute_topk",
    "ann_ivf_topk",
    "text_quality",
    "text_fingerprint",
    "multimodal_extract",
    "dedup_clusters",
    "text_tfidf_topk",
    "tpch_q21_sole_late_supplier",
    "tpch_q8_market_share",
    "decontam_overlap",
    "text_repetition",
    "corpus_curate_pipeline",
    "pagerank_nations",
    "asof_join_nearest",
    "window_range_frame",
    "band_join_recent_errors",
    "text_passage_dedup",
    "basket_lift",
    "events_twap",
    "global_row_number",
    "mix_domains",
    "dedup_kcore",
    "bpe_vocab",
    "pq_adc",
    "ivfpq_adc",
    "ivfpq_residual_adc",
    "semantic_dedup_keep",
    "dedup_spans",
    "dedup_span_trim",
    "decontam_spans",
    "bpe_token_ids",
    "pack_token_ids",
    "curate_pack_pipeline",
    "bm25_topk",
    "hybrid_rrf_topk",
    "perceptron_quality",
    "cdc_chunk_stats",
    "hll_distinct_shingles",
    "cms_heavy_hitters",
    "kn_lm_score",
    "cluster_balanced_sample",
    "exact_price_quantiles",
    "ccnet_ppl_buckets",
    "bm25_serve_topk",
    "bm25_incremental_topk",
    "phrase_search_topk",
    "skipgram_top_pairs",
    "hard_negatives_topk",
    "rag_context_pipeline",
    "bm25_serve_score_topk",
    "funnel_conversion",
    "cohort_retention",
    "linkage_best_match",
    "incremental_join_merge",
    "perceptron_calibration",
    "bm25_prf_topk",
    "dedup_jaccard_prefix",
    "ann_sq8_rerank",
    "margin_mining_topk",
    "label_propagation",
    "dsir_select",
    "lsh_recall_audit",
    "winnow_fingerprint",
    "quality_domain_rank",
    "postings_compression",
    "entity_resolution_pipeline",
    "incremental_session_merge",
    "curation_budget_select",
    "cluster_safe_splits",
    "stream_join_left",
    "pareto_quality_length",
    "shard_rebalance_audit",
    "minhash_band_tuning",
    "dup_size_spectrum",
    "effective_corpus_size",
    "bpe_fertility_by_lang",
    "pretrain_curation_pipeline",
    "pretrain_kept_manifest",
    "pretrain_manifest_incremental",
    "manifest_release_diff",
    "lsh_recall_audit_sampled",
]


#: Optional comma-separated subset override (e.g. the heavy dedup/ANN
#: family for an sf1 scaling probe) — ANY registry query is allowed,
#: not just the headline BENCH_QUERIES set (scaling probes deliberately
#: reach beyond the headline list); unknown names fail fast rather than
#: silently benching less.
_SUBSET = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
if _SUBSET:
    requested = [n.strip() for n in _SUBSET.split(",") if n.strip()]
    unknown = sorted(set(requested) - set(QUERIES))
    if unknown:
        raise SystemExit(f"unknown bench queries: {unknown}")
    BENCH_QUERIES = requested


def jvm_gc_stats(spark) -> tuple[float, int, float]:
    """(gc_time_sec, gc_count, heap_used_gb) from the driver JVM's
    management beans — cheap (a few py4j calls), recorded before/after
    every timed sample so a bimodal query (ivfpq_adc: 4.9/9.2/8.9 s on
    the round-9 driver) can be attributed to GC pressure vs plan."""
    try:
        jvm = spark.sparkContext._jvm
        mf = jvm.java.lang.management.ManagementFactory
        t = c = 0
        it = mf.getGarbageCollectorMXBeans().iterator()
        while it.hasNext():
            b = it.next()
            t += max(0, b.getCollectionTime())
            c += max(0, b.getCollectionCount())
        heap = mf.getMemoryMXBean().getHeapMemoryUsage().getUsed()
        return t / 1000.0, c, heap / 2**30
    except Exception:  # noqa: BLE001 — diagnostics must never fail a run
        return 0.0, 0, 0.0


def run_one(spark, name: str, sf_dir: str, gc_log: list | None = None) -> float:
    g0 = jvm_gc_stats(spark) if gc_log is not None else None
    t0 = time.time()
    df = QUERIES[name](spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    dt = time.time() - t0
    if gc_log is not None:
        g1 = jvm_gc_stats(spark)
        gc_log.append(
            {
                "sec": round(dt, 3),
                "gc_sec": round(g1[0] - g0[0], 3),
                "gc_n": g1[1] - g0[1],
                "heap_gb": round(g1[2], 2),
            }
        )
    # Iterative queries (BPE, k-means, components, span digests) leave
    # their FINAL localCheckpoint blocks persisted — unevictable, so a
    # 50-query suite accumulates them in the executor JVM and every
    # LATER query runs in a shrinking memory budget (the round-8 "broad
    # +10% drift": suite totals grew as rounds ADDED iterative queries,
    # while each query alone still hit its round-6 time). check_oracle
    # has swept per-query since round 6; the bench must too, or it
    # measures suite-order memory pressure instead of the queries.
    # Sweep time is excluded from the sample — it is harness bookkeeping.
    release_persisted(spark)
    return dt


def main() -> None:
    spark = get_session()
    spark.sparkContext.setLogLevel("ERROR")
    # JVM/codegen warmup on a tiny query so bench numbers measure the
    # queries, not JIT compilation of the scan pipeline.
    QUERIES["filter_eq"](spark, SF_DIR).write.format("noop").mode(
        "overwrite"
    ).save()

    # AGGREGATION RULE (read this before comparing rounds): the reported
    # per-query number and the headline total are the MIN of N_RUNS raw
    # wall-clock samples per query — the stable capability signal, not the
    # mean. Local noise on a shared box is easily 2x, so means drift with
    # host load; a round-over-round comparison must compare min to min
    # (raw per-run arrays ship in "raw_runs" so a newly bimodal query is
    # still visible). Samples are INTERLEAVED (N_RUNS full passes over the
    # suite) so a minutes-long host-noise burst — observed 10x on idle
    # load — degrades at most one sample per query instead of all of them.
    # A single failing query must not zero out the whole bench (round 2
    # lost every timing to one AnalysisException): failures are recorded
    # structurally per-query and the run continues.
    # Per-query WARMUP pass (untimed): the first execution of a query in
    # a session pays one-off costs the steady state doesn't — codegen
    # compilation of its operator chains, broadcast build, shuffle-file
    # allocation. The session's 4000-entry class cache (session.py) keeps
    # those classes across the timed passes; at Spark's default of 100 the
    # heavy queries recompiled on every sample. Round-8 measurement: first
    # samples ran 1.3-6x their settled times (multimodal_extract 2.6s -> 0.42s
    # steady), so with only N_RUNS timed samples the min still carried
    # warmup and round-over-round totals drifted ~10% on nothing.
    raw_runs: dict[str, list[float]] = {name: [] for name in BENCH_QUERIES}
    gc_runs: dict[str, list[dict]] = {name: [] for name in BENCH_QUERIES}
    errors: dict[str, str] = {}
    for name in BENCH_QUERIES:
        try:
            run_one(spark, name, SF_DIR)
        except Exception as exc:  # noqa: BLE001
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
    for _ in range(N_RUNS):
        for name in BENCH_QUERIES:
            if name in errors:
                continue
            try:
                raw_runs[name].append(
                    round(run_one(spark, name, SF_DIR, gc_runs[name]), 3)
                )
            except Exception as exc:  # noqa: BLE001
                errors[name] = f"{type(exc).__name__}: {exc}"[:500]
    timings = {n: min(r) for n, r in raw_runs.items() if r}

    def sig3(x: float) -> float:
        """3 significant figures — the compact-line float budget."""
        from math import floor, log10

        if x <= 0:
            return 0.0
        return round(x, max(0, 2 - int(floor(log10(x)))))

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    # Provenance-split detail artifacts (round-12 verdict): local bench
    # runs set SPARK_GRAFT_BENCH_DETAIL=BENCH_DETAIL_LOCAL_r{N}.json so
    # the driver's own run (which keeps the default name) can't
    # overwrite the raw samples a local compact file points to — each
    # compact bench's min-of-N invariant stays verifiable from the file
    # it names in its "detail" field.
    detail_name = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL", "BENCH_DETAIL.json"
    )
    detail_path = str(Path(__file__).resolve().parent / detail_name)
    detail = {
        "sf": SF_DIR,
        "n_runs": N_RUNS,
        "timings": timings,
        "raw_runs": raw_runs,
        "gc_runs": {n: g for n, g in gc_runs.items() if g},
        "errors": errors,
    }
    Path(detail_path).write_text(json.dumps(detail, indent=1))

    out = {
        "metric": "headline-query wall seconds at sf (local[{}])".format(
            spark.sparkContext.defaultParallelism
        ),
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "queries": {n: sig3(t) for n, t in timings.items()},
        "detail": detail_name,
    }
    if errors:
        out["errors_n"] = len(errors)
        out["errors_first"] = sorted(errors)[0]
    line = json.dumps(out, separators=(",", ":"))
    # The driver parses the LAST line from a ~2000-char stdout tail:
    # degrade by omitting longest-named per-query entries rather than
    # letting the line's head (metric/value) fall outside the window.
    omitted = 0
    while len(line) > 1950 and out["queries"]:
        drop = max(out["queries"], key=len)
        del out["queries"][drop]
        omitted += 1
        out["omitted"] = omitted
        line = json.dumps(out, separators=(",", ":"))
    assert len(line) <= 1950, len(line)
    print(line)
    if errors:
        sys.exit(1)


if __name__ == "__main__":
    main()
