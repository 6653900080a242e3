"""Registry-wide float-boundary doctrine census (VERDICT r8 task #3).

Round 8's only red driver row (``bm25_topk``) was a hash that depended
on FLOOR of a computed double chain: IEEE +,-,*,/ are correctly rounded
and deterministic, but an engine build is free to FUSE or reassociate
(FMA contraction, constant folding) — a last-ulp divergence lands a
value on the other side of a floor/cast boundary and flips an emitted
integer. The fix was to make that score float-free; THIS test makes the
doctrine structural: it mechanically classifies every registered batch
query's hash inputs by walking the optimized plan and asserts the two
boundary-sensitive classes are EXACTLY the reviewed whitelists below.
A new query that floors a computed double into its hash, or ranks by a
computed double, fails here and forces a review — the bm25 class can
never silently return.

Classes (a query can be in several):

* **exact** — every emitted column integral/string/date/bool and no
  double ordering or quantization anywhere: engine-build-proof.
* **double-valued** — emits raw double columns. Safe under the repo's
  association doctrine (both engines evaluate the same correctly-
  rounded op DAG); ~87 queries, class-reviewed, not per-name listed.
* **DOUBLE_SORTED** — a SortOrder over a double/float key anywhere in
  the plan (window ranks, top-k limits, as-of alignment). Hash-safe
  iff adjacent keys are separated by more than an ulp OR the key is a
  raw stored column (bit-identical in both engines); every entry
  documents which, plus its deterministic tie-break.
* **QUANTIZED_COMPUTED** — Floor/Ceil/Round/BRound of a COMPUTED
  double, or a Cast of a computed double to integral/decimal/string
  (casts of bare stored columns are exempt: identical bits in, same
  correctly-rounded cast out). The bm25 failure class — every entry
  documents why its boundary is safe (single correctly-rounded op,
  coarse quantum, or micro-unit doctrine with reviewed headroom).
"""

from __future__ import annotations

FP = ("double", "float")
INTEGRAL = ("long", "integer", "short", "byte")

#: Queries ranking/sorting on a double key. "raw" = the key is a stored
#: column (bit-identical in both engines, boundary-free). "computed" =
#: the key is an arithmetic result; safe while adjacent scores differ
#: by ≫1 ulp, with the documented integer tie-break deciding true ties.
DOUBLE_SORTED: dict[str, str] = {
    "agg_median_price": "raw l_extendedprice percentile ordering",
    "agg_trimmed_mean": "raw price rank for the trim window",
    "ann_brute_topk": "computed cosine; ties (score DESC, neighbor_id ASC)",
    "ann_filtered_topk": "computed cosine; ties (score DESC, neighbor_id ASC)",
    "ann_ivf_topk": "computed cosine; ties (score DESC, neighbor_id ASC)",
    "ann_recall": "composes brute+ivf rankings; same integer tie-breaks",
    "ann_sq8_rerank": "computed cosine rerank (ANN review class); the "
    "candidate pass ranks pure-integer code dots; ties "
    "(score DESC, neighbor_id ASC)",
    "asof_join": "raw event ts ordering for the as-of alignment",
    "asof_join_forward": "raw event ts ordering",
    "asof_join_nearest": "computed |ts delta| on integer-derived ts; doc'd",
    "dedup_lastwins": "raw snapshot ordering key",
    "events_anomaly_mad": "computed MAD percentile; ties by event id",
    "exact_price_quantiles": "raw price order-statistic locate",
    "hard_negatives_topk": "computed cosine (ANN review class); ties "
    "(score DESC, neighbor_id ASC)",
    "hybrid_rrf_topk": "dense leg ranks computed cosine; ties by doc_id; "
    "fusion itself is pure-integer RRF",
    "ivfpq_adc": "coarse assignment ranks computed distance; ADC emits "
    "int64 micro-units; ties by vec_id",
    "ivfpq_residual_adc": "same coarse ranking; ties by vec_id",
    "limit_offset": "raw o_totalprice sort + limit",
    "percentile_disc": "raw price ordering",
    "rag_context_pipeline": "composes hybrid_rrf_topk's dense leg; same "
    "cosine ranking + doc_id tie-break; fusion/snippet integer/string",
    "returned_items_report": "computed revenue sum ordering; ties by key",
    "sql_topk_revenue": "computed revenue sum ordering; ties by key",
    "text_tfidf_topk": "computed tfidf; ties (score DESC, term ASC)",
    "topk_global": "raw o_totalprice sort + limit",
    "weighted_median_price": "computed cumulative weight locate",
    "window_rank_family": "raw price rank family",
    "window_rank_metrics": "raw price rank metrics",
    "window_rank_topk": "raw price rank top-k",
}

#: Queries flooring/rounding/casting a COMPUTED double into the hash.
#: Groups: (a) money doctrine — ONE correctly-rounded op (e.g.
#: 1-l_discount) then a decimal cast, identical in both engines;
#: (b) micro-unit doctrine — FLOOR(chain·1e6) over +,-,* chains with
#: reviewed association (the emb_label_centroids pattern); (c) coarse
#: buckets — quantum ≫ accumulated ulp error.
QUANTIZED_COMPUTED: dict[str, str] = {
    "agg_price_histogram": "(c) price DIV fixed bucket width",
    "agg_pricing_summary": "(a) decimal cast of one-op charge exprs",
    "agg_skew_salted": "(c) salt bucket from one multiply",
    "ccnet_ppl_buckets": "(b) KN score micro-units feeding tercile split",
    "download_pipeline": "(a) pct render via BRound half-even, doc'd T2",
    "emb_centroid_distances": "(b) micro-unit distance, reviewed",
    "emb_label_centroids": "(b) THE micro-unit pattern, reviewed",
    "events_decay_score": "(b) decay micro-units, integer exponent",
    "events_interp_linear": "(c) interpolation grid from integer ts",
    "exact_price_quantiles": "(c) rank index from one multiply",
    "histogram_totalprice": "(c) fixed-width bucket floor",
    "ann_sq8_rerank": "(b) int8 codes floor(x*127/maxabs + 0.5) — the "
    "vec_quantize_int8 contract; one multiply+divide per element",
    "ivfpq_adc": "(b) int64 ADC micro-units",
    "ivfpq_residual_adc": "(b) int64 residual ADC micro-units",
    "margin_mining_topk": "(b) cosine floor-quantized to ppm BEFORE the "
    "forward/backward kNN sums; margin itself is pure-integer",
    "join_multitable_revenue": "(a) decimal cast of 1-l_discount",
    "join_skew_salted": "(c) salt bucket",
    "mix_domains": "(c) integer rate_bp quota floor",
    "mix_rates": "(c) integer rate_bp quota floor",
    "nation_volume": "(a) decimal cast of 1-l_discount",
    "pct_fmt": "(a) half-even BRound render, the reference's T2 quirk",
    "pq_adc": "(b) int64 ADC micro-units",
    "returned_items_report": "(a) decimal cast of 1-l_discount",
    "sql_topk_revenue": "(a) decimal cast of 1-l_discount",
    "tpch_q10_returned_items": "(a) decimal cast of 1-l_discount",
    "tpch_q14_promo_share": "(a) decimal cast of 1-l_discount",
    "tpch_q15_top_supplier": "(a) decimal cast of 1-l_discount",
    "tpch_q19_or_of_ands": "(a) decimal cast of 1-l_discount",
    "tpch_q3_shipping_priority": "(a) decimal cast of 1-l_discount",
    "tpch_q5_local_supplier": "(a) decimal cast of 1-l_discount",
    "tpch_q7_volume_shipping": "(a) decimal cast of 1-l_discount",
    "tpch_q8_market_share": "(a) decimal cast of 1-l_discount",
    "tpch_q9_profit": "(a) decimal cast of 1-l_discount",
    "vec_quantize_int8": "(c) int8 grid floor, quantum ≫ ulp",
}


def _is_bare(e) -> bool:
    """A stored column (or a chain of casts of one) — identical bits in
    both engines, so quantizing it is boundary-free. An array ELEMENT
    of a bare column is bare too (round 14: the one-pass centroid means
    read ``element_at(embedding, i)`` instead of posexploding first —
    same stored bits either way; the index expression is integral and
    exact, it selects which bits, it cannot perturb them)."""
    cls = e.getClass().getSimpleName()
    if cls in ("AttributeReference", "Literal"):
        return True
    if cls == "Cast":
        return _is_bare(e.child())
    if cls in ("ElementAt", "GetArrayItem"):
        return _is_bare(e.left())
    return False


def _walk_exprs(e, out):
    # Only the py4j leaf-accessor probes (dataType()/child()/plan() on
    # expression classes that may lack them) are allowed to fail — and
    # each failure is RECORDED, not swallowed: a blanket except here made
    # the whitelist test fail OPEN (a broken walk silently classified a
    # query as clean — ADVICE round 9).
    from py4j.protocol import Py4JError

    cls = e.getClass().getSimpleName()
    try:
        if cls == "SortOrder" and e.child().dataType().typeName() in FP:
            out["sorted"] = True
        if cls in ("Floor", "Ceil", "Round", "BRound"):
            c0 = e.children().apply(0)
            if c0.dataType().typeName() in FP and not _is_bare(c0):
                out["quant"] = True
        elif cls == "Cast" and e.child().dataType().typeName() in FP:
            tn = e.dataType().typeName()
            if (
                tn in INTEGRAL or tn.startswith("decimal") or tn == "string"
            ) and not _is_bare(e.child()):
                out["quant"] = True
        if cls == "ScalarSubquery":
            _walk_plan(e.plan(), out)
    except Py4JError as exc:
        out.setdefault("walk_errors", []).append(f"{cls}: {exc}"[:200])
    ch = e.children()
    for i in range(ch.length()):
        _walk_exprs(ch.apply(i), out)


def _walk_plan(p, out):
    exprs = p.expressions()
    for i in range(exprs.length()):
        _walk_exprs(exprs.apply(i), out)
    ch = p.children()
    for i in range(ch.length()):
        _walk_plan(ch.apply(i), out)


def test_double_boundary_classes_match_reviewed_whitelists(registry_plans):
    got_sorted, got_quant = set(), set()
    walk_errors: dict[str, list[str]] = {}
    for name, built in sorted(registry_plans.items()):
        if name.startswith("stream_"):
            continue
        out: dict = {}
        _walk_plan(built.optimized, out)
        if out.get("sorted"):
            got_sorted.add(name)
        if out.get("quant"):
            got_quant.add(name)
        if out.get("walk_errors"):
            walk_errors[name] = out["walk_errors"][:3]
    # the census must fail LOUDLY if the walk itself broke anywhere —
    # otherwise an accessor error silently drops a query from the
    # whitelists and the doctrine test passes on nothing
    assert not walk_errors, f"plan-walk errors (fail-open risk): {walk_errors}"

    new_sorted = got_sorted - set(DOUBLE_SORTED)
    stale_sorted = set(DOUBLE_SORTED) - got_sorted
    new_quant = got_quant - set(QUANTIZED_COMPUTED)
    stale_quant = set(QUANTIZED_COMPUTED) - got_quant
    assert not new_sorted, (
        "UNREVIEWED double-ordered hashes — document the key provenance "
        f"and tie-break or make them integer: {sorted(new_sorted)}"
    )
    assert not new_quant, (
        "UNREVIEWED floor/round/cast of computed doubles in a hash — the "
        f"bm25_topk failure class; make them float-free: {sorted(new_quant)}"
    )
    assert not stale_sorted, f"stale DOUBLE_SORTED entries: {sorted(stale_sorted)}"
    assert not stale_quant, (
        f"stale QUANTIZED_COMPUTED entries: {sorted(stale_quant)}"
    )
    # regression pin for the r9 fix: the BM25 hash is float-free now
    for q in ("bm25_topk", "bm25_serve_topk"):
        assert q not in got_sorted and q not in got_quant, q
