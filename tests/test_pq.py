"""Product-quantization properties: code shape, determinism, ADC
quality above chance, and validation."""

from __future__ import annotations

import numpy as np
import pytest

from etl_pipeline_excel_sql__spark.functions.vectors import EMB_DIMS
from etl_pipeline_excel_sql__spark.operators.pq import (
    PQ_M,
    PQ_NCODES,
    pq_adc_topk,
    pq_encode,
    pq_train_codebooks,
)
from etl_pipeline_excel_sql__spark.sources.registry import load_table


@pytest.fixture(scope="module")
def trained(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir)
    cb = pq_train_codebooks(emb)
    codes = pq_encode(emb, cb)
    return emb, cb, codes


def test_codebooks_and_codes_shape(trained):
    emb, cb, codes = trained
    cb_rows = cb.collect()
    assert {(r.sub) for r in cb_rows} == set(range(PQ_M))
    assert all(0 <= r.code < PQ_NCODES for r in cb_rows)
    assert all(len(r.centroid) == EMB_DIMS // PQ_M for r in cb_rows)
    code_rows = codes.collect()
    assert len(code_rows) == emb.count()
    assert all(len(r.codes) == PQ_M for r in code_rows)
    assert all(0 <= c < PQ_NCODES for r in code_rows for c in r.codes)


def test_encoding_is_deterministic(trained):
    _, _, codes = trained
    a = sorted((r.vec_id, tuple(r.codes)) for r in codes.collect())
    b = sorted((r.vec_id, tuple(r.codes)) for r in codes.collect())
    assert a == b


def test_adc_beats_chance_and_excludes_self(trained, spark):
    """On RANDOM synthetic vectors PQ recall is inherently modest
    (distances concentrate in high dim), so the quality gate is
    recall@5 far above the random-pick baseline (~0.05 hits/query),
    not a production recall bar; the pq_adc oracle row pins exact
    values, this pins usefulness."""
    emb, cb, codes = trained
    queries = emb.filter("vec_id < 5")
    got = pq_adc_topk(codes, cb, queries, k=5).collect()
    by_q: dict[int, list[int]] = {}
    for r in got:
        assert r.neighbor_id != r.query_id
        by_q.setdefault(r.query_id, []).append(r.neighbor_id)
    assert set(by_q) == set(range(5)) and all(
        len(v) == 5 for v in by_q.values()
    )

    V = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in emb.collect()
    }
    hits = 0
    for q in range(5):
        d = sorted(
            (float(np.sum((V[q] - v) ** 2)), i)
            for i, v in V.items()
            if i != q
        )
        exact = {i for _, i in d[:5]}
        hits += len(exact & set(by_q[q]))
    assert hits >= 4, f"ADC recall collapsed to chance: {hits}/25"


def test_ivfpq_distances_agree_with_flat_adc(trained, spark):
    """IVF pruning must not change the ADC arithmetic: every
    (query, neighbor) the composed path returns carries exactly the
    distance the flat PQ-ADC path computes for that pair (same
    codebooks — both train deterministically from the same corpus)."""
    from etl_pipeline_excel_sql__spark.operators.pq import ivfpq_topk

    emb, cb, codes = trained
    queries = emb.filter("vec_id < 5")
    flat = {
        (r.query_id, r.neighbor_id): r.adc_dist_micros
        for r in pq_adc_topk(codes, cb, queries, k=10_000).collect()
    }
    composed = ivfpq_topk(emb, queries).collect()
    assert len(composed) == 25
    for r in composed:
        assert flat[(r.query_id, r.neighbor_id)] == r.adc_dist_micros
    # Pruning is real: some probed-cell top-5 differ from the flat top-5
    # (nprobe=2 of 8 cells), so the composed sets are subsets of the
    # flat candidate space but need not equal the flat top-5.


def test_ivfpq_residual_is_above_chance_and_distinct(trained, spark, sf_dir):
    """Canonical IVFADC (residual codes, cell-dependent lookup tables)
    returns well-formed, above-chance results. Honesty note: on THIS
    synthetic corpus residual recall ~= raw-vector recall (measured 7
    vs 8 of 25 at sf0.01) because random vectors have no cluster
    structure for the coarse quantizer to absorb — the residual paths'
    value appears on real clustered embeddings; what we pin here is the
    machinery (distinct codebooks, per-cell tables, exact oracle
    replay), not a recall win the data cannot show."""
    import numpy as np

    from etl_pipeline_excel_sql__spark.operators.pq import (
        ivfpq_residual_topk,
    )
    from etl_pipeline_excel_sql__spark.sources.registry import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    got = ivfpq_residual_topk(emb, emb.filter("vec_id < 5")).collect()
    by_q: dict[int, list[int]] = {}
    for r in got:
        assert r.neighbor_id != r.query_id
        by_q.setdefault(r.query_id, []).append(r.neighbor_id)
    assert set(by_q) == set(range(5)) and all(
        len(v) == 5 for v in by_q.values()
    )
    V = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in emb.collect()
    }
    hits = 0
    for q in range(5):
        d = sorted(
            (float(np.sum((V[q] - v) ** 2)), i)
            for i, v in V.items()
            if i != q
        )
        hits += len({i for _, i in d[:5]} & set(by_q[q]))
    assert hits >= 4, f"residual ADC collapsed to chance: {hits}/25"
