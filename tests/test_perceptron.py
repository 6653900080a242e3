"""Batch perceptron: pinned against a literal NumPy-free transcription
of the mistake-driven update rule, plus the linearly-separable sanity
case and the scale/shape contracts."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.functions.text import ws_tokens
from etl_pipeline_excel_sql__spark.operators.perceptron import (
    PERCEPTRON_ROUNDS,
    feature_buckets,
    perceptron_scores,
    perceptron_train,
)


def _bucket(term: str, n: int) -> int:
    return int(hashlib.md5(term.encode()).hexdigest()[:15], 16) % n


def _reference(docs, target, n_buckets, rounds):
    """Literal batch perceptron over the same hashed binary features."""
    feats = {}
    for doc_id, text in docs:
        toks = text.split()
        y = 1 if target in toks else -1
        feats[doc_id] = (y, {_bucket(t, n_buckets) for t in toks})
    w: dict[int, int] = {}
    for _ in range(rounds):
        mis = [
            (y, bs)
            for y, bs in feats.values()
            if y * sum(w.get(b, 0) for b in bs) <= 0
        ]
        for y, bs in mis:
            for b in bs:
                w[b] = w.get(b, 0) + y
    out = {}
    for doc_id, (y, bs) in feats.items():
        m = sum(w.get(b, 0) for b in bs)
        out[doc_id] = (y, m, 1 if m > 0 else -1)
    return out


def test_matches_reference_transcription(spark):
    docs = [
        (1, "the job ran slow today"),
        (2, "all fast and green"),
        (3, "slow slow query plan"),
        (4, "fast join fast scan"),
        (5, "nothing notable here"),
        (6, "a slow disk"),
    ]
    want = _reference(docs, "slow", 64, PERCEPTRON_ROUNDS)
    ddf = spark.createDataFrame(docs, ["doc_id", "text"])
    label = F.when(
        F.array_contains(ws_tokens(F.col("text")), "slow"), F.lit(1)
    ).otherwise(F.lit(-1))
    got = {
        r.doc_id: (r.y, r.margin, r.pred)
        for r in perceptron_scores(ddf, label, 64).collect()
    }
    assert got == want


def test_separable_corpus_reaches_full_accuracy(spark):
    # 'slow' lands in its own bucket at n=4096 for this tiny vocab, so
    # three rounds are plenty to classify the training set perfectly
    docs = [(i, f"w{i} slow") for i in range(10)] + [
        (100 + i, f"w{i} fine") for i in range(10)
    ]
    ddf = spark.createDataFrame(docs, ["doc_id", "text"])
    label = F.when(
        F.array_contains(ws_tokens(F.col("text")), "slow"), F.lit(1)
    ).otherwise(F.lit(-1))
    rows = perceptron_scores(ddf, label, 4096).collect()
    acc = sum(1 for r in rows if r.pred == r.y) / len(rows)
    assert acc == 1.0


def test_weights_bounded_and_integer(spark):
    docs = [(i, f"t{i % 5} u{i % 3}") for i in range(30)]
    ddf = spark.createDataFrame(docs, ["doc_id", "text"])
    label = F.when(F.col("doc_id") % 2 == 0, F.lit(1)).otherwise(F.lit(-1))
    feats = feature_buckets(ddf, label, 32)
    w = perceptron_train(feats, 32, 2)
    assert all(isinstance(v, int) and v != 0 for v in w.values())
    assert all(0 <= b < 32 for b in w)
    # per-round |delta| per bucket <= n_docs -> bounded weights
    assert all(abs(v) <= 2 * 30 for v in w.values())


def test_plan_has_broadcast_weights_no_corpus_broadcast(spark, sf_dir):
    from etl_pipeline_excel_sql__spark.plans.classifier_queries import (
        q_perceptron_quality,
    )

    df = q_perceptron_quality(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # the bounded weight table
    rows = df.collect()
    assert len(rows) == 500  # every document scored
    assert all(r.pred in (1, -1) for r in rows)
