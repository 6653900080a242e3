"""Distributed linear text classifier: batch perceptron over
hashing-trick features, trained entirely as DataFrame aggregates.

The quality-classifier stage of a curation pipeline (fastText-style
"educational value" / spam gates) reduced to its exactly-verifiable
core: binary bag-of-buckets features (each distinct token hashes to one
of ``n_buckets`` via the repo's portable 60-bit md5 hash), INTEGER
weights, and the classic batch perceptron update

    w ← w + Σ_{misclassified d} y_d · x_d

run for a fixed number of rounds. Everything is integer arithmetic —
margins are sums of integer weights, updates are sums of ±1 labels — so
the trained weights, margins, and predictions are bit-identical in any
engine and under any partitioning, and the DuckDB oracle replays the
unrolled rounds exactly (the k-means/BPE iterative-oracle pattern).

Scale shape (the reason this is a per-ROUND aggregate, not per-sample
SGD): one round = ONE pass over the persisted feature table — a
broadcast join of the bounded weight table (``n_buckets`` rows — a
trained artifact, the legitimate broadcast class), a window-sum margin
over ``doc_id`` (every feature row learns its doc's margin with no
join-back), and the bucket-keyed update aggregate. The feature table is
persisted hash-partitioned by ``doc_id``, so the window and the final
scoring aggregate reuse that partitioning and the only per-round
shuffle is the (bounded, ``n_buckets``-row) update output. No
corpus-derived broadcast, no driver-side loop over rows; per-round
driver state is the ``n_buckets``-int weight vector (the same
bounded-collect contract as BPE's top-B pairs and pagerank's overflow
scalar). Per-sample SGD is order-dependent and therefore neither
parallelizable nor engine-reproducible — the batch form is the
distributed-correct one.

(Round 8 shape: margin hash-aggregate keyed by doc, join of the
misclassified doc list back against the features, then the bucket
aggregate — the join-back re-shuffled corpus-scale rows every round.
The window form produces identical integers — margins are
order-free sums — in one pass; VERDICT r8 task #4.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.functions.hashing import md5_hash60
from etl_pipeline_excel_sql__spark.functions.text import ws_tokens
from etl_pipeline_excel_sql__spark.operators.iterative import (
    SignatureCache,
    shared_slot,
)

#: Training rounds of :func:`perceptron_scores`.
PERCEPTRON_ROUNDS = 3


def feature_buckets(
    docs: DataFrame,
    label: Column,
    n_buckets: int,
) -> DataFrame:
    """Binary hashing-trick features of ``(doc_id, text)`` documents: one
    row per DISTINCT (doc, bucket) with the doc's ±1 ``y`` — ``(doc_id,
    bucket, y)``.

    ``label`` is a ±1 integer Column over the docs frame (the
    deterministic supervision source). Distinctness makes features
    binary (presence, not count), the standard linear-text-classifier
    encoding.
    """
    return (
        docs.select(
            "doc_id",
            label.cast("int").alias("y"),
            F.explode(ws_tokens(F.col("text"))).alias("__term"),
        )
        .select(
            "doc_id",
            "y",
            F.pmod(md5_hash60(F.col("__term")), F.lit(n_buckets))
            .cast("int")
            .alias("bucket"),
        )
        .distinct()
    )


def perceptron_train(
    feats: DataFrame, n_buckets: int, rounds: int
) -> dict[int, int]:
    """Train ``rounds`` batch-perceptron rounds; returns the sparse
    integer weight vector ``{bucket: w}`` (zero weights omitted).

    Round r: margin_d = Σ_{b∈d} w[b]; every doc with ``y·margin <= 0``
    (margin 0 — including round 1's all-zero weights — counts as wrong:
    the classic mistake-driven rule) contributes ``y`` to each of its
    buckets. The weight table enters as a broadcast (bounded model
    artifact); the round is ONE pass — window-sum margin over doc_id,
    misclassification filter, bucket aggregate (module doctrine).
    """
    if rounds < 1:
        raise ValueError("perceptron_train: rounds must be >= 1")
    if n_buckets < 1:
        raise ValueError("perceptron_train: n_buckets must be >= 1")
    spark = feats.sparkSession
    w: dict[int, int] = {}
    for _ in range(rounds):
        delta = (
            _row_margins(feats, spark, w)
            .filter(F.col("y") * F.col("margin") <= 0)
            .groupBy("bucket")
            .agg(F.sum("y").alias("dw"))
            .collect()
        )
        for r in delta:
            nw = w.get(r["bucket"], 0) + int(r["dw"])
            if nw:
                w[r["bucket"]] = nw
            else:
                w.pop(r["bucket"], None)
    return w


def _weights_df(spark, w: dict[int, int]) -> DataFrame:
    from etl_pipeline_excel_sql__spark.functions.localframe import local_df

    rows = sorted(w.items()) or [(-1, 0)]  # never an empty frame
    return local_df(spark, rows, "bucket INT, w BIGINT")


def _row_margins(feats: DataFrame, spark, w: dict[int, int]) -> DataFrame:
    """Every feature row annotated with its DOC's margin: broadcast
    weight join + window sum over ``doc_id`` — no doc-level aggregate
    to join back (the sum is order-free integer arithmetic, so the
    window produces exactly the hash-aggregate margins)."""
    wdf = _weights_df(spark, w)
    return feats.join(F.broadcast(wdf), "bucket", "left").withColumn(
        "margin",
        F.sum(F.coalesce(F.col("w"), F.lit(0))).over(
            Window.partitionBy("doc_id")
        ),
    )


def _margins(feats: DataFrame, spark, w: dict[int, int]) -> DataFrame:
    """Doc-level ``(doc_id, y, margin)`` — the final-scoring shape.
    groupBy(doc_id, y) reuses the feature table's doc_id hash
    partitioning (clustering on a superset of the partition keys), so
    this aggregate does not shuffle either."""
    wdf = _weights_df(spark, w)
    return (
        feats.join(F.broadcast(wdf), "bucket", "left")
        .groupBy("doc_id", "y")
        .agg(F.sum(F.coalesce(F.col("w"), F.lit(0))).alias("margin"))
    )


def perceptron_scores(
    docs: DataFrame,
    label: Column,
    n_buckets: int,
) -> DataFrame:
    """Train ``PERCEPTRON_ROUNDS`` rounds, then score every document
    with the trained weights:
    ``(doc_id, y, margin, pred)`` — ``pred`` is ±1 (margin 0 → -1, the
    mistake-driven convention), all integers, engine-exact. The feature
    table persists through a default slot under the slot rule of
    :mod:`~etl_pipeline_excel_sql__spark.operators.iterative`."""
    # One feature pass shared by every training round and the final
    # scoring join (the word_frequencies doctrine).
    feats = shared_slot(
        docs.sparkSession, "perceptron.features", SignatureCache
    ).swap(
        feature_buckets(docs, label, n_buckets).repartition("doc_id")
    )
    w = perceptron_train(feats, n_buckets, PERCEPTRON_ROUNDS)
    return _margins(feats, docs.sparkSession, w).select(
        "doc_id",
        "y",
        F.col("margin").cast("bigint").alias("margin"),
        F.when(F.col("margin") > 0, F.lit(1))
        .otherwise(F.lit(-1))
        .cast("int")
        .alias("pred"),
    )
