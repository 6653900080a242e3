"""Skip-gram co-occurrence counting: the word2vec/GloVe preprocessing
stage — for every token, count the tokens that FOLLOW it within a
±window (forward pairs; the symmetric count is the same table with the
columns swapped, so only one direction is materialized).

Built the narrow way: posexplode → ``lead(term, r)`` for r = 1..window
over the per-document position order — the ``kgram_rows`` lead-window
shape — so pair generation is ONE shuffle (by doc_id, for the window
sort) and never a positions self-join. The count aggregate
partial-combines map-side; the result table is bigram-vocabulary-scale
(the same scale class as the Kneser-Ney bigram tables), not
corpus-scale. All integers end to end — counts hash exactly on any
engine build (tests/test_float_doctrine.py's 'exact' class).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.functions.text import ws_tokens


def skipgram_counts(docs: DataFrame, window: int) -> DataFrame:
    """Forward skip-gram pair counts ``(center, context, dist, n_pairs)``
    of ``(doc_id, text)`` documents — one row per (ordered pair,
    distance ≤ window) actually observed.
    Distance is emitted so a consumer can apply 1/d context weighting
    (word2vec's sampling-window equivalence) without recounting."""
    if window < 1:
        raise ValueError("skipgram_counts: window must be >= 1")
    toks = docs.select(
        "doc_id",
        F.posexplode(ws_tokens(F.col("text"))).alias("pos", "center"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = [
        F.lead("center", r).over(w).alias(f"__c{r}")
        for r in range(1, window + 1)
    ]
    windowed = toks.select("center", *leads)
    pairs = windowed.select(
        "center",
        F.posexplode(
            F.array(*[F.col(f"__c{r}") for r in range(1, window + 1)])
        ).alias("__off", "context"),
    ).filter(F.col("context").isNotNull())
    return (
        pairs.groupBy(
            "center",
            "context",
            (F.col("__off") + F.lit(1)).cast("int").alias("dist"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )


def skipgram_top_pairs(docs: DataFrame, window: int, k: int) -> DataFrame:
    """The ``k`` most frequent forward pairs, distances summed —
    deterministic ties (n_pairs DESC, center ASC, context ASC). A
    TakeOrdered top-k over the pair table, never a full sort."""
    totals = (
        skipgram_counts(docs, window)
        .groupBy("center", "context")
        .agg(F.sum("n_pairs").alias("n_pairs"))
    )
    return totals.orderBy(
        F.col("n_pairs").desc(),
        F.col("center").asc(),
        F.col("context").asc(),
    ).limit(k)
