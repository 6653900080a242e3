"""Hard-negative mining (operators/similarity.hard_negatives_topk):
label exclusion and ranking semantics on a hand corpus."""

from __future__ import annotations

from etl_pipeline_excel_sql__spark.functions.vectors import EMB_DIMS
from etl_pipeline_excel_sql__spark.operators.similarity import (
    hard_negatives_topk,
)


def _emb(spark, rows):
    """Hand-built vectors, zero-padded to ``EMB_DIMS`` (each zero adds
    exactly +0.0 to every dot product and norm)."""
    return spark.createDataFrame(
        [(i, v + [0.0] * (EMB_DIMS - len(v)), lab) for i, v, lab in rows],
        "vec_id LONG, embedding ARRAY<FLOAT>, label INT",
    )


def test_hard_negatives_exclude_same_label(spark):
    # query 0 (label 0) — candidates: 1 (label 0, nearly identical,
    # MUST be excluded), 2 (label 1, similar), 3 (label 1, orthogonal)
    corpus = _emb(
        spark,
        [
            (0, [1.0, 0.0], 0),
            (1, [0.99, 0.01], 0),
            (2, [0.9, 0.1], 1),
            (3, [0.0, 1.0], 1),
        ],
    )
    rows = hard_negatives_topk(corpus, corpus.filter("vec_id = 0")).collect()
    got = [(r.neighbor_id, r.rank) for r in sorted(rows, key=lambda r: r.rank)]
    assert got == [(2, 1), (3, 2)]  # 1 excluded despite top similarity
    assert all(r.neighbor_label != r.query_label for r in rows)


def test_hard_negatives_plan_broadcasts_query_batch(spark, sf_dir):
    from etl_pipeline_excel_sql__spark.plans.mining_queries import (
        q_hard_negatives_topk,
    )

    plan = (
        q_hard_negatives_topk(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Broadcast" in plan
