"""Training-pair mining queries: hard-negative selection for
contrastive objectives (operators/similarity.hard_negatives_topk) —
the most-similar vectors that DON'T share the query's label, gated
against an exact-cosine DuckDB replay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.operators.similarity import (
    HARDNEG_TOPK,
    hard_negatives_topk,
)
from etl_pipeline_excel_sql__spark.plans.pipeline_queries import _cos_sql
from etl_pipeline_excel_sql__spark.sources.registry import load_table

QUERIES: dict = {}
ORACLE: dict = {}

#: the mining batch: bounded by construction (it broadcasts).
HARDNEG_QUERY_MAX_ID = 8


def q_hard_negatives_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 hard negatives (most-similar different-label vectors) for
    each of the 8 probe vectors. Label inequality prunes BEFORE the dot
    product; the probe batch broadcasts; ranking is the ANN family's
    reviewed computed-cosine class with neighbor_id tie-break."""
    emb = load_table(spark, "embeddings", sf_dir)
    return hard_negatives_topk(
        emb,
        emb.filter(F.col("vec_id") < HARDNEG_QUERY_MAX_ID),
    )


ORACLE["hard_negatives_topk"] = f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, q.label AS query_label,
         c.vec_id AS neighbor_id, c.label AS neighbor_label,
         {_cos_sql('q.embedding', 'c.embedding')} AS cosine_sim
  FROM (SELECT * FROM embeddings WHERE vec_id < {HARDNEG_QUERY_MAX_ID}) q
  CROSS JOIN embeddings c
  WHERE c.label <> q.label
)
SELECT query_id, query_label, neighbor_id, neighbor_label, cosine_sim,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY cosine_sim DESC, neighbor_id ASC) AS INT) AS rank
FROM scored QUALIFY rank <= {HARDNEG_TOPK}
"""
QUERIES["hard_negatives_topk"] = q_hard_negatives_topk


# --- margin-based mining (round 10) --------------------------------------

from etl_pipeline_excel_sql__spark.operators.similarity import margin_topk

MARGIN_QUERY_MAX_ID = 8
MARGIN_KNN = 4
MARGIN_CANDIDATES = 20
MARGIN_OUT_K = 3


def q_margin_mining_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-criterion pair mining (Artetxe & Schwenk, distance
    variant): for each of the 8 probe vectors, the top-3 corpus matches
    by ``2k·cos − Σfwd-kNN − Σbwd-kNN`` among its top-20 forward
    neighbors — the alignment-mining score that suppresses hubs a raw
    cosine cutoff would keep. All sums run over ppm-quantized integers;
    see :func:`operators.similarity.margin_topk`."""
    emb = load_table(spark, "embeddings", sf_dir)
    return margin_topk(
        emb,
        emb.filter(F.col("vec_id") < MARGIN_QUERY_MAX_ID),
        k_nn=MARGIN_KNN,
        candidates=MARGIN_CANDIDATES,
        k=MARGIN_OUT_K,
    )


ORACLE["margin_mining_topk"] = f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(floor({_cos_sql('q.embedding', 'c.embedding')}
              * 1000000.0) AS BIGINT) AS cos_ppm
  FROM (SELECT * FROM embeddings WHERE vec_id < {MARGIN_QUERY_MAX_ID}) q
  CROSS JOIN embeddings c
  WHERE c.vec_id <> q.vec_id
), ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY query_id
              ORDER BY cos_ppm DESC, neighbor_id ASC) AS fr,
         row_number() OVER (PARTITION BY neighbor_id
              ORDER BY cos_ppm DESC, query_id ASC) AS br
  FROM scored
), fs AS (
  SELECT query_id, CAST(SUM(cos_ppm) AS BIGINT) AS fsum
  FROM ranked WHERE fr <= {MARGIN_KNN} GROUP BY query_id
), bs AS (
  SELECT neighbor_id, CAST(SUM(cos_ppm) AS BIGINT) AS bsum
  FROM ranked WHERE br <= {MARGIN_KNN} GROUP BY neighbor_id
), cand AS (
  SELECT query_id, neighbor_id, cos_ppm
  FROM ranked WHERE fr <= {MARGIN_CANDIDATES}
)
SELECT query_id, neighbor_id, cos_ppm,
       CAST({2 * MARGIN_KNN} * cos_ppm - fsum - bsum AS BIGINT)
         AS margin_scaled,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY {2 * MARGIN_KNN} * cos_ppm - fsum - bsum DESC,
                     neighbor_id ASC) AS INT) AS rank
FROM cand JOIN fs USING (query_id) JOIN bs USING (neighbor_id)
QUALIFY rank <= {MARGIN_OUT_K}
"""
QUERIES["margin_mining_topk"] = q_margin_mining_topk
