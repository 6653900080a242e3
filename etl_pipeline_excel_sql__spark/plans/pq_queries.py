"""Product-quantization queries: codes + ADC search (operators/pq.py).

Completes the ANN family's standard at-scale pairing (IVF coarse cells +
PQ fine codes): ``pq_codes`` pins the trained codebooks and the
32×-compressed encoding end to end; ``pq_adc`` pins the asymmetric-
distance search over those codes. Both oracles replay the full unrolled
train→encode(→search) chain in DuckDB — same seeds, same decimal-exact
Lloyd means, same left-associative distance arithmetic, same integer
micro-unit ADC totals — so a drift anywhere in the pipeline fails the
value hash, not a similarity eyeball.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from etl_pipeline_excel_sql__spark.functions.vectors import EMB_DIMS
from etl_pipeline_excel_sql__spark.operators.pq import (
    ivfpq_residual_sql,
    ivfpq_residual_topk,
    ivfpq_sql,
    ivfpq_topk,
    pq_adc_sql,
    pq_adc_topk,
    pq_codes_sql,
    pq_encode,
    pq_train_codebooks,
)
from etl_pipeline_excel_sql__spark.sources.registry import load_table


def _trained(spark: SparkSession, sf_dir: str):
    emb = load_table(spark, "embeddings", sf_dir)
    return emb, pq_train_codebooks(emb)


def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the per-subspace codebooks and encode every vector as its
    8 one-byte codes — the compressed search artifact. ``codes`` is
    rendered space-delimited for the harness (the ``array_funcs``
    doctrine: the canonicalizer needs hashable cells); downstream ADC
    consumes :func:`pq_encode`'s array form directly."""
    from pyspark.sql import functions as F

    emb, cb = _trained(spark, sf_dir)
    return pq_encode(emb, cb).withColumn(
        "codes", F.array_join(F.col("codes").cast("array<string>"), " ")
    )


def q_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full PQ pipeline: train → encode → ADC top-k from codes alone
    (integer micro-unit distances; ties → lowest neighbor id)."""
    emb, cb = _trained(spark, sf_dir)
    codes = pq_encode(emb, cb)
    queries = emb.filter("vec_id < 5")
    return pq_adc_topk(codes, cb, queries)


QUERIES = {
    "pq_codes": q_pq_codes,
    "pq_adc": q_pq_adc,
}

ORACLE = {
    "pq_codes": pq_codes_sql(),
    "pq_adc": pq_adc_sql(),
}


def q_ivfpq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The billion-scale serving composition: L2 coarse cells prune,
    PQ-ADC ranks inside the probed cells (``operators/pq.ivfpq_topk``;
    raw-vector codes — the stated no-residual simplification)."""
    emb = load_table(spark, "embeddings", sf_dir)
    return ivfpq_topk(emb, emb.filter("vec_id < 5"))


QUERIES["ivfpq_adc"] = q_ivfpq_adc
ORACLE["ivfpq_adc"] = ivfpq_sql()


def q_ivfpq_residual_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical IVFADC: PQ codes quantize the per-cell RESIDUALS, with
    cell-dependent query lookup tables (``ivfpq_residual_topk``)."""
    emb = load_table(spark, "embeddings", sf_dir)
    return ivfpq_residual_topk(emb, emb.filter("vec_id < 5"))


QUERIES["ivfpq_residual_adc"] = q_ivfpq_residual_adc
ORACLE["ivfpq_residual_adc"] = ivfpq_residual_sql()


# --- SQ8 + exact rerank (round 10) --------------------------------------

SQ8_QUERY_MAX_ID = 5
SQ8_CANDIDATES = 30
SQ8_K = 10


def q_ann_sq8_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-free quantized serving: int8 scalar-quantized integer-dot
    candidate pass (top-30 per query), exact-cosine rerank to top-10 —
    the middle rung of the ANN ladder between ``ann_brute_topk`` (exact,
    full floats) and ``pq_adc``/``ivfpq_adc`` (trained codebooks). See
    :func:`operators.similarity.sq8_rerank_topk` for the plan shape
    (vectors dropped before the candidate shuffle; full-precision floats
    touched only for the bounded candidate set)."""
    from pyspark.sql import functions as F

    from etl_pipeline_excel_sql__spark.operators.similarity import (
        sq8_rerank_topk,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    return sq8_rerank_topk(
        emb,
        emb.filter(F.col("vec_id") < SQ8_QUERY_MAX_ID),
        k=SQ8_K,
        candidates=SQ8_CANDIDATES,
    )


def _sq8_oracle() -> str:
    from etl_pipeline_excel_sql__spark.plans.pipeline_queries import (
        _cos_sql,
    )

    return f"""
WITH ex AS (
  SELECT vec_id, r.range AS dim,
         CAST(embedding[r.range + 1] AS DOUBLE) AS x
  FROM embeddings CROSS JOIN range(0, {EMB_DIMS}) r
), stats AS (
  SELECT dim, MAX(abs(x)) AS maxabs FROM ex GROUP BY dim
), codes AS (
  SELECT vec_id, dim,
         CASE WHEN maxabs = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST(floor(x * 127.0 / maxabs + 0.5) AS BIGINT)
         END AS code
  FROM ex JOIN stats USING (dim)
), qd AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(SUM(q.code * c.code) AS BIGINT) AS qdot
  FROM codes q JOIN codes c USING (dim)
  WHERE q.vec_id < {SQ8_QUERY_MAX_ID} AND c.vec_id <> q.vec_id
  GROUP BY 1, 2
), cand AS (
  SELECT query_id, neighbor_id, qdot,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY qdot DESC, neighbor_id ASC) AS crank
  FROM qd QUALIFY crank <= {SQ8_CANDIDATES}
), rer AS (
  SELECT cand.query_id, cand.neighbor_id, cand.qdot,
         {_cos_sql('q.embedding', 'c.embedding')} AS cosine_sim
  FROM cand
  JOIN embeddings q ON q.vec_id = cand.query_id
  JOIN embeddings c ON c.vec_id = cand.neighbor_id
)
SELECT query_id, neighbor_id, qdot, cosine_sim,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY cosine_sim DESC, neighbor_id ASC) AS INT) AS rank
FROM rer QUALIFY rank <= {SQ8_K}
"""


ORACLE["ann_sq8_rerank"] = _sq8_oracle()
QUERIES["ann_sq8_rerank"] = q_ann_sq8_rerank
