"""Cluster-balanced sampling: deterministic per-cluster quotas over
LEARNED clusters (trained k-means cells on the embedding corpus) — the
embedding-space analogue of ``domain_quota_sample``'s per-source caps,
and the selection shape of prototype/cluster-balanced data-curation
recipes (every region of embedding space contributes equally, so a
dominant mode can't drown the tails).

The oracle unrolls the SAME Lloyd rounds as the IVF family
(``pipeline_queries._kmeans_unroll_sql`` — one hash contract, one
k-means definition) and replays the md5-rank quota, so the kept set
hash-matches exactly.

Scale shape: training is the ``kmeans_train_assign`` loop (per round
one scan + an ncells×dims decimal-exact aggregate; centroids only ever
broadcast); the quota is one window per cell over the assignment —
a single exchange on the cell key, counts and ranks in the same pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.functions.hashing import (
    H60_SQL,
    md5_hash60,
)
from etl_pipeline_excel_sql__spark.operators.similarity import (
    kmeans_train_assign,
)
from etl_pipeline_excel_sql__spark.plans.pipeline_queries import (
    _kmeans_unroll_sql,
)

QUERIES: dict = {}
ORACLE: dict = {}

#: per-cell keep quota.
CB_K = 30


def q_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Up to CB_K vectors per trained k-means cell, chosen by
    deterministic md5 rank (no RNG — reproducible on any cluster /
    retry / partitioning), with the cell population carried along so
    the balance is auditable."""
    from etl_pipeline_excel_sql__spark.sources.registry import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    assigned = kmeans_train_assign(emb)
    key = md5_hash60(
        F.concat(F.lit("cb:"), F.col("vec_id").cast("string"))
    )
    wc = Window.partitionBy("cell")
    wr = Window.partitionBy("cell").orderBy(key.asc(), F.col("vec_id").asc())
    return (
        assigned.select(
            "vec_id",
            F.col("cell").cast("int").alias("cell"),
            F.count(F.lit(1)).over(wc).alias("cell_size"),
            F.row_number().over(wr).alias("cell_rank"),
        )
        .filter(F.col("cell_rank") <= CB_K)
    )


def _cb_sql() -> str:
    _h = H60_SQL.format(x="'cb:' || CAST(vec_id AS VARCHAR)")
    ctes, last = _kmeans_unroll_sql()
    return f"""
WITH {', '.join(ctes)}
SELECT vec_id, cell, cell_size, cell_rank FROM (
  SELECT vec_id, CAST(cell AS INT) AS cell,
         COUNT(*) OVER (PARTITION BY cell) AS cell_size,
         CAST(row_number() OVER (PARTITION BY cell
              ORDER BY {_h} ASC, vec_id ASC) AS INT) AS cell_rank
  FROM {last}
) WHERE cell_rank <= {CB_K}
"""


ORACLE["cluster_balanced_sample"] = _cb_sql()
QUERIES["cluster_balanced_sample"] = q_cluster_balanced_sample
