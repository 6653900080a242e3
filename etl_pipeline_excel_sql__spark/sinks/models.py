"""Trained-artifact persistence: the train-once / serve-many seam.

Trained model tables (the BM25 index, or a bounded table such as PQ
codebooks) are built on one (expensive) corpus pass and then consumed by many serve jobs, so they
must round-trip through storage without semantic drift. This module is
that seam: parquet save/load with the artifact's schema ENFORCED on load
(a column rename or type widening in storage fails loudly at load time,
not as silently-wrong results three jobs later).

Bounded artifacts (codebooks = m·ncodes rows, the BM25 corpus scalars)
are written by ``coalesce(1)`` as one file — the read side broadcasts it
exactly like the in-memory trained table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StringType, StructField, StructType

from etl_pipeline_excel_sql__spark.functions.localframe import local_df


def save_artifact(df: DataFrame, path: str) -> None:
    """Persist a bounded model table as ONE parquet file."""
    df.coalesce(1).write.mode("overwrite").parquet(path)


def load_artifact(
    spark: SparkSession, path: str, expected_schema: StructType
) -> DataFrame:
    """Load a model table, enforcing the artifact schema (names and
    types) against what the FILES actually carry — ``spark.read.schema``
    alone silently null-fills renamed/missing columns (by-name parquet
    resolution), which is exactly the drift this seam must catch."""
    stored = spark.read.parquet(path).schema
    got = {f.name: f.dataType for f in stored.fields}
    want = {f.name: f.dataType for f in expected_schema.fields}
    if got != want:
        raise ValueError(
            f"artifact at {path} does not match the expected schema: "
            f"stored {sorted(got.items(), key=lambda kv: kv[0])}, "
            f"want {sorted(want.items(), key=lambda kv: kv[0])}"
        )
    return spark.read.schema(expected_schema).parquet(path)


# --- BM25 inverted-index persistence (operators/retrieval.Bm25Index) ---
# tf/dl/df are corpus-vocabulary-scale (unlike the bounded artifacts
# above), so they persist as ordinary partitionable parquet; only the
# two corpus scalars ride a one-row artifact. Load enforces each
# table's schema the same way load_artifact does.

BM25_TF_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("term", StringType()),
        StructField("tf", LongType()),
    ]
)
BM25_DL_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("dl", LongType())]
)
BM25_DF_SCHEMA = StructType(
    [StructField("term", StringType()), StructField("df", LongType())]
)
BM25_STATS_SCHEMA = StructType(
    [
        StructField("n_docs", LongType()),
        StructField("total_toks", LongType()),
    ]
)


def save_bm25_index(idx, path: str) -> None:
    """Persist a built index: three parquet tables + a one-row stats
    artifact. No coalesce on the big tables — the posting list keeps
    its partitioning."""
    idx.tf.write.mode("overwrite").parquet(f"{path}/tf")
    idx.dl.write.mode("overwrite").parquet(f"{path}/dl")
    idx.dfreq.write.mode("overwrite").parquet(f"{path}/df")
    spark = idx.tf.sparkSession
    save_artifact(
        local_df(
            spark, [(idx.n_docs, idx.total_toks)], BM25_STATS_SCHEMA
        ),
        f"{path}/stats",
    )


def load_bm25_index(spark: SparkSession, path: str):
    """Load a persisted index with every table's schema enforced; the
    stats row is the only (bounded) collect."""
    from etl_pipeline_excel_sql__spark.operators.retrieval import Bm25Index

    stats = load_artifact(spark, f"{path}/stats", BM25_STATS_SCHEMA).collect()[
        0
    ]
    return Bm25Index(
        load_artifact(spark, f"{path}/tf", BM25_TF_SCHEMA),
        load_artifact(spark, f"{path}/dl", BM25_DL_SCHEMA),
        load_artifact(spark, f"{path}/df", BM25_DF_SCHEMA),
        int(stats.n_docs),
        int(stats.total_toks),
    )
