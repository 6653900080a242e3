"""Distributed sinks: partitioned parquet / csv / json writers.

The reference's only sink is a template workbook; a 100 TB engine also
needs real distributed sinks. These helpers encode the file-sizing
discipline that matters at scale:

* **partition columns** chosen low-cardinality (date, category) so
  partition pruning works on the read side without creating millions of
  tiny directories;
* **file sizing** via a pre-write ``repartition`` on the partition columns
  (plus optional salt) — the classic fix for the one-file-per-task ×
  per-partition explosion;
* **maxRecordsPerFile** as the hard ceiling so a skewed partition splits
  instead of producing a multi-GB file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_parquet_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str] | None = None,
    files_per_partition: int = 1,
) -> None:
    """Partitioned parquet overwrite with controlled file counts, at most
    5M rows per file.

    With ``partition_cols``, rows are first repartitioned on those columns
    (optionally salted to ``files_per_partition`` files each) so every
    output directory gets a small, predictable number of well-filled files
    instead of one shard per upstream task.
    """
    writer = df.write
    if partition_cols:
        keys = [F.col(c) for c in partition_cols]
        if files_per_partition > 1:
            salt = (F.rand(seed=7) * files_per_partition).cast("int")
            df = df.withColumn("__salt", salt).repartition(
                *keys, F.col("__salt")
            ).drop("__salt")
        else:
            df = df.repartition(*keys)
        writer = df.write.partitionBy(*partition_cols)
    writer = writer.mode("overwrite").option("maxRecordsPerFile", 5_000_000)
    writer.parquet(path)


def write_csv(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").option("header", "true").csv(path)


def write_json(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").json(path)


def compact_parquet(
    spark,
    in_path: str,
    out_path: str,
    target_file_bytes: int = 256 * 1024 * 1024,
) -> int:
    """Small-files compaction: rewrite a directory into ~target-sized files.

    Long-running ingestion (streaming sinks, frequent small batches) leaves
    thousands of tiny files that wreck scan planning at scale; compaction
    coalesces them based on the actual input byte size. Returns the file
    count written. Narrow ``coalesce`` — no shuffle.
    """
    import glob as _glob
    import os as _os

    total = sum(
        _os.path.getsize(p)
        for p in _glob.glob(f"{in_path}/**/*.parquet", recursive=True)
    )
    n_files = max(1, round(total / target_file_bytes))
    df = spark.read.parquet(in_path)
    df.coalesce(n_files).write.mode("overwrite").parquet(out_path)
    return n_files


def write_orc(df: DataFrame, path: str) -> None:
    """ORC sink (columnar, stripe-statistics pushdown on read — the
    Hive-ecosystem sibling of the parquet path)."""
    df.write.mode("overwrite").orc(path)
