"""Consistent-hash (vnode ring) sharded sink.

The write-path deployment of the `shard_rebalance_audit` ring
(plans/ops_queries.py): data lands partitioned by its ring-owner
shard, and growing the fleet N -> N+1 rewrites ONLY the rows captured
by the new shard's vnodes (~1/(N+1) of the corpus) plus the partitions
they leave — never a full reshuffle (naive modulo placement moves
~N/(N+1) of all keys). Ring arithmetic is identical to the audit so
the DuckDB oracle twin can recompute ownership from first principles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.functions.hashing import md5_hash60
from etl_pipeline_excel_sql__spark.operators.iterative import (
    _persisted_rdd_ids,
    _unpersist_rdd_ids,
)

#: ring-point salt prefix (matches the audit's `ring:s:v` convention)
RING_POINT_SALT = "ring"
#: key salt prefix: a row's ring position is md5-60 of "doc:<key>"
RING_KEY_SALT = "doc:"


def ring_points(n_shards: int, vnodes: int, ring_space: int) -> list[tuple[int, int]]:
    """The (shard, point) vnode ring as a bounded Python list — (N·V)
    entries, e.g. 9 shards × 16 vnodes = 144. Points are the same
    md5-60 positions the audit computes, so ownership agrees bit-for-bit
    with `shard_rebalance_audit` and its SQL twin."""
    import hashlib

    pts = []
    for s in range(n_shards):
        for v in range(vnodes):
            h = hashlib.md5(
                f"{RING_POINT_SALT}:{s}:{v}".encode()
            ).hexdigest()
            pts.append((s, int(h[:15], 16) % ring_space))
    return pts


def ring_assign(
    df: DataFrame,
    points: list[tuple[int, int]],
    ring_space: int,
    out_col: str = "shard",
) -> DataFrame:
    """Append the ring-owner shard of each row's ``doc_id`` — a PURE MAP.

    Ownership is the packed arg-min over the literal ring array
    (`F.aggregate` over ≤ a few hundred struct literals, whole-stage
    codegen, JVM-side): no join, no groupBy, no shuffle — the 100 TB
    shape, unlike the audit's broadcast-join + groupBy variant whose
    job is to COMPARE placements, not deploy one. Packed key
    ((point - h) mod R)·256 + shard stays inside int64 for the 52-bit
    ring (the packed-MIN doctrine)."""
    arr = F.array(
        *[
            F.struct(
                F.lit(int(p)).cast("bigint").alias("point"),
                F.lit(int(s)).cast("bigint").alias("shard"),
            )
            for s, p in points
        ]
    )
    h = md5_hash60(
        F.concat(F.lit(RING_KEY_SALT), F.col("doc_id").cast("string"))
    ) % F.lit(ring_space)
    init = F.lit(ring_space * 256 + 255).cast("bigint")
    owner = (
        F.aggregate(
            arr,
            init,
            lambda acc, x: F.least(
                acc,
                ((x["point"] - h + F.lit(ring_space)) % F.lit(ring_space))
                * F.lit(256)
                + x["shard"],
            ),
        )
        % 256
    ).cast("bigint")
    return df.withColumn(out_col, owner)


def write_ring_sharded(
    df: DataFrame,
    path: str,
    n_shards: int,
    vnodes: int,
    ring_space: int,
) -> None:
    """Write `df` as parquet partitioned by its ``doc_id`` ring-owner
    shard."""
    pts = ring_points(n_shards, vnodes, ring_space)
    assigned = ring_assign(df, pts, ring_space, "shard")
    assigned.write.mode("overwrite").partitionBy("shard").parquet(path)


def reshard_add_shard(
    spark: SparkSession,
    path: str,
    n_shards_old: int,
    vnodes: int,
    ring_space: int,
) -> int:
    """Grow a ring-sharded table from N to N+1 shards IN PLACE; returns
    the number of rows moved.

    Proves the reshard cost on the write path: recompute ownership under
    the extended ring (pure map), fail fast if any row would move
    BETWEEN old shards (the ring consistency property — moved rows go
    only TO the new shard), then rewrite exactly the partitions that
    lost rows plus the new shard's partition via dynamic partition
    overwrite. Untouched shards' files are not rewritten — that is the
    point: at 100 TB the rewrite volume is the moved ~1/(N+1) plus the
    donor partitions, never the full table (modulo placement would dirty
    every partition)."""
    cur = spark.read.parquet(path)
    data_cols = [c for c in cur.columns if c != "shard"]
    pts_new = ring_points(n_shards_old + 1, vnodes, ring_space)
    re = ring_assign(cur, pts_new, ring_space, "__new_shard")
    moved = re.filter(F.col("shard") != F.col("__new_shard"))
    if moved.filter(F.col("__new_shard") != n_shards_old).limit(1).count():
        raise RuntimeError(
            "ring consistency violated: a key moved between OLD shards"
        )
    lost = [int(r.shard) for r in moved.select("shard").distinct().collect()]
    if not lost:
        return 0
    keepers = re.filter(
        F.col("shard").isin(lost) & (F.col("shard") == F.col("__new_shard"))
    ).select(*data_cols, "shard")
    incoming = moved.select(
        *data_cols, F.col("__new_shard").alias("shard")
    )
    out = keepers.unionByName(incoming)
    # the rewrite reads the very files it overwrites — cut lineage to
    # materialized blocks first, or the overwrite truncates its own input
    before_cut = _persisted_rdd_ids(spark)
    out = out.localCheckpoint(eager=True)
    n_moved = incoming.count()
    # Donors whose EVERY row moved contribute no keeper rows, so dynamic
    # partition overwrite never rewrites their partition — the stale
    # files would survive on disk while the moved rows also land in the
    # new shard, silently duplicating the whole donor (ADVICE r12).
    # Such donors must be deleted explicitly after the overwrite. The
    # distinct-shard probe is over the already-checkpointed skinny
    # frame: ≤ N+1 rows back to the driver.
    present = {
        int(r.shard) for r in out.select("shard").distinct().collect()
    }
    emptied = [d for d in lost if d not in present]
    prior = spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "static"
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        out.write.mode("overwrite").partitionBy("shard").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prior)
        # the overwrite was the cut's last reader
        _unpersist_rdd_ids(spark, _persisted_rdd_ids(spark) - before_cut)
    if emptied:
        jvm = spark.sparkContext._jvm
        conf = spark.sparkContext._jsc.hadoopConfiguration()
        for d in emptied:
            part = jvm.org.apache.hadoop.fs.Path(f"{path}/shard={d}")
            part.getFileSystem(conf).delete(part, True)
    return n_moved
