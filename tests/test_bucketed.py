"""Vnode-ring sharded sink: ownership agrees with the rebalance audit,
and adding a shard moves only the rows the new shard captures."""

from __future__ import annotations


def test_ring_assign_matches_audit_arithmetic(spark):
    """The sink's literal-array arg-min owner must agree bit-for-bit
    with the audit's broadcast-join + groupBy owner (ops_queries'
    q_shard_rebalance_audit arithmetic) for every key."""
    from pyspark.sql import functions as F

    from etl_pipeline_excel_sql__spark.functions.hashing import md5_hash60
    from etl_pipeline_excel_sql__spark.plans.ops_queries import (
        RING_SPACE,
        SHARD_N,
        SHARD_VNODES,
    )
    from etl_pipeline_excel_sql__spark.sinks.bucketed import (
        ring_assign,
        ring_points,
    )

    docs = spark.range(0, 500).select(F.col("id").alias("doc_id"))
    pts = ring_points(SHARD_N, SHARD_VNODES, RING_SPACE)
    got = {
        r.doc_id: r.shard
        for r in ring_assign(docs, pts, RING_SPACE).collect()
    }
    # audit-style owner: broadcast ring join + packed-min groupBy
    ring = spark.createDataFrame(pts, ["shard", "point"])
    h = md5_hash60(
        F.concat(F.lit("doc:"), F.col("doc_id").cast("string"))
    ) % F.lit(RING_SPACE)
    packed = (
        (F.col("point") - F.col("h") + F.lit(RING_SPACE)) % F.lit(RING_SPACE)
    ) * F.lit(256) + F.col("shard")
    want = {
        r.doc_id: r.owner
        for r in docs.withColumn("h", h)
        .join(F.broadcast(ring))
        .groupBy("doc_id")
        .agg((F.min(packed) % 256).cast("bigint").alias("owner"))
        .collect()
    }
    assert got == want


def test_ring_sharded_write_and_reshard(spark, tmp_path):
    """Write-path contract: (1) files land under their ring-owner shard;
    (2) adding a shard moves ~1/(N+1) of rows, ALL to the new shard;
    (3) rows conserve exactly across the reshard; (4) partitions that
    lost no rows are not rewritten; (5) the reshard leaves no persisted
    blocks behind."""
    import os

    from pyspark.sql import functions as F

    from etl_pipeline_excel_sql__spark.operators.iterative import (
        _persisted_rdd_ids,
    )
    from etl_pipeline_excel_sql__spark.plans.ops_queries import (
        RING_SPACE,
        SHARD_N,
        SHARD_VNODES,
    )
    from etl_pipeline_excel_sql__spark.sinks.bucketed import (
        reshard_add_shard,
        ring_assign,
        ring_points,
        write_ring_sharded,
    )

    path = str(tmp_path / "ring_tbl")
    docs = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"), (F.col("id") * 7).alias("payload")
    )
    write_ring_sharded(docs, path, SHARD_N, SHARD_VNODES, RING_SPACE)
    before = spark.read.parquet(path)
    assert before.count() == 2000
    owners_before = {
        r.doc_id: int(r.shard) for r in before.select("doc_id", "shard").collect()
    }
    mtimes_before = {}
    for shard_dir in os.listdir(path):
        if shard_dir.startswith("shard="):
            d = os.path.join(path, shard_dir)
            mtimes_before[shard_dir] = {
                f: os.path.getmtime(os.path.join(d, f))
                for f in os.listdir(d)
                if f.endswith(".parquet")
            }

    persisted = _persisted_rdd_ids(spark)
    n_moved = reshard_add_shard(spark, path, SHARD_N, SHARD_VNODES, RING_SPACE)
    assert _persisted_rdd_ids(spark) == persisted
    after = spark.read.parquet(path)
    rows_after = {
        r.doc_id: (int(r.shard), r.payload)
        for r in after.select("doc_id", "shard", "payload").collect()
    }
    # conservation: same keys, same payloads
    assert set(rows_after) == set(owners_before)
    assert all(v[1] == k * 7 for k, v in rows_after.items())
    # every mover went TO the new shard; owner matches the N+1 ring
    pts_new = ring_points(SHARD_N + 1, SHARD_VNODES, RING_SPACE)
    want_after = {
        r.doc_id: r.shard
        for r in ring_assign(docs, pts_new, RING_SPACE).collect()
    }
    assert {k: v[0] for k, v in rows_after.items()} == want_after
    movers = {k for k in rows_after if rows_after[k][0] != owners_before[k]}
    assert len(movers) == n_moved > 0
    assert all(rows_after[k][0] == SHARD_N for k in movers)
    # the move volume is ring-sized (~1/(N+1)), nowhere near modulo's N/(N+1)
    assert n_moved < 2000 * 2.5 / (SHARD_N + 1)
    # untouched donors: shards that lost nothing keep their exact files
    lost_shards = {f"shard={owners_before[k]}" for k in movers}
    for shard_dir, files in mtimes_before.items():
        if shard_dir in lost_shards:
            continue
        d = os.path.join(path, shard_dir)
        now = {
            f: os.path.getmtime(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }
        assert now == files, f"{shard_dir} was rewritten but lost no rows"
