"""Distributed Bloom-filter join pre-filter, pure DataFrame ops.

The classic big-data move for a selective join: build a compact bitmap of
the (small) key side, broadcast it, and drop probe rows whose keys cannot
possibly match BEFORE the join shuffle. At 100 TB the win is that the
probe-side shuffle carries only rows that pass the filter — for a 5%-
selective dimension that is a 20× smaller shuffle, bought for one broadcast
of a few KB of bitmap words.

Representation: an ``M_BITS``-bit filter stored as ``M_BITS/64`` bigint
words, built with a ``bit_or`` aggregate over per-key set-bit masks —
fully partial-aggregatable (map-side combine on every executor, tiny
merge). Membership is tested with ``K`` independent 60-bit md5 hash
families (same primitive as every other hash in the engine —
``functions/hashing.md5_hash60_seeded``), probed via ``K`` broadcast
joins against the word table: a row survives only if every probed word
has its bit set. Absent word index ⇒ bit unset ⇒ row cannot match — the
inner join drops it, which is exactly the Bloom contract (no false
negatives; false positives are removed by the exact join that follows).

The final exact join makes the composition value-identical to the plain
join, so the DuckDB oracle for any query using this operator is simply the
un-filtered join — the Bloom stage must be transparent, and the
correctness gate proves it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.functions.hashing import md5_hash60_seeded

#: Filter geometry: 2^16 bits = 1024 bigint words (~8 KB broadcast).
M_BITS = 1 << 16
K = 2


def _bit_pos(key: Column, seed: int) -> Column:
    """Bit position of hash family ``seed`` for ``key`` (non-negative)."""
    return md5_hash60_seeded(key, seed) % F.lit(M_BITS).cast("bigint")


def bloom_build(keys: DataFrame) -> DataFrame:
    """Aggregate the ``o_orderkey`` side into Bloom words ``(word_idx,
    word)``.

    One narrow shuffle of at most ``M_BITS/64`` rows; the per-partition
    ``bit_or`` partials mean the full key set never moves.
    """
    key = F.col("o_orderkey").cast("string")
    # ONE scan of the key side: all K bit positions per key in a single
    # explode (a per-seed select unioned K times would re-run the build
    # subtree K times — no exchange reuse, since the hash exprs differ).
    pos = [_bit_pos(key, seed) for seed in range(K)]
    bits = keys.select(F.explode(F.array(*pos)).alias("pos"))
    return (
        bits.select(
            F.expr("pos DIV 64").alias("word_idx"),
            # the Python shiftleft() API takes only literal shift amounts —
            # the column-shift form must go through SQL
            F.expr(
                "shiftleft(cast(1 as bigint), cast(pos % 64 as int))"
            ).alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.expr("bit_or(mask)").alias("word"))
    )


def bloom_prefilter(probe: DataFrame, bloom_words: DataFrame) -> DataFrame:
    """Keep only probe rows whose ``l_orderkey`` passes the Bloom filter.

    ``K`` broadcast hash joins (each against the ≤``M_BITS/64``-row word
    table) and a bit test each — no shuffle of the probe side at all.
    """
    out = probe
    key = F.col("l_orderkey").cast("string")
    for seed in range(K):
        pos = _bit_pos(key, seed)
        words = F.broadcast(
            bloom_words.withColumnRenamed("word_idx", f"_wi{seed}")
            .withColumnRenamed("word", f"_w{seed}")
        )
        out = (
            out.withColumn(f"_pos{seed}", pos)
            .join(
                words,
                F.expr(f"_pos{seed} DIV 64") == F.col(f"_wi{seed}"),
            )
            .filter(
                F.expr(
                    f"(_w{seed} & shiftleft(cast(1 as bigint), "
                    f"cast(_pos{seed} % 64 as int))) != 0"
                )
            )
            .drop(f"_pos{seed}", f"_wi{seed}", f"_w{seed}")
        )
    return out
