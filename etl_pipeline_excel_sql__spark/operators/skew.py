"""Skew mitigation: salted aggregation and salted broadcast-free joins.

AQE's skew-join splitting (enabled in the session factory) handles most
runtime skew; these operators cover the cases AQE can't:

* **salted two-stage aggregation** — a hot grouping key saturates one
  reducer even with AQE (one key can't be split across partial results by
  the planner when the aggregate isn't algebraic-decomposed the way you
  want). Stage 1 aggregates on (key, salt), stage 2 merges the S partials
  per key — the hot key's work spreads over S reducers.
* **salted join** — replicate the small-ish side S× with an explicit salt,
  salt the skewed big side randomly, join on (key, salt). For when the
  build side is too large to broadcast but the probe side has hot keys.

All deterministic-output: salts only change physical distribution, never
results (the salted-agg merge re-aggregates exactly; the salted join's
replicate×random pairing preserves the join multiset).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_count_sum(
    df: DataFrame,
    group_cols: list[str],
    sum_col: str,
) -> DataFrame:
    """Two-stage count+sum aggregation over a 16-way salted key.

    Output: ``group_cols..., n_rows, sum_<sum_col>`` — identical to the
    direct ``groupBy(group_cols).agg(count, sum)`` (decimal sums are exact
    and order-independent, so the two-stage merge is value-identical).
    """
    salt = (F.rand(seed=13) * 16).cast("int").alias("__salt")
    partial = (
        df.select(*group_cols, F.col(sum_col), salt)
        .groupBy(*group_cols, "__salt")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(F.col(sum_col).cast("decimal(12,2)")).alias("__s"),
        )
    )
    return partial.groupBy(*group_cols).agg(
        F.sum("__n").cast("bigint").alias("n_rows"),
        F.sum("__s").cast("decimal(38,2)").alias(f"sum_{sum_col}"),
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the big side salted and the small side replicated.

    ``small`` is exploded 8× (one copy per salt value), the skewed
    ``big`` side gets a random salt, and the join runs on (key, salt) —
    a hot key's rows now land on 8 reducers instead of one. Result equals
    ``big.join(small, key, how)`` for inner / left joins (each big row
    still matches exactly its key's small rows).
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left joins")
    salt_b = (F.rand(seed=17) * 8).cast("int")
    big_s = big.withColumn("__salt", salt_b)
    small_s = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(8)]))
    )
    out = big_s.join(small_s, on=[key, "__salt"], how=how)
    return out.drop("__salt")
