"""Data-layout queries: the Z-order clustering key, oracle-gated.

``zorder_key`` emits the Morton key a Z-order clustered writer would sort
by — (user, hour) over the events stream, the classic two-predicate
audit-table layout. The key is pure shift/mask integer arithmetic
(``functions/zorder``), so the oracle twin is exact. Only the key is
computed: the engine writes no clustered layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.functions.zorder import (
    ZORDER_BITS,
    zorder_key,
    zorder_key_sql,
)
from etl_pipeline_excel_sql__spark.sources.registry import load_table

QUERIES: dict = {}
ORACLE: dict = {}

_MASK = 1 << ZORDER_BITS


def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event Z-order key over (user_id, epoch-hour), both
    ``pmod``-folded to the bit budget (folding coarsens locality for
    out-of-range coordinates, it never corrupts the key). A narrow map —
    zero shuffle at any scale."""
    ev = load_table(spark, "events", sf_dir)
    ua = F.pmod(F.col("user_id"), F.lit(_MASK))
    hb = F.pmod(
        F.expr("unix_micros(ts) div 3600000000"), F.lit(_MASK)
    )
    return ev.select(
        "event_id",
        ua.cast("bigint").alias("ua"),
        hb.cast("bigint").alias("hb"),
        zorder_key(ua, hb).alias("zkey"),
    )


_UA = f"(user_id % {_MASK})"
_HB = f"((epoch_us(ts) // 3600000000) % {_MASK})"

ORACLE["zorder_key"] = f"""
SELECT event_id,
       CAST({_UA} AS BIGINT) AS ua,
       CAST({_HB} AS BIGINT) AS hb,
       {zorder_key_sql(_UA, _HB)} AS zkey
FROM events
"""
QUERIES["zorder_key"] = q_zorder_key
