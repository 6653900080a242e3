"""Z-order key: correctness against an independent bit-twiddle
reference, and the bit-width bounds."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.functions.zorder import zorder_key


def _ref_morton(a: int, b: int, bits: int) -> int:
    out = 0
    for i in range(bits):
        out |= ((a >> i) & 1) << (2 * i)
        out |= ((b >> i) & 1) << (2 * i + 1)
    return out


def test_key_matches_reference_bits(spark):
    rows = [(a, b) for a in (0, 1, 5, 100, 2**20, 2**21 + 3) for b in (0, 7, 2**19)]
    df = spark.createDataFrame(rows, ["a", "b"])
    got = {
        (r.a, r.b): r.z
        for r in df.select("a", "b", zorder_key(F.col("a"), F.col("b"), 21).alias("z")).collect()
    }
    # masking semantics: only the low 21 bits of each coordinate count
    assert got == {
        (a, b): _ref_morton(a & (2**21 - 1), b & (2**21 - 1), 21)
        for a, b in rows
    }


def test_zorder_bits_validation(spark):
    import pytest

    with pytest.raises(ValueError, match="bits"):
        zorder_key(F.lit(1), F.lit(2), bits=0)
