"""Property-based tests for the ops primitives: the two-phase global
ordinal operator against a naive driver-side sort, and the engine's
portable 60-bit hash against an INDEPENDENT Python hashlib recompute
(the same definition the DuckDB oracles re-derive in SQL)."""

from __future__ import annotations

import hashlib

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.functions.hashing import md5_hash60
from etl_pipeline_excel_sql__spark.operators.ordering import (
    global_row_numbers,
)

BUCKETS = st.one_of(
    st.none(), st.integers(min_value=0, max_value=4)
)  # None: NULL buckets must survive the null-safe offset join
KEYS = st.integers(min_value=-20, max_value=20)

rows_strategy = st.lists(
    st.tuples(BUCKETS, KEYS), min_size=1, max_size=40
)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(rows=rows_strategy)
def test_global_row_numbers_equals_naive_sort(spark, rows):
    """The two-phase decomposition must reproduce the naive global
    row_number over (bucket, key) for any shape — empty buckets, all
    ties, single bucket, skewed pile-ups. Ties in (bucket, key) are
    value-identical rows, so the (bucket, key, rn) multiset is the
    deterministic artifact to compare."""
    df = spark.createDataFrame(rows, "b int, k int")
    got = sorted(
        ((r.b, r.k, r.rn) for r in global_row_numbers(df, "b", ["k"]).collect()),
        key=lambda t: (t[0] is not None, t),
    )
    # NULL buckets number first (Spark asc_nulls_first)
    ordered = sorted(rows, key=lambda t: (t[0] is not None, t))
    want = sorted(
        ((b, k, i + 1) for i, (b, k) in enumerate(ordered)),
        key=lambda t: (t[0] is not None, t),
    )
    assert got == want


TEXTS = st.lists(
    st.text(
        alphabet=st.characters(codec="ascii", exclude_characters="\x00"),
        min_size=0,
        max_size=30,
    ),
    min_size=1,
    max_size=20,
    unique=True,
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(texts=TEXTS)
def test_md5_hash60_matches_hashlib(spark, texts):
    """md5_hash60 is the cross-engine contract every sampler, sharder,
    and fingerprint builds on; verify it against hashlib, not another
    SQL engine."""
    df = spark.createDataFrame([(t,) for t in texts], "s string")
    got = {
        r.s: r.h
        for r in df.select("s", md5_hash60(F.col("s")).alias("h")).collect()
    }
    for t in texts:
        want = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16)
        assert got[t] == want, t
