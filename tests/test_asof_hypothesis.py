"""Property-based as-of join tests against pandas ``merge_asof`` as an
INDEPENDENT oracle (hypothesis generates the cases; pandas implements the
reference semantics the operator's docstring claims — kdb aj / pandas
defaults for backward, forward, and nearest-with-backward-ties).

The DuckDB oracle gate checks fixed corpus queries; this checks the
OPERATOR over adversarial shapes it generates itself: empty sides, all
ties, duplicate right times (deduped to the greatest value tuple, the
operator's documented convention), single-key pile-ups, interleaved and
disjoint time ranges.
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from etl_pipeline_excel_sql__spark.operators.asof import asof_join

KEYS = st.integers(min_value=0, max_value=2)  # few keys -> dense pile-ups
TIMES = st.integers(min_value=0, max_value=50)
VALS = st.integers(min_value=-100, max_value=100)

left_rows = st.lists(st.tuples(KEYS, TIMES), min_size=0, max_size=25)
right_rows = st.lists(st.tuples(KEYS, TIMES, VALS), min_size=0, max_size=25)


def _pandas_asof(lrows, rrows, direction):
    """Reference result via merge_asof, after applying the operator's
    documented right-side tie rule (greatest value tuple per (key, t))."""
    l = pd.DataFrame(lrows, columns=["k", "t"]).sort_values(["t", "k"])
    r = pd.DataFrame(rrows, columns=["k", "t", "v"])
    if len(r):
        r = (
            r.sort_values(["k", "t", "v"])
            .groupby(["k", "t"], as_index=False)
            .last()
        )
    r = r.sort_values(["t", "k"])
    if not len(l):
        return []
    if not len(r):
        return [(k, t, None) for k, t in zip(l.k, l.t)]
    out = pd.merge_asof(
        l, r, on="t", by="k", direction=direction, allow_exact_matches=True
    )
    return [
        (int(k), int(t), None if pd.isna(v) else int(v))
        for k, t, v in zip(out.k, out.t, out.v)
    ]


@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(lrows=left_rows, rrows=right_rows)
def test_asof_matches_pandas(spark, direction, lrows, rrows):
    left = spark.createDataFrame(lrows, "k long, t long")
    right = spark.createDataFrame(rrows, "k long, t2 long, v long")
    got = sorted(
        (r.k, r.t, r.v)
        for r in asof_join(
            left, right, "k", "t", "t2", ["v"], direction=direction
        ).collect()
    )
    want = sorted(_pandas_asof(lrows, rrows, direction))
    assert got == want
