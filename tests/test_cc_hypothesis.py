"""Property-based connected-components test against a pure-Python
union-find as an INDEPENDENT oracle.

The DuckDB recursive-CTE oracle checks CC over the fixed corpus pair
graphs; this checks the ITERATIVE DataFrame loop over adversarial shapes
hypothesis generates itself: self-loops, parallel/reversed duplicate
edges, long paths (stressing the doubling rounds), stars, and disjoint
blobs. Properties checked: exact (member -> min-reachable-id) labeling
and per-component sizes.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

NODE = st.integers(min_value=0, max_value=14)  # small id space -> dense merges
edges = st.lists(st.tuples(NODE, NODE), min_size=1, max_size=30)


def _uf_components(pairs):
    """Reference labeling: classic union-find, label = min id per set."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    roots: dict[int, list[int]] = {}
    for n in list(parent):
        roots.setdefault(find(n), []).append(n)
    out = {}
    for members in roots.values():
        lbl = min(members)
        for m in members:
            out[m] = lbl
    return out


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(pairs=edges)
def test_cc_matches_union_find(spark, pairs):
    _assert_cc_matches(spark, pairs, algorithm="auto")


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(pairs=edges)
def test_cc_star_matches_union_find(spark, pairs):
    """Pure large/small-star alternation on the same adversarial shapes."""
    _assert_cc_matches(spark, pairs, algorithm="star")


def test_cc_long_path_converges(spark):
    """Path graph of length 200 (diameter 200): the round-4 propagation
    loop raised RuntimeError here; the star fallback must converge well
    inside the O(log^2 n) budget and still label by component minimum."""
    pairs = [(i, i + 1) for i in range(200)]
    _assert_cc_matches(spark, pairs, algorithm="auto")


def _assert_cc_matches(spark, pairs, algorithm):
    from etl_pipeline_excel_sql__spark.operators.clusters import (
        connected_components,
    )

    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {
        int(r.member_id): (int(r.cluster_id), int(r.cluster_size))
        for r in connected_components(df, algorithm=algorithm).collect()
    }
    want_lbl = _uf_components(pairs)
    sizes: dict[int, int] = {}
    for lbl in want_lbl.values():
        sizes[lbl] = sizes.get(lbl, 0) + 1
    want = {m: (lbl, sizes[lbl]) for m, lbl in want_lbl.items()}
    assert got == want
