"""Diff-engine tests: reference semantics + property check vs a naive model."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from etl_pipeline_excel_sql__spark.operators.diff import (
    dedup_last_wins,
    snapshot_diff,
    word_diff,
)


def _df(spark, rows, schema="k string, v string, ord int"):
    return spark.createDataFrame(rows, schema)


def test_last_wins_dedup(spark):
    df = _df(spark, [("a", "v1", 1), ("a", "v2", 2), ("b", "x", 1)])
    out = {r.k: r.v for r in dedup_last_wins(df, "k", "ord").collect()}
    assert out == {"a": "v2", "b": "x"}


def test_blank_keys_dropped_and_new_rows(spark):
    old = _df(spark, [("a", "1", 1), ("", "z", 2)])
    new = _df(spark, [("a", "1", 1), ("b", "2", 2), ("  ", "blank", 3)])
    d = snapshot_diff(old, new, "k", ["v"])
    rows = {r.k: r for r in d.collect()}
    # blank keys never appear (F3, Compare.py:61)
    assert set(rows) == {"a", "b"}
    assert rows["a"].row_status == "present"
    assert rows["b"].row_status == "new"
    # new rows skip cell classification (D2 precedence, Compare.py:179-185)
    assert rows["b"].v__status is None


def test_cell_classification(spark):
    old = _df(spark, [("a", "x", 1), ("b", "y", 1), ("c", "", 1), ("d", "q", 1)])
    new = _df(spark, [("a", "x", 1), ("b", "z", 1), ("c", "w", 1), ("d", "", 1)])
    d = {r.k: r for r in snapshot_diff(old, new, "k", ["v"]).collect()}
    assert d["a"].v__status == "same"
    assert d["b"].v__status == "changed"
    assert d["c"].v__status == "changed"   # '' -> value is changed, not cleared
    assert d["d"].v__status == "cleared"   # value -> '' is cleared (pink)


def test_word_diff_reference_example(spark):
    # FIXTURES.md B4: verified reference behavior (Compare.py:93-108)
    df = spark.createDataFrame(
        [("on track for spring", "delayed until fall spring extra")], "old string, new string"
    )
    out = df.select(word_diff("old", "new").alias("wd")).collect()[0].wd
    words = [w.word for w in out]
    same = [w.same for w in out]
    assert words == ["delayed", "until", "fall", "spring", "extra"]
    assert same == [False, False, False, True, False]


def test_word_diff_old_longer_truncates(spark):
    # reference iterates only new tokens: old overhang is ignored
    df = spark.createDataFrame([("a b c d", "a x")], "old string, new string")
    out = df.select(word_diff("old", "new").alias("wd")).collect()[0].wd
    assert [(w.word, w.same) for w in out] == [("a", True), ("x", False)]


def _naive_diff(old_rows, new_rows_):
    """Reference-faithful Python model of D1/D2/D3/J3 (last-wins by ord):
    key -> (row_status, status, old, new, words)."""
    lookup = {}
    for k, v, o in sorted(old_rows, key=lambda r: r[2]):
        k = (k or "").strip()
        if k:
            lookup[k] = (v or "").strip()
    out = {}
    for k, v, _ in new_rows_:
        k = (k or "").strip()
        if not k:
            continue
        v = (v or "").strip()
        if k not in lookup:
            out[k] = ("new", None, None, v, None)
            continue
        o = lookup[k]
        if o != "" and v == "":
            s = "cleared"
        elif v != o:
            s = "changed"
        else:
            s = "same"
        words = None
        if s == "changed" and v != "":
            # Compare.py:95-108: iterate NEW tokens; a token is the same
            # only when the old token at its index equals it.
            old_toks = o.split()
            words = [
                (w, i < len(old_toks) and old_toks[i] == w)
                for i, w in enumerate(v.split())
            ]
        out[k] = ("present", s, o, v, words)
    return out


@settings(max_examples=15, deadline=None)
@given(
    old=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c", "d", ""]),
            st.sampled_from(["", "x", "y", " y ", "x y", "a b c"]),
            st.integers(0, 10),
        ),
        max_size=8,
    ),
    new=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c", "e", ""]),
            st.sampled_from(["", "x", "z", "x z", " x  y w "]),
            st.integers(0, 10),
        ),
        max_size=8,
        unique_by=lambda r: r[0],
    ),
)
def test_diff_matches_naive_model(spark, old, new):
    # last-wins needs a unique (key, ord): dedupe collisions deterministically
    seen = {}
    for k, v, o in old:
        seen[(k, o)] = (k, v, o)
    old = list(seen.values())
    old_df = _df(spark, old) if old else _df(spark, [("zz", "x", 0)])
    if not old:
        old = [("zz", "x", 0)]
    new_df = _df(spark, new) if new else _df(spark, [("a", "x", 0)])
    if not new:
        new = [("a", "x", 0)]
    diff = snapshot_diff(
        old_df, new_df, "k", ["v"], word_diff_cols=["v"], old_order_col="ord"
    )
    got = {
        r.k: (
            r.row_status,
            r.v__status,
            r.v__old,
            r.v__new,
            None if r.v__words is None else [(w.word, w.same) for w in r.v__words],
        )
        for r in diff.collect()
    }
    assert got == _naive_diff(old, new)


def test_padded_old_keys_dedup_to_one_row(spark):
    # The old snapshot is keyed on the STRIPPED key (Compare.py:59-62):
    # "A" and " A" are one old row, last wins, so one new row renders once.
    old = _df(spark, [("A", "x", 1), (" A", "y", 2)])
    new = _df(spark, [("A", "y", 1)])
    rows = [
        (r.k, r.row_status, r.v__status, r.v__old, r.v__new)
        for r in snapshot_diff(old, new, "k", ["v"], old_order_col="ord").collect()
    ]
    assert rows == [("A", "present", "same", "y", "y")]


def test_diff_with_empty_old_snapshot(spark):
    old = _df(spark, [("x", "v", 1)]).filter("k = 'nope'")  # empty
    new = _df(spark, [("a", "1", 1), ("b", "2", 2)])
    d = snapshot_diff(old, new, "k", ["v"])
    rows = {r.k: r.row_status for r in d.collect()}
    assert rows == {"a": "new", "b": "new"}


def test_word_diff_blank_new_single_empty_token(spark):
    # blank new text tokenizes to one empty token; diff still total
    df = spark.createDataFrame([("a b", " ")], "old string, new string")
    out = df.select(word_diff("old", "new").alias("wd")).collect()[0].wd
    assert [(w.word, w.same) for w in out] == [("", False)]
