"""Exact-recall guarantee of the prefix-filter Jaccard join: against a
brute-force all-pairs Python reference, the operator must find EVERY
pair at-or-above threshold and nothing below it — the property bottom-k
sketch blocking cannot promise."""

from __future__ import annotations


def _shingles(text: str, n: int = 3) -> set[str]:
    toks = text.split()
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def _brute(docs: list[tuple[int, str]], p: int, q: int) -> dict:
    out = {}
    for i, (ia, ta) in enumerate(docs):
        sa = _shingles(ta)
        for ib, tb in docs[i + 1 :]:
            sb = _shingles(tb)
            inter = len(sa & sb)
            if inter * (p + q) >= p * (len(sa) + len(sb)):
                lo, hi = min(ia, ib), max(ia, ib)
                out[(lo, hi)] = (
                    inter,
                    len(sa) if ia == lo else len(sb),
                    len(sb) if ia == lo else len(sa),
                    inter * 1_000_000 // (len(sa) + len(sb) - inter),
                )
    return out


def test_prefix_join_matches_brute_force_exactly(spark):
    from etl_pipeline_excel_sql__spark.operators.dedup import (
        jaccard_prefix_pairs,
    )

    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    docs = []
    # 12 base docs of rotating 8-word windows, plus clones and near-clones
    for i in range(12):
        body = " ".join(words[(i + j) % len(words)] for j in range(8))
        docs.append((i, body))
    docs.append((100, docs[0][1]))                      # exact clone of 0
    docs.append((101, docs[1][1] + " omega"))           # near-clone of 1
    docs.append((102, "solo unique text nothing shared here at all"))
    p, q = 1, 2
    expect = _brute(docs, p, q)
    ddf = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"]): (
            r["inter"],
            r["size_a"],
            r["size_b"],
            r["jaccard_ppm"],
        )
        for r in jaccard_prefix_pairs(
            ddf, threshold_num=p, threshold_den=q
        ).collect()
    }
    assert got == expect
    assert (0, 100) in got  # the planted exact clone survives
    assert got[(0, 100)][3] == 1_000_000


def test_prefix_join_plan_has_no_cartesian(spark):
    from etl_pipeline_excel_sql__spark.plans import QUERIES

    plan = (
        QUERIES["dedup_jaccard_prefix"](spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
