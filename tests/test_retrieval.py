"""BM25 + RRF hybrid retrieval: semantics pinned against tiny
hand-computable corpora, plus the scale/shape contracts (broadcast
query side, bounded fusion join)."""

from __future__ import annotations

import math
from fractions import Fraction

from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.operators.retrieval import (
    BM25_B,
    BM25_K1,
    BM25_SCALE,
    RRF_K,
    RRF_SCALE,
    _rational_coeffs,
    bm25_scores,
    bm25_topk,
    rrf_fuse,
)


def _bm25_ref(docs, queries, k1=BM25_K1, b=BM25_B, exact=True):
    """Independent BM25 (rational idf), micro-unit quantized — the
    operator must match this bit-for-bit. ``exact=True`` evaluates the
    per-term contribution in Fraction arithmetic (the TRUE floor, what
    the registered float-free path must produce); ``exact=False`` is
    the round-8 double chain, kept to pin how far the doubles sit from
    the floors on the test corpora."""
    toks = {d: t.split() for d, t in docs}
    n = len(docs)
    total = sum(len(t) for t in toks.values())
    avgdl = float(total) / float(n)
    df: dict[str, int] = {}
    for t in toks.values():
        for term in set(t):
            df[term] = df.get(term, 0) + 1
    fk1, fb = Fraction(str(k1)), Fraction(str(b))
    out = {}
    for qid, terms in queries:
        for d, t in toks.items():
            score, hits = 0, 0
            for term in terms:
                tf = t.count(term)
                if not tf:
                    continue
                hits += 1
                if exact:
                    idf = Fraction(2 * (n - df[term]) + 1, 2 * df[term] + 1)
                    dnorm = (1 - fb) + fb * Fraction(len(t) * n, total)
                    contrib = idf * (tf * (fk1 + 1)) / (tf + fk1 * dnorm)
                    score += int(contrib * BM25_SCALE)  # exact floor
                else:
                    idf = (float(n - df[term]) + 0.5) / (float(df[term]) + 0.5)
                    dn = (1.0 - b) + b * (float(len(t)) / avgdl)
                    contrib = idf * ((tf * (k1 + 1.0)) / (tf + k1 * dn))
                    score += math.floor(contrib * BM25_SCALE)
            if hits:
                out[(qid, d)] = (hits, score)
    return out


def test_rational_coeffs_defaults_and_reduction():
    assert _rational_coeffs(BM25_K1, BM25_B, BM25_SCALE) == (
        22_000_000,
        10,
        3,
        9,
    )
    # k1=2 (p/q=2/1), b=1/2 (r/s=1/2), scale=10: (60,2,2,2) / gcd 2
    assert _rational_coeffs(2.0, 0.5, 10) == (30, 1, 1, 1)


def test_bm25_matches_reference_quantized(spark):
    docs = [
        (1, "cat dog cat"),
        (2, "dog bird"),
        (3, "cat cat cat fish fish"),
        (4, "bird bird bird bird"),
    ]
    queries = [(0, ["cat", "bird"]), (1, ["fish"])]
    ddf = spark.createDataFrame(docs, ["doc_id", "text"])
    qdf = spark.createDataFrame(
        [(q, t) for q, ts in queries for t in ts], "query_id INT, term STRING"
    )
    got = {
        (r.query_id, r.doc_id): (r.n_hit, r.score_u)
        for r in bm25_scores(ddf, qdf).collect()
    }
    assert got == _bm25_ref(docs, queries)


def test_bm25_topk_rank_determinism(spark):
    # two docs with identical scores -> tie breaks on doc_id ascending
    docs = [(7, "x y"), (3, "x y"), (5, "z")]
    ddf = spark.createDataFrame(docs, ["doc_id", "text"])
    qdf = spark.createDataFrame([(0, "x")], "query_id INT, term STRING")
    rows = bm25_topk(ddf, qdf, k=5).orderBy("rank").collect()
    assert [(r.doc_id, r.rank) for r in rows] == [(3, 1), (7, 2)]


def test_rrf_fuse_integer_arithmetic_and_outer_semantics(spark):
    a = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2)], "query_id INT, doc_id INT, rank INT"
    )
    b = spark.createDataFrame(
        [(0, 11, 1), (0, 12, 2)], "query_id INT, doc_id INT, rank INT"
    )
    got = {
        r.doc_id: (r.rrf_u, r.fused_rank)
        for r in rrf_fuse(a, b).collect()
    }
    c1 = RRF_SCALE // (RRF_K + 1)
    c2 = RRF_SCALE // (RRF_K + 2)
    # doc 11 appears in both lists; 10 and 12 in one each
    assert got == {
        11: (c1 + c2, 1),
        10: (c1, 2),
        12: (c2, 3),
    }


def test_bm25_plan_shape(spark, sf_dir):
    """The query side broadcasts; the corpus term table must not."""
    from etl_pipeline_excel_sql__spark.plans.retrieval_queries import q_bm25_topk

    plan = q_bm25_topk(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # the bounded query list
    df = q_bm25_topk(spark, sf_dir)
    rows = df.collect()
    assert rows, "corpus contains the query terms"
    # per-query ranks are 1..k contiguous
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r.rank)
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), q
    assert all(r.n_hit >= 1 for r in rows)


def test_bm25_integer_scores_pin_double_form(spark, sf_dir):
    """VERDICT r8 task #1 'done' gate: the float-free registered scores
    equal the round-8 double-chain scores on the full smoke corpus —
    i.e. the rewrite changed the REPRESENTATION of the arithmetic, not
    one value of it (on this host; the driver's DuckDB build is exactly
    where the double form diverged)."""
    from etl_pipeline_excel_sql__spark.plans.retrieval_queries import (
        RETRIEVAL_QUERIES,
        _query_terms_df,
    )
    from etl_pipeline_excel_sql__spark.sources.registry import load_table

    docs = [
        (r.doc_id, r.text)
        for r in load_table(spark, "documents", sf_dir)
        .select("doc_id", "text")
        .collect()
    ]
    exact = _bm25_ref(docs, RETRIEVAL_QUERIES, exact=True)
    dbl = _bm25_ref(docs, RETRIEVAL_QUERIES, exact=False)
    assert exact == dbl, "double form sat on a floor boundary even here"
    got = {
        (r.query_id, r.doc_id): (r.n_hit, r.score_u)
        for r in bm25_scores(
            load_table(spark, "documents", sf_dir), _query_terms_df(spark)
        ).collect()
    }
    assert got == exact


def test_bm25_serve_roundtrip_is_score_invisible(spark, sf_dir):
    """bm25_serve_topk (save → load → score) returns exactly what the
    in-memory bm25_topk returns."""
    from etl_pipeline_excel_sql__spark.plans.retrieval_queries import (
        q_bm25_serve_topk,
        q_bm25_topk,
    )

    direct = sorted(map(tuple, q_bm25_topk(spark, sf_dir).collect()))
    served = sorted(map(tuple, q_bm25_serve_topk(spark, sf_dir).collect()))
    assert served == direct


def test_phrase_match_counts_hand_corpus(spark):
    """Anchor-trick semantics on a hand-checkable corpus, including
    overlapping occurrences and a repeated-term phrase."""
    from etl_pipeline_excel_sql__spark.operators.retrieval import (
        phrase_match_counts,
        phrase_topk,
    )

    docs = [
        (1, "a b a b a"),      # "a b" twice; "a b a" twice (overlap)
        (2, "b a b"),          # "a b" once
        (3, "c c c"),          # "c c" twice (repeated-term phrase)
        (4, "a x b"),          # no phrase hits
    ]
    ddf = spark.createDataFrame(docs, ["doc_id", "text"])
    phrases = spark.createDataFrame(
        [
            (0, 0, "a", 2), (0, 1, "b", 2),            # "a b"
            (1, 0, "a", 3), (1, 1, "b", 3), (1, 2, "a", 3),  # "a b a"
            (2, 0, "c", 2), (2, 1, "c", 2),            # "c c"
        ],
        "phrase_id INT, slot INT, term STRING, phrase_len INT",
    )
    got = {
        (r.phrase_id, r.doc_id): r.n_occ
        for r in phrase_match_counts(ddf, phrases).collect()
    }
    assert got == {
        (0, 1): 2,
        (0, 2): 1,
        (1, 1): 2,
        (2, 3): 2,
    }
    ranks = {
        (r.phrase_id, r.doc_id): r.rank
        for r in phrase_topk(ddf, phrases, k=5).collect()
    }
    # phrase 0: doc 1 (2 occ) then doc 2 (1 occ)
    assert ranks[(0, 1)] == 1 and ranks[(0, 2)] == 2


def test_phrase_plan_broadcasts_query_side(spark, sf_dir):
    from etl_pipeline_excel_sql__spark.plans.retrieval_queries import (
        q_phrase_search_topk,
    )

    plan = (
        q_phrase_search_topk(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


def test_bm25_index_upsert_equals_full_rebuild(spark):
    from etl_pipeline_excel_sql__spark.operators.retrieval import (
        bm25_build_index,
        bm25_index_upsert,
        bm25_scores_from_index,
    )

    docs = [(1, "cat dog"), (2, "dog bird"), (3, "cat cat fish"), (4, "bird")]
    ddf = spark.createDataFrame(docs, ["doc_id", "text"])
    qdf = spark.createDataFrame(
        [(0, "cat"), (0, "bird")], "query_id INT, term STRING"
    )
    full = bm25_build_index(ddf)
    merged = bm25_index_upsert(
        bm25_build_index(ddf.filter("doc_id <= 2")), ddf.filter("doc_id > 2")
    )
    assert (merged.n_docs, merged.total_toks) == (full.n_docs, full.total_toks)
    a = sorted(map(tuple, bm25_scores_from_index(full, qdf).collect()))
    b = sorted(map(tuple, bm25_scores_from_index(merged, qdf).collect()))
    assert a == b


def test_bm25_index_upsert_rejects_overlapping_doc_ids(spark):
    """Overlap must fail AT UPSERT TIME (eager), not lazily on dl — a
    lazy dl-only guard lets tf/dfreq double-count for consumers that
    never evaluate dl (save_bm25_index writes tf first)."""
    import pytest

    from etl_pipeline_excel_sql__spark.operators.retrieval import (
        bm25_build_index,
        bm25_index_upsert,
    )

    ddf = spark.createDataFrame([(1, "cat dog")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="present in both"):
        bm25_index_upsert(bm25_build_index(ddf), ddf)  # same doc_id 1
