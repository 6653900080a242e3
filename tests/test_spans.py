"""Span-level exact-substring dedup: parity with a naive transcription
of the keep-one-canonical-copy spec, plus structural invariants on the
real corpus."""

from __future__ import annotations

from etl_pipeline_excel_sql__spark.operators.spans import (
    contaminated_spans,
    duplicated_spans,
    kgram_rows,
    trim_duplicated_spans,
)


def _naive_cut(texts: dict[int, str], k: int, min_count: int = 2):
    """(doc, pos) occurrences to remove, per the module spec."""
    occ: dict[str, list[tuple[int, int]]] = {}
    for d, t in texts.items():
        toks = t.split()
        for i in range(len(toks) - k + 1):
            occ.setdefault(" ".join(toks[i : i + k]), []).append((d, i))
    cut: list[tuple[int, int]] = []
    for lst in occ.values():
        if len(lst) >= min_count:
            keep = min(lst)
            cut += [x for x in lst if x != keep]
    return cut


def _naive_spans(texts: dict[int, str], k: int, min_count: int = 2):
    by_doc: dict[int, list[int]] = {}
    for d, p in _naive_cut(texts, k, min_count):
        by_doc.setdefault(d, []).append(p)
    spans = set()
    for d, ps in by_doc.items():
        ps.sort()
        s, e = ps[0], ps[0] + k
        for p in ps[1:]:
            if p > e:
                spans.add((d, s, e, e - s))
                s, e = p, p + k
            else:
                e = max(e, p + k)
        spans.add((d, s, e, e - s))
    return spans


def _naive_trim(texts: dict[int, str], k: int, min_count: int = 2):
    covered: dict[int, set[int]] = {}
    for d, p in _naive_cut(texts, k, min_count):
        covered.setdefault(d, set()).update(range(p, p + k))
    out = {}
    for d, t in texts.items():
        toks = t.split()
        cov = covered.get(d, set())
        kept = [tok for i, tok in enumerate(toks) if i not in cov]
        out[d] = (len(toks), len(toks) - len(kept), " ".join(kept))
    return out


#: crafted corpus: a sentence duplicated across docs, intra-doc
#: repetition, overlapping duplicated windows, a doc shorter than k,
#: an empty doc, and a doc that is ONE duplicated region end to end.
_K = 3
_TEXTS = {
    1: "the quick brown fox jumps over the lazy dog today",
    2: "intro words the quick brown fox jumps over the lazy dog today trailing bit",
    3: "aa bb aa bb aa bb aa bb",
    4: "short doc",
    5: "",
    6: "the quick brown fox jumps over the lazy dog today",
    7: "unique seven eight nine ten eleven twelve",
}


def _df(spark):
    return spark.createDataFrame(
        [(d, t) for d, t in _TEXTS.items()], ["doc_id", "text"]
    )


def test_spans_match_naive(spark):
    got = {
        (r.doc_id, r.span_start, r.span_end, r.span_len)
        for r in duplicated_spans(_df(spark), k=_K).collect()
    }
    want = _naive_spans(_TEXTS, _K)
    assert got == want
    assert want  # corpus actually has duplicated spans
    # doc 6 is an exact copy of doc 1 -> fully covered
    n6 = len(_TEXTS[6].split())
    assert (6, 0, n6, n6) in got
    # the short, empty, and unique docs never appear
    assert not {d for d, *_ in got} & {4, 5, 7}


def test_trim_matches_naive_and_covers_every_doc(spark):
    got = {
        r.doc_id: (r.n_tokens, r.n_cut, r.text_clean)
        for r in trim_duplicated_spans(_df(spark), k=_K).collect()
    }
    assert got == _naive_trim(_TEXTS, _K)
    assert set(got) == set(_TEXTS)  # every doc present, even empty/full-cut
    assert got[6][2] == ""  # the exact copy is fully cut
    assert got[5] == (0, 0, "")


def test_contaminated_spans_against_bench(spark):
    df = _df(spark)
    bench = df.filter("doc_id = 1")
    train = df.filter("doc_id <> 1")
    got = {
        (r.doc_id, r.span_start, r.span_end)
        for r in contaminated_spans(
            train, kgram_rows(bench, _K).select("h"), k=_K
        ).collect()
    }
    # docs 2 and 6 quote doc 1's sentence; doc 6 entirely
    n6 = len(_TEXTS[6].split())
    assert (6, 0, n6) in got
    assert any(d == 2 for d, *_ in got)
    assert not any(d in (3, 4, 5, 7) for d, *_ in got)


def test_random_tiny_alphabet_parity(spark):
    """Random 2-letter corpora maximize overlapping/adjacent duplicated
    windows and intra-doc repetition — the island-merge edge cases a
    crafted corpus can miss. Full parity with the naive transcription
    for both the spans and the trim."""
    import random

    for seed in (3, 11):
        rng = random.Random(seed)
        texts = {
            d: " ".join(
                rng.choice("ab") for _ in range(rng.randint(0, 25))
            )
            for d in range(1, 13)
        }
        df = spark.createDataFrame(
            [(d, t) for d, t in texts.items()], ["doc_id", "text"]
        )
        k = 2
        got = {
            (r.doc_id, r.span_start, r.span_end, r.span_len)
            for r in duplicated_spans(df, k=k).collect()
        }
        assert got == _naive_spans(texts, k), f"seed={seed}"
        trim = {
            r.doc_id: (r.n_tokens, r.n_cut, r.text_clean)
            for r in trim_duplicated_spans(df, k=k).collect()
        }
        assert trim == _naive_trim(texts, k), f"seed={seed}"


def test_incremental_spans_cross_set_only(spark):
    """Incremental span dedup marks batch regions present in the CORPUS
    — never regions duplicated only within the batch itself."""
    batch = {1: "alpha beta gamma delta", 2: "alpha beta gamma delta"}
    corpus = {10: "unrelated words here now", 11: "beta gamma delta echo"}
    dfb = spark.createDataFrame(list(batch.items()), ["doc_id", "text"])
    dfc = spark.createDataFrame(list(corpus.items()), ["doc_id", "text"])
    k = 3
    got = {
        (r.doc_id, r.span_start, r.span_end)
        for r in contaminated_spans(
            dfb, kgram_rows(dfc, k).select("h"), k=k
        ).collect()
    }
    # "beta gamma delta" (positions 1..4) is in the corpus; the
    # batch-internal duplication of the full sentence is NOT flagged
    assert got == {(1, 1, 4), (2, 1, 4)}


def test_corpus_invariants(spark, sf_dir):
    from etl_pipeline_excel_sql__spark.plans.spans_queries import (
        SPAN_K,
        q_dedup_span_trim,
        q_dedup_spans,
    )
    from etl_pipeline_excel_sql__spark.sources.registry import load_table

    spans = q_dedup_spans(spark, sf_dir).collect()
    assert spans, "synthetic corpus seeds duplicated passages"
    assert all(r.span_len >= SPAN_K for r in spans)
    assert all(0 <= r.span_start < r.span_end for r in spans)

    trim = q_dedup_span_trim(spark, sf_dir)
    n_docs = load_table(spark, "documents", sf_dir).count()
    assert trim.count() == n_docs
    rows = trim.collect()
    assert all(0 <= r.n_cut <= r.n_tokens for r in rows)
    # total cut tokens == total span length per doc (spans partition the
    # covered positions)
    cut_by_doc = {}
    for r in spans:
        cut_by_doc[r.doc_id] = cut_by_doc.get(r.doc_id, 0) + r.span_len
    for r in rows:
        assert r.n_cut == cut_by_doc.get(r.doc_id, 0)


def test_cut_occurrences_rejects_out_of_bounds_packed_key(spark):
    """A (doc_id, pos) outside the packed int64 bounds must fail loudly,
    never silently alias keeper keys (ADVICE r7)."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from etl_pipeline_excel_sql__spark.operators.spans import (
        _POS_BITS,
        cut_occurrences,
    )

    bad_pos = spark.createDataFrame(
        [(1, 1 << _POS_BITS, "h1"), (2, 0, "h1")], ["doc_id", "pos", "h"]
    )
    with pytest.raises(SparkRuntimeException, match="packed-key"):
        cut_occurrences(bad_pos).collect()
    bad_doc = spark.createDataFrame(
        [(1 << 42, 0, "h1"), (2, 0, "h1")], ["doc_id", "pos", "h"]
    )
    with pytest.raises(SparkRuntimeException, match="packed-key"):
        cut_occurrences(bad_doc).collect()
    # in-bounds corpus is untouched by the guard
    ok = spark.createDataFrame(
        [(1, 5, "h1"), (2, 0, "h1"), (3, 7, "h2")], ["doc_id", "pos", "h"]
    )
    got = {(r.doc_id, r.pos) for r in cut_occurrences(ok).collect()}
    assert got == {(2, 0)}  # keeper is (1,5) — min packed key; h2 unique
