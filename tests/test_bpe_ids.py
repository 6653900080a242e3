"""bpe_doc_token_ids: the tokenizer last mile — id assignment contract,
decode round-trip, and document coverage."""

from __future__ import annotations

import pytest

from etl_pipeline_excel_sql__spark.operators.bpe import (
    bpe_doc_token_ids,
    bpe_train_merges,
    bpe_vocab_ids,
    word_frequencies,
)


def test_ids_decode_back_to_the_text(spark):
    texts = {
        1: "low lower lowest",
        2: "new newer newest low low",
        3: "",
        4: "x",
    }
    df = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    merges = [
        (r.left, r.right) for r in bpe_train_merges(df, 5).collect()
    ]
    words = word_frequencies(df)
    vocab = bpe_vocab_ids(words, merges)
    sym_of = {i: s for s, i in vocab}
    # id layout: alphabet sorted by code point, then merges in rank order
    alpha = sorted({c for t in texts.values() for c in t if c != " "})
    assert [sym_of[i] for i in range(len(alpha))] == alpha
    assert [sym_of[len(alpha) + i] for i in range(len(merges))] == [
        a + b for a, b in merges
    ]

    rows = {
        r.doc_id: (r.n_subwords, list(r.token_ids))
        for r in bpe_doc_token_ids(df, merges).collect()
    }
    assert set(rows) == set(texts)  # every doc, empty included
    assert rows[3] == (0, [])
    for d, t in texts.items():
        n, ids = rows[d]
        assert n == len(ids)
        # decoding the ids and stripping subword boundaries recovers the
        # whitespace-collapsed text exactly
        assert "".join(sym_of[i] for i in ids) == t.replace(" ", "")


def test_vocab_collision_raises(spark):
    df = spark.createDataFrame([("ab ab",)], ["text"])
    words = word_frequencies(df)
    with pytest.raises(ValueError, match="collides"):
        bpe_vocab_ids(words, [("a", "b"), ("a", "b")])


def test_pack_lm_sequences_reorders_nothing(spark):
    from etl_pipeline_excel_sql__spark.operators.bpe import pack_lm_sequences

    texts = {
        7: "low lower lowest",
        21: "new newer newest low low",
        3: "",
        40: "x y z",
        1001: "tail words here",
    }
    df = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    merges = [
        (r.left, r.right) for r in bpe_train_merges(df, 4).collect()
    ]
    ids = bpe_doc_token_ids(df, merges)
    by_doc = {
        r.doc_id: list(r.token_ids) for r in ids.collect()
    }
    stream = [i for d in sorted(by_doc) for i in by_doc[d]]
    L = 5
    # range_size=2 forces several prefix-sum ranges
    rows = sorted(
        (r.seq_id, r.n_filled, list(r.token_ids))
        for r in pack_lm_sequences(ids, L, range_size=2).collect()
    )
    # sequences tile the concatenated stream exactly, in order
    assert [i for _, _, tids in rows for i in tids] == stream
    assert [s for s, _, _ in rows] == list(range(len(rows)))
    assert all(n == len(t) for _, n, t in rows)
    assert all(n == L for _, n, _ in rows[:-1])  # only the tail is short
    assert rows[-1][1] == (len(stream) - 1) % L + 1


def test_corpus_token_ids_invariants(spark, sf_dir):
    from etl_pipeline_excel_sql__spark.plans.analytics5_queries import (
        q_bpe_token_ids,
    )
    from etl_pipeline_excel_sql__spark.sources.registry import load_table

    out = q_bpe_token_ids(spark, sf_dir)
    docs = load_table(spark, "documents", sf_dir)
    rows = out.collect()
    assert len(rows) == docs.count()
    # registered query renders token_ids space-delimited (harness shape)
    assert all(r.n_subwords == len(r.token_ids.split()) for r in rows)
    # merges shrink the sequence: subword count never exceeds char count
    # (sans spaces) and never undercuts the word count
    chars = {
        r.doc_id: (len(r.text.replace(" ", "")), len(r.text.split()))
        for r in docs.select("doc_id", "text").collect()
    }
    for r in rows:
        n_chars, n_words = chars[r.doc_id]
        assert n_words <= r.n_subwords <= n_chars
