"""Invariant tests for the round-4 corpus operators (oracle parity is
covered by tools/check_oracle.py; these pin the semantic edges)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.plans.corpus2_queries import (
    CHUNK_S,
    CHUNK_W,
    QUOTA_CAP,
    q_doc_chunk_windows,
    q_domain_quota_sample,
    q_ngram_lm_score,
    q_vocab_coverage,
)


def test_chunk_windows_cover_and_overlap(spark, sf_dir):
    chunks = q_doc_chunk_windows(spark, sf_dir)
    # every chunk is non-empty and at most W tokens
    bad = chunks.filter(
        (F.col("n_chunk_tokens") < 1) | (F.col("n_chunk_tokens") > CHUNK_W)
    ).count()
    assert bad == 0
    # chunk indexes are dense from 0 per doc, and only the LAST chunk of a
    # doc may be shorter than W (interior chunks always fill the window)
    agg = chunks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("chunk_idx").alias("mx"),
        F.min("chunk_idx").alias("mn"),
    )
    assert agg.filter(
        (F.col("mn") != 0) | (F.col("mx") != F.col("n") - 1)
    ).count() == 0
    # exact shape: chunk i holds min(W, n_doc - i*S) tokens, where n_doc
    # is recoverable as max(start + len) over the doc's chunks
    ndoc = chunks.groupBy("doc_id").agg(
        F.max(F.col("chunk_idx") * CHUNK_S + F.col("n_chunk_tokens")).alias(
            "n_doc"
        )
    )
    wrong_len = chunks.join(ndoc, "doc_id").filter(
        F.col("n_chunk_tokens")
        != F.least(
            F.lit(CHUNK_W), F.col("n_doc") - F.col("chunk_idx") * CHUNK_S
        )
    )
    assert wrong_len.count() == 0
    # stride: chunk i starts at i*S, so a doc with n tokens has
    # ceil(n/S) chunks — spot-check via one reconstructed doc
    row = chunks.filter(F.col("doc_id") == 1).orderBy("chunk_idx").collect()
    if len(row) > 1:
        first = row[0]["chunk_text"].split()
        second = row[1]["chunk_text"].split()
        assert first[CHUNK_S:] == second[: CHUNK_W - CHUNK_S]


def test_domain_quota_cap_holds(spark, sf_dir):
    out = q_domain_quota_sample(spark, sf_dir)
    per = out.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    assert per.filter(F.col("n") > QUOTA_CAP).count() == 0
    # deterministic: two runs pick the same survivors
    a = {r.doc_id for r in out.collect()}
    b = {r.doc_id for r in q_domain_quota_sample(spark, sf_dir).collect()}
    assert a == b


def test_ngram_lm_score_bounds(spark, sf_dir):
    out = q_ngram_lm_score(spark, sf_dir)
    # scaled conditional probabilities lie in (0, LM_SCALE]; the floor
    # mean therefore lies in [0, LM_SCALE]
    assert out.filter(
        (F.col("lm_score_scaled") < 0)
        | (F.col("lm_score_scaled") > 1_000_000)
    ).count() == 0
    assert out.filter(F.col("n_bigrams") < 1).count() == 0


def test_vocab_coverage_bounds(spark, sf_dir):
    out = q_vocab_coverage(spark, sf_dir)
    assert out.filter(
        (F.col("n_oov") > F.col("n_tokens"))
        | (F.col("oov_bp") < 0)
        | (F.col("oov_bp") > 10_000)
    ).count() == 0


def test_dedup_incremental_equals_filtered_self_join(spark, sf_dir):
    """The cross-set band join must find exactly the self-join's pairs
    that straddle the batch/corpus split — no more (no within-side
    pairs), no fewer (no cross pair lost to the side filter)."""
    from pyspark.sql import functions as F

    from etl_pipeline_excel_sql__spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from etl_pipeline_excel_sql__spark.plans.pipeline_queries import (
        NEW_SOURCES,
        q_dedup_incremental,
    )
    from etl_pipeline_excel_sql__spark.sources.registry import load_table

    got = sorted(
        (r["new_id"], r["corpus_id"], round(r["jaccard_sim"], 9))
        for r in q_dedup_incremental(spark, sf_dir).collect()
    )
    docs = load_table(spark, "documents", sf_dir)
    new_ids = {
        r["doc_id"]
        for r in docs.filter(F.col("source").isin(*NEW_SOURCES))
        .select("doc_id")
        .collect()
    }
    allp = minhash_lsh_pairs(docs).collect()
    want = []
    for r in allp:
        a, b, j = r["id_a"], r["id_b"], round(r["jaccard_sim"], 9)
        if (a in new_ids) != (b in new_ids):
            n, c = (a, b) if a in new_ids else (b, a)
            want.append((n, c, j))
    assert got == sorted(want)
    assert got  # the corpus ships cross-split near-dups; zero means a bug


def test_bpe_pair_counts_topk_properties(spark, sf_dir):
    from etl_pipeline_excel_sql__spark.plans.analytics5_queries import (
        BPE_PAIR_K,
        q_bpe_pair_counts,
    )

    rows = q_bpe_pair_counts(spark, sf_dir).collect()
    assert len(rows) == BPE_PAIR_K
    counts = [r["n_occurrences"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    assert all(len(r["pair"]) == 2 for r in rows)
    # plan: global top-k must be a TakeOrdered, not a full sort
    plan = (
        q_bpe_pair_counts(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_bpe_train_matches_reference_implementation(spark):
    """Parity with a literal transcription of the published algorithm
    (Sennrich et al. 2016, get_stats/merge_vocab) on a tricky corpus:
    overlapping pairs, ties, multi-char merges chaining."""
    from etl_pipeline_excel_sql__spark.operators.bpe import bpe_train_merges

    texts = ["low lower lowest", "new newer newest", "aaaa ab", "low low"]

    def reference(texts, n):
        vocab = {}
        for t in texts:
            for w in t.split():
                vocab[tuple(w)] = vocab.get(tuple(w), 0) + 1
        out = []
        for rank in range(n):
            stats = {}
            for syms, freq in vocab.items():
                for i in range(len(syms) - 1):
                    stats[(syms[i], syms[i + 1])] = (
                        stats.get((syms[i], syms[i + 1]), 0) + freq
                    )
            if not stats:
                break
            (a, b), cnt = min(
                stats.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            out.append((rank, a, b, cnt))
            nxt = {}
            for syms, freq in vocab.items():
                merged, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                        merged.append(a + b)
                        i += 2
                    else:
                        merged.append(syms[i])
                        i += 1
                nxt[tuple(merged)] = nxt.get(tuple(merged), 0) + freq
            vocab = nxt
        return out

    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    got = [
        (r.merge_rank, r.left, r.right, r.pair_count)
        for r in bpe_train_merges(df, 8).collect()
    ]
    assert got == reference(texts, 8)


def test_bpe_train_early_stop_and_validation(spark):
    import pytest

    from etl_pipeline_excel_sql__spark.operators.bpe import bpe_train_merges

    # single-char words: no adjacent pair ever -> empty merge table
    df = spark.createDataFrame([("a b c a",)], ["text"])
    assert bpe_train_merges(df, 4).count() == 0
    # "ab" has exactly one merge; asking for 5 stops after 1
    df2 = spark.createDataFrame([("ab ab",)], ["text"])
    got = bpe_train_merges(df2, 5).collect()
    assert [(r.merge_rank, r.left, r.right, r.pair_count) for r in got] == [
        (0, "a", "b", 2)
    ]
    with pytest.raises(ValueError):
        bpe_train_merges(df, 0)


def test_bpe_encode_applies_merges_in_order(spark):
    """Train-then-apply: encoding with the trained merge list reproduces
    the reference algorithm's final symbol sequences, including chained
    multi-char merges; subword vocab counts weight by word frequency."""
    from etl_pipeline_excel_sql__spark.operators.bpe import (
        bpe_encode_words,
        bpe_subword_vocab,
        bpe_train_merges,
    )

    df = spark.createDataFrame(
        [("low low low lower",), ("newest lowest",)], ["text"]
    )
    merges = [
        (r.left, r.right)
        for r in bpe_train_merges(df, 4).collect()
    ]
    enc = {
        r.w: (r.freq, list(r.syms))
        for r in bpe_encode_words(df, merges).collect()
    }
    # reference apply: start from chars, replay merges left-to-right
    def ref_apply(w):
        syms = list(w)
        for a, b in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    words = {"low": 3, "lower": 1, "newest": 1, "lowest": 1}
    assert enc == {w: (f, ref_apply(w)) for w, f in words.items()}

    vocab = {
        r.subword: r.n_occurrences
        for r in bpe_subword_vocab(df, merges).collect()
    }
    want: dict[str, int] = {}
    for w, f in words.items():
        for s in ref_apply(w):
            want[s] = want.get(s, 0) + f
    assert vocab == want
