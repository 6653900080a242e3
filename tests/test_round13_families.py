"""Round-13 additions: cache invalidation on corpus regeneration
(ADVICE r12), the empty-donor reshard fix, and the incremental-manifest
capstone's split-stability contract."""

import pytest
from pyspark.sql import functions as F


def test_truth_cache_invalidates_on_corpus_regen(spark, tmp_path):
    """ADVICE r12: the persisted Jaccard-truth artifact is keyed on the
    corpus FINGERPRINT, not the path — regenerating the corpus at the
    same sf_dir in-process must rebuild the truth set, not serve the
    stale parquet."""
    from etl_pipeline_excel_sql__spark.functions.text import ws_tokens
    from etl_pipeline_excel_sql__spark.operators.dedup import shingle_rows
    from etl_pipeline_excel_sql__spark.plans import pipeline_queries as pq

    sf = str(tmp_path)

    def write_corpus(rows):
        spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1).write.mode(
            "overwrite"
        ).parquet(sf + "/documents.parquet")

    def truth_rows():
        docs = spark.read.parquet(sf + "/documents.parquet").filter(
            F.size(ws_tokens(F.col("text"))) > 0
        )
        exploded = shingle_rows(docs, pq.MINHASH_SHINGLE_N)
        got = pq._shared_jaccard_truth(spark, sf, docs, exploded)
        return sorted((r.id_a, r.id_b, r.jaccard_ppm) for r in got.collect())

    write_corpus(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "completely different text with no overlap at all"),
        ]
    )
    assert (1, 2, 1000000) in truth_rows()

    # regenerate the corpus AT THE SAME PATH: now 1 and 3 are the twins
    write_corpus(
        [
            (1, "an entirely new corpus version written in place"),
            (2, "completely different text with no overlap at all"),
            (3, "an entirely new corpus version written in place"),
        ]
    )
    rows2 = truth_rows()
    assert (1, 3, 1000000) in rows2, "stale truth artifact served"
    assert (1, 2, 1000000) not in rows2


def test_reshard_empty_donor_partition_deleted(spark, tmp_path):
    """ADVICE r12 (medium): a donor shard that loses ALL its rows has no
    keeper rows, so dynamic partition overwrite alone never rewrites its
    partition — the stale files would both survive AND duplicate every
    moved row. reshard_add_shard must delete the emptied donor partition
    explicitly; total row count and per-key placement must be exact."""
    import hashlib

    from etl_pipeline_excel_sql__spark.sinks.bucketed import (
        reshard_add_shard,
        ring_points,
        write_ring_sharded,
    )

    ring_space = 1 << 52
    n_old, vnodes = 2, 2

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def owner(key, pts):
        h = h60(f"doc:{key}") % ring_space
        return min(((p - h) % ring_space) * 256 + s for s, p in pts) % 256

    old_pts = [(s, p) for s, p in ring_points(n_old, vnodes, ring_space)]
    new_pts = [(s, p) for s, p in ring_points(n_old + 1, vnodes, ring_space)]
    movers_of_1, stayers_of_0 = [], []
    for k in range(4000):
        o_old, o_new = owner(k, old_pts), owner(k, new_pts)
        if o_old == 1 and o_new == n_old:
            movers_of_1.append(k)
        elif o_old == 0 and o_new == 0:
            stayers_of_0.append(k)
    assert len(movers_of_1) >= 50 and len(stayers_of_0) >= 50
    keys = movers_of_1[:200] + stayers_of_0[:200]

    path = str(tmp_path / "ring_tbl")
    df = spark.createDataFrame([(k,) for k in keys], ["doc_id"])
    write_ring_sharded(df, path, n_old, vnodes, ring_space)
    n_moved = reshard_add_shard(spark, path, n_old, vnodes, ring_space)
    assert n_moved == 200

    after = spark.read.parquet(path)
    rows = [(r.doc_id, int(r.shard)) for r in after.collect()]
    assert len(rows) == len(keys), "duplicated or lost rows after reshard"
    assert len({k for k, _ in rows}) == len(keys)
    placed = dict(rows)
    for k in movers_of_1[:200]:
        assert placed[k] == n_old
    for k in stayers_of_0[:200]:
        assert placed[k] == 0
    # the emptied donor's partition directory must be gone
    import os

    assert not os.path.exists(os.path.join(path, "shard=1"))


def test_keeper_promotes_clean_member(spark, tmp_path):
    """ADVICE r12: when a near-dup cluster's min-id quality-passing
    member is contaminated, the keeper rule must promote the best CLEAN
    quality-passing member instead of dropping the whole cluster —
    decontam participates in keeper selection in both twins."""
    from etl_pipeline_excel_sql__spark.plans.capstone_queries import (
        _curation_dispositions,
    )

    bench_gram = "alpha beta gamma delta epsilon zeta eta theta"
    # non-repeating so the distinct-shingle overlap (hence Jaccard)
    # between the two near-dups stays high
    # length picked so the two near-dups (J≈0.82) collide in at least
    # one LSH band under the shipped 12-hash/2-row family
    base = " ".join(
        f"the w{i} is on a b{i} and it runs for the c{i} of d{i}"
        for i in range(7)
    )
    rows = [
        # benchmark doc (37 % 37 == 0) carrying the contaminating 8-gram
        (37, bench_gram, "en", "src9", 1),
        # doc 1: near-dup of doc 2, shares the bench 8-gram -> contaminated
        (1, base + " " + bench_gram, "en", "src9", 1),
        # doc 2: clean near-dup (same base, different tail)
        (2, base + " one two three four five six seven eight", "en", "src9", 1),
    ] + [
        # stopword-free junk fillers occupy the worst quality permilles
        (10 + i, f"zz{i} yy{i} xx{i} ww{i} vv{i} uu{i}", "en", "src9", 1)
        for i in range(5)
    ]
    spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )

    disp, _ = _curation_dispositions(spark, str(tmp_path))
    got = {r.doc_id: r.disposition for r in disp.collect()}
    # same cluster, doc 1 contaminated: keeper must be doc 2
    assert got[1] == "dropped_neardup"
    assert got[2] in ("kept", "dropped_overbudget")


def test_incremental_manifest_split_stability(spark, tmp_path):
    """Round-13 capstone contract: ingesting a batch through
    pretrain_manifest_incremental (a) equals the from-scratch rebuild
    engine-side (the oracle proves it cross-engine), and (b) under the
    monotone id-allocation contract with no cluster merges, no
    previously-kept doc changes split — new near-duplicates land in
    their keeper's split by construction."""
    from etl_pipeline_excel_sql__spark.plans.capstone_queries import (
        q_pretrain_kept_manifest,
        q_pretrain_manifest_incremental,
    )

    base = " ".join(
        f"the w{i} is on a b{i} and it runs for the c{i} of d{i}"
        for i in range(7)
    )
    good = "the of and is in for on a " * 6  # stopword-dense: top quality
    corpus_rows = (
        [
            # near-dup cluster {1, 2} — keeper 1 (quality-passing)
            (1, good + base, "en", "corpusA", 1),
            (2, good + base + " tail two alpha", "en", "corpusA", 1),
            # quality-passing singleton
            (3, good + " solo content here entirely", "en", "corpusA", 1),
            # bench doc
            (37, "benchmark eval text nobody trains on here today", "en",
             "corpusA", 1),
        ]
        + [
            # stopword-free junk spreads the permille range
            (10 + i, f"junkzz{i} yy{i} xx{i} ww{i} vv{i} uu{i} tt{i}",
             "en", "corpusA", 1)
            for i in range(8)
        ]
    )
    # batch ids all ABOVE existing ids (monotone allocation); 101 is a
    # near-dup of cluster {1,2}; 103 a fresh singleton; no bridges.
    batch_rows = [
        (101, good + base + " tail other beta", "en", "src0", 1),
        (103, good + " brand new batch document text", "en", "src0", 1),
    ]

    def write(rows, d):
        spark.createDataFrame(
            rows, ["doc_id", "text", "lang", "source", "n_chars"]
        ).coalesce(1).write.mode("overwrite").parquet(
            str(d / "documents.parquet")
        )

    dir_a, dir_b = tmp_path / "a", tmp_path / "b"
    dir_a.mkdir(), dir_b.mkdir()
    write(corpus_rows, dir_a)
    write(corpus_rows + batch_rows, dir_b)

    before = {
        r.doc_id: (r.group_id, r.split)
        for r in q_pretrain_kept_manifest(spark, str(dir_a)).collect()
    }
    after_inc = {
        r.doc_id: (r.group_id, r.split)
        for r in q_pretrain_manifest_incremental(spark, str(dir_b)).collect()
    }
    after_full = {
        r.doc_id: (r.group_id, r.split)
        for r in q_pretrain_kept_manifest(spark, str(dir_b)).collect()
    }
    # extend == rebuild, engine-side (the gate proves it cross-engine)
    assert after_inc == after_full
    # cluster {1,2,101} keeps keeper 1; new dup 101 must NOT appear
    assert 1 in after_inc and 101 not in after_inc
    # split stability: every doc kept before and still kept after keeps
    # its split (and its group key)
    for doc_id, (gid, split) in before.items():
        if doc_id in after_inc:
            assert after_inc[doc_id] == (gid, split), doc_id
    assert set(before) <= set(after_inc), "ingest must not evict keepers"


def test_sampled_lsh_audit_matches_exact(spark, sf_dir):
    """When the sample budget covers the whole corpus the sampled audit
    must EQUAL the full audit bit-for-bit (budget >= N => ppm threshold
    saturates and every doc samples in)."""
    from etl_pipeline_excel_sql__spark.plans.pipeline_queries import (
        LSH_AUDIT_SAMPLE_BUDGET,
        q_lsh_recall_audit,
        q_lsh_recall_audit_sampled,
    )

    docs = spark.read.parquet(sf_dir + "/documents.parquet")
    assert docs.count() <= LSH_AUDIT_SAMPLE_BUDGET
    full = sorted(map(tuple, q_lsh_recall_audit(spark, sf_dir).collect()))
    samp = sorted(
        map(tuple, q_lsh_recall_audit_sampled(spark, sf_dir).collect())
    )
    assert full == samp


def test_sampled_lsh_audit_deviation_bounded():
    """At a corpus bigger than the budget the sampled recall estimate
    must track the exact recall: per J-decile deviation <= 0.1 wherever
    both sides have enough pairs to estimate from."""
    import os

    sf = "/root/testdata/sf0.1"
    if not os.path.isdir(sf):
        pytest.skip("sf0.1 corpus missing")
    from etl_pipeline_excel_sql__spark.plans.pipeline_queries import (
        q_lsh_recall_audit,
        q_lsh_recall_audit_sampled,
    )
    from etl_pipeline_excel_sql__spark.session import get_session

    spark = get_session(master="local[4]", shuffle_partitions=4)
    full = {
        r.band: (r.n_true, r.recall_ppm)
        for r in q_lsh_recall_audit(spark, sf).collect()
    }
    samp = {
        r.band: (r.n_true, r.recall_ppm)
        for r in q_lsh_recall_audit_sampled(spark, sf).collect()
    }
    checked = 0
    for band, (n_true, recall) in full.items():
        if n_true < 30 or band not in samp:
            continue
        n_s, recall_s = samp[band]
        if n_s < 10:
            continue
        assert abs(recall_s - recall) <= 100000, (band, recall, recall_s)
        checked += 1
    assert checked >= 1, "no band had enough mass to compare"


def test_manifest_release_diff_attribution(spark, tmp_path):
    """Release-diff classifier on a crafted corpus: a batch near-dup
    with a SMALLER id steals the keeper slot (removed_neardup +
    added_new), fresh batch content is added_new, stable keepers are
    unchanged, and the category counts conserve the manifest union."""
    from etl_pipeline_excel_sql__spark.plans.capstone_queries import (
        q_manifest_release_diff,
        q_pretrain_kept_manifest,
        q_pretrain_manifest_incremental,
    )

    base = " ".join(
        f"the w{i} is on a b{i} and it runs for the c{i} of d{i}"
        for i in range(7)
    )
    good = "the of and is in for on a " * 6
    corpus_rows = [
        # corpus keeper (singleton, top quality)
        (3, good + " solo content here entirely", "en", "corpusA", 1),
        # corpus doc 6: near-dup target the batch will outrank by id
        (6, good + base, "en", "corpusA", 1),
        (37, "benchmark eval text nobody trains on here today", "en",
         "corpusA", 1),
    ] + [
        (10 + i, f"junkzz{i} yy{i} xx{i} ww{i} vv{i} uu{i} tt{i}",
         "en", "corpusA", 1)
        for i in range(8)
    ]
    batch_rows = [
        # near-dup of 6 with SMALLER id -> steals the keeper slot
        (5, good + base + " tail other beta", "en", "src0", 1),
        # fresh batch singleton
        (103, good + " brand new batch document text", "en", "src0", 1),
    ]
    spark.createDataFrame(
        corpus_rows + batch_rows,
        ["doc_id", "text", "lang", "source", "n_chars"],
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    sf = str(tmp_path)

    diff = {r.change: (r.n_docs, r.n_tokens)
            for r in q_manifest_release_diff(spark, sf).collect()}
    prev_ids = {
        r.doc_id
        for r in q_pretrain_kept_manifest(
            spark, str(tmp_path)
        ).collect()
    }  # NOTE: full-corpus manifest; recompute prev below from corpus-only
    cur_ids = {
        r.doc_id
        for r in q_pretrain_manifest_incremental(spark, sf).collect()
    }
    # keeper theft: 6 left the release as a near-dup loser, 5 arrived
    assert 5 in cur_ids and 6 not in cur_ids
    assert diff.get("removed_neardup", (0,))[0] >= 1
    # doc 5 is added_new; 103 may land over the token budget
    assert diff.get("added_new", (0,))[0] >= 1
    assert "unchanged" in diff
    assert "split_moved" not in diff  # no cluster merges crafted
    # conservation: category doc counts cover prev ∪ cur exactly
    corpus_only = [r for r in corpus_rows]
    prev_dir = tmp_path / "prev"
    prev_dir.mkdir()
    spark.createDataFrame(
        corpus_only, ["doc_id", "text", "lang", "source", "n_chars"]
    ).coalesce(1).write.mode("overwrite").parquet(
        str(prev_dir / "documents.parquet")
    )
    prev_ids = {
        r.doc_id
        for r in q_pretrain_kept_manifest(spark, str(prev_dir)).collect()
    }
    assert sum(n for n, _ in diff.values()) == len(prev_ids | cur_ids)
