"""Operator tests: dedup family, as-of/range joins, ordering, similarity."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.functions.vectors import (
    EMB_DIMS,
    SRP_NEARDUP_BITS,
    cosine,
    dot,
)
from etl_pipeline_excel_sql__spark.operators.asof import asof_join, range_join
from etl_pipeline_excel_sql__spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    shingle_rows,
    simhash_signatures,
)
from etl_pipeline_excel_sql__spark.operators.ordering import categorical_order
from etl_pipeline_excel_sql__spark.operators.similarity import (
    brute_force_topk,
    cosine_neardup_pairs,
    ivf_topk,
    srp_candidate_stats,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),   # near-dup of 1
    (3, "completely different words entirely here now"),
    (4, "the quick brown fox jumps over the lazy dog"),   # exact dup of 1
    (5, "a b"),                                           # short doc
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(spark):
    out = exact_dedup(_docs(spark)).collect()
    by_keeper = {r.keeper_id: r.dup_count for r in out}
    assert by_keeper[1] == 2          # docs 1 and 4 share a hash
    assert sum(by_keeper.values()) == 5


def test_shingle_rows_short_doc_whole_text(spark):
    rows = shingle_rows(_docs(spark), 3).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["__id"], []).append(r["__sh"])
    assert by_id[5] == ["a b"]        # < n tokens -> single whole-text shingle
    assert "the quick brown" in by_id[1]
    assert len(by_id[1]) == 7         # 9 tokens -> 7 trigrams


def test_minhash_finds_near_and_exact_dups(spark):
    pairs = minhash_lsh_pairs(_docs(spark), threshold=0.2).collect()
    got = {(r.id_a, r.id_b): r.jaccard_sim for r in pairs}
    assert got[(1, 4)] == 1.0         # exact dup always collides
    assert (1, 2) in got and 0.4 < got[(1, 2)] < 1.0
    assert all(3 not in p and 5 not in p for p in got)


def test_simhash_exact_dups_equal_neardups_close(spark):
    sigs = {r.doc_id: r.simhash for r in
            simhash_signatures(_docs(spark)).collect()}
    assert sigs[1] == sigs[4]
    ham_12 = bin(sigs[1] ^ sigs[2]).count("1")
    ham_13 = bin(sigs[1] ^ sigs[3]).count("1")
    assert ham_12 < ham_13


def test_ngram_jaccard_blocked(spark):
    pairs = {(r.id_a, r.id_b): r.jaccard_sim for r in ngram_jaccard_pairs(
        _docs(spark), threshold=0.1).collect()}
    assert pairs[(1, 4)] == 1.0
    assert (1, 2) in pairs


def test_containment_catches_embedded_document(spark):
    """A short doc fully embedded in a long one: containment 1.0 even
    though Jaccard is far below any useful threshold."""
    from etl_pipeline_excel_sql__spark.operators.dedup import (
        ngram_containment_pairs,
    )

    short = "alpha beta gamma delta epsilon"
    long_ = short + " " + " ".join(f"tok{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, short), (2, long_)], "doc_id long, text string"
    )
    out = {
        (r.id_a, r.id_b): r.containment
        for r in ngram_containment_pairs(df, threshold=0.5).collect()
    }
    assert out == {(1, 2): 1.0}


def test_asof_join_backward(spark):
    left = spark.createDataFrame(
        [(1, 10, 100), (2, 10, 205), (3, 10, 50), (4, 99, 100)],
        "eid long, k long, t long",
    )
    right = spark.createDataFrame(
        [(10, 100, "a"), (10, 200, "b"), (10, 300, "c"), (77, 1, "zz")],
        "k long, rt long, val string",
    )
    out = {r.eid: r.val for r in asof_join(
        left, right, key="k", left_time="t", right_time="rt",
        right_values=["val"]).collect()}
    assert out == {1: "a", 2: "b", 3: None, 4: None}
    # 1: rt=100 <= t=100 (inclusive); 3: nothing at-or-before; 4: no key match


def test_asof_join_tie_resolution_deterministic(spark):
    left = spark.createDataFrame([(1, 10, 100)], "eid long, k long, t long")
    right = spark.createDataFrame(
        [(10, 100, "x"), (10, 100, "y")], "k long, rt long, val string"
    )
    out = asof_join(left, right, "k", "t", "rt", ["val"]).collect()
    assert out[0].val == "y"          # greatest value tuple wins


def test_asof_join_forward(spark):
    left = spark.createDataFrame(
        [(1, 10, 100), (2, 10, 205), (3, 10, 50), (4, 10, 301), (5, 99, 100)],
        "eid long, k long, t long",
    )
    right = spark.createDataFrame(
        [(10, 100, "a"), (10, 200, "b"), (10, 300, "c"), (77, 1, "zz")],
        "k long, rt long, val string",
    )
    out = {r.eid: r.val for r in asof_join(
        left, right, key="k", left_time="t", right_time="rt",
        right_values=["val"], direction="forward").collect()}
    # 1: rt=100 >= t=100 (inclusive); 2: next is 300; 3: next is 100;
    # 4: nothing at-or-after; 5: no key match
    assert out == {1: "a", 2: "c", 3: "a", 4: None, 5: None}


def test_asof_join_nearest(spark):
    left = spark.createDataFrame(
        [(1, 10, 140), (2, 10, 160), (3, 10, 150), (4, 10, 5), (5, 10, 999)],
        "eid long, k long, t long",
    )
    right = spark.createDataFrame(
        [(10, 100, "a"), (10, 200, "b")], "k long, rt long, val string"
    )
    out = {r.eid: r.val for r in asof_join(
        left, right, key="k", left_time="t", right_time="rt",
        right_values=["val"], direction="nearest").collect()}
    # 1: 40 back vs 60 fwd -> a; 2: 60 back vs 40 fwd -> b;
    # 3: exact tie (50/50) -> backward wins; 4: only forward exists;
    # 5: only backward exists
    assert out == {1: "a", 2: "b", 3: "a", 4: "a", 5: "b"}


def test_asof_join_nearest_epoch_micros_longs(spark):
    """Numeric time columns at epoch-microsecond magnitude (~1.7e15) must
    compare by direct subtraction — the old cast-to-timestamp path
    interpreted them as seconds and saturated, always picking backward."""
    base = 1_700_000_000_000_000  # epoch micros
    left = spark.createDataFrame(
        [(1, 10, base + 900)], "eid long, k long, t long"
    )
    right = spark.createDataFrame(
        [(10, base, "far_back"), (10, base + 1000, "near_fwd")],
        "k long, rt long, val string",
    )
    out = {r.eid: r.val for r in asof_join(
        left, right, key="k", left_time="t", right_time="rt",
        right_values=["val"], direction="nearest").collect()}
    assert out == {1: "near_fwd"}  # 100 forward vs 900 backward


def test_asof_join_unknown_direction_rejected(spark):
    import pytest as _pytest

    left = spark.createDataFrame([(1, 10, 100)], "eid long, k long, t long")
    right = spark.createDataFrame([(10, 100, "x")], "k long, rt long, val string")
    with _pytest.raises(ValueError):
        asof_join(left, right, "k", "t", "rt", ["val"], direction="sideways")


def test_range_join(spark):
    left = spark.createDataFrame([(1, 10, 5), (2, 10, 15)], "id long, k long, t long")
    right = spark.createDataFrame([(10, 0, 10)], "k2 long, lo long, hi long")
    out = range_join(left, right, "k", "k2", "t", "lo", "hi").collect()
    assert [r.id for r in out] == [1]


def test_categorical_order(spark):
    df = spark.createDataFrame(
        [("x", 1), ("z", 2), ("y", 3), ("unlisted", 4)], "cat string, i int"
    )
    out = categorical_order(df, "cat", ["z", "x", "y"], tiebreak_cols=["i"]).collect()
    assert [r.cat for r in out] == ["z", "x", "y"]


def _pad(v):
    """``v`` zero-padded to ``EMB_DIMS``: each zero adds exactly +0.0 to
    every dot product, norm and SRP projection."""
    return v + [0.0] * (EMB_DIMS - len(v))


def _embeddings(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0], 0),
        (2, [0.9, 0.1, 0.0, 0.0], 0),   # close to 1
        (3, [0.0, 1.0, 0.0, 0.0], 1),
        (4, [0.0, 0.0, 1.0, 0.0], 1),
        (5, [1.0, 0.05, 0.0, 0.0], 0),  # closest to 1
    ]
    return spark.createDataFrame(
        [(i, _pad(v), lab) for i, v, lab in rows],
        "vec_id long, embedding array<float>, label int",
    )


def test_vector_math_rejects_computed_columns():
    """``dot``/``cosine`` splice plain column names into one SQL string;
    a computed Column has no recoverable text and must raise, naming
    what it was given."""
    import re

    import pytest

    computed = F.col("a") + 1
    named = f"plain column name, got {re.escape(repr(computed))}"
    for fn in (dot, cosine):
        with pytest.raises(ValueError, match=named):
            fn(computed, F.col("b"))
        with pytest.raises(ValueError, match=named):
            fn("b", computed)


def test_brute_force_topk(spark):
    emb = _embeddings(spark)
    out = brute_force_topk(emb, emb.filter(F.col("vec_id") == 1), k=2).collect()
    assert [(r.neighbor_id, r.rank) for r in out] == [(5, 1), (2, 2)]


def test_ivf_topk_probes_nearest_cells(spark):
    emb = _embeddings(spark)
    out = ivf_topk(
        emb, emb.filter(F.col("vec_id") == 1), k=2, nprobe=1, cell_col="label"
    ).collect()
    # nprobe=1 restricts to label-0 cell; both neighbors are in-cell anyway
    assert [r.neighbor_id for r in out] == [5, 2]


def test_cosine_neardup_pairs_blocked(spark):
    emb = _embeddings(spark)
    pairs = {(r.id_a, r.id_b) for r in cosine_neardup_pairs(
        emb, threshold=0.9).collect()}
    assert pairs == {(1, 2), (1, 5), (2, 5)}


def test_merge_upsert_matched_null_overwrites(spark):
    """Standard MERGE UPDATE: a matched source row's NULL nulls the target
    column (not coalesce's keep-old behavior)."""
    from etl_pipeline_excel_sql__spark.operators.merge import merge_upsert

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], ["k", "status", "amt"]
    )
    source = spark.createDataFrame(
        [(2, None, 99.0), (3, "c", 30.0)], ["k", "status", "amt"]
    )
    out = {
        r.k: (r.status, r.amt)
        for r in merge_upsert(target, source, "k", ["status", "amt"]).collect()
    }
    assert out == {1: ("a", 10.0), 2: (None, 99.0), 3: ("c", 30.0)}


def test_ngram_jaccard_blocking_resists_first_token_skew(spark):
    """Bottom-k sketch blocking: a corpus where a large fraction of
    documents shares the first token must NOT concentrate into one block
    (the old first-token key made such a block quadratic at scale)."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(500)]
    docs = []
    for i in range(200):
        body = " ".join(rng.choice(vocab) for _ in range(30))
        # 50% of docs share the first token — worst-case for first-token keys
        head = "The" if i % 2 == 0 else f"h{i}"
        docs.append((i, f"{head} {body}"))
    # one true near-dup pair: doc 500 is doc 501 with a one-word edit
    base = "The " + " ".join(rng.choice(vocab) for _ in range(30))
    docs.append((500, base))
    docs.append((501, base.replace(" ", " ", 1) + " tail"))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from etl_pipeline_excel_sql__spark.operators.dedup import shingle_rows

    hrows = shingle_rows(df, 3).select(
        "__id",
        F.conv(F.substring(F.md5(F.col("__sh")), 1, 15), 16, 10)
        .cast("bigint")
        .alias("__h"),
    ).distinct()
    w = Window.partitionBy("__id").orderBy("__h")
    keys = (
        hrows.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 2)
        .select("__id", F.col("__h").alias("__block"))
    )
    max_block = keys.groupBy("__block").count().agg(F.max("count")).collect()[0][0]
    # 101 docs share first token "The"; sketch blocks must stay tiny
    assert max_block <= 4, max_block

    pairs = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(df, threshold=0.5).collect()
    }
    assert (500, 501) in pairs


def test_cosine_neardup_srp_prefilter_shrinks_candidates(spark):
    """Multi-table SRP bucketing (SRP_NEARDUP_BITS bits x
    SRP_NEARDUP_TABLES) verifies fewer candidate pairs than all pairs
    within the ``label`` blocks, and still surfaces a planted near-dup
    pair among 400 random vectors."""
    import random

    rng = random.Random(3)
    rows = []
    for i in range(400):
        rows.append((i, _pad([rng.gauss(0, 1) for _ in range(16)]), i % 2))
    # planted near-dup: vec 1000 ≈ vec 1001 (tiny perturbation)
    base = [rng.gauss(0, 1) for _ in range(16)]
    rows.append((1000, _pad(base), 0))
    rows.append((1001, _pad([v + 0.01 for v in base]), 0))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")

    stats = srp_candidate_stats(emb, srp_bits=SRP_NEARDUP_BITS)
    # blocks: 200 odd-id vectors, and 200 even ones plus the planted pair
    all_pairs = 202 * 201 // 2 + 200 * 199 // 2
    assert 0 < stats["distinct_candidates"] < all_pairs, stats
    pairs = {
        (r.id_a, r.id_b)
        for r in cosine_neardup_pairs(
            emb, threshold=0.99, srp_bits=SRP_NEARDUP_BITS
        ).collect()
    }
    assert (1000, 1001) in pairs


def test_ivf_trained_recall_vs_brute_force(spark, sf_dir):
    """Trained-k-means IVF must recover most true neighbors while scanning
    only nprobe/ncells of the corpus (recall measured against the exact
    brute-force baseline; 0.92 observed on the sf0.001 corpus)."""
    from etl_pipeline_excel_sql__spark.operators.similarity import (
        brute_force_topk,
        ivf_topk_trained,
    )
    from etl_pipeline_excel_sql__spark.sources.registry import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 5)
    bf = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, q, k=5).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk_trained(emb, q).collect()
    }
    recall = len(bf & ivf) / len(bf)
    assert recall >= 0.6, f"recall {recall}"


def test_connected_components_basic(spark):
    """Two components with distinct shapes: a triangle {1,2,3} and a chain
    {10-11-12-13} (diameter 3 — exercises multi-round propagation)."""
    from etl_pipeline_excel_sql__spark.operators.clusters import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (12, 13)],
        "id_a long, id_b long",
    )
    out = {
        r.member_id: (r.cluster_id, r.cluster_size)
        for r in connected_components(pairs).collect()
    }
    assert out == {
        1: (1, 3), 2: (1, 3), 3: (1, 3),
        10: (10, 4), 11: (10, 4), 12: (10, 4), 13: (10, 4),
    }


def test_connected_components_merge_via_bridge(spark):
    """A late edge bridging two clusters must merge them into one
    component labeled by the global minimum id."""
    from etl_pipeline_excel_sql__spark.operators.clusters import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(5, 6), (7, 8), (6, 7)], "id_a long, id_b long"
    )
    rows = connected_components(pairs).collect()
    assert {r.cluster_id for r in rows} == {5}
    assert all(r.cluster_size == 4 for r in rows)


def test_connected_components_iteration_cap(spark):
    """A path longer than the propagation budget never returns an
    unconverged labeling: the default auto mode finishes it via the star
    fallback."""
    from etl_pipeline_excel_sql__spark.operators.clusters import (
        connected_components,
    )

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id_a long, id_b long"
    )
    ok = connected_components(path, propagate_rounds=2).collect()
    assert {r.cluster_id for r in ok} == {0}
    assert {r.cluster_size for r in ok} == {9}


def test_scd2_upsert_versions_changes_only(spark):
    from etl_pipeline_excel_sql__spark.operators.merge import scd2_upsert

    target = spark.createDataFrame(
        [
            # key 1: history + current (will change)
            (1, "a", 10.0, "2019-01-01", "2020-01-01", False),
            (1, "a", 11.0, "2020-01-01", None, True),
            # key 2: current, re-sent unchanged (no-op)
            (2, "b", 20.0, "2020-01-01", None, True),
            # key 3: current, absent from source (untouched)
            (3, "c", 30.0, "2020-01-01", None, True),
            # key 4: current with NULL tracked value (NULL -> value = change)
            (4, None, 40.0, "2020-01-01", None, True),
        ],
        "k int, name string, bal double, valid_from string, "
        "valid_to string, is_current boolean",
    )
    source = spark.createDataFrame(
        [
            (1, "a", 12.0),   # changed balance
            (2, "b", 20.0),   # unchanged
            (4, "d", 40.0),   # NULL name -> 'd'
            (5, "e", 50.0),   # brand-new key
        ],
        "k int, name string, bal double",
    )
    out = scd2_upsert(target, source, "k", ["name", "bal"], "2021-06-01")
    rows = {
        (r.k, r.valid_from): (r.name, r.bal, r.valid_to, r.is_current)
        for r in out.collect()
    }
    assert len(rows) == 8
    # key 1: history intact, old version closed, new version open
    assert rows[(1, "2019-01-01")] == ("a", 10.0, "2020-01-01", False)
    assert rows[(1, "2020-01-01")] == ("a", 11.0, "2021-06-01", False)
    assert rows[(1, "2021-06-01")] == ("a", 12.0, None, True)
    # key 2: no-op resend leaves the single open version
    assert rows[(2, "2020-01-01")] == ("b", 20.0, None, True)
    # key 3: untouched
    assert rows[(3, "2020-01-01")] == ("c", 30.0, None, True)
    # key 4: NULL -> value counts as a change
    assert rows[(4, "2020-01-01")] == (None, 40.0, "2021-06-01", False)
    assert rows[(4, "2021-06-01")] == ("d", 40.0, None, True)
    # key 5: fresh insert
    assert rows[(5, "2021-06-01")] == ("e", 50.0, None, True)

