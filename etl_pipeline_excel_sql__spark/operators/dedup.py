"""Deduplication operators for training-data pipelines.

Five strategies, all shuffle-conscious:

* **exact** — hash-groupBy on a content hash. One shuffle on a 60-bit key;
  at 100 TB the hash (16 bytes) shuffles instead of the document bodies.
* **MinHash + LSH** — shingle → k-minhash signature → band buckets →
  candidate pairs via self-join *on the band key only* → exact Jaccard
  verification of candidates. The band join is the classic LSH trick: near
  pairs collide in ≥1 band with high probability, so the O(n²) pair space
  never materializes. Banding keys are small ints+hashes — the shuffle
  carries signatures, not documents.
* **SimHash** — per-document fingerprint; grouping by fingerprint catches
  near-identical docs.
* **n-gram Jaccard** — exact verification primitive, also usable standalone
  with a cheap blocking key.
* **embedding cosine** — near-dup by vector similarity (see similarity.py
  for the ANN machinery).

All expression-only (no UDFs): portable, codegen'd, and oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.functions.hashing import md5_hash60
from etl_pipeline_excel_sql__spark.functions.text import has_ws_tokens, ws_tokens
from etl_pipeline_excel_sql__spark.operators.iterative import (
    SignatureCache,
    shared_slot,
)


#: Mersenne prime 2**31 - 1: modulus (and bitmask) for the affine MinHash
#: permutation families. Shared verbatim with the SQL oracle.
MINHASH_PRIME = (1 << 31) - 1
#: Signature length, rows per LSH band (``MINHASH_K // MINHASH_BAND_ROWS``
#: bands) and word-shingle width of every MinHash operator here.
MINHASH_K = 12
MINHASH_BAND_ROWS = 2
MINHASH_SHINGLE_N = 3
#: Sketch size of the n-gram operators' bottom-k blocking keys.
NGRAM_BOTTOM_K = 2
#: Verified-similarity cut of each near-dup operator: MinHash Jaccard,
#: blocked n-gram Jaccard, and n-gram containment.
MINHASH_THRESHOLD = 0.1
NGRAM_THRESHOLD = 0.05
CONTAINMENT_THRESHOLD = 0.2


def affine_consts() -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the ``MINHASH_K`` affine hash
    families."""
    return [
        (1234567 * (i + 1) % MINHASH_PRIME, 7654321 * (i + 1) % MINHASH_PRIME)
        for i in range(MINHASH_K)
    ]


def exact_dedup(df: DataFrame) -> DataFrame:
    """Exact dedup: one keeper (min id) per distinct content hash.

    Output: ``content_hash, keeper_id, dup_count`` — join back on the hash to
    drop losers. Map-side partial aggregation makes the shuffle carry one row
    per distinct hash per partition.
    """
    return (
        df.select(md5_hash60(F.col("text")).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").cast("bigint").alias("keeper_id"),
            F.count(F.lit(1)).cast("bigint").alias("dup_count"),
        )
    )


def shingle_rows(df: DataFrame, n: int) -> DataFrame:
    """Exploded (id, shingle) rows via posexplode + window ``lead``.

    Equivalent to exploding :func:`...text.shingles` but ~10× faster: the
    array ``transform`` lambda is interpreted row-at-a-time, while
    posexplode + lead + concat_ws stay in codegen. ``concat_ws`` skips the
    NULL leads at the tail, which reproduces the short-document semantics
    (docs with < n tokens yield one whole-text shingle) for free; interior
    rows whose last lead is NULL are full-window duplicates' tails and are
    dropped. Duplicate shingles are NOT removed here — MinHash mins ignore
    them; use :func:`shingle_sets` for distinct sets.

    Precondition: empty documents are filtered out by the caller (they have
    no token rows).
    """
    toks = df.select(
        F.col("doc_id").alias("__id"),
        F.posexplode(ws_tokens(F.col("text"))).alias("__pos", "__t"),
    )
    if n == 1:
        return toks.select("__id", F.col("__t").alias("__sh"))
    w = Window.partitionBy("__id").orderBy("__pos")
    windowed = toks.select(
        "__id",
        "__pos",
        "__t",
        *[F.lead("__t", r).over(w).alias(f"__l{r}") for r in range(1, n)],
        F.count(F.lit(1)).over(Window.partitionBy("__id")).alias("__n"),
    )
    sh = F.concat_ws(" ", F.col("__t"), *[F.col(f"__l{r}") for r in range(1, n)])
    keep = F.col(f"__l{n - 1}").isNotNull() | (
        (F.col("__pos") == 0) & (F.col("__n") < n)
    )
    return windowed.filter(keep).select("__id", sh.alias("__sh"))


def shingle_sets(df: DataFrame) -> DataFrame:
    """(id, distinct word-3-gram array) — the verification-side shingle
    sets."""
    return (
        shingle_rows(df, 3)
        .groupBy("__id")
        .agg(F.collect_set("__sh").alias("__sh"))
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two (distinct-element) string arrays."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def _minhash_signatures(exploded: DataFrame) -> DataFrame:
    """(__id, s0..s{MINHASH_K-1}) MinHash signature table from (__id, __sh)
    shingle rows — the ONE definition both the self-join and the
    cross-set band joins build on (a hashing tweak applied to one but
    not the other would make them silently disagree on near-dups).

    One md5 per shingle; the MINHASH_K hash families are affine
    permutations of the 31-bit base hash mod a Mersenne prime (standard
    one-permutation MinHash). Products stay < 2**62, safely inside ANSI bigint.
    """
    hbase = md5_hash60(F.col("__sh")).bitwiseAND(F.lit(MINHASH_PRIME))
    hashed = exploded.select("__id", hbase.alias("hb"))
    hash_cols = [
        ((F.lit(a) * F.col("hb") + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(
            f"h{i}"
        )
        for i, (a, b) in enumerate(affine_consts())
    ]
    return (
        hashed.select("__id", *hash_cols)
        .groupBy("__id")
        .agg(*[F.min(f"h{i}").alias(f"s{i}") for i in range(MINHASH_K)])
    )


def _minhash_band_expr(band_rows: int):
    """posexplode column producing (band, bucket) keys from a signature
    row — bucket is the comma-joined band slice of the signature."""
    num_bands = MINHASH_K // band_rows
    return F.posexplode(
        F.array(
            *[
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"s{b * band_rows + r}")
                        for r in range(band_rows)
                    ],
                )
                for b in range(num_bands)
            ]
        )
    ).alias("band", "bucket")


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = MINHASH_THRESHOLD,
    cache: SignatureCache | None = None,
    exploded: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs via MinHash banding + exact Jaccard verification.

    Execution shape (chosen for 100 TB, verified fast locally):

    1. **Signatures via explode + min-aggregates** — one row per (doc,
       shingle), ``MINHASH_K`` codegen'd md5 columns, ``groupBy(id)`` with
       k ``min()`` aggregates. Fully inside whole-stage codegen with
       map-side partial aggregation (the interpreted higher-order
       ``transform``/``array_min`` form was ~100× slower at sf0.1).
    2. **Banding** — bands of ``MINHASH_BAND_ROWS`` signature entries
       become bucket keys; the band self-join carries ONLY (id, band,
       bucket) — never the shingle arrays — so the shuffle payload is a
       few dozen bytes per doc.
    3. **Verification** — candidate id pairs (distinct) re-join the shingle
       arrays and compute exact Jaccard (codegen'd ``array_intersect`` /
       ``array_union``), filtered by ``threshold``.

    Output: ``id_a, id_b, jaccard_sim`` with ``id_a < id_b``.

    The signature table persists through ``cache`` under the slot rule
    of :mod:`~etl_pipeline_excel_sql__spark.operators.iterative`.

    ``exploded``: prebuilt ``(__id, __sh)`` shingle-occurrence frame
    (post empty-document filter, ``MINHASH_SHINGLE_N``-word shingles);
    callers that feed several operators from one corpus scan (e.g. the
    LSH recall audit, which shares it with :func:`jaccard_prefix_pairs`)
    build and persist it once and pass it here — ``df`` is then ignored
    for shingling.
    """
    if exploded is None:
        # Empty/whitespace-only documents have no shingles: they vanish
        # from the exploded side naturally, and the oracle twin filters
        # them the same way — the invariant must not depend on content.
        df = df.filter(has_ws_tokens())
        exploded = shingle_rows(df, MINHASH_SHINGLE_N)
    # The signature table is tiny (one row per doc, k ints) but its subtree
    # (explode + window + md5) is expensive, and the band self-join would
    # recompute it once per side — persist the result, not the heavy rows
    # (a localCheckpoint costs ~3x the persist path on the bench).
    slot = cache or shared_slot(
        exploded.sparkSession, "dedup.signatures", SignatureCache
    )
    sig = slot.swap(_minhash_signatures(exploded))
    bands = sig.select("__id", _minhash_band_expr(MINHASH_BAND_ROWS))
    cand = (
        bands.alias("l")
        .join(bands.alias("r"), on=["band", "bucket"])
        .filter(F.col("l.__id") < F.col("r.__id"))
        .select(F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"))
        .distinct()
    )
    sets = exploded.groupBy("__id").agg(F.collect_set("__sh").alias("__sh"))
    sh_a = sets.select(F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a"))
    sh_b = sets.select(F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b"))
    return (
        cand.join(sh_a, on="id_a")
        .join(sh_b, on="id_b")
        .withColumn("jaccard_sim", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard_sim") >= threshold)
        .select("id_a", "id_b", "jaccard_sim")
    )


def minhash_lsh_pairs_cross(
    new_df: DataFrame,
    corpus_df: DataFrame,
) -> DataFrame:
    """Incremental-ingestion near-dup: NEW batch vs EXISTING corpus.

    The self-join form (:func:`minhash_lsh_pairs`) answers "what
    duplicates exist"; ingestion needs "which incoming docs duplicate
    something already indexed" — a CROSS-set band join that must never
    pair new-vs-new or corpus-vs-corpus rows.

    Shape: both sides union into ONE signature pass (one explode, one
    groupBy — not two jobs), tagged by side; the band join then keys on
    (band, bucket) with ``l.side = new, r.side = corpus``. Every call
    re-shingles and re-signs the corpus side from ``corpus_df.text``, and
    exact verification joins the corpus's full shingle sets; an ingest
    service that must not re-read the corpus text per batch persists
    :func:`minhash_index_tables` and probes it with
    :func:`minhash_lsh_pairs_ingest_indexed`.

    Output: ``new_id, corpus_id, jaccard_sim`` (exact verify ≥
    ``MINHASH_THRESHOLD``).
    Assumes disjoint id spaces between sides (callers split one table by
    a partition predicate).
    """
    tagged = new_df.select(
        "doc_id", "text", F.lit("new").alias("__side")
    ).unionByName(
        corpus_df.select("doc_id", "text", F.lit("corpus").alias("__side"))
    )
    tagged = tagged.filter(has_ws_tokens())
    exploded = shingle_rows(tagged, MINHASH_SHINGLE_N)
    sides = tagged.select(F.col("doc_id").alias("__id"), "__side")
    slot = shared_slot(
        tagged.sparkSession, "dedup.cross_signatures", SignatureCache
    )
    sig = slot.swap(_minhash_signatures(exploded).join(sides, "__id"))
    bands = sig.select(
        "__id", "__side", _minhash_band_expr(MINHASH_BAND_ROWS)
    )
    new_b = bands.filter(F.col("__side") == "new").drop("__side")
    cor_b = bands.filter(F.col("__side") == "corpus").drop("__side")
    cand = (
        new_b.alias("l")
        .join(cor_b.alias("r"), on=["band", "bucket"])
        .select(
            F.col("l.__id").alias("new_id"),
            F.col("r.__id").alias("corpus_id"),
        )
        .distinct()
    )
    sets = exploded.groupBy("__id").agg(F.collect_set("__sh").alias("__sh"))
    sh_n = sets.select(F.col("__id").alias("new_id"), F.col("__sh").alias("sh_n"))
    sh_c = sets.select(
        F.col("__id").alias("corpus_id"), F.col("__sh").alias("sh_c")
    )
    return (
        cand.join(sh_n, on="new_id")
        .join(sh_c, on="corpus_id")
        .withColumn("jaccard_sim", jaccard(F.col("sh_n"), F.col("sh_c")))
        .filter(F.col("jaccard_sim") >= MINHASH_THRESHOLD)
        .select("new_id", "corpus_id", "jaccard_sim")
    )


def minhash_index_tables(corpus: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The corpus-side MinHash SEARCH INDEX an ingest service persists
    between batches: ``(bands, sets)`` — the (id, band, bucket) LSH
    band table new batches probe, and the (id, distinct-shingle-array)
    sets exact verification joins. Built with the SAME expressions the
    tagged one-pass builders use (:func:`shingle_rows`,
    :func:`_minhash_signatures`, :func:`_minhash_band_expr`, the
    empty-document filter), so an indexed ingest is pair-for-pair
    identical to re-signaturing the corpus inline — that equivalence is
    what lets :func:`minhash_lsh_pairs_ingest_indexed` drop the ingest
    path's ONE remaining corpus text scan (r13 verdict: "persisting
    corpus band tables would eliminate it too").
    """
    corpus = corpus.filter(has_ws_tokens())
    exploded = shingle_rows(corpus, MINHASH_SHINGLE_N)
    sig = _minhash_signatures(exploded)
    bands = sig.select("__id", _minhash_band_expr(MINHASH_BAND_ROWS))
    sets = exploded.groupBy("__id").agg(F.collect_set("__sh").alias("__sh"))
    return bands, sets


def minhash_lsh_pairs_ingest_indexed(
    new_df: DataFrame,
    corpus_bands: DataFrame,
    corpus_sets: DataFrame,
) -> DataFrame:
    """All delta edges of an ingest against a PERSISTED corpus index: cross
    (new × corpus) and within-batch (``id_a < id_b``) near-dup pairs as
    ``(id_a, id_b, jaccard_sim)``, touching ONLY batch text plus the
    skinny persisted ``(bands, sets)`` tables from
    :func:`minhash_index_tables`.

    The corpus is never re-scanned or re-signatured per evaluation. At
    100 TB that scan is the difference between an ingest costing
    O(batch + index-probe) and O(corpus). The index is
    corpus-sized and is NOT hash-only: ``bands`` holds integer
    (id, band, bucket) rows, but ``sets`` holds each id's distinct
    shingle STRINGS (``collect_set`` of the shingle column). Each token
    appears in up to ``MINHASH_SHINGLE_N`` shingles, so ``sets`` can store
    several times a document's token text; an ingest probe reads it in
    place of the documents.

    Output columns are the COMPONENT-EDGE shape: cross rows carry
    (new, corpus), within rows (min, max) of the batch pair.

    Pair-for-pair identical to signaturing batch and corpus inline: the
    persisted tables are built with the same expressions over the same
    empty-filtered corpus, the side-restricted band joins partition a
    tagged self-join's pair space (cross edges have one id per side,
    within edges two new ids — disjoint classes), and verification
    reads the same distinct-shingle sets (batch side fresh, corpus side
    persisted; array element order is irrelevant to
    ``array_intersect``/``array_union`` sizes). The shared DuckDB
    oracle recomputes everything from scratch, so the hash gate
    re-proves the equivalence on every run.

    Precondition: disjoint id spaces between batch and corpus (callers
    split one table by a partition predicate).
    """
    new_df = new_df.filter(has_ws_tokens())
    exploded = shingle_rows(new_df, MINHASH_SHINGLE_N)
    slot = shared_slot(
        new_df.sparkSession, "dedup.ingest_signatures", SignatureCache
    )
    sig = slot.swap(_minhash_signatures(exploded))
    new_b = sig.select("__id", _minhash_band_expr(MINHASH_BAND_ROWS))
    cand_cross = (
        new_b.alias("l")
        .join(corpus_bands.alias("r"), on=["band", "bucket"])
        .select(F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"))
    )
    cand_within = (
        new_b.alias("l")
        .join(new_b.alias("r"), on=["band", "bucket"])
        .filter(F.col("l.__id") < F.col("r.__id"))
        .select(F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"))
    )
    cand = cand_cross.unionByName(cand_within).distinct()
    sets = exploded.groupBy("__id").agg(
        F.collect_set("__sh").alias("__sh")
    ).unionByName(corpus_sets)
    sh_a = sets.select(F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a"))
    sh_b = sets.select(F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b"))
    return (
        cand.join(sh_a, on="id_a")
        .join(sh_b, on="id_b")
        .withColumn("jaccard_sim", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard_sim") >= MINHASH_THRESHOLD)
        .select("id_a", "id_b", "jaccard_sim")
    )


def simhash_signatures(df: DataFrame) -> DataFrame:
    """Per-document 32-bit SimHash fingerprint (bigint).

    Shape: explode tokens → one codegen'd md5 hash per token → ``groupBy``
    with 32 integer vote-sum aggregates (±1 per token per bit) →
    fingerprint assembled from the vote signs. Integer sums are
    order-independent, so the result is deterministic and oracle-exact;
    everything runs in whole-stage codegen with map-side partial
    aggregation.

    Documents with no tokens keep a fingerprint of 0 (left join back).
    """
    ids = df.select("doc_id")
    toks = df.select(
        "doc_id", F.explode(ws_tokens(F.col("text"))).alias("t")
    )
    h = md5_hash60(F.col("t"))
    votes = toks.select("doc_id", h.alias("h")).groupBy("doc_id").agg(
        *[
            F.sum(
                (
                    F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) * 2 - 1
                ).cast("bigint")
            ).alias(f"v{j}")
            for j in range(32)
        ]
    )
    sig = F.lit(0).cast("bigint")
    for j in range(32):
        sig = sig + F.when(F.col(f"v{j}") > 0, F.lit(1 << j).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
    signed = votes.select("doc_id", sig.alias("simhash"))
    return ids.join(signed, on="doc_id", how="left").select(
        "doc_id", F.coalesce("simhash", F.lit(0).cast("bigint")).alias("simhash")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = NGRAM_THRESHOLD,
) -> DataFrame:
    """Blocked exact word-3-gram Jaccard: bottom-k sketch blocking + exact
    verify.

    Blocking key: each document's ``NGRAM_BOTTOM_K`` smallest 60-bit shingle
    hashes (a bottom-k min-hash sketch). Unlike the earlier first-token +
    length-bucket key, the sketch is uniform over hash space — on natural
    corpora where a large fraction of documents starts with the same word
    ("The ..."), no block grows with corpus size, so no block is quadratic
    at 100 TB. Near-dups share small hashes with probability ≈
    1-(1-J)^NGRAM_BOTTOM_K per side, and every surviving pair is verified with
    EXACT Jaccard over the full shingle sets (the probabilistic step only
    selects candidates, never scores them).

    Shape: exploded (id, shingle-hash) rows → per-doc bottom-k via a
    row_number window (codegen, one shuffle) → self-join on the hash key
    carrying only (id, key) → distinct pairs → join back the shingle sets →
    codegen'd ``array_intersect``/``array_union`` Jaccard.
    """
    df = df.filter(has_ws_tokens())
    # No materialization here, deliberately: an A/B at sf0.1 measured
    # the lazy-localCheckpoint variant ~10% SLOWER than recomputation —
    # the explode+md5 subtree is cheap relative to writing its output
    # out and reading it back (contrast ngram_containment_pairs, whose
    # shingle-hash table feeds three heavier consumers and measured 3×
    # faster checkpointed). Re-measure before "optimizing" this.
    sets = shingle_sets(df)
    hrows = (
        shingle_rows(df, 3)
        .select("__id", md5_hash60(F.col("__sh")).alias("__h"))
        .distinct()
    )
    w = Window.partitionBy("__id").orderBy("__h")
    keys = (
        hrows.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= NGRAM_BOTTOM_K)
        .select("__id", F.col("__h").alias("__block"))
    )
    cand = (
        keys.select(F.col("__id").alias("id_a"), "__block")
        .join(keys.select(F.col("__id").alias("id_b"), "__block"), on="__block")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sh_a = sets.select(F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a"))
    sh_b = sets.select(F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b"))
    return (
        cand.join(sh_a, on="id_a")
        .join(sh_b, on="id_b")
        .withColumn("jaccard_sim", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard_sim") >= threshold)
        .select("id_a", "id_b", "jaccard_sim")
    )


def jaccard_prefix_pairs(
    df: DataFrame,
    threshold_num: int = 1,
    threshold_den: int = 2,
    exploded: DataFrame | None = None,
) -> DataFrame:
    """EXACT-RECALL n-gram Jaccard pairs via prefix filtering
    (Chaudhuri/Ganti/Kaushik ICDE'06; the PPJoin candidate rule) — the
    completeness-guaranteed sibling of :func:`ngram_jaccard_pairs`:

    * Order every document's shingle hashes by ONE global total order
      (document frequency ASC, hash ASC — rarest first).
    * A document with ``s`` shingles keeps a PREFIX of
      ``s - ceil(t*s) + 1`` entries. The prefix-filtering lemma: two sets
      with ``J >= t`` MUST share a prefix entry under the same order —
      unlike bottom-k sketch blocking (recall 1-(1-J)^k), no qualifying
      pair can be missed.
    * Frequency-ascending ordering puts the RAREST shingles in the
      prefix, so prefix-key join blocks are the smallest available —
      candidate volume tracks true-duplicate density, never corpus².
    * Verification is exact and ALL-INTEGER: the intersection count is a
      (pair, shingle) co-occurrence aggregate gated to candidates, and
      ``J >= p/q  <=>  i*(p+q) >= p*(|a|+|b|)`` — no float anywhere, so
      the emitted ppm hash-matches any engine.

    Returns ``(id_a, id_b, inter, size_a, size_b, jaccard_ppm)`` for all
    pairs with ``J >= threshold_num/threshold_den``.

    ``exploded``: prebuilt ``(__id, __sh)`` shingle-occurrence frame
    shared with other operators over the same corpus (see
    :func:`minhash_lsh_pairs`); when given, ``df`` is ignored for
    shingling. Shingles are ``MINHASH_SHINGLE_N`` words wide either way.

    The distinct ``(__id, __h)`` shingle-hash frame is referenced FOUR
    times (frequency aggregate, prefix ranking, both sides of the
    intersection join) but deliberately NOT persisted: its four uses
    share identical exchange subtrees, and AQE's runtime exchange reuse
    already deduplicates them — an A/B at sf0.1 measured a persist slot
    at 5.42 s vs 5.33 s plain, i.e. pure memory cost for no win.
    """
    p, q = threshold_num, threshold_den
    if exploded is None:
        df = df.filter(has_ws_tokens())
        exploded = shingle_rows(df, MINHASH_SHINGLE_N)
    hrows = (
        exploded
        .select("__id", md5_hash60(F.col("__sh")).alias("__h"))
        .distinct()
    )
    sizes = hrows.groupBy("__id").agg(
        F.count(F.lit(1)).cast("bigint").alias("__sz")
    )
    freq = hrows.groupBy("__h").agg(F.count(F.lit(1)).alias("__df"))
    w = Window.partitionBy("__id").orderBy(
        F.col("__df").asc(), F.col("__h").asc()
    )
    ranked = (
        hrows.join(freq, on="__h")
        .withColumn("__rn", F.row_number().over(w))
        .join(sizes, on="__id")
    )
    # prefix_len = s - ceil(t*s) + 1; ceil(p*s/q) = (p*s + q - 1) DIV q
    # (positive integers, so truncation == ceiling arithmetic exactly)
    prefix = ranked.filter(
        F.col("__rn")
        <= F.col("__sz") - F.expr(f"(({p} * __sz) + {q} - 1) DIV {q}") + 1
    ).select("__id", "__h", "__rn", "__sz")
    # POSITIONAL filter (round 14, the PPJoin positional bound [Xiao,
    # Wang, Lin & Yu, WWW'08] on top of the ICDE'06 prefix lemma): a
    # prefix-entry match at ranks (rn_a, rn_b) can lead to at most
    #   ub = 1 + min(sz_a - rn_a, sz_b - rn_b)
    # common shingles (everything after the matched entry, plus the
    # entry itself), so the pair can only reach J >= p/q — i.e.
    # inter*(p+q) >= p*(sz_a+sz_b) — if ub*(p+q) >= p*(sz_a+sz_b).
    # Soundness of filtering PER MATCHING ENTRY: take a qualifying
    # pair's FIRST common shingle in the global (df, hash) order; the
    # prefix lemma puts it in both prefixes, and every one of the
    # pair's `inter` common shingles sits at its rank or later on both
    # sides, so ub >= inter >= p/(p+q)*(sz_a+sz_b) holds AT THAT ENTRY
    # — the pair survives the filter there. Entries that fail the
    # bound provably cannot be that witness, so dropping them loses no
    # qualifying pair; the exact verification below is unchanged. This
    # also subsumes the classic length filter (q*min_sz >= p*max_sz:
    # the bound at rn_a = rn_b = 1). All-integer arithmetic.
    cand = (
        prefix.select(
            F.col("__id").alias("id_a"),
            "__h",
            F.col("__rn").alias("__rn_a"),
            F.col("__sz").alias("__sz_a"),
        )
        .join(
            prefix.select(
                F.col("__id").alias("id_b"),
                "__h",
                F.col("__rn").alias("__rn_b"),
                F.col("__sz").alias("__sz_b"),
            ),
            on="__h",
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            (
                F.lit(1)
                + F.least(
                    F.col("__sz_a") - F.col("__rn_a"),
                    F.col("__sz_b") - F.col("__rn_b"),
                )
            )
            * F.lit(p + q)
            >= F.lit(p) * (F.col("__sz_a") + F.col("__sz_b"))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    inter = (
        cand.join(hrows.select(F.col("__id").alias("id_a"), "__h"), on="id_a")
        .join(
            hrows.select(F.col("__id").alias("id_b"), "__h"),
            on=["id_b", "__h"],
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("inter"))
    )
    return (
        inter.join(
            sizes.select(F.col("__id").alias("id_a"), F.col("__sz").alias("size_a")),
            on="id_a",
        )
        .join(
            sizes.select(F.col("__id").alias("id_b"), F.col("__sz").alias("size_b")),
            on="id_b",
        )
        .filter(
            F.col("inter") * F.lit(p + q)
            >= F.lit(p) * (F.col("size_a") + F.col("size_b"))
        )
        .select(
            "id_a",
            "id_b",
            "inter",
            "size_a",
            "size_b",
            F.expr(
                "CAST(inter * 1000000 DIV (size_a + size_b - inter) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
    )


def ngram_containment_pairs(
    df: DataFrame,
    threshold: float = CONTAINMENT_THRESHOLD,
) -> DataFrame:
    """Blocked exact word-3-gram CONTAINMENT: |A∩B| / min(|A|,|B|).

    Containment is the asymmetric near-dup metric Jaccard misses: a short
    document fully embedded in a much longer one scores
    ``containment ≈ 1`` while its Jaccard stays near |A|/|B| ≈ 0 — the
    quote/boilerplate/prefix-copy case every corpus dedup pass needs
    (Broder's resemblance-vs-containment distinction, public).

    Candidate generation probes each document's ``NGRAM_BOTTOM_K`` smallest
    shingle hashes against the full inverted index of (hash → docs): if
    A ⊆ B, every one of A's sketch hashes IS in B's hash set, so a fully
    contained document is always a candidate — the bottom-k-vs-bottom-k
    blocking Jaccard uses would miss it (B's own smallest hashes come
    from B's extra content). Block size equals a shingle's document
    frequency; shingles in more than 1000 documents are dropped from the
    index as boilerplate whose blocks would otherwise grow with corpus
    size (a doc whose ONLY sketch hashes are corpus-wide boilerplate is
    not a meaningful containment candidate; the oracle of
    ``dedup_containment`` spells the same cap).
    Verification is exact over full shingle sets; integer set sizes
    divide as doubles (IEEE-identical on any engine).
    """
    from etl_pipeline_excel_sql__spark.functions.hashing import md5_hash60

    df = df.filter(has_ws_tokens())
    # sets is consumed twice (both sides of the verify join) and hrows
    # three times (df-cap, inverted index, bottom-k keys) — without
    # materialization each consumer re-runs the shingle+md5 subtree over
    # the full corpus. hrows is (id, hash)-shaped; sets holds each id's
    # distinct shingle strings, up to ~3x its text's bytes at n=3.
    sets = shingle_sets(df).localCheckpoint(eager=False)
    hrows = (
        shingle_rows(df, 3)
        .select("__id", md5_hash60(F.col("__sh")).alias("__h"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    dfreq = hrows.groupBy("__h").agg(F.count(F.lit(1)).alias("__df"))
    index = hrows.join(
        dfreq.filter(F.col("__df") <= 1000).select("__h"), on="__h"
    )
    w = Window.partitionBy("__id").orderBy("__h")
    keys = (
        hrows.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= NGRAM_BOTTOM_K)
        .select(F.col("__id").alias("__probe_id"), F.col("__h"))
    )
    cand = (
        keys.join(index, on="__h")
        .filter(F.col("__probe_id") != F.col("__id"))
        .select(
            F.least("__probe_id", "__id").alias("id_a"),
            F.greatest("__probe_id", "__id").alias("id_b"),
        )
        .distinct()
    )
    sh_a = sets.select(F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a"))
    sh_b = sets.select(F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b"))
    containment = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast(
        "double"
    ) / F.least(F.size("sh_a"), F.size("sh_b")).cast("double")
    return (
        cand.join(sh_a, on="id_a")
        .join(sh_b, on="id_b")
        .withColumn("containment", containment)
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )
