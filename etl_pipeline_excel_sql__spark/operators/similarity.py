"""Similarity search over embedding columns (``array<float>``).

Two tiers:

* **Brute-force top-k** — the correctness baseline. Query set ⨯ corpus
  cross join with the query side broadcast (queries are small by
  construction), cosine as codegen'd array math, per-query top-k via a
  rank window partitioned by query id. At 100 TB of corpus this is a
  single embarrassingly-parallel scan: no corpus shuffle at all — the only
  shuffle is the per-query top-k reduction, k rows per query per partition
  after partial aggregation.
* **IVF (inverted-file) probe** — the scale path. The corpus is
  partitioned into coarse cells by TRAINED k-means
  (:func:`kmeans_train_assign`: deterministic seeds, Lloyd rounds as
  DataFrame ops, decimal-exact means); ``ivf_topk`` also accepts any
  precomputed cell column (e.g. ``label``). A query first picks its
  ``nprobe`` nearest cell centroids, then brute-forces only those cells —
  the scan shrinks by ~ncells/nprobe. Centroids are a tiny model artifact:
  collected per round and compiled into the assignment expression, always
  broadcast-scale.
* **SRP-LSH bucketing** (in functions/vectors.py) — alternative scale path:
  sign-random-projection buckets as a pre-filter, same join shape as the
  MinHash band join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.functions.vectors import (
    EMB_DIMS,
    SRP_NEARDUP_BITS,
    cosine,
    dot,
    l2_norm_sq,
)
from etl_pipeline_excel_sql__spark.operators.iterative import (
    LineageTruncator,
    SignatureCache,
    shared_slot,
)

#: Trained k-means cells and Lloyd rounds of the IVF family's quantizer.
IVF_NCELLS = 8
IVF_ITERS = 2
#: Neighbors kept per query and cells probed per query by IVF search.
IVF_TOPK = 5
IVF_NPROBE = 2
#: Hard negatives mined per query.
HARDNEG_TOPK = 10


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    Output: ``query_id, neighbor_id, cosine_sim, rank`` (self-matches
    excluded). Ties break on neighbor id ascending — fully deterministic.
    """
    # Norms are per-vector: compute them once per side, not once per pair —
    # cuts the pair-scoring arithmetic to a dot product plus one divide.
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qvec"),
        F.sqrt(l2_norm_sq(F.col("embedding"))).alias("__qnorm"),
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("__cvec"),
        F.sqrt(l2_norm_sq(F.col("embedding"))).alias("__cnorm"),
    )
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine_sim",
            dot(F.col("__qvec"), F.col("__cvec"))
            / (F.col("__qnorm") * F.col("__cnorm")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def hard_negatives_topk(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """Contrastive-training hard-negative mining: for each query vector,
    the top-``HARDNEG_TOPK`` most-similar corpus vectors with a DIFFERENT
    label — the near-misses a contrastive objective learns the most from
    (in-batch random negatives are mostly easy; mining by similarity is
    the standard hard-negative recipe).

    Same plan shape as :func:`brute_force_topk` (bounded query batch
    broadcasts, corpus scans once, per-side norms), with the label
    inequality applied BEFORE scoring so mismatched pairs never reach
    the dot product. Output: ``query_id, query_label, neighbor_id,
    neighbor_label, cosine_sim, rank`` — ranking by a computed double
    with neighbor_id tie-break (tests/test_float_doctrine.py's
    DOUBLE_SORTED review class, like the rest of the ANN family).
    """
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("embedding").alias("__qvec"),
        F.sqrt(l2_norm_sq(F.col("embedding"))).alias("__qnorm"),
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        F.col("embedding").alias("__cvec"),
        F.sqrt(l2_norm_sq(F.col("embedding"))).alias("__cnorm"),
    )
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("neighbor_label") != F.col("query_label"))
        .withColumn(
            "cosine_sim",
            dot(F.col("__qvec"), F.col("__cvec"))
            / (F.col("__qnorm") * F.col("__cnorm")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= HARDNEG_TOPK)
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neighbor_label",
            "cosine_sim",
            "rank",
        )
    )


def cell_centroids(corpus: DataFrame, cell_col: str = "cell") -> DataFrame:
    """Per-cell mean vector: posexplode → mean per (cell, dim) → re-assemble.

    One shuffle keyed on (cell, dim) — tiny. The mean is computed as
    ``CAST(decimal_sum AS DOUBLE) / count`` so it is order-independent and
    bit-reproducible (a double ``avg`` would vary with partition merge
    order). ``sort_array(collect_list(...))`` re-assembles dimension order
    deterministically.

    Round-14 A/B note: a fused one-aggregate form (one groupBy(cell)
    with a per-dimension array of 64 decimal sums — one exchange, no
    ×dims fan-out) measured ~1.6× SLOWER here (ann_ivf_topk 3.6 → 6.0 s
    min-of-5 at sf0.1): 64 wide decimal(20,10) buffers push the
    aggregate out of efficient codegen, which costs more than the
    exploded shuffle saves. The narrow (8-wide) PQ subspace variant
    keeps the fused form — see pq._codebook_means. Re-measure before
    "optimizing" this again.
    """
    exploded = corpus.select(
        F.col(cell_col).alias("cell"),
        F.posexplode("embedding").alias("dim", "val"),
    )
    per_dim = exploded.groupBy("cell", "dim").agg(
        (
            F.sum(F.col("val").cast("double").cast("decimal(20,10)"))
            .cast("double")
            / F.count(F.lit(1))
        ).alias("mean_val")
    )
    return per_dim.groupBy("cell").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("dim", "mean_val"))),
            lambda s: s["mean_val"],
        ).alias("centroid")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = IVF_TOPK,
    nprobe: int = IVF_NPROBE,
    cell_col: str = "cell",
) -> DataFrame:
    """IVF-style ANN: probe the ``nprobe`` nearest cells, brute-force inside.

    Approximate (recall < 1 when the true neighbor lives in an unprobed
    cell) but the corpus scan drops to ~nprobe/ncells of brute force.
    Output schema matches :func:`brute_force_topk`.
    """
    cents = cell_centroids(corpus, cell_col)
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qvec"),
        F.sqrt(l2_norm_sq(F.col("embedding"))).alias("__qnorm"),
    )
    probe_w = Window.partitionBy("query_id").orderBy(
        F.col("__cell_sim").desc(), F.col("cell").asc()
    )
    probes = (
        q.join(F.broadcast(cents))
        .withColumn("__cell_sim", cosine(F.col("__qvec"), F.col("centroid")))
        .withColumn("__probe_rank", F.row_number().over(probe_w))
        .filter(F.col("__probe_rank") <= nprobe)
        .select("query_id", "__qvec", "__qnorm", "cell")
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("__cvec"),
        F.sqrt(l2_norm_sq(F.col("embedding"))).alias("__cnorm"),
        F.col(cell_col).alias("cell"),
    )
    scored = (
        c.join(F.broadcast(probes), on="cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine_sim",
            dot(F.col("__qvec"), F.col("__cvec"))
            / (F.col("__qnorm") * F.col("__cnorm")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def _assign_broadcast(corpus: DataFrame, cents: DataFrame) -> DataFrame:
    """Max-cosine assignment with centroids as a broadcast TABLE.

    One small cosine expression per (vector, centroid) row — the same
    shape that whole-stage-codegens cleanly in :func:`brute_force_topk`.
    A fused per-row argmax over all cells (whether literal-embedded or
    packed into an array column) is ncells×2×EMB_DIMS products in one
    projection: janino rejects the >64KB method and Spark silently falls
    back to interpreted eval, and with literals every Lloyd round also
    recompiled from scratch. Here the expression text is identical across
    rounds (centroids are data), so parse/codegen happen once.

    The argmax is ``max_by(cell, struct(sim, -cell))``: partial
    aggregation collapses the ncells candidate rows map-side (they are
    co-partitioned with their vector by construction), so the shuffle
    carries one combined row per vector — corpus-sized, not
    corpus×ncells. Ties pick the lowest cell, the oracle's
    (sim DESC, cell ASC) window rule. ``F.first(vec)`` is deterministic:
    every candidate row of a group carries the identical vector.
    """
    from etl_pipeline_excel_sql__spark.functions.vectors import cosine_sql

    scored = corpus.crossJoin(F.broadcast(cents)).withColumn(
        "__sim", F.expr(cosine_sql())
    )
    return (
        scored.groupBy("vec_id")
        .agg(
            F.max_by(
                F.col("cell"),
                F.struct(
                    F.col("__sim").alias("s"),
                    (-F.col("cell")).alias("nc"),
                ),
            ).alias("cell"),
            F.first("embedding").alias("embedding"),
        )
        .select("vec_id", "embedding", "cell")
    )


def kmeans_train_assign(corpus: DataFrame, truncator=None) -> DataFrame:
    """Lloyd's k-means as pure DataFrame ops → final (id, vec, cell).

    * Seeds: the ``IVF_NCELLS`` lowest-id vectors (deterministic, no RNG).
    * Each round: broadcast-assign to max-cosine centroid, then recompute
      per-cell means with the decimal-exact trick (``cell_centroids``) so
      every round is order-independent and bit-reproducible — the DuckDB
      oracle unrolls the same rounds and matches exactly.
    * Rounds are ``IVF_ITERS`` assignments with ``IVF_ITERS - 1`` mean
      updates in between; the caller (``ivf_topk``) derives the final
      probe centroids as the means of the returned assignment, which is
      the ``IVF_ITERS``-th update.

    At 100 TB: each round is one scan + one tiny aggregate (cells×dims
    partial sums, map-side combined); centroids always broadcast — the
    driver never collects them. Empty cells drop out naturally (their
    group vanishes), mirrored by the oracle's GROUP BY.

    Round cuts go through ``truncator`` under the slot rule of
    :mod:`~etl_pipeline_excel_sql__spark.operators.iterative`.
    """
    spark = corpus.sparkSession
    truncator = truncator or shared_slot(
        spark, "similarity.kmeans", lambda: LineageTruncator(spark)
    )
    # seed centroids stay LAZY: round 1's cut evaluates them once.
    cents = (
        corpus.orderBy("vec_id")
        .limit(IVF_NCELLS)
        .select(
            F.col("vec_id"),
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias(
                "centroid"
            ),
        )
        .withColumn(
            "cell",
            (F.row_number().over(Window.orderBy("vec_id")) - 1).cast("int"),
        )
        .select("cell", "centroid")
    )
    # Round-14 loop shape (guide §2.4/§5, the pq_train_codebooks
    # doctrine): intermediate rounds truncate the IVF_NCELLS-row CENTROID
    # table, not the corpus-sized assignment — each round is ONE job
    # (the assignment evaluates inside the centroid cut) and the next
    # round's broadcast reads IVF_NCELLS materialized rows instead of a
    # corpus-sized checkpoint. The FINAL assignment is the one
    # corpus-scale cut kept: it is the multi-consumer frame (probe
    # centroids + both sides of the cell join read it). Truncating it
    # also retires the last centroid cut, and the truncator's next call
    # retires the final cut — the same lifetime contract as before.
    for _ in range(IVF_ITERS - 1):
        cents = truncator.truncate(
            cell_centroids(_assign_broadcast(corpus, cents))
        )
    return truncator.truncate(_assign_broadcast(corpus, cents))


def ivf_topk_trained(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """IVF ANN over TRAINED k-means cells (no label stand-in).

    Trains ``IVF_NCELLS`` centroids with :func:`kmeans_train_assign`, then
    runs the standard IVF probe (the ``IVF_NPROBE`` nearest cells per
    query, exact cosine inside, top-``IVF_TOPK`` per query). Same output
    schema as :func:`brute_force_topk`; recall vs brute force is measured
    in tests/test_operators.py.
    """
    return ivf_topk(kmeans_train_assign(corpus), queries)


def cosine_neardup_pairs(
    corpus: DataFrame,
    threshold: float,
    srp_bits: int = 0,
) -> DataFrame:
    """Embedding near-dup pairs: cosine ≥ threshold, blocked + LSH-bucketed.

    Candidate generation composes two keys:

    * the ``label`` column — hard partition (IVF-style cell / label);
    * ``srp_bits`` — multi-table signed-random-projection LSH: each
      vector gets ``SRP_NEARDUP_TABLES`` independent ``srp_bits``-bit
      signatures (``functions/vectors.srp_buckets_long``), and a pair is
      a candidate when it matches in ANY table.

    With SRP enabled, no cell is quadratic: the self-join key is
    (block, table, bucket), and the shuffle carries only (id, key) rows —
    vectors re-join only for the surviving candidates, which get EXACT
    cosine verification. Pass ``srp_bits=0`` for the per-label all-pairs
    variant.

    With SRP enabled, the key table persists through a default slot
    under the slot rule of
    :mod:`~etl_pipeline_excel_sql__spark.operators.iterative`.
    """
    base = corpus.select(
        F.col("vec_id").alias("__id"),
        F.col("embedding").alias("__vec"),
        F.sqrt(l2_norm_sq(F.col("embedding"))).alias("__norm"),
        F.col("label").alias("__block"),
    )

    if srp_bits:
        from etl_pipeline_excel_sql__spark.functions.vectors import srp_buckets_long

        keys = srp_buckets_long(
            corpus.select(
                F.col("vec_id").alias("__id"),
                F.col("label").alias("__block"),
                F.col("embedding").alias("__vec"),
            ),
            "__id",
            "__vec",
            srp_bits,
            extra_cols=("__block",),
        )
        # The key table is tiny (SRP_NEARDUP_TABLES rows of four scalars per
        # vector) but its signature subtree is wide, and both sides of
        # the self-join read it.
        keys = shared_slot(
            corpus.sparkSession, "similarity.srp_keys", SignatureCache
        ).swap(keys)
        key_cols = ["__block", "__table", "__bucket"]
        cand = (
            keys.select(F.col("__id").alias("id_a"), *key_cols)
            .join(
                keys.select(F.col("__id").alias("id_b"), *key_cols),
                on=key_cols,
            )
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        va = base.select(
            F.col("__id").alias("id_a"),
            F.col("__vec").alias("vec_a"),
            F.col("__norm").alias("norm_a"),
        )
        vb = base.select(
            F.col("__id").alias("id_b"),
            F.col("__vec").alias("vec_b"),
            F.col("__norm").alias("norm_b"),
        )
        joined = cand.join(va, on="id_a").join(vb, on="id_b")
    else:
        a = base.select(
            F.col("__id").alias("id_a"),
            F.col("__vec").alias("vec_a"),
            F.col("__norm").alias("norm_a"),
            F.col("__block"),
        )
        b = base.select(
            F.col("__id").alias("id_b"),
            F.col("__vec").alias("vec_b"),
            F.col("__norm").alias("norm_b"),
            F.col("__block"),
        )
        joined = a.join(b, on="__block").filter(F.col("id_a") < F.col("id_b"))
    return (
        joined.withColumn(
            "cosine_sim",
            dot(F.col("vec_a"), F.col("vec_b"))
            / (F.col("norm_a") * F.col("norm_b")),
        )
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )


def srp_candidate_stats(
    corpus: DataFrame,
    block_col: str | None = "label",
    srp_bits: int = SRP_NEARDUP_BITS,
) -> dict:
    """Bucket-occupancy and candidate-pair diagnostics for the SRP
    blocking that :func:`cosine_neardup_pairs` (and the semantic-dedup
    keep set built on it) uses for candidate generation.

    Returns a plain dict (driver-side scalars — this is a diagnostic,
    not a query):

    * ``n_vectors`` — corpus rows;
    * ``n_buckets`` — distinct occupied (block, table, bucket) keys;
    * ``max_bucket`` — largest bucket's membership (the skew ceiling:
      in-bucket verification is quadratic in THIS number);
    * ``raw_candidates`` — Σ over buckets of C(size, 2), the pre-dedup
      verification workload (what the bucket self-join emits);
    * ``distinct_candidates`` — after cross-table pair dedup, the exact
      cosine verifications actually performed.

    The keys are the operator's own: ``srp_bits``-bit signatures in
    ``SRP_NEARDUP_TABLES`` tables from
    ``functions/vectors.srp_buckets_long``.

    Why it exists (VERDICT r6): ``neardup_cosine`` grew 6.5× on 10×
    data — sublinear, but the growth must be ATTRIBUTABLE before tuning
    ``srp_bits`` or ``SRP_NEARDUP_TABLES`` at the next decade. Recording
    these per SF decomposes wall-clock growth into bucket-occupancy growth
    (raw_candidates) vs cross-table overlap (distinct/raw ratio); the
    scaling probe (tools/bench_scaling.py) stores them alongside the
    timings. All aggregation is bucket-keyed and map-side combined —
    the same shuffle shape as candidate generation itself, so the
    diagnostic stays runnable at any SF the operator is.
    """
    from etl_pipeline_excel_sql__spark.functions.vectors import srp_buckets_long

    if srp_bits < 1:
        # cosine_neardup_pairs treats srp_bits=0 as "no SRP" (block-only /
        # all-pairs); there is no bucket structure to report there.
        raise ValueError("srp_candidate_stats: srp_bits must be >= 1")
    n_vectors = corpus.count()
    keys = srp_buckets_long(
        corpus.select(
            F.col("vec_id").alias("__id"),
            *([F.col(block_col).alias("__block")] if block_col else []),
            F.col("embedding").alias("__vec"),
        ),
        "__id",
        "__vec",
        srp_bits,
        extra_cols=("__block",) if block_col else (),
    ).persist()
    key_cols = (["__block"] if block_col else []) + ["__table", "__bucket"]
    occ = keys.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("sz"))
    # Integer DIV keeps the Σ C(sz,2) sum exact past 2^53 (a `/` would
    # route through doubles); sz*(sz-1) is even, so DIV 2 is lossless.
    row = occ.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("sz").alias("max_bucket"),
        F.expr("sum(sz * (sz - 1) DIV 2)").cast("bigint").alias(
            "raw_candidates"
        ),
    ).collect()[0]
    distinct_candidates = (
        keys.select(F.col("__id").alias("id_a"), *key_cols)
        .join(keys.select(F.col("__id").alias("id_b"), *key_cols), on=key_cols)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .count()
    )
    keys.unpersist()
    # max/sum aggregates return NULL on an empty corpus — report zeros
    # rather than TypeError'ing, so the diagnostic runs at any SF.
    return {
        "n_vectors": int(n_vectors),
        "n_buckets": int(row["n_buckets"]),
        "max_bucket": int(row["max_bucket"] or 0),
        "raw_candidates": int(row["raw_candidates"] or 0),
        "distinct_candidates": int(distinct_candidates),
    }


def gram_matrix(corpus: DataFrame) -> DataFrame:
    """Distributed Gram matrix X'X over the embedding corpus (upper
    triangle) — the one-pass reduction PCA / whitening / covariance
    preprocessing needs.

    Arrow ``mapInPandas`` computes per-batch partial Grams as a single
    numpy ``int64`` matmul over FLOOR-quantized micro-units
    (``floor(x·10⁶ + 0.5)`` per element): integer products and sums are
    associative, so the merged result is bit-identical under any batch
    split or partition order — a float matmul here would drift in the
    last ulps per batch boundary and could never be value-hash-gated.
    Magnitudes: |q| ≤ |x|·10⁶, so unit-norm-ish embeddings stay far
    inside int64 through products and corpus-level sums.

    Scale shape: each batch emits EMB_DIMS·(EMB_DIMS+1)/2 rows
    (model-sized, data-volume-independent); the only exchange carries
    (i, j, partial) — the classic map-side-reduced Gram that needs no
    driver collect and no O(n·d²) explode.
    """
    import numpy as np
    import pandas as pd

    def partial_gram(batches):
        iu = np.triu_indices(EMB_DIMS)
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            Q = np.floor(X * 1e6 + 0.5).astype("int64")
            G = Q.T @ Q
            yield pd.DataFrame(
                {
                    "i": iu[0].astype("int32"),
                    "j": iu[1].astype("int32"),
                    "partial": G[iu],
                }
            )

    parts = corpus.select("embedding").mapInPandas(
        partial_gram, "i int, j int, partial long"
    )
    return parts.groupBy("i", "j").agg(
        F.sum("partial").cast("bigint").alias("gram")
    )


def sq8_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    candidates: int = 30,
) -> DataFrame:
    """Two-stage serving ANN: int8 scalar-quantized candidate generation
    followed by exact-cosine rerank — the production pattern between
    brute force (exact but full-width floats everywhere) and PQ/ADC
    (8-32x compression but a trained codebook): 4x compression with NO
    training, and the first pass runs entirely in integer arithmetic.

    * **Quantize** — per-dimension symmetric int8 codes
      ``floor(x * 127 / maxabs_d + 0.5)`` (the ``vec_quantize_int8``
      contract; deterministic half-up via floor, zero-max dimensions
      code to 0). ``maxabs`` is ONE corpus-aggregate row broadcast back
      over both sides — the corpus never shuffles.
    * **Candidate pass** — integer dot product of code arrays (unrolled
      64-term bigint chain, order-independent so engine-exact), bounded
      query batch broadcasts, per-query top-``candidates`` via a rank
      window over skinny ``(query_id, neighbor_id, qdot)`` rows: codes
      and vectors are DROPPED before the only shuffle.
    * **Rerank** — exact cosine on the ≤ |Q|·candidates survivors only;
      the candidate set broadcasts back against the corpus scan to
      re-fetch full vectors, so full-precision floats are touched for a
      bounded row count regardless of corpus size.

    Output: ``query_id, neighbor_id, qdot, cosine_sim, rank``.
    """
    ma = F.col("__ma")
    maxabs = corpus.agg(
        F.array(
            *[
                F.max(
                    F.abs(
                        F.element_at(F.col("embedding"), i + 1).cast("double")
                    )
                )
                for i in range(EMB_DIMS)
            ]
        ).alias("__ma")
    )

    # zip_with (interpreted HOF), NOT a 64-term unrolled array: the
    # quantize runs once per row, and an unrolled constructor here fused
    # with the 64-product dot chain below blows janino's 64 KB method
    # limit — whole-stage codegen falls back to interpreted for the WHOLE
    # candidate stage, which is far worse than one interpreted lambda.
    # (Caught by a "Code grows beyond 64 KB" in the round-10 bench.)
    def _codes(vec: Column) -> Column:
        return F.zip_with(
            vec,
            ma,
            lambda x, s: F.when(s == F.lit(0.0), F.lit(0).cast("bigint"))
            .otherwise(
                F.floor(
                    x.cast("double") * F.lit(127.0) / s + F.lit(0.5)
                ).cast("bigint")
            ),
        )

    q_codes = queries.crossJoin(F.broadcast(maxabs)).select(
        F.col("vec_id").alias("query_id"),
        _codes(F.col("embedding")).alias("__qc"),
    )
    c_codes = corpus.crossJoin(F.broadcast(maxabs)).select(
        F.col("vec_id").alias("neighbor_id"),
        _codes(F.col("embedding")).alias("__cc"),
    )
    terms = [
        F.element_at(F.col("__qc"), i + 1)
        * F.element_at(F.col("__cc"), i + 1)
        for i in range(EMB_DIMS)
    ]
    qdot = terms[0]
    for t in terms[1:]:
        qdot = qdot + t
    wc = Window.partitionBy("query_id").orderBy(
        F.col("qdot").desc(), F.col("neighbor_id").asc()
    )
    cand = (
        c_codes.join(F.broadcast(q_codes))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", qdot.alias("qdot"))
        .withColumn("__crank", F.row_number().over(wc))
        .filter(F.col("__crank") <= candidates)
        .drop("__crank")
    )
    qv = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qvec"),
        F.sqrt(l2_norm_sq(F.col("embedding"))).alias("__qnorm"),
    )
    cv = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("__cvec"),
        F.sqrt(l2_norm_sq(F.col("embedding"))).alias("__cnorm"),
    )
    rer = (
        cv.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn(
            "cosine_sim",
            dot(F.col("__qvec"), F.col("__cvec"))
            / (F.col("__qnorm") * F.col("__cnorm")),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        rer.withColumn("rank", F.row_number().over(wr).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "qdot", "cosine_sim", "rank")
    )


def margin_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k_nn: int = 4,
    candidates: int = 20,
    k: int = 3,
) -> DataFrame:
    """Margin-scored mining pairs (the bitext-mining criterion of
    Artetxe & Schwenk, TACL 2019, *distance* variant): a neighbor is a
    confident match not when its raw cosine is high, but when it beats
    BOTH sides' local similarity landscape —

        margin(x, y) = 2k·cos(x, y) − Σ fwd-kNN(x) − Σ bwd-kNN(y)

    (the paper's ``cos − fwd_avg/2 − bwd_avg/2``, cleared of the /2k
    divisions so it stays in integers). Cosines are floor-quantized to
    ppm BEFORE any sum — integer sums are order-independent, so the
    forward/backward aggregates hash-match any engine; a double sum
    here would drift with partition order. The distance variant (not
    the ratio) keeps the arithmetic division-free, so negative cosines
    never hit engine-divergent integer-division semantics.

    Plan shape: the bounded probe batch broadcasts; the scored pair
    frame is skinny (ids + cos_ppm, vectors dropped at the scan); the
    forward stats, backward stats, and candidate cut are rank/sum
    windows over that frame — two shuffles total (one per partitioning
    key), both carrying 3-column rows. Output: ``query_id, neighbor_id,
    cos_ppm, margin_scaled, rank`` for each probe's top-``k`` margins
    among its top-``candidates`` forward neighbors.
    """
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qvec"),
        F.sqrt(l2_norm_sq(F.col("embedding"))).alias("__qnorm"),
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("__cvec"),
        F.sqrt(l2_norm_sq(F.col("embedding"))).alias("__cnorm"),
    )
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.floor(
                dot(F.col("__qvec"), F.col("__cvec"))
                / (F.col("__qnorm") * F.col("__cnorm"))
                * F.lit(1000000.0)
            )
            .cast("bigint")
            .alias("cos_ppm"),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("cos_ppm").desc(), F.col("neighbor_id").asc()
    )
    wb = Window.partitionBy("neighbor_id").orderBy(
        F.col("cos_ppm").desc(), F.col("query_id").asc()
    )
    ranked = scored.withColumn("__fr", F.row_number().over(wf)).withColumn(
        "__br", F.row_number().over(wb)
    )
    fsum = ranked.filter(F.col("__fr") <= k_nn).groupBy("query_id").agg(
        F.sum("cos_ppm").cast("bigint").alias("__fsum")
    )
    bsum = ranked.filter(F.col("__br") <= k_nn).groupBy("neighbor_id").agg(
        F.sum("cos_ppm").cast("bigint").alias("__bsum")
    )
    cand = ranked.filter(F.col("__fr") <= candidates).select(
        "query_id", "neighbor_id", "cos_ppm"
    )
    margin = (
        F.lit(2 * k_nn) * F.col("cos_ppm")
        - F.col("__fsum")
        - F.col("__bsum")
    ).cast("bigint")
    wm = Window.partitionBy("query_id").orderBy(
        F.col("margin_scaled").desc(), F.col("neighbor_id").asc()
    )
    # bsum is corpus-keyed (one row per neighbor over the scored frame)
    # while cand is bounded at |Q|*candidates rows — broadcast the small
    # candidate side so the corpus-sized aggregate never shuffles against
    # a few hundred rows (same explicit-broadcast discipline as the probe
    # join above; AQE would usually rescue this, but the hint makes the
    # shape a contract rather than a runtime save).
    return (
        bsum.join(
            F.broadcast(cand.join(F.broadcast(fsum), "query_id")),
            "neighbor_id",
        )
        .withColumn("margin_scaled", margin)
        .withColumn("rank", F.row_number().over(wm).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "cos_ppm", "margin_scaled", "rank"
        )
    )
