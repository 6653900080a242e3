"""Product quantization (PQ): compressed codes + asymmetric-distance search.

The third leg of the ANN family [Jégou, Douze & Schmid, "Product
Quantization for Nearest Neighbor Search", TPAMI 2011], alongside the
IVF coarse partitioner and SRP-LSH bucketing already in
``operators/similarity.py``:

* the vector space splits into ``PQ_M`` contiguous subspaces of
  ``EMB_DIMS // PQ_M`` components each;
* per subspace, a small k-means codebook (``PQ_NCODES`` centroids) is
  trained — same deterministic seeding (lowest-id vectors) and
  decimal-exact Lloyd rounds as the IVF trainer;
* each corpus vector is ENCODED as ``PQ_M`` small code ids (here one byte
  each: 64-dim float32 → 8 bytes, a 32× compression) — the artifact that
  makes billion-scale in-memory search possible;
* queries search via ADC (asymmetric distance computation): the query
  keeps full precision, per-subspace distances to every codebook entry
  form a ``PQ_M × PQ_NCODES`` lookup table, and a corpus vector's
  approximate distance is the sum of ``PQ_M`` table lookups — no vector
  math per corpus row at query time.

Distribution shape (100 TB): codebooks are ``PQ_M × PQ_NCODES`` rows —
always broadcast; training and encoding scan the corpus with NO corpus-row
shuffle except the per-(vector, subspace) argmin combine (map-side,
co-partitioned by construction). ADC broadcasts the per-query lookup
tables and shuffles only (query, vector, partial-sum) combine rows.

Determinism (the oracle contract): every subspace distance is the same
left-associative unrolled ``(a-b)² + …`` double chain in Spark and
DuckDB (bit-identical IEEE), argmins tie-break on the lowest code, and
ADC totals are FLOOR-quantized integer micro-units summed as int64 —
associative, so no float-accumulation-order divergence can reach the
value hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.functions.vectors import EMB_DIMS
from etl_pipeline_excel_sql__spark.operators.iterative import (
    LineageTruncator,
    shared_slot,
)

#: Micro-unit scale for ADC distance accumulation.
ADC_SCALE = 1_000_000
#: Subspaces (64 dims → 8-dim subvectors, one byte code each), codebook
#: size and Lloyd rounds of every codebook trained here.
PQ_M = 8
PQ_NCODES = 16
PQ_ITERS = 2
#: IVF-PQ coarse cells and the cells each query probes.
IVFPQ_NCELLS = 8
IVFPQ_NPROBE = 2
#: Neighbors kept per query by the ADC searches and their oracle twins.
PQ_K = 5

def _argmin_struct(sub: int) -> F.Column:
    """``min(when(sub == s, struct(d, code)))`` — the per-subspace
    argmin as ONE aggregate over the per-vector candidate rows. Struct
    ordering is (d ASC, code ASC), exactly ``min_by(code, struct(d,
    code))``'s tie-break (lowest code on equal distance). ``when``
    yields NULL for other subspaces' rows and ``min`` ignores NULLs, so
    a single ``groupBy(id)`` computes all PQ_M argmins at once — the
    vector crosses the shuffle ONCE instead of PQ_M times (guide §2.3)."""
    return F.min(
        F.when(
            F.col("sub") == sub,
            F.struct(F.col("__d").alias("d"), F.col("code")),
        )
    ).alias(f"__c{sub}")


def _scored_rows(
    corpus: DataFrame, codebooks: DataFrame, vec_col: str, subdim: int
) -> DataFrame:
    """One candidate row per (vector, subspace, code) with its unrolled
    squared-L2 distance — the map-side fan-out every assignment pass
    scores. Codebooks broadcast; no shuffle."""
    return (
        _sub_rows(corpus, vec_col)
        .join(F.broadcast(codebooks), "sub")
        .withColumn("__d", F.expr(l2sq_sub_sql(vec_col, subdim)))
    )


def l2sq_sub_sql(vec: str, subdim: int) -> str:
    """Unrolled squared-L2 between subspace ``sub`` of full vector ``vec``
    and the subdim-length ``centroid`` — Spark SQL text. DuckDB rejects
    ``element_at`` on lists, so the oracle uses the twin
    :func:`_pq_l2_duck`; both keep the same left-associative ``+`` term
    order, so the IEEE evaluation order is bit-identical (same doctrine
    as ``functions/vectors.dot_sql``)."""
    terms = []
    for i in range(1, subdim + 1):
        d = (
            f"(CAST(element_at({vec}, sub * {subdim} + {i}) AS DOUBLE)"
            f" - CAST(element_at(centroid, {i}) AS DOUBLE))"
        )
        terms.append(f"{d} * {d}")
    return " + ".join(terms)


def _sub_rows(corpus: DataFrame, vec_col: str) -> DataFrame:
    """One row per (vector, subspace): the training/encoding fan-out.
    Narrow (explode of a literal sequence) — no shuffle."""
    return corpus.select(
        F.col("vec_id"),
        F.col(vec_col),
        F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("sub"),
    )


def _assign_codes(
    corpus: DataFrame, codebooks: DataFrame, vec_col: str, subdim: int
) -> DataFrame:
    """Per (vector, subspace): the argmin-distance code, as
    ``(id, sub, code, vec)`` rows.

    Round-14 shape (guide §2.3 "shuffle fewer bytes"): ONE
    ``groupBy(id)`` computes every subspace's argmin via
    :func:`_argmin_struct` (the PQ_M × PQ_NCODES candidate rows fan out
    narrowly from each corpus row, so partial aggregation collapses
    them map-side to one combined row per VECTOR), then the PQ_M codes
    re-explode. The previous ``groupBy(id, sub)`` shuffled the full
    ``EMB_DIMS``-double vector once per subspace — PQ_M identical copies.
    Identical values: struct-min ordering (d ASC, code ASC) is exactly
    the old ``min_by(code, struct(d, code))`` tie-break.
    """
    scored = _scored_rows(corpus, codebooks, vec_col, subdim)
    per_id = scored.groupBy("vec_id").agg(
        *[_argmin_struct(s) for s in range(PQ_M)],
        F.first(vec_col).alias(vec_col),
    )
    return per_id.select(
        F.col("vec_id"),
        F.posexplode(
            F.array(*[F.col(f"__c{s}.code") for s in range(PQ_M)])
        ).alias("sub", "code"),
        F.col(vec_col),
    )


def _codebook_means(
    assigned: DataFrame, vec_col: str, subdim: int
) -> DataFrame:
    """Per (subspace, code): decimal-exact mean subvector (the
    ``cell_centroids`` trick: double→decimal sums are order-free and
    agree bit-for-bit across engines; see similarity.py:96-99).

    Round-14 shape (guide §2.3/§2.4): ONE ``groupBy(sub, code)`` with a
    per-dimension array of decimal sums — the previous form exploded
    ``subdim`` rows per assignment row into a (sub, code, i) aggregate
    and then re-assembled the array in a SECOND aggregate (two
    exchanges + a ×subdim fan-out). Same decimal sums over the same
    values, same per-dim count divisor, same i-ascending order —
    bit-identical centroids.
    """
    dims = [
        (
            F.sum(
                F.expr(
                    f"CAST(element_at({vec_col}, sub * {subdim} + {i})"
                    " AS DOUBLE)"
                ).cast("decimal(20,10)")
            ).cast("double")
            / F.count(F.lit(1))
        )
        for i in range(1, subdim + 1)
    ]
    return assigned.groupBy("sub", "code").agg(
        F.array(*dims).alias("centroid")
    )


def pq_train_codebooks(
    corpus: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Train the ``PQ_M`` per-subspace codebooks → (sub, code, centroid).

    Seeds: subvectors of the ``PQ_NCODES`` lowest-id vectors (code = seed
    rank), per subspace — deterministic, no RNG, matching the IVF
    trainer's doctrine. ``PQ_ITERS`` assignments with ``PQ_ITERS - 1``
    mean updates in between; the RETURNED codebooks are the means of the
    final assignment (what encoding and ADC consume).

    Round-14 loop shape (guide §2.4/§5): the lineage cut moved from the
    corpus-sized assignment to the PQ_M × PQ_NCODES CODEBOOK frame — each
    Lloyd round is exactly ONE job (the truncator materializes the
    means aggregation, with the corpus assignment evaluated inside it),
    and every consumer of the returned codebooks (the encoder, the ADC
    lookup table, the next round) reads ≤128 materialized rows instead
    of re-running the training subtree or reading a corpus-sized
    checkpoint. The cuts go through the default slot ``pq.codebooks``
    under the slot rule of
    :mod:`~etl_pipeline_excel_sql__spark.operators.iterative`."""
    subdim = EMB_DIMS // PQ_M
    spark = corpus.sparkSession
    trunc = shared_slot(spark, "pq.codebooks", lambda: LineageTruncator(spark))
    seeds = (
        corpus.orderBy("vec_id")
        .limit(PQ_NCODES)
        .select(
            F.col(vec_col),
            (F.row_number().over(Window.orderBy("vec_id")) - 1)
            .cast("int")
            .alias("code"),
        )
    )
    # seed codebooks stay LAZY: round 1's cut evaluates them once
    # (inside its broadcast build) — an eager cut here would be a
    # whole extra job for a PQ_NCODES-row limit.
    cb = seeds.select(
        F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("sub"),
        "code",
        F.expr(
            f"transform(sequence(1, {subdim}),"
            f" i -> CAST(element_at({vec_col}, sub * {subdim} + i)"
            f" AS DOUBLE))"
        ).alias("centroid"),
    )
    for _ in range(PQ_ITERS):
        assigned = _assign_codes(corpus, cb, vec_col, subdim)
        cb = trunc.truncate(_codebook_means(assigned, vec_col, subdim))
    return cb


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector as its ``PQ_M`` nearest-codebook codes →
    (vec_id, codes) with ``codes`` ordered by subspace. The 32×-compressed
    search artifact; at scale this is what you persist and broadcast-
    search against, not the float vectors.

    Round-14 shape: ONE ``groupBy(id)`` emits the subspace-ordered code
    array directly (:func:`_argmin_struct` per subspace), with the
    vector dropped before the shuffle — the previous form shuffled
    (id, sub, code, vec) rows to a second ``collect_list`` shuffle just
    to re-assemble the array the first aggregate already knew."""
    subdim = EMB_DIMS // PQ_M
    scored = _scored_rows(corpus, codebooks, vec_col, subdim)
    per_id = scored.groupBy("vec_id").agg(
        *[_argmin_struct(s) for s in range(PQ_M)]
    )
    return per_id.select(
        F.col("vec_id"),
        F.array(*[F.col(f"__c{s}.code") for s in range(PQ_M)]).alias("codes"),
    )


def pq_adc_topk(
    codes: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    k: int = PQ_K,
) -> DataFrame:
    """ADC top-k: approximate squared-L2 neighbors from codes alone.

    Per query, the ``PQ_M × PQ_NCODES`` distance lookup table is computed once
    (queries × codebooks — both broadcast-scale) with each entry FLOOR-
    quantized to integer micro-units; a corpus vector's distance is the
    int64 sum of its ``PQ_M`` looked-up entries — associative, so the
    result is independent of partitioning and exactly replayable by the
    SQL oracle. Output: ``query_id, neighbor_id, adc_dist_micros, rank``
    (ties → lowest neighbor id; self-matches excluded)."""
    subdim = EMB_DIMS // PQ_M
    dtable = (
        _sub_rows(queries, "embedding")
        .withColumnRenamed("vec_id", "query_id")
        .join(F.broadcast(codebooks), "sub")
        .select(
            "query_id",
            "sub",
            "code",
            F.floor(F.expr(l2sq_sub_sql("embedding", subdim)) * ADC_SCALE)
            .cast("bigint")
            .alias("d_micros"),
        )
    )
    exploded = codes.select(
        F.col("vec_id").alias("neighbor_id"),
        F.posexplode("codes").alias("sub", "code"),
    )
    ranked = (
        exploded.join(F.broadcast(dtable), ["sub", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d_micros").alias("adc_dist_micros"))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("adc_dist_micros").asc(),
                    F.col("neighbor_id").asc(),
                )
            ),
        )
        .filter(F.col("rank") <= k)
    )
    return ranked.select(
        "query_id",
        "neighbor_id",
        "adc_dist_micros",
        F.col("rank").cast("int").alias("rank"),
    )


def _pq_l2_duck(vec: str, subdim: int) -> str:
    """DuckDB twin of :func:`l2sq_sub_sql` — same left-associative term
    order, DuckDB list indexing; the codebook row is ``c`` and the
    subspace row ``s``."""
    terms = []
    for i in range(1, subdim + 1):
        d = (
            f"({vec}[CAST(s.sub * {subdim} + {i} AS INT)]::DOUBLE"
            f" - c.centroid[{i}]::DOUBLE)"
        )
        terms.append(f"{d} * {d}")
    return " + ".join(terms)


def pq_unrolled_ctes(
    src: str = "embeddings",
    vec: str = "embedding",
) -> list[str]:
    """The shared DuckDB CTE chain for the PQ oracles: ``cb0`` seeds
    through ``cbf`` (final codebooks) and ``pq_codes_t`` (per-vector
    code arrays). All MATERIALIZED — the assignment CTEs are referenced
    repeatedly and DuckDB inlines plain CTEs.

    ``src``/``vec`` parametrize the quantized relation — the default is
    the raw embeddings table; the residual IVF-PQ oracle passes its
    residual CTE instead."""
    subdim = EMB_DIMS // PQ_M
    subs = f"(SELECT UNNEST(range(0, {PQ_M})) AS sub)"

    def assign(cb: str, name: str) -> str:
        return f"""{name} AS MATERIALIZED (
  SELECT vec_id, {vec}, sub, code FROM (
    SELECT e.vec_id, e.{vec}, s.sub, c.code,
           row_number() OVER (PARTITION BY e.vec_id, s.sub
             ORDER BY {_pq_l2_duck(f'e.{vec}', subdim)} ASC,
                      c.code ASC) AS rn
    FROM {src} e, {subs} s
    JOIN {cb} c ON c.sub = s.sub
  ) WHERE rn = 1
)"""

    def means(src_cte: str, name: str) -> str:
        return f"""{name} AS MATERIALIZED (
  SELECT sub, code,
    list_transform(range(1, {subdim + 1}), i ->
      CAST(list_sum(list_transform(vecs,
        v -> v[CAST(sub * {subdim} + i AS INT)]::DOUBLE::DECIMAL(20,10)))
        AS DOUBLE) / n) AS centroid
  FROM (SELECT sub, code, list({vec}) AS vecs, COUNT(*) AS n
        FROM {src_cte} GROUP BY sub, code)
)"""

    parts = [
        f"""cb0 AS MATERIALIZED (
  SELECT s.sub, q.code,
         list_transform(range(1, {subdim + 1}),
           i -> q.{vec}[CAST(s.sub * {subdim} + i AS INT)]::DOUBLE)
           AS centroid
  FROM (SELECT {vec},
               CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code
        FROM (SELECT vec_id, {vec} FROM {src}
              ORDER BY vec_id LIMIT {PQ_NCODES})) q, {subs} s
)"""
    ]
    cb = "cb0"
    for r in range(1, PQ_ITERS + 1):
        parts.append(assign(cb, f"a{r}"))
        cb = f"cb{r}" if r < PQ_ITERS else "cbf"
        parts.append(means(f"a{r}", cb))
    parts.append(assign("cbf", "afinal"))
    parts.append(
        """pq_codes_t AS MATERIALIZED (
  SELECT vec_id, list(code ORDER BY sub) AS codes
  FROM afinal GROUP BY vec_id
)"""
    )
    return parts


def pq_codes_sql() -> str:
    """Oracle twin of train → :func:`pq_encode`; ``codes`` rendered
    space-delimited to match the registered query's harness shape."""
    parts = pq_unrolled_ctes()
    return (
        "WITH " + ",\n".join(parts)
        + "\nSELECT vec_id, array_to_string(codes, ' ') AS codes"
        " FROM pq_codes_t"
    )


def pq_adc_sql() -> str:
    """Oracle twin of the full train → encode → :func:`pq_adc_topk`
    pipeline for the queries ``vec_id < 5`` (same micro-unit floor, same
    tie-breaks)."""
    subdim = EMB_DIMS // PQ_M
    subs = f"(SELECT UNNEST(range(0, {PQ_M})) AS sub)"
    parts = pq_unrolled_ctes()
    parts.append(
        f"""dtable AS MATERIALIZED (
  SELECT q.vec_id AS query_id, s.sub, c.code,
         CAST(floor(({_pq_l2_duck('q.embedding', subdim)})
              * {ADC_SCALE}) AS BIGINT) AS d_micros
  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5) q,
       {subs} s
  JOIN cbf c ON c.sub = s.sub
)"""
    )
    return f"""WITH {','.join(parts)}
SELECT query_id, neighbor_id, adc_dist_micros,
       CAST(rank AS INT) AS rank
FROM (
  SELECT d.query_id, x.vec_id AS neighbor_id,
         CAST(SUM(d.d_micros) AS BIGINT) AS adc_dist_micros,
         row_number() OVER (PARTITION BY d.query_id
           ORDER BY SUM(d.d_micros) ASC, x.vec_id ASC) AS rank
  FROM (SELECT vec_id, UNNEST(codes) AS code,
               UNNEST(range(0, {PQ_M})) AS sub
        FROM pq_codes_t) x
  JOIN dtable d ON d.sub = x.sub AND d.code = x.code
  WHERE x.vec_id <> d.query_id
  GROUP BY d.query_id, x.vec_id
) WHERE rank <= {PQ_K}"""


def l2sq_full_sql() -> str:
    """Unrolled full-vector squared L2 between ``embedding`` and the
    coarse centroid ``ccent`` — Spark SQL text with 1-based indices.
    The oracle uses the DuckDB twin :func:`_l2_full_duck`; both keep the
    same left-associative ``+`` term order."""
    terms = []
    for i in range(1, EMB_DIMS + 1):
        d = (
            f"(CAST(element_at(embedding, {i}) AS DOUBLE)"
            f" - CAST(element_at(ccent, {i}) AS DOUBLE))"
        )
        terms.append(f"{d} * {d}")
    return " + ".join(terms)


def _coarse_kmeans(
    corpus: DataFrame, trunc: LineageTruncator
) -> tuple[DataFrame, DataFrame]:
    """L2 full-vector Lloyd loop shared by BOTH IVF-PQ compositions —
    one definition so a tie-break/precision/seeding fix cannot
    desynchronize the raw and residual paths (their SQL oracles likewise
    share the coarse CTE builder). Deterministic lowest-id seeds,
    decimal-exact means. Returns ``(assigned, coarse_final)``: the final
    (id, vec, cell) assignment (lineage-truncated through ``trunc`` —
    it feeds both the final means and the caller's code/cell join) and
    the final (cell, ccent) centroid table (lazy plan over the
    materialized assignment — keep ``trunc`` uncut until consumed).

    Round-14 loop shape (guide §2.4/§5, same doctrine as
    :func:`pq_train_codebooks`): intermediate rounds truncate the
    IVFPQ_NCELLS-row CENTROID table, not the corpus-sized assignment — one
    job per round (the assignment evaluates inside the centroid cut),
    and the next round's broadcast reads IVFPQ_NCELLS materialized rows
    instead of a corpus-sized checkpoint."""
    seeds = (
        corpus.orderBy("vec_id")
        .limit(IVFPQ_NCELLS)
        .select(
            F.col("embedding"),
            (F.row_number().over(Window.orderBy("vec_id")) - 1)
            .cast("int")
            .alias("cell"),
        )
    )
    # seed centroids stay LAZY: round 1's cut evaluates them once.
    cb = seeds.select(
        "cell",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("ccent"),
    )

    def _assign_cells(cb: DataFrame) -> DataFrame:
        scored = corpus.crossJoin(F.broadcast(cb)).withColumn(
            "__d", F.expr(l2sq_full_sql())
        )
        return scored.groupBy("vec_id").agg(
            F.min_by(
                F.col("cell"), F.struct(F.col("__d").alias("d"), F.col("cell"))
            ).alias("cell"),
            F.first("embedding").alias("embedding"),
        )

    def _cell_means(assigned: DataFrame) -> DataFrame:
        # posexplode → (cell, dim) mean → re-assemble. A fused 64-wide
        # decimal-sum aggregate measured ~1.6× SLOWER (the
        # cell_centroids round-14 A/B note: wide decimal buffers fall
        # out of efficient codegen); the narrow 8-wide subspace means
        # in _codebook_means DO keep the fused form.
        per_dim = (
            assigned.select(
                "cell",
                F.posexplode("embedding").alias("i0", "__raw"),
            )
            .withColumn("__v", F.col("__raw").cast("double"))
            .groupBy("cell", "i0")
            .agg(
                (
                    F.sum(F.col("__v").cast("decimal(20,10)")).cast("double")
                    / F.count(F.lit(1))
                ).alias("mean_val")
            )
        )
        return per_dim.groupBy("cell").agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("i0", "mean_val"))),
                lambda s: s["mean_val"],
            ).alias("ccent")
        )

    for _ in range(PQ_ITERS - 1):
        cb = trunc.truncate(_cell_means(_assign_cells(cb)))
    # Final assignment IS the corpus-scale cut: it has multiple
    # consumers (the final means, the caller's codes/cell join, the
    # residual subtraction), so one materialization beats re-running
    # the assignment per consumer. Truncating it also retires the last
    # intermediate centroid cut (read during this materialization).
    assigned = trunc.truncate(_assign_cells(cb))
    coarse_final = _cell_means(assigned)
    return assigned, coarse_final


def ivfpq_topk(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """The full IVF-PQ composition: L2 coarse cells prune the corpus,
    PQ-ADC ranks inside the probed cells — the standard billion-scale
    serving shape (coarse partitioner × compressed fine codes).

    Simplification, stated plainly: codes quantize the RAW vectors, not
    the per-cell residuals of the canonical IVFADC — residual encoding
    improves recall but makes the query lookup table cell-dependent;
    this variant keeps one ``PQ_M × PQ_NCODES`` table per query and composes
    the two pruning structures unchanged. Both stages train with the
    same deterministic lowest-id seeding and decimal-exact means.

    Scale shape: coarse centroids and codebooks broadcast; the corpus
    is scanned for assignment/encoding with map-side argmin combines;
    at query time only code rows of the probed cells join the broadcast
    lookup tables. Output matches :func:`pq_adc_topk`'s schema.
    """
    subdim = EMB_DIMS // PQ_M
    spark = corpus.sparkSession
    trunc = shared_slot(
        spark, "pq.ivfpq_coarse", lambda: LineageTruncator(spark)
    )

    assigned, coarse_final = _coarse_kmeans(corpus, trunc)

    # --- fine quantizer: PQ codebooks + codes, cell kept alongside ---
    codebooks = pq_train_codebooks(corpus)
    codes = pq_encode(corpus, codebooks).join(
        assigned.select("vec_id", "cell"), "vec_id"
    )

    # --- query: probe IVFPQ_NPROBE nearest cells, ADC within --------
    probes = (
        queries.select(F.col("vec_id").alias("query_id"), F.col("embedding"))
        .crossJoin(F.broadcast(coarse_final))
        .withColumn("__d", F.expr(l2sq_full_sql()))
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("__d").asc(), F.col("cell").asc()
                )
            ),
        )
        .filter(F.col("__rn") <= IVFPQ_NPROBE)
        .select("query_id", "cell")
    )
    dtable = (
        _sub_rows(queries, "embedding")
        .withColumnRenamed("vec_id", "query_id")
        .join(F.broadcast(codebooks), "sub")
        .select(
            "query_id",
            "sub",
            "code",
            F.floor(F.expr(l2sq_sub_sql("embedding", subdim)) * ADC_SCALE)
            .cast("bigint")
            .alias("d_micros"),
        )
    )
    in_cells = codes.join(
        F.broadcast(probes), "cell"
    ).select("query_id", F.col("vec_id").alias("neighbor_id"), "codes")
    ranked = (
        in_cells.select(
            "query_id", "neighbor_id", F.posexplode("codes").alias("sub", "code")
        )
        .join(F.broadcast(dtable), ["query_id", "sub", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d_micros").alias("adc_dist_micros"))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("adc_dist_micros").asc(), F.col("neighbor_id").asc()
                )
            ),
        )
        .filter(F.col("rank") <= PQ_K)
    )
    return ranked.select(
        "query_id",
        "neighbor_id",
        "adc_dist_micros",
        F.col("rank").cast("int").alias("rank"),
    )


def _l2_full_duck(a: str) -> str:
    """Squared L2 between ``a`` and the coarse centroid ``c.ccent``."""
    terms = []
    for i in range(1, EMB_DIMS + 1):
        d = f"({a}[{i}]::DOUBLE - c.ccent[{i}]::DOUBLE)"
        terms.append(f"{d} * {d}")
    return " + ".join(terms)


def _coarse_sql_ctes() -> list[str]:
    """The unrolled L2 coarse-k-means CTE chain (``ccb0`` seeds →
    ``ca{r}`` assignments → ``ccf`` final centroids) — ONE definition
    shared by both IVF-PQ oracles, mirroring ``_coarse_kmeans`` on the
    Spark side so the four copies can never drift pairwise."""

    def cassign(cb: str, name: str) -> str:
        return f"""{name} AS MATERIALIZED (
  SELECT vec_id, embedding, cell FROM (
    SELECT e.vec_id, e.embedding, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {_l2_full_duck('e.embedding')} ASC,
                      c.cell ASC) AS rn
    FROM embeddings e CROSS JOIN {cb} c
  ) WHERE rn = 1
)"""

    def cmeans(src: str, name: str) -> str:
        return f"""{name} AS MATERIALIZED (
  SELECT cell,
    list_transform(range(1, {EMB_DIMS + 1}), i ->
      CAST(list_sum(list_transform(vecs, v -> v[i]::DOUBLE::DECIMAL(20,10)))
        AS DOUBLE) / n) AS ccent
  FROM (SELECT cell, list(embedding) AS vecs, COUNT(*) AS n
        FROM {src} GROUP BY cell)
)"""

    parts = [
        f"""ccb0 AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
         list_transform(embedding, x -> x::DOUBLE) AS ccent
  FROM (SELECT vec_id, embedding FROM embeddings
        ORDER BY vec_id LIMIT {IVFPQ_NCELLS})
)"""
    ]
    cb = "ccb0"
    for r in range(1, PQ_ITERS + 1):
        parts.append(cassign(cb, f"ca{r}"))
        cb = f"ccb{r}" if r < PQ_ITERS else "ccf"
        parts.append(cmeans(f"ca{r}", cb))
    return parts


def ivfpq_sql() -> str:
    """DuckDB oracle twin of :func:`ivfpq_topk`: unrolled L2 coarse
    k-means + the PQ chain + probed-cell ADC, same tie-breaks and
    integer micro-unit totals throughout."""
    subdim = EMB_DIMS // PQ_M
    subs = f"(SELECT UNNEST(range(0, {PQ_M})) AS sub)"

    parts = _coarse_sql_ctes()
    parts.extend(pq_unrolled_ctes())
    parts.append(
        f"""probes AS MATERIALIZED (
  SELECT query_id, cell FROM (
    SELECT q.vec_id AS query_id, c.cell,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY {_l2_full_duck('q.embedding')} ASC,
                      c.cell ASC) AS rn
    FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5) q
    CROSS JOIN ccf c
  ) WHERE rn <= {IVFPQ_NPROBE}
)"""
    )
    parts.append(
        f"""dtable AS MATERIALIZED (
  SELECT q.vec_id AS query_id, s.sub, c.code,
         CAST(floor(({_pq_l2_duck('q.embedding', subdim)})
              * {ADC_SCALE}) AS BIGINT) AS d_micros
  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5) q,
       {subs} s
  JOIN cbf c ON c.sub = s.sub
)"""
    )
    return f"""WITH {','.join(parts)}
SELECT query_id, neighbor_id, adc_dist_micros, CAST(rank AS INT) AS rank
FROM (
  SELECT p.query_id, x.vec_id AS neighbor_id,
         CAST(SUM(d.d_micros) AS BIGINT) AS adc_dist_micros,
         row_number() OVER (PARTITION BY p.query_id
           ORDER BY SUM(d.d_micros) ASC, x.vec_id ASC) AS rank
  FROM probes p
  JOIN ca{PQ_ITERS} cm ON cm.cell = p.cell
  JOIN (SELECT vec_id, UNNEST(codes) AS code, UNNEST(range(0, {PQ_M})) AS sub
        FROM pq_codes_t) x ON x.vec_id = cm.vec_id
  JOIN dtable d ON d.query_id = p.query_id
                AND d.sub = x.sub AND d.code = x.code
  WHERE x.vec_id <> p.query_id
  GROUP BY p.query_id, x.vec_id
) WHERE rank <= {PQ_K}"""


def ivfpq_residual_topk(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """Canonical IVFADC [Jégou et al., TPAMI 2011 §IV]: PQ codes quantize
    the RESIDUAL ``v - coarse_centroid(cell(v))``, not the raw vector.

    Residuals are much smaller than raw vectors (the coarse quantizer
    absorbs the corpus-level structure), so the same bit budget yields
    finer distances — the recall case over :func:`ivfpq_topk`'s
    raw-vector simplification. The price is a cell-DEPENDENT query
    lookup table: the query's residual differs per probed cell, so the
    table is (query × probed-cell × ``PQ_M`` × ``PQ_NCODES``) rows —
    still broadcast-scale by construction.

    All arithmetic contracts match the rest of the module: decimal-exact
    means, left-associative double chains, integer micro-unit ADC sums,
    lowest-id/lowest-code tie-breaks. Output schema = pq_adc_topk's.
    """
    subdim = EMB_DIMS // PQ_M
    spark = corpus.sparkSession
    trunc = shared_slot(
        spark, "pq.ivfpq_coarse", lambda: LineageTruncator(spark)
    )

    assigned, coarse_final = _coarse_kmeans(corpus, trunc)

    # --- residuals: v - ccent(cell(v)), materialized once ------------
    resid_trunc = shared_slot(
        spark, "pq.ivfpq_residuals", lambda: LineageTruncator(spark)
    )
    resid = resid_trunc.truncate(
        assigned.join(F.broadcast(coarse_final), "cell").select(
            "vec_id",
            "cell",
            F.expr(
                "zip_with(embedding, ccent, (x, y) -> CAST(x AS DOUBLE) - y)"
            ).alias("resid"),
        )
    )

    # --- fine quantizer on residuals ---------------------------------
    codebooks = pq_train_codebooks(resid, vec_col="resid")
    codes = pq_encode(resid, codebooks, vec_col="resid").join(
        resid.select("vec_id", "cell"), "vec_id"
    )

    # --- query: probe cells, cell-dependent residual lookup tables ---
    probes = (
        queries.select(F.col("vec_id").alias("query_id"), F.col("embedding"))
        .crossJoin(F.broadcast(coarse_final))
        .withColumn("__d", F.expr(l2sq_full_sql()))
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("__d").asc(), F.col("cell").asc()
                )
            ),
        )
        .filter(F.col("__rn") <= IVFPQ_NPROBE)
        .select(
            "query_id",
            "cell",
            F.expr(
                "zip_with(embedding, ccent, (x, y) -> CAST(x AS DOUBLE) - y)"
            ).alias("qresid"),
        )
    )
    dtable = (
        probes.select(
            "query_id",
            "cell",
            "qresid",
            F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("sub"),
        )
        .join(F.broadcast(codebooks), "sub")
        .select(
            "query_id",
            "cell",
            "sub",
            "code",
            F.floor(F.expr(l2sq_sub_sql("qresid", subdim)) * ADC_SCALE)
            .cast("bigint")
            .alias("d_micros"),
        )
    )
    ranked = (
        codes.join(
            F.broadcast(probes.select("query_id", "cell")), "cell"
        )
        .select(
            "query_id",
            "cell",
            F.col("vec_id").alias("neighbor_id"),
            F.posexplode("codes").alias("sub", "code"),
        )
        .join(F.broadcast(dtable), ["query_id", "cell", "sub", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d_micros").alias("adc_dist_micros"))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("adc_dist_micros").asc(), F.col("neighbor_id").asc()
                )
            ),
        )
        .filter(F.col("rank") <= PQ_K)
    )
    return ranked.select(
        "query_id",
        "neighbor_id",
        "adc_dist_micros",
        F.col("rank").cast("int").alias("rank"),
    )


def ivfpq_residual_sql() -> str:
    """DuckDB oracle twin of :func:`ivfpq_residual_topk`: the coarse
    chain, the residual table, the PQ chain over residuals (via the
    parametrized :func:`pq_unrolled_ctes`), and the cell-dependent
    residual ADC."""
    subdim = EMB_DIMS // PQ_M
    subs = f"(SELECT UNNEST(range(0, {PQ_M})) AS sub)"

    parts = _coarse_sql_ctes()
    parts.append(
        f"""resid_t AS MATERIALIZED (
  SELECT a.vec_id, a.cell,
         list_transform(range(1, {EMB_DIMS + 1}),
           i -> a.embedding[i]::DOUBLE - c.ccent[i]) AS resid
  FROM ca{PQ_ITERS} a JOIN ccf c ON c.cell = a.cell
)"""
    )
    parts.extend(
        pq_unrolled_ctes(src="resid_t", vec="resid")
    )
    parts.append(
        f"""probes AS MATERIALIZED (
  SELECT query_id, cell, qresid FROM (
    SELECT q.vec_id AS query_id, c.cell,
           list_transform(range(1, {EMB_DIMS + 1}),
             i -> q.embedding[i]::DOUBLE - c.ccent[i]) AS qresid,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY {_l2_full_duck('q.embedding')} ASC,
                      c.cell ASC) AS rn
    FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5) q
    CROSS JOIN ccf c
  ) WHERE rn <= {IVFPQ_NPROBE}
)"""
    )
    parts.append(
        f"""dtable AS MATERIALIZED (
  SELECT p.query_id, p.cell, s.sub, c.code,
         CAST(floor(({_pq_l2_duck('p.qresid', subdim)})
              * {ADC_SCALE}) AS BIGINT) AS d_micros
  FROM probes p, {subs} s
  JOIN cbf c ON c.sub = s.sub
)"""
    )
    return f"""WITH {','.join(parts)}
SELECT query_id, neighbor_id, adc_dist_micros, CAST(rank AS INT) AS rank
FROM (
  SELECT d.query_id, x.vec_id AS neighbor_id,
         CAST(SUM(d.d_micros) AS BIGINT) AS adc_dist_micros,
         row_number() OVER (PARTITION BY d.query_id
           ORDER BY SUM(d.d_micros) ASC, x.vec_id ASC) AS rank
  FROM resid_t rt
  JOIN (SELECT vec_id, UNNEST(codes) AS code, UNNEST(range(0, {PQ_M})) AS sub
        FROM pq_codes_t) x ON x.vec_id = rt.vec_id
  JOIN dtable d ON d.cell = rt.cell
                AND d.sub = x.sub AND d.code = x.code
  WHERE x.vec_id <> d.query_id
  GROUP BY d.query_id, x.vec_id
) WHERE rank <= {PQ_K}"""
