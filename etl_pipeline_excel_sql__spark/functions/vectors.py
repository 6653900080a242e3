"""Vector math over ``array<float>`` embedding columns.

All expressions use an explicit left-fold with a 0.0 initial accumulator and
per-element cast-to-double, so the floating-point evaluation order is fully
specified — results are bit-identical across engines (the DuckDB oracle uses
the same sequential fold), and no rounding fudge is ever needed for
correctness comparison.

Everything here is codegen'd array arithmetic: at 100 TB the similarity scan
is embarrassingly parallel with zero shuffle until the top-k reduction.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from etl_pipeline_excel_sql__spark.functions.localframe import local_df

#: Width of the ``embeddings`` table's vectors, and of every vector the
#: operators here and in ``operators/similarity.py`` read.
EMB_DIMS = 64
#: SRP-LSH geometry of the near-dup operators: hash tables per vector,
#: and the plane stride between tables — the largest bit count any
#: caller may ask for (see :func:`srp_planes_df`).
SRP_NEARDUP_TABLES = 3
SRP_NEARDUP_MAX_BITS = 16
SRP_NEARDUP_BITS = 6
#: Adaptive SRP sizing (SCALING.md knob rule, measured round 7): hold
#: expected bucket occupancy ~constant by growing bits with the corpus —
#: each +1 bit halves occupancy and ~quarters candidate pairs. The r7
#: sf1 probe showed the fixed-6-bit family going quadratic (10× vectors
#: → ~100× candidate pairs); bits ≈ log2(n / target_bucket) is the fix.
SRP_TARGET_BUCKET = 16


def adaptive_srp_bits(n_vectors: int) -> int:
    """``clamp(ceil(log2(n / SRP_TARGET_BUCKET)), MIN, MAX)`` in pure
    integer arithmetic (an integer threshold ladder — no float log2, so
    the DuckDB twin ``plans/pipeline_queries._NV_CTE`` reproduces it
    bit-for-bit at every SF). ``MAX=16`` bounds the oracle's gated plane
    enumeration; it is the registered queries' policy, not an operator
    limit — a 100 TB deployment calls ``cosine_neardup_pairs`` with
    whatever bits it needs.
    """
    return SRP_NEARDUP_BITS + sum(
        1
        for k in range(SRP_NEARDUP_BITS + 1, SRP_NEARDUP_MAX_BITS + 1)
        if n_vectors > SRP_TARGET_BUCKET * (1 << (k - 1))
    )


def dot_sql(a: str, b: str) -> str:
    """Unrolled left-associative dot product over the ``EMB_DIMS``
    components as Spark-SQL text.

    ``a``/``b`` are SQL expressions (column names or field paths). One
    parsed string beats building ~2·EMB_DIMS Column ops through py4j by
    ~1000× in driver time, and the text is byte-stable across invocations
    so the codegen cache can reuse the compiled class.
    """
    return " + ".join(
        f"CAST(element_at({a}, {i + 1}) AS DOUBLE)"
        f" * CAST(element_at({b}, {i + 1}) AS DOUBLE)"
        for i in range(EMB_DIMS)
    )


def l2_norm_sq_sql(a: str) -> str:
    return dot_sql(a, a)


def _plain_column_name(c: Column | str) -> str:
    """Unwrap a plain named Column; reject computed expressions (the SQL
    generators need a reference they can splice into text, and computed
    Columns have no recoverable SQL text through the public API)."""
    if isinstance(c, str):
        return c
    s = str(c)
    name = s[8:-2]
    if s.startswith("Column<'") and s.endswith("'>") and name.isidentifier():
        return name
    raise ValueError(
        f"need a plain column name, got {c!r}; pass the name instead"
    )


def dot(a: Column | str, b: Column | str) -> Column:
    """Sequential dot product: ``sum_i a[i]*b[i]`` in doubles over the
    ``EMB_DIMS`` components.

    The sum is one parsed :func:`dot_sql` expression: a flat
    left-associative chain of plain codegen'd arithmetic, ~50× faster
    than a higher-order ``aggregate`` fold (HOF lambdas are interpreted
    per element, outside whole-stage codegen). The chain computes the
    exact IEEE result of the oracle's 0.0-seeded fold
    (``0.0 + p1 == p1``). ``a`` and ``b`` must be plain column names (a
    named Column is unwrapped); a computed Column raises ``ValueError``.
    """
    return F.expr(dot_sql(_plain_column_name(a), _plain_column_name(b)))


def l2_norm_sq(a: Column | str) -> Column:
    return dot(a, a)


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity with deterministic evaluation order."""
    return dot(a, b) / (F.sqrt(l2_norm_sq(a)) * F.sqrt(l2_norm_sq(b)))


def cosine_sql() -> str:
    """Cosine of ``embedding`` and ``centroid`` as one SQL string (see
    :func:`dot_sql` for why text)."""
    return (
        f"(({dot_sql('embedding', 'centroid')})"
        f" / (SQRT({l2_norm_sq_sql('embedding')})"
        f" * SQRT({l2_norm_sq_sql('centroid')})))"
    )


def _srp_plane(j: int, i: int) -> float:
    """Hyperplane component (j, i): deterministic pseudo-random in
    [-0.5, 0.5). Identical to the engine/oracle expression
    ``conv(substr(md5('srp:j:i'),1,15),16,10) % 100000 / 100000 - 0.5`` --
    hashlib.md5 yields the same digits, so the constant folds driver-side
    and the projection compiles to a plain multiply-add chain instead of an
    interpreted higher-order fold (~50x on the hot path)."""
    import hashlib

    h = int(hashlib.md5(f"srp:{j}:{i}".encode()).hexdigest()[:15], 16)
    return (h % 100000) / 100000.0 - 0.5


def srp_signature(a: Column | str) -> Column:
    """Signed-random-projection LSH signature (for ANN bucketing): an
    8-bit integer bucket id over the ``EMB_DIMS`` components of ``a``.

    Hyperplane components derive from md5 -- reproducible anywhere, no
    stored model. Hyperplanes 0..7 are the first table of
    :func:`srp_planes_df` at any stride.

    The expression is generated as ONE SQL string and parsed JVM-side:
    building the ~2,000-node tree through per-op Python calls costs seconds
    of driver time per invocation, while parsing the equivalent text takes
    milliseconds. ``a`` must therefore be a plain column name (a named
    Column is unwrapped). Sums are written left-associative, matching the
    oracle's sequential fold bit-for-bit.
    """
    col = _plain_column_name(a)
    bit_sqls = []
    for j in range(8):
        terms = " + ".join(
            f"CAST(element_at({col}, {i + 1}) AS DOUBLE) * {_srp_plane(j, i)!r}D"
            for i in range(EMB_DIMS)
        )
        bit_sqls.append(
            f"(CASE WHEN ({terms}) > 0 THEN CAST({1 << j} AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END)"
        )
    return F.expr(" + ".join(bit_sqls))


def srp_planes_df(spark, bits: int):
    """The hyperplane model as a tiny broadcastable table:
    ``(__t, __j, __plane array<double>, __w = 2^j)`` —
    ``SRP_NEARDUP_TABLES``×bits rows. Column names are __-reserved so the
    crossJoin in :func:`srp_buckets_long` can never collide with a corpus
    column (short names like ``t``/``w`` are common in caller frames).
    Plane components come from the same md5 derivation as
    :func:`srp_signature` (identical doubles), just computed driver-side
    once.

    Table ``t``'s flat plane indices are ``t*SRP_NEARDUP_MAX_BITS ..
    t*SRP_NEARDUP_MAX_BITS+bits-1``: a constant stride ≥ every bit count
    makes the plane family a prefix-stable function of (t, j), so growing
    ``bits`` with the corpus adds planes without re-seeding the ones
    already in use — and the oracle twin can enumerate a fixed plane set
    gated by a runtime bit count.
    """
    stride = SRP_NEARDUP_MAX_BITS
    if stride < bits:
        raise ValueError(f"plane stride {stride} < bits {bits}: tables overlap")
    rows = [
        (t, j, [_srp_plane(t * stride + j, i) for i in range(EMB_DIMS)], 1 << j)
        for t in range(SRP_NEARDUP_TABLES)
        for j in range(bits)
    ]
    return local_df(
        spark, rows, "__t INT, __j INT, __plane ARRAY<DOUBLE>, __w BIGINT"
    )


def srp_buckets_long(
    corpus,
    id_col: str,
    vec_col: str,
    bits: int,
    extra_cols: tuple[str, ...] = (),
) -> "DataFrame":
    """Multi-table SRP buckets in long form: ``(id, *extra, __table,
    __bucket)`` — one row per (vector, table).

    Planes enter as a broadcast TABLE (:func:`srp_planes_df`), so the
    per-row expression is one ``EMB_DIMS``-term dot product — small enough
    to whole-stage-codegen no matter how many tables/bits, with text that
    is identical across invocations (codegen cache hit). The bucket
    integer is an order-independent BIGINT sum of ``2^j`` votes, so the
    map-side combined groupBy carries ``SRP_NEARDUP_TABLES`` rows per
    vector and the result is bit-identical to :func:`srp_signature`'s
    fused chain (same plane doubles, same left-associative projection
    fold).
    """
    planes = srp_planes_df(corpus.sparkSession, bits)
    return (
        corpus.crossJoin(F.broadcast(planes))
        .withColumn("__proj", F.expr(dot_sql(vec_col, "__plane")))
        .groupBy(F.col(id_col), *[F.col(c) for c in extra_cols], F.col("__t"))
        .agg(
            F.sum(
                F.when(F.col("__proj") > 0, F.col("__w")).otherwise(
                    F.lit(0).cast("bigint")
                )
            ).alias("__bucket")
        )
        .select(
            F.col(id_col),
            *[F.col(c) for c in extra_cols],
            F.col("__t").alias("__table"),
            F.col("__bucket"),
        )
    )
