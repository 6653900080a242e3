"""Corpus-hygiene queries for LLM training-data pipelines (round 2).

* ``decontam_overlap`` — benchmark decontamination: flag training documents
  sharing any token 4-gram with a held-out benchmark set (here the
  deterministic ``doc_id % 37 == 0`` slice stands in for an eval suite).
  The shingle machinery is the same proven pair used by MinHash dedup
  (``functions.text.shingles`` / ``_shingle_sql``).
* ``text_repetition`` — Gopher-style repetition signals (Rae et al. 2021,
  public): top-unigram fraction and duplicate 2-/3-gram fractions per
  document. High values indicate boilerplate/spam worth filtering.
* ``agg_median_price`` — exact grouped median via rank arithmetic (no
  engine ``median()``, whose interpolation differs across engines).
* ``agg_price_histogram`` — fixed-width bucketing of order totals; the
  single-pass shape every data-profiling sweep needs.

Numeric discipline: fractions divide integer counts cast to double (IEEE
division, deterministic on both engines); money goes DECIMAL → ``dec_out``;
the median averages at most two doubles picked from the data.

At 100 TB: decontamination broadcasts the benchmark shingle set (eval
suites are tiny next to the corpus — the corpus side never shuffles);
repetition signals are one explode+aggregate keyed by doc_id (combiner
shrinks each doc to one row map-side); the median shuffles once on the
group key; the histogram is a pure map-side-combine aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.functions.text import (
    WS_TOKENS_SQL,
    has_ws_tokens,
    shingles,
    ws_token_count,
    ws_tokens,
)
from etl_pipeline_excel_sql__spark.plans.analytics_queries import DEC, dec_out
from etl_pipeline_excel_sql__spark.plans.pipeline_queries import _shingle_sql
from etl_pipeline_excel_sql__spark.sources.registry import load_table

DECONTAM_SHINGLE_N = 4
BENCH_MOD = 37
HIST_BUCKET = 50_000.0


def q_decontam_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training docs contaminated by benchmark n-gram overlap.

    Output: (doc_id, n_overlap_shingles) for every training document that
    shares at least one distinct token 4-gram with the benchmark set.

    Scale contract — the benchmark side is deliberately NOT
    force-broadcast. A real eval suite is tiny and broadcasting it is the
    right plan, but the demo wiring derives the bench side from the
    corpus itself (``doc_id % BENCH_MOD``), so its distinct shingle set
    grows O(corpus) and an unconditional ``F.broadcast`` OOMs the driver
    at 100×. The size-gate lives in the engine instead: Catalyst's
    static size estimate picks the join strategy, and AQE upgrades the
    shuffle join to broadcast at runtime exactly when the materialized
    bench side lands under ``spark.sql.autoBroadcastJoinThreshold`` —
    small bench ⇒ the old zero-corpus-shuffle broadcast plan, oversize
    bench ⇒ graceful shuffle join on the shingle key
    (``tests/test_plan_census.py`` pins both behaviors).
    """
    docs = load_table(spark, "documents", sf_dir)
    sh = shingles(ws_tokens(F.col("text")), DECONTAM_SHINGLE_N)
    shingled = docs.filter(has_ws_tokens()).select(
        "doc_id", F.explode(sh).alias("sh")
    )
    bench = (
        shingled.filter(F.col("doc_id") % BENCH_MOD == 0).select("sh").distinct()
    )
    train = shingled.filter(F.col("doc_id") % BENCH_MOD != 0)
    return (
        train.join(bench, "sh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap_shingles"))
    )


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition signals (Gopher-style quality filters).

    ``top_unigram_frac`` comes from an explode + two-level codegen
    aggregate (token counts collapse map-side); the duplicate n-gram
    fractions compare window count against distinct-shingle count from
    the same arrays MinHash uses. Single-token docs define both dup
    fractions as 0.
    """
    docs = load_table(spark, "documents", sf_dir)
    toks = ws_tokens(F.col("text"))
    base = docs.select("doc_id", toks.alias("toks")).filter(
        F.size("toks") > 0
    )
    uni = (
        base.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_cnt"), F.sum("c").alias("n_toks"))
    )
    arr = base.select(
        "doc_id",
        F.size("toks").alias("n"),
        F.size(shingles(F.col("toks"), 2)).alias("d2"),
        F.size(shingles(F.col("toks"), 3)).alias("d3"),
    )

    def dup_frac(n_grams, distinct):
        total = F.col("n") - F.lit(n_grams - 1)
        return F.when(
            F.col("n") >= n_grams,
            (total - distinct).cast("double") / total.cast("double"),
        ).otherwise(F.lit(0.0))

    return uni.join(arr, "doc_id").select(
        "doc_id",
        (
            F.col("top_cnt").cast("double") / F.col("n_toks").cast("double")
        ).alias("top_unigram_frac"),
        dup_frac(2, F.col("d2")).alias("dup_2gram_frac"),
        dup_frac(3, F.col("d3")).alias("dup_3gram_frac"),
    )


def q_agg_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median order total per priority, by rank arithmetic.

    Sorting by value makes the value at each rank well-defined even with
    ties, so no tie-break column is needed; the two middle ranks (equal
    when the group is odd-sized) average with one deterministic double
    add-and-halve. Engine ``median()`` is avoided on both sides — its
    interpolation is implementation-defined.
    """
    o = load_table(spark, "orders", sf_dir).select(
        "o_orderpriority", "o_totalprice"
    )
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    ranked = o.select(
        "o_orderpriority",
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(
            Window.partitionBy("o_orderpriority")
        ).alias("cnt"),
    )
    mid = ranked.filter(
        (F.col("rn") == F.expr("(cnt + 1) div 2"))
        | (F.col("rn") == F.expr("(cnt + 2) div 2"))
    )
    return mid.groupBy("o_orderpriority").agg(
        (F.sum("o_totalprice") / F.count("*")).alias("median_price")
    )


def q_vec_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column.

    Per-dimension scale = 127 / max|x| over the corpus (a max aggregate —
    order-independent, so float-exact on both engines); codes come from
    ``floor(x * 127 / maxabs + 0.5)`` (deterministic half-up for both
    signs — engine ``round()`` semantics differ, ``floor`` doesn't).
    Output is the long-form (vec_id, dim, code, abs reconstruction
    error); storage drops 4× and the dequantized error is audited in the
    same pass. At 100 TB: one explode + per-dim max (64 groups,
    map-side combined) broadcast back over the scan — the corpus never
    shuffles.
    """
    emb = load_table(spark, "embeddings", sf_dir)
    ex = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "xf")
    ).select("vec_id", "dim", F.col("xf").cast("double").alias("x"))
    stats = F.broadcast(
        ex.groupBy("dim").agg(F.max(F.abs(F.col("x"))).alias("maxabs"))
    )
    code = F.floor(
        F.col("x") * F.lit(127.0) / F.col("maxabs") + F.lit(0.5)
    ).cast("int")
    quant = ex.join(stats, "dim").withColumn("code", code)
    return quant.select(
        "vec_id",
        "dim",
        "code",
        F.abs(
            F.col("code").cast("double") * F.col("maxabs") / F.lit(127.0)
            - F.col("x")
        ).alias("abs_err"),
    )


def q_agg_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-total histogram: 50k-wide buckets with count and exact sum."""
    o = load_table(spark, "orders", sf_dir)
    bucket = F.floor(F.col("o_totalprice") / F.lit(HIST_BUCKET)).cast("bigint")
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_orders"),
            dec_out(
                F.sum(F.col("o_totalprice").cast(DEC)).cast("decimal(38,2)")
            ).alias("total_price"),
        )
    )


_SHINGLED = f"""
  SELECT doc_id, unnest({{sh}}) AS sh
  FROM (SELECT doc_id, {WS_TOKENS_SQL} AS toks FROM documents)
  WHERE len(toks) > 0
""".format

ORACLE: dict[str, str] = {
    "decontam_overlap": f"""
        WITH shingled AS ({_SHINGLED(sh=_shingle_sql(DECONTAM_SHINGLE_N))}),
        bench AS (
          SELECT DISTINCT sh FROM shingled WHERE doc_id % {BENCH_MOD} = 0
        ),
        train AS (
          SELECT doc_id, sh FROM shingled WHERE doc_id % {BENCH_MOD} <> 0
        )
        SELECT doc_id, COUNT(*) AS n_overlap_shingles
        FROM train JOIN bench USING (sh)
        GROUP BY doc_id""",
    "text_repetition": f"""
        WITH base AS (
          SELECT doc_id, toks FROM (SELECT doc_id, {WS_TOKENS_SQL} AS toks
                                    FROM documents)
          WHERE len(toks) > 0
        ), cnts AS (
          SELECT doc_id, tok, COUNT(*) AS c
          FROM (SELECT doc_id, unnest(toks) AS tok FROM base)
          GROUP BY doc_id, tok
        ), uni AS (
          SELECT doc_id, MAX(c) AS top_cnt, SUM(c) AS n_toks
          FROM cnts GROUP BY doc_id
        ), arr AS (
          SELECT doc_id, len(toks) AS n,
                 len({_shingle_sql(2)}) AS d2,
                 len({_shingle_sql(3)}) AS d3
          FROM base
        )
        SELECT doc_id,
               CAST(top_cnt AS DOUBLE) / CAST(n_toks AS DOUBLE)
                 AS top_unigram_frac,
               CASE WHEN n >= 2
                    THEN CAST(n - 1 - d2 AS DOUBLE) / CAST(n - 1 AS DOUBLE)
                    ELSE 0.0 END AS dup_2gram_frac,
               CASE WHEN n >= 3
                    THEN CAST(n - 2 - d3 AS DOUBLE) / CAST(n - 2 AS DOUBLE)
                    ELSE 0.0 END AS dup_3gram_frac
        FROM uni JOIN arr USING (doc_id)""",
    "agg_median_price": """
        WITH ranked AS (
          SELECT o_orderpriority, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                    ORDER BY o_totalprice) AS rn,
                 COUNT(*) OVER (PARTITION BY o_orderpriority) AS cnt
          FROM orders
        )
        SELECT o_orderpriority,
               SUM(o_totalprice) / COUNT(*) AS median_price
        FROM ranked
        WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2
        GROUP BY o_orderpriority""",
    "vec_quantize_int8": """
        WITH ex AS (
          SELECT vec_id, r.range AS dim,
                 CAST(embedding[r.range + 1] AS DOUBLE) AS x
          FROM embeddings CROSS JOIN range(0, 64) r
        ), stats AS (
          SELECT dim, MAX(abs(x)) AS maxabs FROM ex GROUP BY dim
        )
        SELECT vec_id, CAST(dim AS INT) AS dim,
               CAST(floor(x * 127.0 / maxabs + 0.5) AS INT) AS code,
               abs(CAST(floor(x * 127.0 / maxabs + 0.5) AS INT) * maxabs
                   / 127.0 - x) AS abs_err
        FROM ex JOIN stats USING (dim)""",
    "agg_price_histogram": """
        SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bucket,
               COUNT(*) AS n_orders,
               CAST(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                    AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS total_price
        FROM orders
        GROUP BY CAST(floor(o_totalprice / 50000.0) AS BIGINT)""",
}

QUERIES = {
    "decontam_overlap": q_decontam_overlap,
    "text_repetition": q_text_repetition,
    "agg_median_price": q_agg_median_price,
    "agg_price_histogram": q_agg_price_histogram,
    "vec_quantize_int8": q_vec_quantize_int8,
}


def q_corpus_curate_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation pass: quality gate → exact dedup (keep lowest
    doc_id) → deterministic train/val/test assignment, as ONE composed
    DataFrame DAG — the shape a real training-data build runs nightly.

    Stage economics at 100 TB: the quality gate and the split tag are
    narrow maps fused into the scan; the only shuffle is the dedup's
    ``md5(text)`` hash partitioning, and it carries (hash, doc_id, small
    metadata) — the verdict row for each document, never the text twice.
    Every stage is a pure function of the row, so the pass is reproducible
    on any cluster size or partitioning.
    """
    from etl_pipeline_excel_sql__spark.plans.pipeline_queries import SPLIT_SALT

    docs = load_table(spark, "documents", sf_dir)
    n_tokens = ws_token_count(F.col("text"))
    # md5 is computed in the scan projection so the dedup exchange carries
    # the 32-byte hash, never the document body.
    staged = docs.select(
        "doc_id",
        "lang",
        "source",
        F.md5(F.col("text")).alias("__h"),
        n_tokens.cast("int").alias("n_tokens"),
    ).filter(
        (F.col("n_tokens") >= 20)
        & (F.col("n_tokens") <= 80)
        & F.col("lang").isin("en", "de", "fr")
    )
    dedup_w = Window.partitionBy("__h").orderBy("doc_id")
    deduped = (
        staged.withColumn("__rn", F.row_number().over(dedup_w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__h")
    )
    from etl_pipeline_excel_sql__spark.functions.hashing import md5_hash60

    bucket = (
        md5_hash60(F.concat(F.lit(SPLIT_SALT), F.col("doc_id").cast("string")))
        % 100
    )
    return deduped.select(
        "doc_id",
        "lang",
        "source",
        "n_tokens",
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )


def _curate_oracle() -> str:
    from etl_pipeline_excel_sql__spark.plans.pipeline_queries import (
        _HASH60,
        SPLIT_SALT,
    )

    h = _HASH60.format(e=f"concat('{SPLIT_SALT}', CAST(doc_id AS VARCHAR))")
    return f"""
        WITH staged AS (
          SELECT doc_id, lang, source, text,
                 CAST(len({WS_TOKENS_SQL}) AS INT) AS n_tokens
          FROM documents
        ), gated AS (
          SELECT * FROM staged
          WHERE n_tokens BETWEEN 20 AND 80
            AND lang IN ('en', 'de', 'fr')
        ), deduped AS (
          SELECT doc_id, lang, source, n_tokens,
                 row_number() OVER (PARTITION BY md5(text)
                                    ORDER BY doc_id) AS rn
          FROM gated
        )
        SELECT doc_id, lang, source, n_tokens,
               CASE WHEN {h} % 100 < 80 THEN 'train'
                    WHEN {h} % 100 < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM deduped WHERE rn = 1"""


ORACLE["corpus_curate_pipeline"] = _curate_oracle()
QUERIES["corpus_curate_pipeline"] = q_corpus_curate_pipeline
