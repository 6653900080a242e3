"""Training-data pipeline mechanics: deterministic sampling, output
sharding, curriculum batching, and the Bloom-prefiltered join.

Every "random" choice in a 100 TB pipeline must be a pure function of the
data, or reruns/stragglers/speculative tasks produce different corpora.
All sampling here keys on the engine-standard 60-bit md5 hash
(``functions/hashing.md5_hash60``) — reproducible on any engine, any
partitioning, any retry, and verifiable by the DuckDB oracle from the same
definition.

* ``sample_stratified`` — per-stratum Bernoulli sampling by hash
  threshold: language-balanced subcorpora (downsample the dominant
  language, keep the tail). A pure narrow filter — pushdown-friendly, no
  shuffle, and the SAME rows at any scale-up.
* ``shard_manifest`` — hash-sharded output assignment plus the per-shard
  manifest (doc count, total chars, id range) a writer needs to size
  training shards; at 100 TB this is ``repartition(shard)`` + parquet
  writer, here the manifest aggregate is the checked artifact.
* ``curriculum_buckets`` — length-bucketed batch assignment (the
  sequence-packing sibling): docs bucketed by token-length band, then
  numbered into fixed-size batches per bucket by a deterministic order.
  One window shuffle on the bucket key.
* ``join_bloom_prefilter`` — the ``operators/bloom.py`` composition:
  Bloom-prefilter lineitem against urgent orders, then the exact
  semi-join. The oracle is the PLAIN semi-join — proving the Bloom stage
  is transparent (no false negatives survive, false positives removed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.functions.hashing import (
    H60_SQL,
    md5_hash60,
)
from etl_pipeline_excel_sql__spark.functions.text import (
    WS_TOKENS_SQL,
    ws_token_count,
)
from etl_pipeline_excel_sql__spark.operators.bloom import (
    bloom_build,
    bloom_prefilter,
)
from etl_pipeline_excel_sql__spark.sources.registry import load_table

#: Per-language keep-rate in basis points of the 10k hash space: halve the
#: dominant language, keep 60% of the tail.
SAMPLE_RATE_EN_BP = 2500
SAMPLE_RATE_OTHER_BP = 6000

N_SHARDS = 16
BUCKET_TOKENS = 16  # tokens per length band
BATCH_DOCS = 8  # docs per batch within a band


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-threshold Bernoulli sample, stratified by language."""
    doc = load_table(spark, "documents", sf_dir)
    bucket = md5_hash60(
        F.concat(F.lit("sample:"), F.col("doc_id").cast("string"))
    ) % F.lit(10000).cast("bigint")
    rate = F.when(
        F.col("lang") == "en", F.lit(SAMPLE_RATE_EN_BP)
    ).otherwise(F.lit(SAMPLE_RATE_OTHER_BP))
    return doc.filter(bucket < rate).select(
        "doc_id", "lang", "source", "n_chars"
    )


def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic shard assignment + per-shard writer manifest."""
    doc = load_table(spark, "documents", sf_dir)
    shard = (
        md5_hash60(F.concat(F.lit("shard:"), F.col("doc_id").cast("string")))
        % F.lit(N_SHARDS).cast("bigint")
    ).cast("int")
    return (
        doc.groupBy(shard.alias("shard_id"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


def q_curriculum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch ids: (band, batch) for every document.

    Batching by similar length minimizes padding waste in training; the
    within-band order is (doc_id) so assignment is reproducible. The only
    shuffle is the window partition on the band key.
    """
    doc = load_table(spark, "documents", sf_dir)
    with_len = doc.select(
        "doc_id", ws_token_count("text").cast("bigint").alias("n_tokens")
    )
    banded = with_len.withColumn(
        "length_band", F.expr(f"n_tokens DIV {BUCKET_TOKENS}").cast("int")
    )
    rn = F.row_number().over(
        Window.partitionBy("length_band").orderBy("doc_id")
    )
    batch = F.expr(f"cast(_rn - 1 as bigint) DIV {BATCH_DOCS}")
    return (
        banded.withColumn("_rn", rn)
        .select(
            "doc_id",
            "n_tokens",
            "length_band",
            batch.cast("int").alias("batch_id"),
        )
    )


def q_join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered semi-join: lineitems of URGENT orders.

    The Bloom words broadcast (~8 KB) and drop most non-matching lineitem
    rows before any shuffle; the exact left-semi join then removes Bloom
    false positives, making the result identical to the plain semi-join
    (which is the oracle).
    """
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey"
    )
    words = bloom_build(urgent)
    candidates = bloom_prefilter(li, words)
    return (
        candidates.join(
            urgent,
            candidates.l_orderkey == urgent.o_orderkey,
            "left_semi",
        )
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
    )


_hx = H60_SQL.format(x="'sample:' || CAST(doc_id AS VARCHAR)")
_hs = H60_SQL.format(x="'shard:' || CAST(doc_id AS VARCHAR)")

#: Character budget of the registry's mixture rows (recipe:
#: ``operators/mixing.MIX_WEIGHTS``).
MIX_BUDGET_CHARS = 30000


def q_mix_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain mixture keep-rates: the planning half of
    ``operators/mixing.py`` (one tiny aggregate; no corpus shuffle)."""
    from etl_pipeline_excel_sql__spark.operators.mixing import (
        domain_mixture_rates,
    )

    doc = load_table(spark, "documents", sf_dir)
    return domain_mixture_rates(doc, "lang", "n_chars", MIX_BUDGET_CHARS)


def q_mix_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture resample of documents toward the recipe —
    broadcast rate join + narrow hash filter (`operators/mixing.py`)."""
    from etl_pipeline_excel_sql__spark.operators.mixing import (
        domain_mixture_sample,
    )

    doc = load_table(spark, "documents", sf_dir).select(
        "doc_id", "lang", "n_chars"
    )
    return domain_mixture_sample(
        doc, "lang", "doc_id", "n_chars", MIX_BUDGET_CHARS
    )


#: DuckDB twin of the mixture rate table (weights pre-normalized to the
#: same exact binary fractions the Spark code computes in Python).
_MIX_RATES_SQL = f"""
    WITH totals AS (
      SELECT lang AS domain, CAST(SUM(n_chars) AS BIGINT) AS domain_size
      FROM documents GROUP BY 1
    ), rates AS (
      SELECT domain, domain_size,
             {MIX_BUDGET_CHARS} * CASE domain
                 WHEN 'en' THEN 0.5::DOUBLE
                 WHEN 'de' THEN 0.25::DOUBLE
                 WHEN 'fr' THEN 0.25::DOUBLE
             END AS target_raw
      FROM totals
    )
    SELECT domain, domain_size,
           CAST(floor(target_raw) AS BIGINT) AS target_size,
           CAST(least(10000, floor(10000 * target_raw / domain_size))
                AS INT) AS rate_bp
    FROM rates WHERE target_raw IS NOT NULL"""


EPOCHS = 2

#: high-bits bucket width for the epoch-shuffle two-phase numbering:
#: 60-bit key >> 52 leaves 256 buckets per epoch.
_EPOCH_KEY_SHIFT = 52


def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic multi-epoch training order: each (epoch, doc) gets
    a pure-function shuffle key ``md5("epoch:<e>:<doc_id>")`` and its
    1-based position within the epoch — the reproducible re-shuffle a
    multi-epoch data loader needs (same order on any cluster, any retry,
    any partitioning; different order per epoch).

    Scale shape: the naive form is a per-epoch global window (whole
    corpus through one task). This runs the ``global_row_numbers``
    two-phase formulation instead, bucketing on (epoch, key-high-bits) —
    a PREFIX of the (epoch, key, doc_id) order — and converting the
    contiguous global ordinal to a per-epoch position with one
    ``count()`` scalar. The oracle IS the naive window (the semantic
    definition), numbering-identical by construction.
    """
    from etl_pipeline_excel_sql__spark.operators.ordering import (
        global_row_numbers,
    )

    docs = load_table(spark, "documents", sf_dir)
    n = docs.count()
    ep = docs.select("doc_id").withColumn(
        "epoch", F.explode(F.sequence(F.lit(0), F.lit(EPOCHS - 1)))
    )
    key = md5_hash60(
        F.concat(
            F.lit("epoch:"),
            F.col("epoch").cast("string"),
            F.lit(":"),
            F.col("doc_id").cast("string"),
        )
    )
    keyed = ep.withColumn("__key", key).withColumn(
        "__ebkt",
        F.col("epoch").cast("bigint") * F.lit(1 << (60 - _EPOCH_KEY_SHIFT))
        + F.shiftright(F.col("__key"), _EPOCH_KEY_SHIFT),
    )
    numbered = global_row_numbers(
        keyed, "__ebkt", ["__key", "doc_id"], out="__rn"
    )
    return numbered.select(
        "doc_id",
        F.col("epoch").cast("int").alias("epoch"),
        (F.col("__rn") - F.col("epoch").cast("bigint") * F.lit(n))
        .cast("bigint")
        .alias("position"),
    )


ORACLE: dict[str, str] = {
    "epoch_shuffle": f"""
        WITH ep AS (
          SELECT doc_id, e AS epoch
          FROM documents, (VALUES (0), (1)) v(e)
        ),
        k AS (
          SELECT doc_id, epoch,
                 {H60_SQL.format(x="'epoch:' || CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)")} AS key
          FROM ep
        )
        SELECT doc_id, CAST(epoch AS INT) AS epoch,
               CAST(row_number() OVER (
                    PARTITION BY epoch ORDER BY key, doc_id) AS BIGINT)
                 AS position
        FROM k""",
    "mix_rates": _MIX_RATES_SQL,
    "mix_domains": f"""
        WITH rates AS ({_MIX_RATES_SQL})
        SELECT d.doc_id, d.lang, d.n_chars, r.rate_bp
        FROM documents d JOIN rates r ON d.lang = r.domain
        WHERE CAST('0x' || substr(md5(d.lang || ':' || CAST(d.doc_id AS VARCHAR)), 1, 15)
                   AS BIGINT) % 10000 < r.rate_bp""",
    "sample_stratified": f"""
        SELECT doc_id, lang, source, n_chars
        FROM documents
        WHERE {_hx} % 10000 <
              CASE WHEN lang = 'en' THEN {SAMPLE_RATE_EN_BP}
                   ELSE {SAMPLE_RATE_OTHER_BP} END""",
    "shard_manifest": f"""
        SELECT CAST({_hs} % {N_SHARDS} AS INT) AS shard_id,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               MIN(doc_id) AS min_doc_id,
               MAX(doc_id) AS max_doc_id
        FROM documents
        GROUP BY 1""",
    "curriculum_buckets": f"""
        WITH lens AS (
          SELECT doc_id, CAST(len({WS_TOKENS_SQL}) AS BIGINT) AS n_tokens
          FROM documents
        )
        SELECT doc_id, n_tokens,
               CAST(n_tokens // {BUCKET_TOKENS} AS INT) AS length_band,
               CAST((row_number() OVER (
                     PARTITION BY n_tokens // {BUCKET_TOKENS}
                     ORDER BY doc_id) - 1) // {BATCH_DOCS} AS INT)
                 AS batch_id
        FROM lens""",
    "join_bloom_prefilter": """
        SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
        FROM lineitem
        WHERE l_orderkey IN (
          SELECT o_orderkey FROM orders
          WHERE o_orderpriority = '1-URGENT')""",
}

QUERIES = {
    "epoch_shuffle": q_epoch_shuffle,
    "mix_rates": q_mix_rates,
    "mix_domains": q_mix_domains,
    "sample_stratified": q_sample_stratified,
    "shard_manifest": q_shard_manifest,
    "curriculum_buckets": q_curriculum_buckets,
    "join_bloom_prefilter": q_join_bloom_prefilter,
}


# --- DSIR-shaped importance selection (round 10) --------------------------

DSIR_BUCKETS = 256
DSIR_TOP_N = 50
DSIR_TARGET_LANG = "en"


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed n-gram importance selection (the DSIR recipe — Xie et al.,
    "Data Selection for Language Models via Importance Resampling",
    NeurIPS 2023): score every out-of-target document by how much its
    hashed-bigram profile resembles the target domain's, and keep the
    top-N. The target here is the ``lang='en'`` slice; the pool is
    everything else.

    Integer surrogate for the paper's log-likelihood-ratio: per-bucket
    weight ``w(b) = (target_count+1)·1e6 DIV (raw_count+1)`` (add-one
    smoothed target share of each of the 256 hashed-bigram buckets —
    the constant normalizer ``raw_total/target_total`` is dropped since
    it rescales every document identically), and a document scores the
    MEAN weight over its bigram occurrences (multiplicity kept, as
    DSIR's feature counts do). Target ⊆ raw makes every ``w ≤ 1e6``, so
    sums stay far inside int64 and the whole chain is engine-exact.

    Scale shape: bigram explode → two bucket-count aggregates (256
    groups, map-side combined) → the 256-row weight table BROADCASTS
    back over the pool explode → per-doc sum → one global top-N window
    on the ~|pool| skinny score rows. The corpus text never shuffles.
    """
    from etl_pipeline_excel_sql__spark.functions.text import ws_tokens

    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id", "lang", ws_tokens(F.col("text")).alias("toks")
    ).filter(F.size("toks") >= 2)
    bg = toks.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(0, size(toks) - 2),"
                " i -> concat(toks[i], ' ', toks[i + 1]))"
            )
        ).alias("bgr"),
    ).select(
        "doc_id",
        "lang",
        (md5_hash60(F.col("bgr")) % DSIR_BUCKETS).alias("bucket"),
    )
    rc = bg.groupBy("bucket").agg(F.count(F.lit(1)).alias("rc"))
    tc = (
        bg.filter(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("tc"))
    )
    w = rc.join(tc, "bucket", "left").select(
        "bucket",
        F.expr("((coalesce(tc, 0) + 1) * 1000000) div (rc + 1)")
        .cast("bigint")
        .alias("w"),
    )
    sc = (
        bg.filter(F.col("lang") != DSIR_TARGET_LANG)
        .join(F.broadcast(w), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum("w").cast("bigint").alias("__raw"),
        )
    )
    wnd = Window.orderBy(
        F.expr("__raw div n_bigrams").desc(), F.col("doc_id").asc()
    )
    return (
        sc.withColumn(
            "score_ppm", F.expr("__raw div n_bigrams").cast("bigint")
        )
        .withColumn("rank", F.row_number().over(wnd).cast("int"))
        .filter(F.col("rank") <= DSIR_TOP_N)
        .select("doc_id", "n_bigrams", "score_ppm", "rank")
    )


def _dsir_sql() -> str:
    h = H60_SQL.format(x="bgr")
    return f"""
WITH base AS (
  SELECT doc_id, lang, {WS_TOKENS_SQL} AS toks FROM documents
), bg AS (
  SELECT doc_id, lang, {h} % {DSIR_BUCKETS} AS bucket
  FROM (
    SELECT doc_id, lang,
           UNNEST(list_transform(range(1, len(toks)),
                  i -> toks[i] || ' ' || toks[i + 1])) AS bgr
    FROM base WHERE len(toks) >= 2
  )
), rc AS (
  SELECT bucket, COUNT(*) AS rc FROM bg GROUP BY bucket
), tc AS (
  SELECT bucket, COUNT(*) AS tc FROM bg
  WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY bucket
), w AS (
  SELECT bucket,
         CAST((COALESCE(tc, 0) + 1) * 1000000 // (rc + 1) AS BIGINT) AS w
  FROM rc LEFT JOIN tc USING (bucket)
), sc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(w) AS BIGINT) AS raw
  FROM bg JOIN w USING (bucket)
  WHERE lang <> '{DSIR_TARGET_LANG}'
  GROUP BY doc_id
)
SELECT doc_id, n_bigrams, CAST(raw // n_bigrams AS BIGINT) AS score_ppm,
       CAST(row_number() OVER (ORDER BY raw // n_bigrams DESC,
            doc_id ASC) AS INT) AS rank
FROM sc QUALIFY rank <= {DSIR_TOP_N}
"""


ORACLE["dsir_select"] = _dsir_sql()
QUERIES["dsir_select"] = q_dsir_select
