"""Round-3 widening #2: semantics corners and warehouse-maintenance shapes.

* ``dedup_events_first`` — batch twin of the streaming
  ``dropDuplicatesWithinWatermark``: first occurrence per event_id in
  (ts, event_id) order. One hash-partitioned window on the key.
* ``join_null_safe`` — ``<=>`` (eqNullSafe) join semantics: NULL keys
  MATCH each other, unlike plain ``=``. The oracle spells it
  ``IS NOT DISTINCT FROM``.
* ``union_by_name`` — schema-evolution union: differing column order and a
  missing column null-filled (``allowMissingColumns``), the ingest shape
  when a source adds a field mid-stream.
* ``text_bpe_token_est`` — BPE-ish token estimate from a subword-style
  regex pre-tokenization (letter runs / digit runs / punctuation runs),
  the standard cheap proxy for tokenizer-true counts in corpus budgeting.
  ASCII character classes only, so Java and RE2 regex semantics agree.
* ``incremental_agg_merge`` — incremental view maintenance: partial
  aggregate states from a base slice and a delta slice merged into the
  exact full aggregate (count/decimal-sum are algebraic, so
  merge-of-partials is value-identical to the direct GROUP BY — which is
  exactly what the oracle computes). At 100 TB this is the pattern that
  turns a nightly full recompute into a delta-sized job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.operators.bpe import (
    BPE_TRAIN_MERGES,
    PACK_SEQ_LEN,
    bpe_packed_sequences_unrolled_sql,
    bpe_token_ids_unrolled_sql,
    bpe_unrolled_sql,
    bpe_vocab_unrolled_sql,
)
from etl_pipeline_excel_sql__spark.sources.registry import load_table
from etl_pipeline_excel_sql__spark.functions.localframe import local_df
from etl_pipeline_excel_sql__spark.functions.text import WS_TOKENS_SQL

#: letter runs, digit runs, or INDIVIDUAL punctuation characters (the
#: third alternative has no ``+`` on purpose: BPE-style vocabularies
#: rarely merge punctuation, so each symbol counts as its own token) —
#: one match ≈ one subword.
BPE_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r]"


def q_dedup_events_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-occurrence-wins dedup of the event stream by event_id (batch
    form of the streaming dedup; same key, same verdict)."""
    ev = load_table(spark, "events", sf_dir)
    # The tie-break covers every OUTPUT column: a re-delivered event that
    # shares (ts, user_id) but differs elsewhere must resolve to the same
    # row on both engines or the value hash flakes.
    w = Window.partitionBy("event_id").orderBy("ts", "user_id", "event_type")
    return (
        ev.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
        )
    )


def q_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join: rows whose (nullable) derived key matches the
    dimension under ``<=>`` — NULL joins NULL, which a plain ``=`` drops."""
    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey",
        F.nullif(F.col("o_orderstatus"), F.lit("O")).alias("k"),
    )
    dim = local_df(
        spark,
        [("F", "finished"), ("P", "pending"), (None, "open")],
        "k string, status_name string",
    )
    return o.join(F.broadcast(dim), o["k"].eqNullSafe(dim["k"]), "inner").select(
        "o_orderkey", "status_name"
    )


def q_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union by column NAME across evolved schemas: the second slice lacks
    ``o_totalprice`` (null-filled) and orders its columns differently."""
    o = load_table(spark, "orders", sf_dir)
    a = o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    b = o.filter(F.col("o_orderkey") % 3 == 1).select(
        "o_orderstatus", "o_orderkey"
    )
    return a.unionByName(b, allowMissingColumns=True)


def q_text_bpe_token_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheap tokenizer-count proxy: regex pre-tokenization match count and
    its ratio to whitespace tokens (pure scan expressions, no shuffle)."""
    from etl_pipeline_excel_sql__spark.functions.text import ws_token_count

    docs = load_table(spark, "documents", sf_dir)
    bpe_n = F.size(F.expr(f"regexp_extract_all(text, '{BPE_REGEX}', 0)"))
    ws_n = ws_token_count(F.col("text"))
    return docs.select(
        "doc_id",
        bpe_n.cast("int").alias("bpe_tokens"),
        ws_n.cast("int").alias("ws_tokens"),
        (bpe_n.cast("double") / F.nullif(ws_n, F.lit(0)).cast("double")).alias(
            "subword_ratio"
        ),
    )


def q_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: base-slice partial states merged
    with delta-slice partial states must equal the direct full aggregate.

    Both partials and the merge use count + DECIMAL sums (algebraic and
    order-free), so the merged result is bit-identical to recomputing from
    scratch — the oracle IS the from-scratch GROUP BY."""
    o = load_table(spark, "orders", sf_dir)

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("s"),
        )

    base = partial(o.filter(F.col("o_orderkey") % 5 != 0))
    delta = partial(o.filter(F.col("o_orderkey") % 5 == 0))
    return (
        base.unionByName(delta)
        .groupBy("o_orderstatus")
        .agg(
            F.sum("n").cast("bigint").alias("n_orders"),
            # decimal -> string -> double matches the oracle's cast chain
            # exactly (both engines parse the identical scale-2 string with
            # correctly-rounded strtod); a raw decimal(38,2) here lands as
            # object(Decimal) in toPandas() vs float64 from DuckDB .df() —
            # the pandas-pathway mismatch class behind the bm25_topk red.
            F.sum("s")
            .cast("decimal(38,2)")
            .cast("string")
            .cast("double")
            .alias("total_price"),
        )
    )


def q_incremental_join_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance (round 10): the revenue-per-
    priority view ``orders ⋈ lineitem`` maintained under independent
    deltas on BOTH base tables via the standard IVM algebra::

        Δ(O ⋈ L) = ΔO ⋈ L₀  ∪  O₀ ⋈ ΔL  ∪  ΔO ⋈ ΔL

    (O₀/L₀ the base slices, ΔO/ΔL the new batches — independent mod
    splits so all three delta terms are non-empty). The maintained view
    (base-join + the three delta joins, unioned, then aggregated) must
    equal the direct full join-aggregate — which is exactly what the
    oracle computes, so hash equality IS the algebra proof, cross-engine
    (the join twin of ``incremental_agg_merge``).

    100 TB shape: the delta batches are small by construction — ΔO ⋈ L₀
    and O₀ ⋈ ΔL are broadcast-delta joins against the big side, ΔO ⋈ ΔL
    is tiny; the base-view join result is the thing a deployment keeps
    materialized, so only delta-sized work recurs. Measures are integer
    quantity sums and counts (exact, order-free)."""
    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_linenumber", F.col("l_quantity").cast("bigint").alias("qty")
    )
    o_base, o_delta = o.filter(F.col("o_orderkey") % 7 != 0), o.filter(
        F.col("o_orderkey") % 7 == 0
    )
    li_base, li_delta = li.filter(F.col("l_linenumber") % 3 != 0), li.filter(
        F.col("l_linenumber") % 3 == 0
    )

    def j(odf: DataFrame, ldf: DataFrame) -> DataFrame:
        return odf.join(
            ldf, F.col("o_orderkey") == F.col("l_orderkey")
        ).select("o_orderpriority", "qty")

    view = (
        j(o_base, li_base)
        .unionByName(j(o_delta, li_base))
        .unionByName(j(o_base, li_delta))
        .unionByName(j(o_delta, li_delta))
    )
    return view.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum("qty").cast("bigint").alias("total_qty"),
    )


def q_window_distinct_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct event types in each user's trailing 10 events — windowed
    distinct-count (no built-in COUNT(DISTINCT) over frames; the ≤10-row
    frame rides collect_list→array_distinct inside one exchange)."""
    ev = load_table(spark, "events", sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.size(F.array_distinct(F.collect_list("event_type").over(w)))
        .cast("int")
        .alias("n_types_trailing10"),
    )


def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session statistics composed ON TOP of the sessionize
    operator's output — sessions per user, total events, longest session —
    the operator-composition shape (aggregate over a windowed derivation,
    partitioning reused across both layers)."""
    from etl_pipeline_excel_sql__spark.plans.analytics_queries import (
        q_sessionize,
    )

    sess = q_sessionize(spark, sf_dir)
    return sess.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").cast("bigint").alias("total_events"),
        F.max("n_events").cast("bigint").alias("max_session_events"),
    )


ORACLE: dict[str, str] = {
    "dedup_events_first": """
        SELECT event_id, user_id, event_type,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS first_ts
        FROM (SELECT *, row_number() OVER (PARTITION BY event_id
                                           ORDER BY ts, user_id, event_type)
                AS rn
              FROM events)
        WHERE rn = 1""",
    "join_null_safe": """
        SELECT o_orderkey, status_name
        FROM (SELECT o_orderkey, NULLIF(o_orderstatus, 'O') AS k FROM orders) o
        JOIN (VALUES ('F', 'finished'), ('P', 'pending'), (NULL, 'open'))
             d(k, status_name)
          ON o.k IS NOT DISTINCT FROM d.k""",
    "union_by_name": """
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 3 = 0
        UNION ALL
        SELECT o_orderkey, o_orderstatus, NULL AS o_totalprice
        FROM orders WHERE o_orderkey % 3 = 1""",
    "text_bpe_token_est": f"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '{BPE_REGEX}')) AS INT)
                 AS bpe_tokens,
               CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                    t -> t <> '')) AS INT) AS ws_tokens,
               CAST(len(regexp_extract_all(text, '{BPE_REGEX}')) AS DOUBLE)
                 / NULLIF(len(list_filter(
                     regexp_split_to_array(trim(text), '\\s+'),
                     t -> t <> '')), 0) AS subword_ratio
        FROM documents""",
    "incremental_agg_merge": """
        SELECT o_orderstatus,
               COUNT(*) AS n_orders,
               CAST(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                 AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS total_price
        FROM orders GROUP BY o_orderstatus""",
    "incremental_join_merge": """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderpriority""",
    "window_distinct_types": """
        SELECT event_id, user_id,
               CAST(len(list_distinct(list(event_type) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))) AS INT)
                 AS n_types_trailing10
        FROM events""",
    "session_stats": """
        WITH flagged AS (
          SELECT user_id, ts, event_id,
            CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                 THEN 1 ELSE 0 END AS new_sess
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
          SELECT user_id, ts,
            SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
          FROM flagged
        ), per_session AS (
          SELECT user_id, session_idx, COUNT(*) AS n_events
          FROM sess GROUP BY user_id, session_idx
        )
        SELECT user_id,
               COUNT(*) AS n_sessions,
               CAST(SUM(n_events) AS BIGINT) AS total_events,
               MAX(n_events) AS max_session_events
        FROM per_session GROUP BY user_id""",
}

QUERIES = {
    "dedup_events_first": q_dedup_events_first,
    "join_null_safe": q_join_null_safe,
    "union_by_name": q_union_by_name,
    "text_bpe_token_est": q_text_bpe_token_est,
    "incremental_agg_merge": q_incremental_agg_merge,
    "incremental_join_merge": q_incremental_join_merge,
    "window_distinct_types": q_window_distinct_types,
    "session_stats": q_session_stats,
}


def q_corpus_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token-length profile (p50/p90 discrete + count) — the
    corpus-budgeting sweep run before any training mix decision. Same
    integer-ceiling rank selection as ``percentile_disc``: no
    interpolation, engine-exact."""
    from etl_pipeline_excel_sql__spark.functions.text import ws_token_count

    docs = load_table(spark, "documents", sf_dir).select(
        "lang", ws_token_count(F.col("text")).cast("int").alias("n_tokens")
    )
    w = Window.partitionBy("lang").orderBy("n_tokens")
    wn = Window.partitionBy("lang")
    ranked = docs.select(
        "lang",
        "n_tokens",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    picks = [
        F.max(
            F.when(
                F.col("rn") == F.expr(f"(n * {q} + 99) DIV 100"),
                F.col("n_tokens"),
            )
        ).alias(f"p{q}_tokens")
        for q in (50, 90)
    ]
    return ranked.groupBy("lang").agg(
        F.max("n").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        *picks,
    )


def q_emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding as flat (label, dim, mean_val) rows —
    decimal-exact sums so the double mean is order-independent (the same
    trick the IVF k-means update uses). One tiny (label, dim)-keyed
    shuffle; the corpus never moves."""
    emb = load_table(spark, "embeddings", sf_dir)
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("dim", "val")
    )
    # Quantize each component to integer micro-units with FLOOR before
    # summing. Every step is engine-exact: float→double is lossless,
    # ×1e6 is one IEEE multiply (identical bits everywhere), floor has no
    # ties, and integer sum/floor-divide are associative. A decimal cast
    # here is NOT portable — Spark rounds the double's shortest repr while
    # DuckDB rounds its exact binary expansion, which disagrees when the
    # shortest repr sits on a scale boundary (observed: one dimension off
    # by 2e-12 at sf0.01).
    micro = F.floor(F.col("val").cast("double") * F.lit(1000000.0)).cast(
        "bigint"
    )
    return (
        exploded.groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.sum(micro).alias("__sum_micro"),
        )
        .select(
            "label",
            "dim",
            "n_vecs",
            # FLOOR division (Spark's DIV truncates toward zero, DuckDB's
            # // floors — they disagree on negative sums). The double
            # division is floor-safe for |sum| < 2^53.
            F.floor(F.col("__sum_micro") / F.col("n_vecs"))
            .cast("bigint")
            .alias("mean_micro"),
        )
    )


_WS_N = f"len({WS_TOKENS_SQL})"

ORACLE["corpus_length_profile"] = f"""
    WITH ranked AS (
      SELECT lang, n_tokens,
             row_number() OVER (PARTITION BY lang ORDER BY n_tokens) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM (SELECT lang, CAST({_WS_N} AS INT) AS n_tokens FROM documents)
    )
    SELECT lang,
           MAX(n) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN n_tokens END)
             AS p50_tokens,
           MAX(CASE WHEN rn = (n * 90 + 99) // 100 THEN n_tokens END)
             AS p90_tokens
    FROM ranked GROUP BY lang"""

ORACLE["emb_label_centroids"] = """
    SELECT label,
           CAST(i - 1 AS INT) AS dim,
           COUNT(*) AS n_vecs,
           CAST(FLOOR(
             SUM(CAST(FLOOR(embedding[i]::DOUBLE * 1000000.0) AS BIGINT))
               ::DOUBLE / COUNT(*)) AS BIGINT) AS mean_micro
    FROM embeddings,
         LATERAL (SELECT UNNEST(generate_series(1, len(embedding))) AS i) g
    GROUP BY label, i"""

QUERIES["corpus_length_profile"] = q_corpus_length_profile
QUERIES["emb_label_centroids"] = q_emb_label_centroids


def q_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source capping: keep at most 10 documents per
    source, chosen by a salted md5 order (not doc_id order, which would
    bias toward old documents). The standard domain-capping pass of a web
    corpus build — reproducible on any cluster because the keep-set is a
    pure function of ids. One window shuffle on source."""
    k = 10
    docs = load_table(spark, "documents", sf_dir)
    h = F.md5(F.concat(F.lit("cap:v1:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        docs.select("doc_id", "source", "lang")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("doc_id", "source", "lang")
    )


def q_heavy_hitter_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters: tokens present in more than 5% of documents
    (document frequency, not term frequency). Explode → distinct per doc →
    df aggregate with map-side combine; the total-docs scalar broadcasts.
    The exact baseline any sketch-based heavy-hitter pass is graded
    against."""
    from etl_pipeline_excel_sql__spark.functions.text import ws_tokens

    docs = load_table(spark, "documents", sf_dir)
    # The total-docs scalar stays relational (1-row broadcast aggregate) —
    # an eager .count() here would run a job at plan-construction time.
    n_docs = F.broadcast(docs.agg(F.count(F.lit(1)).alias("__n_docs")))
    tok_docs = docs.select(
        "doc_id", F.explode(F.array_distinct(ws_tokens(F.col("text")))).alias("term")
    )
    return (
        tok_docs.groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("doc_freq"))
        .crossJoin(n_docs)
        .filter(F.col("doc_freq") * 100 > F.lit(5) * F.col("__n_docs"))
        .select(
            "term",
            "doc_freq",
            (F.col("doc_freq").cast("double") / F.col("__n_docs")).alias(
                "doc_frac"
            ),
        )
    )


ORACLE["cap_per_source"] = """
    SELECT doc_id, source, lang
    FROM (
      SELECT doc_id, source, lang,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(concat('cap:v1:', CAST(doc_id AS VARCHAR))),
                        doc_id) AS rn
      FROM documents)
    WHERE rn <= 10"""

ORACLE["heavy_hitter_terms"] = f"""
    WITH toks AS (
      SELECT doc_id, UNNEST(list_distinct(
        {WS_TOKENS_SQL}
      )) AS term
      FROM documents
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT term, COUNT(*) AS doc_freq,
           COUNT(*)::DOUBLE / (SELECT n_docs FROM n) AS doc_frac
    FROM toks
    GROUP BY term
    HAVING COUNT(*) * 100 > 5 * (SELECT n_docs FROM n)"""

QUERIES["cap_per_source"] = q_cap_per_source
QUERIES["heavy_hitter_terms"] = q_heavy_hitter_terms


#: adjacent char pairs kept by bpe_pair_counts.
BPE_PAIR_K = 30


def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent character-pair frequencies — the statistic the FIRST BPE
    merge maximizes, computed corpus-wide (tokenizer-training telemetry).

    Pure expression plan: ``sequence(1, len-1)`` → transform to 2-char
    substrings → explode → count; the global top-K compiles to
    TakeOrderedAndProject (per-partition top-K + K-row merge). At 100 TB
    the shuffle carries (pair, partial_count) rows — at most |alphabet|²
    keys per partition, corpus-size-independent.
    """
    docs = load_table(spark, "documents", sf_dir)
    pairs = docs.filter(F.length("text") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(text) - 1),"
                " i -> substring(text, i, 2))"
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("pair").asc())
        .limit(BPE_PAIR_K)
    )


ORACLE["bpe_pair_counts"] = f"""
    WITH pairs AS (
      SELECT UNNEST(list_transform(range(1, length(text)),
                                   i -> substr(text, CAST(i AS INT), 2)))
        AS pair
      FROM documents
      WHERE length(text) >= 2
    )
    SELECT pair, COUNT(*) AS n_occurrences
    FROM pairs
    GROUP BY pair
    ORDER BY n_occurrences DESC, pair ASC
    LIMIT {BPE_PAIR_K}"""
QUERIES["bpe_pair_counts"] = q_bpe_pair_counts


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained BPE merge table itself — ``operators/bpe.py``'s
    iterative loop over the distinct-word frequency table; the oracle
    replays the unrolled rounds (same argmax, same tie-break, same
    left-to-right merge fold) in DuckDB."""
    from etl_pipeline_excel_sql__spark.operators.bpe import bpe_train_merges

    docs = load_table(spark, "documents", sf_dir)
    return bpe_train_merges(docs, BPE_TRAIN_MERGES)


ORACLE["bpe_train"] = bpe_unrolled_sql()
QUERIES["bpe_train"] = q_bpe_train


def q_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-then-apply end to end with ONE corpus tokenization pass:
    the word-frequency table is materialized once (lineage-truncated)
    and shared by the trainer and the encoder — at 100 TB the corpus
    explode is the dominant cost and must not run per stage."""
    from etl_pipeline_excel_sql__spark.operators.bpe import (
        bpe_subword_vocab,
        bpe_train_merges_from_words,
        word_frequencies,
    )

    docs = load_table(spark, "documents", sf_dir)
    words = word_frequencies(docs).localCheckpoint(eager=True)
    # batch_pairs > 1 is the production trainer shape (provably
    # identical merges, fewer driver round-trips — see _accept_batch);
    # q_bpe_train stays at the sequential default so BOTH paths sit
    # behind green oracle rows.
    merges = [
        (r.left, r.right)
        for r in bpe_train_merges_from_words(
            words, BPE_TRAIN_MERGES, batch_pairs=4, max_batch_pairs=64
        ).collect()
    ]
    return bpe_subword_vocab(docs, merges, words=words)


ORACLE["bpe_vocab"] = bpe_vocab_unrolled_sql()
QUERIES["bpe_vocab"] = q_bpe_vocab


def q_bpe_token_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer LAST MILE: train the merge table (batched), assign
    the standard alphabet-then-merges vocabulary ids, and emit every
    document as a training-ready token-id array — the artifact a
    pretraining data loader actually consumes. One corpus tokenization
    pass shared by trainer, encoder, and document join; the id table is
    the bounded broadcast class, the word join is size-gated.
    ``token_ids`` is rendered space-delimited for the harness
    (``render_packed_for_harness``; loaders use
    :func:`bpe_doc_token_ids`'s array form directly)."""
    from etl_pipeline_excel_sql__spark.operators.bpe import (
        bpe_doc_token_ids,
        bpe_train_merges_from_words,
        render_packed_for_harness,
        word_frequencies,
    )

    docs = load_table(spark, "documents", sf_dir)
    words = word_frequencies(docs).localCheckpoint(eager=True)
    merges = [
        (r.left, r.right)
        for r in bpe_train_merges_from_words(
            words, BPE_TRAIN_MERGES, batch_pairs=4, max_batch_pairs=64
        ).collect()
    ]
    return render_packed_for_harness(
        bpe_doc_token_ids(docs, merges, words=words)
    )


ORACLE["bpe_token_ids"] = bpe_token_ids_unrolled_sql()
QUERIES["bpe_token_ids"] = q_bpe_token_ids


def q_pack_token_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pretraining-batch pipeline: train BPE (batched), encode
    documents to token ids, and pack them into fixed-length sequences
    crossing document boundaries in doc_id order — what a data loader
    feeds the model. Global offsets via the two-phase prefix sum; the
    oracle replays the naive single-window form."""
    from etl_pipeline_excel_sql__spark.operators.bpe import (
        bpe_doc_token_ids,
        bpe_train_merges_from_words,
        pack_lm_sequences,
        render_packed_for_harness,
        word_frequencies,
    )

    docs = load_table(spark, "documents", sf_dir)
    words = word_frequencies(docs).localCheckpoint(eager=True)
    merges = [
        (r.left, r.right)
        for r in bpe_train_merges_from_words(
            words, BPE_TRAIN_MERGES, batch_pairs=4, max_batch_pairs=64
        ).collect()
    ]
    ids = bpe_doc_token_ids(docs, merges, words=words)
    return render_packed_for_harness(pack_lm_sequences(ids, PACK_SEQ_LEN))


ORACLE["pack_token_ids"] = bpe_packed_sequences_unrolled_sql(
    "SELECT doc_id, text FROM documents"
)
QUERIES["pack_token_ids"] = q_pack_token_ids


# --- incremental SESSION-view maintenance (round 11) ------------------------

#: 12-hour inactivity gap for the IVM view, microseconds. Deliberately
#: wider than q_sessionize's 30 min: this corpus's sessions are sparse
#: (~1.05 events/session at 30 min), so a 30-min view would straddle
#: the batch cutoff for ZERO users at sf0.001/0.01 and the fuse branch
#: of the stitch would never execute at the gate SF. At 12 h the
#: boundary fuses for 8/15 users at sf0.001 and 48/150 at sf0.01 —
#: both branches of the merge algebra are exercised everywhere.
SESSION_GAP_US = 12 * 3600 * 1_000_000
#: append-only cutoff at min_ts + 4/5 of the observed span — the last
#: fifth of the timeline plays the newly-arrived batch.
SESSION_CUT_NUM, SESSION_CUT_DEN = 4, 5


def _session_rows_us(ev: DataFrame) -> DataFrame:
    """Per-(user, session) summaries over integer-microsecond rows:
    ``user_id, session_idx, n_events, start_us, end_us`` — the
    ``q_sessionize`` lag + running-sum shape on a pre-projected frame."""
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged = ev.withColumn(
        "new_sess",
        F.when(
            F.col("ts_us") - F.lag("ts_us").over(w) > SESSION_GAP_US, F.lit(1)
        )
        .otherwise(F.lit(0))
        .cast("bigint"),
    )
    return (
        flagged.withColumn("session_idx", F.sum("new_sess").over(wsum))
        .groupBy("user_id", "session_idx")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.min("ts_us").alias("start_us"),
            F.max("ts_us").alias("end_us"),
        )
    )


def q_incremental_session_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SESSION-view maintenance (round 11; the round-10
    verdict's "IVM on the session_stats derivation"): ``session_stats``
    maintained under an APPEND-ONLY event delta — the one view class
    where delta merge is not purely algebraic, because a session can
    straddle the batch boundary.

    Split: base = events before the deterministic cutoff (min_ts +
    4/5·span, integer microseconds), delta = the rest — the production
    shape where new data is strictly later than the maintained view.
    Merge algebra: sessionize each side independently; the ONLY
    cross-boundary interaction is, per user, the LAST base session vs
    the FIRST delta session — they fuse iff the boundary gap is within
    ``SESSION_GAP_US`` (every other base lag and delta lag is already
    correct, since all delta timestamps follow all base timestamps).
    The merged session multiset then aggregates to per-user stats.

    The oracle computes ``session_stats`` DIRECTLY over all events, so
    hash equality proves the stitching algebra — the session twin of
    ``incremental_agg_merge`` / ``incremental_join_merge``.

    100 TB shape: the base session summaries are what a deployment
    keeps materialized (bounded per-user rows, no raw events); only
    each user's single boundary row joins the delta, so recurring work
    is delta-sized plus one skinny per-user probe. The cutoff scalar
    rides a broadcast join (no driver collect).
    """
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", "event_id", F.unix_micros(F.col("ts")).alias("ts_us")
    )
    cut = ev.agg(
        (
            F.min("ts_us")
            + F.expr(
                f"CAST((max(ts_us) - min(ts_us)) * {SESSION_CUT_NUM} "
                f"DIV {SESSION_CUT_DEN} AS BIGINT)"
            )
        ).alias("__cut")
    )
    ev = ev.join(F.broadcast(cut))
    base_s = _session_rows_us(ev.filter(F.col("ts_us") < F.col("__cut")))
    delta_s = _session_rows_us(ev.filter(F.col("ts_us") >= F.col("__cut")))

    w_last = Window.partitionBy("user_id").orderBy(F.col("session_idx").desc())
    w_first = Window.partitionBy("user_id").orderBy(F.col("session_idx").asc())
    base_t = base_s.withColumn("__rl", F.row_number().over(w_last))
    delta_t = delta_s.withColumn("__rf", F.row_number().over(w_first))

    merged = (
        base_t.filter(F.col("__rl") == 1)
        .select(
            "user_id",
            F.col("n_events").alias("__nb"),
            F.col("end_us").alias("__eb"),
        )
        .join(
            delta_t.filter(F.col("__rf") == 1).select(
                "user_id",
                F.col("n_events").alias("__nd"),
                F.col("start_us").alias("__sd"),
            ),
            "user_id",
        )
        .filter(F.col("__sd") - F.col("__eb") <= SESSION_GAP_US)
    )
    # COALESCE the merge flag: after the left join __m is NULL for
    # non-merged users, and ~(NULL AND true) is NULL — which a filter
    # DROPS, silently deleting every non-merged user's boundary session
    # (three-valued logic, the classic left-join-flag trap).
    m_users = merged.select("user_id", F.lit(1).alias("__m0"))
    _flag = F.coalesce(F.col("__m0"), F.lit(0))
    keep_base = (
        base_t.join(m_users, "user_id", "left")
        .filter(~((_flag == 1) & (F.col("__rl") == 1)))
        .select("user_id", "n_events")
    )
    keep_delta = (
        delta_t.join(m_users, "user_id", "left")
        .filter(~((_flag == 1) & (F.col("__rf") == 1)))
        .select("user_id", "n_events")
    )
    fused = merged.select(
        "user_id", (F.col("__nb") + F.col("__nd")).alias("n_events")
    )
    sessions = keep_base.unionByName(keep_delta).unionByName(fused)
    return sessions.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").cast("bigint").alias("total_events"),
        F.max("n_events").alias("max_session_events"),
    )


#: the direct session_stats computation at the IVM view's 12-h gap —
#: hash equality against the stitched merge proves the algebra.
ORACLE["incremental_session_merge"] = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id,
    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > {SESSION_GAP_US}
         THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts,
    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
  FROM flagged
), per_session AS (
  SELECT user_id, session_idx, COUNT(*) AS n_events
  FROM sess GROUP BY user_id, session_idx
)
SELECT user_id,
       COUNT(*) AS n_sessions,
       CAST(SUM(n_events) AS BIGINT) AS total_events,
       MAX(n_events) AS max_session_events
FROM per_session GROUP BY user_id
"""
QUERIES["incremental_session_merge"] = q_incremental_session_merge


# --- tokenizer fertility audit (round 11) -----------------------------------


def q_bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY per language: subwords emitted per
    whitespace word by the corpus-trained BPE — the standard
    tokenizer-evaluation number (fertility ≫ 1 on a language means the
    vocab under-serves it and its effective context shrinks). Composes
    the batched trainer + encoder (one corpus tokenization pass, the
    ``bpe_token_ids`` DAG) with a per-language aggregate; the per-doc
    subword counts are skinny rows, so the added cost over encoding is
    one map-side-combined groupBy. Output all-integer, fertility in
    ppm (1e6 = one subword per word)."""
    from etl_pipeline_excel_sql__spark.functions.text import ws_token_count
    from etl_pipeline_excel_sql__spark.operators.bpe import (
        bpe_doc_token_ids,
        bpe_train_merges_from_words,
        word_frequencies,
    )

    docs = load_table(spark, "documents", sf_dir)
    words = word_frequencies(docs).localCheckpoint(eager=True)
    merges = [
        (r.left, r.right)
        for r in bpe_train_merges_from_words(
            words, BPE_TRAIN_MERGES, batch_pairs=4, max_batch_pairs=64
        ).collect()
    ]
    ids = bpe_doc_token_ids(docs, merges, words=words).select(
        "doc_id", "n_subwords"
    )
    per = ids.join(
        docs.select(
            "doc_id",
            "lang",
            ws_token_count(F.col("text")).cast("bigint").alias("__nw"),
        ),
        "doc_id",
    )
    return per.groupBy("lang").agg(
        F.sum("n_subwords").cast("bigint").alias("n_subwords"),
        F.sum("__nw").cast("bigint").alias("n_words"),
        F.expr(
            "CAST(sum(n_subwords) * 1000000"
            " DIV greatest(sum(__nw), 1) AS BIGINT)"
        ).alias("fertility_ppm"),
    )


def _bpe_fertility_sql() -> str:
    ids = bpe_token_ids_unrolled_sql()
    return f"""
WITH f_ids AS MATERIALIZED (
  SELECT doc_id, n_subwords FROM ({ids})
), f_docs AS (
  SELECT doc_id, lang, CAST(len({WS_TOKENS_SQL}) AS BIGINT) AS nw FROM documents
)
SELECT lang,
       CAST(SUM(n_subwords) AS BIGINT) AS n_subwords,
       CAST(SUM(nw) AS BIGINT) AS n_words,
       CAST(SUM(n_subwords) * 1000000 // greatest(SUM(nw), 1) AS BIGINT)
         AS fertility_ppm
FROM f_ids JOIN f_docs USING (doc_id)
GROUP BY lang
"""


ORACLE["bpe_fertility_by_lang"] = _bpe_fertility_sql()
QUERIES["bpe_fertility_by_lang"] = q_bpe_fertility_by_lang
