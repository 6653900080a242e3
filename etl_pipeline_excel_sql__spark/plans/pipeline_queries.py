"""Training-data pipeline queries (SURVEY.md §7 phase 5 / BASELINE north star).

Dedup (exact, MinHash-LSH, SimHash, blocked n-gram Jaccard, embedding
cosine), similarity search (brute-force + IVF), text analysis (language ID,
quality, token counting, fingerprinting), and multimodal plumbing — each with
a DuckDB oracle built from the same md5-based hash primitives and
sequential-fold float math, so results are externally verifiable bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.functions.hashing import (
    H60_SQL,
    md5_hash60,
    rolling_fingerprint,
)
from etl_pipeline_excel_sql__spark.functions.text import (
    WS_TOKENS_SQL,
    bpe_token_count,
    has_ws_tokens,
    lang_id,
    quality_features,
    ws_token_count,
    ws_tokens,
)
from etl_pipeline_excel_sql__spark.functions.vectors import (
    EMB_DIMS,
    SRP_NEARDUP_BITS,
    SRP_NEARDUP_MAX_BITS,
    SRP_NEARDUP_TABLES,
    SRP_TARGET_BUCKET,
    adaptive_srp_bits,
)
from etl_pipeline_excel_sql__spark.operators.dedup import (
    CONTAINMENT_THRESHOLD,
    MINHASH_BAND_ROWS,
    MINHASH_K,
    MINHASH_PRIME,
    MINHASH_SHINGLE_N,
    MINHASH_THRESHOLD,
    NGRAM_BOTTOM_K,
    NGRAM_THRESHOLD,
    affine_consts,
    exact_dedup,
    jaccard_prefix_pairs,
    minhash_lsh_pairs,
    ngram_containment_pairs,
    ngram_jaccard_pairs,
    shingle_rows,
    simhash_signatures,
)
from etl_pipeline_excel_sql__spark.operators.iterative import (
    LineageTruncator,
    SignatureCache,
    shared_slot,
)
from etl_pipeline_excel_sql__spark.operators.multimodal import (
    documents_as_media,
    extract_features,
)
from etl_pipeline_excel_sql__spark.operators.similarity import (
    IVF_ITERS,
    IVF_NCELLS,
    IVF_NPROBE,
    IVF_TOPK,
    brute_force_topk,
    cosine_neardup_pairs,
    ivf_topk_trained,
)
from etl_pipeline_excel_sql__spark.sources.registry import (
    built_dir,
    load_table,
)

# --- Spark queries ----------------------------------------------------------

#: DuckDB twin of ``operators.dedup._minhash_band_expr``'s bucket —
#: the comma-joined band slice of the signature. Generated from
#: ``range(MINHASH_BAND_ROWS)`` exactly as the Spark side generates its
#: ``concat_ws`` columns, so changing MINHASH_BAND_ROWS can never
#: desynchronize the oracle from the engine.
_BAND_BUCKET_SQL = " || ',' || ".join(
    f"CAST(mh[{MINHASH_BAND_ROWS} * b + {r + 1}] AS VARCHAR)"
    for r in range(MINHASH_BAND_ROWS)
)
#: DuckDB twin of :func:`adaptive_srp_bits`: the same integer threshold
#: ladder over COUNT(*), generated from the same constants so the two
#: can never desynchronize.
_NV_CTE = "nv AS (SELECT {min_bits} + {ladder} AS bits FROM (SELECT COUNT(*) AS cnt FROM embeddings))".format(
    min_bits=SRP_NEARDUP_BITS,
    ladder=" + ".join(
        f"(CASE WHEN cnt > {SRP_TARGET_BUCKET * (1 << (k - 1))} THEN 1 ELSE 0 END)"
        for k in range(SRP_NEARDUP_BITS + 1, SRP_NEARDUP_MAX_BITS + 1)
    ),
)
COSINE_THRESHOLD = 0.3


def q_text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return docs.select(
        "doc_id",
        ws_token_count("text").cast("bigint").alias("n_ws_tokens"),
        bpe_token_count().cast("bigint").alias("n_bpe_tokens"),
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    feats = quality_features(F.col("text"))
    return docs.select(
        "doc_id",
        feats["n_chars"].alias("n_chars"),
        feats["n_tokens"].alias("n_tokens"),
        feats["avg_token_len"].alias("avg_token_len"),
        feats["punct_ratio"].alias("punct_ratio"),
        feats["stopword_ratio"].alias("stopword_ratio"),
    )


def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return docs.select("doc_id", lang_id(ws_tokens(F.col("text"))).alias("pred_lang"))


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return docs.select(
        "doc_id", rolling_fingerprint(ws_tokens(F.col("text"))).alias("fingerprint")
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(load_table(spark, "documents", sf_dir))


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(load_table(spark, "documents", sf_dir))


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_signatures(load_table(spark, "documents", sf_dir))


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(load_table(spark, "documents", sf_dir))


#: exact-recall Jaccard threshold p/q (0.5 — the clone band: 25 true
#: pairs at sf0.01, max observed J 0.989).
PREFIX_JACCARD_NUM, PREFIX_JACCARD_DEN = 1, 2


def q_dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-RECALL near-dup pairs via prefix filtering (round 10): the
    completeness-guaranteed sibling of ``dedup_ngram_jaccard`` — under
    one global (df ASC, hash ASC) shingle order, any pair with J ≥ 1/2
    MUST share a prefix entry (the ICDE'06 prefix-filtering lemma), so
    unlike bottom-k sketch blocking no qualifying pair can be missed.
    All-integer verification; see ``operators/dedup.jaccard_prefix_pairs``.
    """
    return jaccard_prefix_pairs(
        load_table(spark, "documents", sf_dir),
        threshold_num=PREFIX_JACCARD_NUM,
        threshold_den=PREFIX_JACCARD_DEN,
    )


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup: containment |A∩B| / min(|A|,|B|) — catches a
    short document embedded in a longer one, which Jaccard scores near 0."""
    return ngram_containment_pairs(load_table(spark, "documents", sf_dir))


def q_neardup_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed near-dup pairs: label block × multi-table SRP
    pre-filter, exact cosine verification (no cell is ever all-pairs).

    Bits scale with the corpus (one cheap ``count()`` at build time,
    :func:`adaptive_srp_bits`) so expected bucket occupancy — and with
    it the candidate-pair workload — stays ~constant per data decade
    instead of growing quadratically (SCALING.md knob rule)."""
    emb = load_table(spark, "embeddings", sf_dir)
    return cosine_neardup_pairs(
        emb,
        threshold=COSINE_THRESHOLD,
        srp_bits=adaptive_srp_bits(emb.count()),
    )


def q_ann_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=10)


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF over TRAINED k-means cells (Lloyd rounds as DataFrame ops);
    the oracle unrolls the identical deterministic rounds in SQL."""
    emb = load_table(spark, "embeddings", sf_dir)
    return ivf_topk_trained(emb, emb.filter(F.col("vec_id") < 5))


def q_ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered (hybrid) vector search: keyword predicate first, exact
    cosine top-k over the survivors — the RAG-era retrieval pattern.

    The keyword filter shrinks the corpus BEFORE any vector math (at
    100 TB the predicate prunes via the documents scan and the join
    carries only surviving ids); the probe side broadcasts as in
    ``ann_brute_topk``, so the filtered corpus never shuffles.
    """
    docs = load_table(spark, "documents", sf_dir)
    cand = docs.filter(
        F.array_contains(ws_tokens(F.col("text")), "spark")
    ).select(F.col("doc_id").alias("__cand_id"))
    emb = load_table(spark, "embeddings", sf_dir)
    corpus = emb.join(cand, emb.vec_id == F.col("__cand_id")).select(
        "vec_id", "embedding"
    )
    return brute_force_topk(corpus, emb.filter(F.col("vec_id") < 3), k=5)


def q_multimodal_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = documents_as_media(load_table(spark, "documents", sf_dir))
    return extract_features(media).select(
        "media_id", "n_bytes", "content_hash"
    )


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling manifest through the REAL Arrow ``mapInPandas``
    1-to-N path: each payload (fake duration = byte length, 1 byte ≈ 1 ms)
    yields one content-addressed frame per 100 ms tick. The oracle replays the
    deterministic fake in SQL — so the driver's value hash covers the
    cardinality-changing Pandas-UDF execution itself, not a stand-in."""
    from etl_pipeline_excel_sql__spark.operators.multimodal import (
        sample_frames,
    )

    media = documents_as_media(load_table(spark, "documents", sf_dir))
    frames = sample_frames(media)
    return frames.select(
        "media_id",
        "frame_index",
        "frame_ms",
        F.lower(F.hex(F.col("payload"))).alias("frame_hash"),
    )


# --- DuckDB oracle SQL ------------------------------------------------------

# derived from the canonical template (placeholder renamed to {e} to
# match this module's f-string convention)
_HASH60 = H60_SQL.replace("{x}", "{e}")
_MOD = 1 << 40

_STOP = {
    "en": "['the','a','of','and','to','in','is','on','for','with']",
    "de": "['der','die','das','und','ist','von','mit','ein','zu','auf']",
    "es": "['el','la','de','que','y','en','un','es','por','con']",
    "fr": "['le','la','de','et','un','est','en','que','pour','dans']",
}


def _sw_hits(lang: str) -> str:
    return f"len(list_filter(toks, t -> list_contains({_STOP[lang]}, t)))"


def _cos_sql(a: str, b: str) -> str:
    """Sequential-fold cosine — mirrors functions/vectors.py exactly."""
    dot = (
        "list_reduce(list_prepend(0.0, list_transform("
        f"range(1, {EMB_DIMS + 1}), "
        f"i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE)), (x, y) -> x + y)"
    )
    na = (
        f"list_reduce(list_prepend(0.0, list_transform({a}, "
        f"x -> x::DOUBLE * x::DOUBLE)), (x, y) -> x + y)"
    )
    nb = (
        f"list_reduce(list_prepend(0.0, list_transform({b}, "
        f"x -> x::DOUBLE * x::DOUBLE)), (x, y) -> x + y)"
    )
    return f"({dot}) / (sqrt({na}) * sqrt({nb}))"


def _shingle_sql(n: int) -> str:
    return (
        f"list_distinct(list_transform("
        f"range(1, greatest(len(toks) - {n - 1}, 1) + 1), "
        f"i -> array_to_string(toks[i:i+{n - 1}], ' ')))"
    )


_MINHASH_SQL = f"""
WITH base AS (
  SELECT doc_id, {_shingle_sql(MINHASH_SHINGLE_N)} AS sh
  FROM (SELECT doc_id, {WS_TOKENS_SQL} AS toks FROM documents)
  WHERE len(toks) > 0
), hashed AS (
  SELECT doc_id, sh,
         list_transform(sh, s -> {_HASH60.format(e='s')} & {MINHASH_PRIME}) AS hb
  FROM base
), sigs AS (
  SELECT doc_id, sh,
    [{', '.join(
        f"list_min(list_transform(hb, h -> ({a} * h + {b}) % {MINHASH_PRIME}))"
        for a, b in affine_consts()
    )}] AS mh
  FROM hashed
), bands AS (
  SELECT doc_id, sh, b AS band,
         {_BAND_BUCKET_SQL} AS bucket
  FROM sigs, UNNEST(range(0, {MINHASH_K // MINHASH_BAND_ROWS})) AS t(b)
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sh AS sh_a, b.sh AS sh_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.doc_id < b.doc_id
)
SELECT id_a, id_b,
  len(list_intersect(sh_a, sh_b))::DOUBLE
    / len(list_distinct(list_concat(sh_a, sh_b)))::DOUBLE AS jaccard_sim
FROM cand
WHERE len(list_intersect(sh_a, sh_b))::DOUBLE
    / len(list_distinct(list_concat(sh_a, sh_b)))::DOUBLE >= {MINHASH_THRESHOLD}
"""

_SIMHASH_SQL = f"""
SELECT doc_id,
  CAST(list_sum(list_transform(range(0, 32), j ->
    CASE WHEN list_sum(list_transform(hs, h -> ((h >> j) & 1) * 2 - 1)) > 0
         THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END
  )) AS BIGINT) AS simhash
FROM (
  SELECT doc_id,
         list_transform({WS_TOKENS_SQL}, t -> {_HASH60.format(e='t')}) AS hs
  FROM documents
)
"""

_NGRAM_SQL = f"""
WITH base AS (
  SELECT doc_id, {_shingle_sql(3)} AS sh
  FROM (SELECT doc_id, {WS_TOKENS_SQL} AS toks FROM documents)
  WHERE len(toks) > 0
), keys AS (
  SELECT doc_id, UNNEST(
    list_sort(list_transform(sh, s -> {_HASH60.format(e='s')}))[1:{NGRAM_BOTTOM_K}]
  ) AS block
  FROM base
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM keys a JOIN keys b ON a.block = b.block
  WHERE a.doc_id < b.doc_id
)
SELECT id_a, id_b,
  len(list_intersect(x.sh, y.sh))::DOUBLE
    / len(list_distinct(list_concat(x.sh, y.sh)))::DOUBLE AS jaccard_sim
FROM cand
JOIN base x ON x.doc_id = id_a
JOIN base y ON y.doc_id = id_b
WHERE len(list_intersect(x.sh, y.sh))::DOUBLE
    / len(list_distinct(list_concat(x.sh, y.sh)))::DOUBLE >= {NGRAM_THRESHOLD}
"""

_P, _Q = PREFIX_JACCARD_NUM, PREFIX_JACCARD_DEN

_JACCARD_PREFIX_SQL = f"""
WITH base AS (
  SELECT doc_id, {_shingle_sql(3)} AS sh
  FROM (SELECT doc_id, {WS_TOKENS_SQL} AS toks FROM documents)
  WHERE len(toks) > 0
), hr AS (
  SELECT DISTINCT doc_id, h FROM (
    SELECT doc_id,
           UNNEST(list_transform(sh, s -> {_HASH60.format(e='s')})) AS h
    FROM base
  )
), sizes AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM hr GROUP BY doc_id
), freq AS (
  SELECT h, COUNT(*) AS df FROM hr GROUP BY h
), ranked AS (
  SELECT hr.doc_id, hr.h, sz,
         row_number() OVER (PARTITION BY hr.doc_id
                            ORDER BY df ASC, hr.h ASC) AS rn
  FROM hr JOIN freq USING (h) JOIN sizes USING (doc_id)
), pref AS (
  SELECT doc_id, h FROM ranked
  WHERE rn <= sz - (({_P} * sz + {_Q} - 1) // {_Q}) + 1
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM pref a JOIN pref b ON a.h = b.h AND a.doc_id < b.doc_id
), inter AS (
  SELECT id_a, id_b, CAST(COUNT(*) AS BIGINT) AS inter
  FROM cand
  JOIN hr x ON x.doc_id = id_a
  JOIN hr y ON y.doc_id = id_b AND y.h = x.h
  GROUP BY id_a, id_b
)
SELECT id_a, id_b, inter, sa.sz AS size_a, sb.sz AS size_b,
       CAST(inter * 1000000 // (sa.sz + sb.sz - inter) AS BIGINT)
         AS jaccard_ppm
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE inter * {_P + _Q} >= {_P} * (sa.sz + sb.sz)
"""

_CONTAINMENT_SQL = f"""
WITH base AS (
  SELECT doc_id, {_shingle_sql(3)} AS sh
  FROM (SELECT doc_id, {WS_TOKENS_SQL} AS toks FROM documents)
  WHERE len(toks) > 0
), hashes AS (
  SELECT DISTINCT doc_id,
         UNNEST(list_transform(sh, s -> {_HASH60.format(e='s')})) AS h
  FROM base
), idx AS (
  SELECT doc_id, h FROM hashes
  WHERE h IN (SELECT h FROM hashes GROUP BY h HAVING COUNT(*) <= 1000)
), keys AS (
  SELECT doc_id AS probe_id, UNNEST(
    list_sort(list_transform(sh, s -> {_HASH60.format(e='s')}))[1:{NGRAM_BOTTOM_K}]
  ) AS h
  FROM base
), cand AS (
  SELECT DISTINCT least(k.probe_id, i.doc_id) AS id_a,
                  greatest(k.probe_id, i.doc_id) AS id_b
  FROM keys k JOIN idx i ON k.h = i.h
  WHERE k.probe_id <> i.doc_id
)
SELECT id_a, id_b,
  len(list_intersect(x.sh, y.sh))::DOUBLE
    / least(len(x.sh), len(y.sh))::DOUBLE AS containment
FROM cand
JOIN base x ON x.doc_id = id_a
JOIN base y ON y.doc_id = id_b
WHERE len(list_intersect(x.sh, y.sh))::DOUBLE
    / least(len(x.sh), len(y.sh))::DOUBLE >= {CONTAINMENT_THRESHOLD}
"""


def _srp_sql(
    max_bits: int, plane_offset: int = 0, gate: str | None = None
) -> str:
    """SRP bucket as a BIGINT bit-sum. With ``gate`` (a SQL ref to the
    runtime bit count, e.g. ``nv.bits``), the expression enumerates all
    ``max_bits`` planes but masks plane ``jj`` unless ``jj < gate`` —
    one static SQL text that reproduces :func:`adaptive_srp_bits`-sized
    buckets at every SF. Plane seeds are ``plane_offset + jj`` (callers
    pass ``t * SRP_NEARDUP_MAX_BITS``, the constant stride the Spark
    side uses, so the family is prefix-stable as bits grow)."""
    planes = []
    for jj in range(max_bits):
        j = plane_offset + jj
        h = (
            "CAST(concat('0x', substr(md5(concat('srp:{j}:', CAST(i - 1 AS VARCHAR))), 1, 15)) AS BIGINT)"
        ).format(j=j)
        comp = f"(({h} % 100000)::DOUBLE / 100000.0 - 0.5)"
        proj = (
            "list_reduce(list_prepend(0.0, list_transform("
            f"range(1, {EMB_DIMS + 1}), "
            f"i -> embedding[i]::DOUBLE * {comp})), (x, y) -> x + y)"
        )
        cond = f"{proj} > 0" if gate is None else f"{jj} < {gate} AND {proj} > 0"
        planes.append(
            f"CASE WHEN {cond} THEN CAST({1 << jj} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        )
    return " + ".join(planes)


_NEARDUP_COS_SQL = f"""
WITH {_NV_CTE},
sig AS (
  {" UNION ALL ".join(
      f'''SELECT vec_id, label, {t} AS t,
          {_srp_sql(SRP_NEARDUP_MAX_BITS,
                    plane_offset=t * SRP_NEARDUP_MAX_BITS, gate="nv.bits")}
            AS bucket FROM embeddings, nv'''
      for t in range(SRP_NEARDUP_TABLES)
  )}
), cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM sig a JOIN sig b
    ON a.label = b.label AND a.t = b.t AND a.bucket = b.bucket
  WHERE a.vec_id < b.vec_id
)
SELECT id_a, id_b,
       {_cos_sql('x.embedding', 'y.embedding')} AS cosine_sim
FROM cand
JOIN embeddings x ON x.vec_id = id_a
JOIN embeddings y ON y.vec_id = id_b
WHERE {_cos_sql('x.embedding', 'y.embedding')} >= {COSINE_THRESHOLD}
"""

_ANN_BRUTE_SQL = f"""
SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       {_cos_sql('q.embedding', 'c.embedding')} AS cosine_sim,
       CAST(row_number() OVER (PARTITION BY q.vec_id
            ORDER BY {_cos_sql('q.embedding', 'c.embedding')} DESC,
                     c.vec_id ASC) AS INT) AS rank
FROM (SELECT * FROM embeddings WHERE vec_id < 5) q
CROSS JOIN embeddings c
WHERE c.vec_id <> q.vec_id
QUALIFY rank <= 10
"""

def _kmeans_means_sql(src: str) -> str:
    """Per-cell mean centroids (decimal-exact sums, mirrors
    operators/similarity.cell_centroids)."""
    return f"""
  SELECT cell,
    list_transform(range(1, {EMB_DIMS + 1}), i ->
      CAST(list_sum(list_transform(vecs, v -> v[i]::DOUBLE::DECIMAL(20,10))) AS DOUBLE) / n
    ) AS centroid
  FROM (SELECT cell, list(embedding) AS vecs, COUNT(*) AS n
        FROM {src} GROUP BY cell)"""


def _kmeans_assign_sql(cents: str) -> str:
    """Max-cosine assignment (ties → lowest cell), mirrors
    ``similarity._assign_broadcast``."""
    return f"""
  SELECT vec_id, embedding, cell FROM (
    SELECT e.vec_id, e.embedding, i.cell,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {_cos_sql('e.embedding', 'i.centroid')} DESC,
                      i.cell ASC) AS rn
    FROM embeddings e CROSS JOIN {cents} i
  ) WHERE rn = 1"""


def _kmeans_unroll_sql() -> tuple[list[str], str]:
    """The oracle twin of ``kmeans_train_assign``'s training: seed
    centroids from the ``IVF_NCELLS`` lowest ids, then ``IVF_ITERS``
    assignments with a mean update between each two. Returns the CTEs and
    the name of the last assignment."""
    ctes = [
        f"""init AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
         list_transform(embedding, x -> x::DOUBLE) AS centroid
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {IVF_NCELLS})
)""",
        f"a0 AS ({_kmeans_assign_sql('init')}\n)",
    ]
    for i in range(1, IVF_ITERS):
        ctes.append(f"c{i} AS ({_kmeans_means_sql(f'a{i - 1}')}\n)")
        ctes.append(f"a{i} AS ({_kmeans_assign_sql(f'c{i}')}\n)")
    return ctes, f"a{IVF_ITERS - 1}"


def _ivf_trained_sql() -> str:
    """Unrolled Lloyd rounds + IVF probe — the oracle twin of
    ivf_topk_trained (same seeds, same round count, same probe)."""
    ctes, last = _kmeans_unroll_sql()
    ctes.append(f"cfinal AS ({_kmeans_means_sql(last)}\n)")
    ctes.append(
        f"""probes AS (
  SELECT q.vec_id AS query_id, q.embedding AS qvec, cfinal.cell
  FROM (SELECT * FROM embeddings WHERE vec_id < 5) q CROSS JOIN cfinal
  QUALIFY row_number() OVER (PARTITION BY q.vec_id
    ORDER BY {_cos_sql('q.embedding', 'cfinal.centroid')} DESC,
             cfinal.cell ASC) <= {IVF_NPROBE}
)"""
    )
    return f"""
WITH {', '.join(ctes)}
SELECT p.query_id, c.vec_id AS neighbor_id,
       {_cos_sql('p.qvec', 'c.embedding')} AS cosine_sim,
       CAST(row_number() OVER (PARTITION BY p.query_id
            ORDER BY {_cos_sql('p.qvec', 'c.embedding')} DESC,
                     c.vec_id ASC) AS INT) AS rank
FROM probes p JOIN {last} c ON c.cell = p.cell
WHERE c.vec_id <> p.query_id
QUALIFY rank <= {IVF_TOPK}
"""


_ANN_IVF_SQL = _ivf_trained_sql()

ORACLE: dict[str, str] = {
    "text_token_count": f"""
        SELECT doc_id,
          CAST(len({WS_TOKENS_SQL}) AS BIGINT) AS n_ws_tokens,
          CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS BIGINT)
            AS n_bpe_tokens
        FROM documents""",
    "text_quality": f"""
        SELECT doc_id,
          CAST(length(text) AS BIGINT) AS n_chars,
          CAST(len(toks) AS BIGINT) AS n_tokens,
          CAST(list_sum(list_prepend(CAST(0 AS BIGINT),
               list_transform(toks, t -> CAST(length(t) AS BIGINT)))) AS DOUBLE)
            / CAST(greatest(len(toks), 1) AS DOUBLE) AS avg_token_len,
          CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
            / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
          CAST({_sw_hits('en')} AS DOUBLE)
            / CAST(greatest(len(toks), 1) AS DOUBLE) AS stopword_ratio
        FROM (SELECT doc_id, text, {WS_TOKENS_SQL} AS toks FROM documents)""",
    "text_lang_id": f"""
        SELECT doc_id,
          CASE
            WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr AND h_de > 0 THEN 'de'
            WHEN h_en >= h_es AND h_en >= h_fr AND h_en > 0 THEN 'en'
            WHEN h_es >= h_fr AND h_es > 0 THEN 'es'
            WHEN h_fr > 0 THEN 'fr'
            ELSE 'und'
          END AS pred_lang
        FROM (
          SELECT doc_id,
            {_sw_hits('de')} AS h_de, {_sw_hits('en')} AS h_en,
            {_sw_hits('es')} AS h_es, {_sw_hits('fr')} AS h_fr
          FROM (SELECT doc_id, {WS_TOKENS_SQL} AS toks FROM documents)
        )""",
    "text_fingerprint": f"""
        SELECT doc_id,
          list_reduce(
            list_prepend(CAST(0 AS BIGINT),
              list_transform({WS_TOKENS_SQL}, t -> {_HASH60.format(e='t')} % {_MOD})),
            (a, b) -> (a * 31 + b) % {_MOD}) AS fingerprint
        FROM documents""",
    "dedup_exact": f"""
        SELECT {_HASH60.format(e='text')} AS content_hash,
               CAST(MIN(doc_id) AS BIGINT) AS keeper_id,
               COUNT(*) AS dup_count
        FROM documents GROUP BY 1""",
    "dedup_minhash": _MINHASH_SQL,
    "dedup_simhash": _SIMHASH_SQL,
    "dedup_ngram_jaccard": _NGRAM_SQL,
    "dedup_jaccard_prefix": _JACCARD_PREFIX_SQL,
    "dedup_containment": _CONTAINMENT_SQL,
    "neardup_cosine": _NEARDUP_COS_SQL,
    "ann_filtered_topk": f"""
SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       {_cos_sql('q.embedding', 'c.embedding')} AS cosine_sim,
       CAST(row_number() OVER (PARTITION BY q.vec_id
            ORDER BY {_cos_sql('q.embedding', 'c.embedding')} DESC,
                     c.vec_id ASC) AS INT) AS rank
FROM (SELECT * FROM embeddings WHERE vec_id < 3) q
CROSS JOIN (SELECT e.* FROM embeddings e
            JOIN (SELECT doc_id FROM documents
                  WHERE list_contains({WS_TOKENS_SQL}, 'spark')) d
              ON e.vec_id = d.doc_id) c
WHERE c.vec_id <> q.vec_id
QUALIFY rank <= 5""",
    "ann_brute_topk": _ANN_BRUTE_SQL,
    "ann_ivf_topk": _ANN_IVF_SQL,
    "multimodal_extract": """
        SELECT doc_id AS media_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               md5(text) AS content_hash
        FROM documents""",
    # replays sample_frames' deterministic fake: duration_ms =
    # max(byte_length, 1); one frame per 100 ms tick (its every_ms
    # default); frame bytes = md5(utf8(text) || ascii(ms)) — VARCHAR md5
    # hashes same bytes.
    "multimodal_frames": """
        WITH d AS (
          SELECT doc_id,
                 text,
                 greatest(octet_length(encode(text)), 1) AS duration_ms
          FROM documents
        ), e AS (
          SELECT doc_id, text,
                 unnest(generate_series(
                   0, CAST((duration_ms + 99) // 100 AS BIGINT) - 1)) AS i
          FROM d
        )
        SELECT doc_id AS media_id,
               CAST(i AS BIGINT) AS frame_index,
               CAST(i * 100 AS BIGINT) AS frame_ms,
               md5(text || CAST(i * 100 AS VARCHAR)) AS frame_hash
        FROM e""",
}

QUERIES = {
    "text_token_count": q_text_token_count,
    "text_quality": q_text_quality,
    "text_lang_id": q_text_lang_id,
    "text_fingerprint": q_text_fingerprint,
    "dedup_exact": q_dedup_exact,
    "dedup_minhash": q_dedup_minhash,
    "dedup_simhash": q_dedup_simhash,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_jaccard_prefix": q_dedup_jaccard_prefix,
    "dedup_containment": q_dedup_containment,
    "neardup_cosine": q_neardup_cosine,
    "ann_brute_topk": q_ann_brute_topk,
    "ann_filtered_topk": q_ann_filtered_topk,
    "ann_ivf_topk": q_ann_ivf_topk,
    "multimodal_extract": q_multimodal_extract,
    "multimodal_frames": q_multimodal_frames,
}


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection: per content-hash duplicate group,
    keep the document with the best quality score (longest text, id as
    tiebreak) — the standard 'which copy survives dedup' policy.

    argmax is expressed as ``max(struct(score, -id))`` so it is one
    aggregate, no join-back, exact integer comparisons.
    """
    docs = load_table(spark, "documents", sf_dir)
    h = F.conv(F.substring(F.md5(F.col("text")), 1, 15), 16, 10).cast("bigint")
    scored = docs.select(
        h.alias("content_hash"),
        F.struct(
            F.length("text").cast("bigint").alias("score"),
            (-F.col("doc_id")).alias("neg_id"),
        ).alias("ranked"),
    )
    best = scored.groupBy("content_hash").agg(F.max("ranked").alias("best"))
    return best.select(
        "content_hash",
        (-F.col("best.neg_id")).cast("bigint").alias("keeper_id"),
        F.col("best.score").alias("keeper_score"),
    )


ORACLE.update(
    {
        "dedup_keep_best": f"""
        WITH scored AS (
          SELECT {_HASH60.format(e='text')} AS content_hash,
                 CAST(length(text) AS BIGINT) AS score,
                 doc_id
          FROM documents
        )
        SELECT content_hash,
               CAST(doc_id AS BIGINT) AS keeper_id,
               score AS keeper_score
        FROM scored
        QUALIFY row_number() OVER (PARTITION BY content_hash
                 ORDER BY score DESC, doc_id ASC) = 1""",
    }
)
QUERIES["dedup_keep_best"] = q_dedup_keep_best


def q_ann_srp_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-random-projection LSH bucket ids (8-bit) per vector — the
    alternative ANN bucketing scheme; hyperplanes derive deterministically
    from md5 so the oracle reproduces them exactly."""
    from etl_pipeline_excel_sql__spark.functions.vectors import srp_signature

    emb = load_table(spark, "embeddings", sf_dir)
    return emb.select(
        "vec_id", srp_signature(F.col("embedding")).alias("srp_bucket")
    )




ORACLE["ann_srp_buckets"] = f"""
    SELECT vec_id, {_srp_sql(8)} AS srp_bucket FROM embeddings
"""
QUERIES["ann_srp_buckets"] = q_ann_srp_buckets


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: MinHash-LSH pairs resolved into connected
    components — the stage that turns pairwise similarity into actual
    duplicate groups (cluster_id = min member id, plus group size).

    The oracle walks the same edge set with a recursive CTE to the same
    min-reachable-id fixpoint, so the driver check covers the iterative
    DataFrame loop end-to-end.
    """
    from etl_pipeline_excel_sql__spark.operators.clusters import (
        connected_components,
    )

    pairs = minhash_lsh_pairs(load_table(spark, "documents", sf_dir))
    return connected_components(pairs)


ORACLE["dedup_clusters"] = f"""
WITH RECURSIVE pairs AS MATERIALIZED ({_MINHASH_SQL}),
sym AS MATERIALIZED (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT u AS node, u AS lbl FROM sym
  UNION
  SELECT s.v AS node, reach.lbl FROM reach JOIN sym s ON s.u = reach.node
),
comp AS (SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node)
SELECT node AS member_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM comp
"""
QUERIES["dedup_clusters"] = q_dedup_clusters


def q_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same clusters, forced ``algorithm="star"`` (pure Kiveris
    large-star/small-star from round 0) — oracle-pins the alternation
    end-to-end at the driver, not just in hypothesis tests. Star is the
    measured-faster path since the count-fast-path convergence probe
    (BENCH_LOCAL_r06_sf1.json: 4.4 s vs 5.0 s auto at sf0.1), so its
    correctness deserves the same gate as the default."""
    from etl_pipeline_excel_sql__spark.operators.clusters import (
        connected_components,
    )

    pairs = minhash_lsh_pairs(load_table(spark, "documents", sf_dir))
    return connected_components(pairs, algorithm="star")


ORACLE["dedup_clusters_star"] = ORACLE["dedup_clusters"]
QUERIES["dedup_clusters_star"] = q_dedup_clusters_star


def q_semantic_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup KEEP SET: embedding near-dup pairs
    (label block × SRP-LSH, exact cosine ≥ threshold) resolved into
    components, keeping one representative per component (the minimum
    vec_id) plus every vector that belongs to no near-dup pair.

    This is the stage after ``neardup_cosine``/``dedup_clusters`` that a
    training pipeline actually consumes: the surviving corpus. The
    non-representatives are dropped with a left-anti join on ``vec_id``.

    Scale contract — the drop list is deliberately NOT force-broadcast.
    It holds every non-representative member of every near-dup cluster,
    so it grows with the corpus's duplicate count: at 100 TB with 30-50%
    semantic dups that is billions of ids, not a trained-model-sized
    artifact. The engine size-gates the join instead: Catalyst/AQE pick
    broadcast when the materialized drop list lands under
    ``spark.sql.autoBroadcastJoinThreshold`` (the local case) and fall
    back to a shuffle anti-join on ``vec_id`` when it doesn't — the same
    contract ``decontam_overlap`` adopted after its round-4 fix
    (``tests/test_plan_census.py`` pins both regimes). The oracle replays
    the pair SQL plus the same min-reachable-id recursive fixpoint.
    """
    from etl_pipeline_excel_sql__spark.operators.clusters import (
        connected_components,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    pairs = cosine_neardup_pairs(
        emb,
        threshold=COSINE_THRESHOLD,
        srp_bits=adaptive_srp_bits(emb.count()),
    )
    comp = connected_components(pairs)
    drop = comp.filter(F.col("member_id") != F.col("cluster_id")).select(
        F.col("member_id").alias("vec_id")
    )
    return emb.join(drop, "vec_id", "left_anti").select("vec_id", "label")


ORACLE["semantic_dedup_keep"] = f"""
WITH RECURSIVE pairs AS MATERIALIZED ({_NEARDUP_COS_SQL}),
sym AS MATERIALIZED (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT u AS node, u AS lbl FROM sym
  UNION
  SELECT s.v AS node, reach.lbl FROM reach JOIN sym s ON s.u = reach.node
),
comp AS (SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node)
SELECT vec_id, label FROM embeddings
WHERE vec_id NOT IN (SELECT node FROM comp WHERE node <> cluster_id)
"""
QUERIES["semantic_dedup_keep"] = q_semantic_dedup_keep


def q_emb_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed X'X Gram matrix over the embedding corpus — the REAL
    Arrow ``mapInPandas`` numeric path under the value gate: per-batch
    int64 numpy matmuls over floor-quantized micro-units merge to a
    bit-exact corpus Gram under any batch split (see
    operators/similarity.gram_matrix). The oracle replays the same
    quantization with an explode + self-join in SQL.
    """
    from etl_pipeline_excel_sql__spark.operators.similarity import (
        gram_matrix,
    )

    return gram_matrix(load_table(spark, "embeddings", sf_dir))


ORACLE["emb_gram_matrix"] = f"""
WITH q AS (
  SELECT vec_id, CAST(i.range AS INT) AS dim,
         CAST(floor(CAST(embedding[i.range + 1] AS DOUBLE) * 1000000.0
              + 0.5) AS BIGINT) AS qv
  FROM embeddings CROSS JOIN range(0, {EMB_DIMS}) i
)
SELECT a.dim AS i, b.dim AS j,
       CAST(SUM(a.qv * b.qv) AS BIGINT) AS gram
FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.dim <= b.dim
GROUP BY 1, 2"""
QUERIES["emb_gram_matrix"] = q_emb_gram_matrix


TFIDF_K = 5


def q_text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-k distinctive terms by tf-idf.

    idf is the raw ratio ``N/df`` (one IEEE division — bit-reproducible
    across engines; a log-smoothed idf would hit libm, whose last-ulp
    behavior differs between JVM and C, and ranking is unchanged for
    fixed N since x ↦ log is monotone). Score = ``tf·N/df`` computed as
    one integer product then one double division. Ties: term ascending.

    Scale shape: explode → two hash aggregates (doc-term, then term) and
    one shuffle join on term; the per-doc top-k is a window over doc_id —
    all high-cardinality keys, no skew hotspots beyond natural stopword
    df (bounded by the aggregate's map-side combine).
    """
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id", F.explode(ws_tokens(F.col("text"))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.count()
    scored = tf.join(dfreq, on="term").select(
        "doc_id",
        "term",
        "tf",
        "df",
        (
            (F.col("tf") * F.lit(n_docs)).cast("double")
            / F.col("df").cast("double")
        ).alias("tfidf"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TFIDF_K)
        .select("doc_id", "term", "tf", "df", "tfidf", "rank")
    )


SPLIT_SALT = "split:v1:"
PACK_BUDGET = 512
PACK_RANGE = 64


def q_split_train_val(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/val/test split (80/10/10).

    The standard reproducible corpus split: bucket = md5(salt || id) mod
    100, so membership is a pure function of the document id — stable
    across runs, engines, and re-partitioning, and adding documents never
    reshuffles existing assignments. A narrow map with zero shuffle at
    any scale.
    """
    docs = load_table(spark, "documents", sf_dir)
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(SPLIT_SALT), F.col("doc_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    return docs.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )


ORACLE["split_train_val"] = f"""
SELECT doc_id, bucket,
       CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id,
         {_HASH60.format(e=f"concat('{SPLIT_SALT}', CAST(doc_id AS VARCHAR))")}
           % 100 AS bucket
  FROM documents
)
"""
QUERIES["split_train_val"] = q_split_train_val


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing: assign each document (in doc_id
    order) to a training bin by its cumulative token offset —
    ``bin = floor(tokens_before_this_doc / budget)``.

    The prefix sum is computed with the scalable two-pass pattern, not a
    single global window (which funnels 100 TB through one partition):

    1. coarse ranges of ``PACK_RANGE`` doc ids each; per-range token sums
       (one map-side-combined aggregate — n_ranges rows);
    2. range offsets via a window over that small table;
    3. per-document cumsum windowed WITHIN each range (parallel across
       ranges), plus the joined range offset.

    Scale contract — the offset table is NOT force-broadcast: it has one
    row per PACK_RANGE of doc ids, so it grows linearly with the corpus
    (1M+ rows at 100 TB). Dropping the hint costs nothing: the engine
    broadcasts while the table is under the auto threshold, and the
    shuffle-join fallback keys on ``__rng`` — exactly the
    ``hashpartitioning(__rng)`` the step-3 window needs anyway, so the
    exchange is reused and the corpus still shuffles once either way.

    The oracle is the single global window — same bigint arithmetic, so
    results agree exactly while the engine side stays shuffle-light.
    """
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id",
        bpe_token_count().cast("bigint").alias("n_tokens"),
        # integer DIV, not float division — exact for any 64-bit id
        F.expr(f"CAST(doc_id DIV {PACK_RANGE} AS BIGINT)").alias("__rng"),
    )
    from pyspark.sql import Window

    rng_w = Window.orderBy("__rng").rowsBetween(
        Window.unboundedPreceding, -1
    )
    rng_off = (
        toks.groupBy("__rng")
        .agg(F.sum("n_tokens").alias("__rng_tot"))
        .withColumn(
            "__offset",
            F.coalesce(F.sum("__rng_tot").over(rng_w), F.lit(0).cast("bigint")),
        )
        .select("__rng", "__offset")
    )
    in_rng_w = (
        Window.partitionBy("__rng")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        toks.join(rng_off, on="__rng")
        .withColumn(
            "__before",
            F.col("__offset")
            + F.coalesce(
                F.sum("n_tokens").over(in_rng_w), F.lit(0).cast("bigint")
            ),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.col("__before").alias("start_offset"),
            F.expr(f"CAST(__before DIV {PACK_BUDGET} AS BIGINT)").alias(
                "bin_id"
            ),
        )
    )


ORACLE["pack_sequences"] = f"""
SELECT doc_id, n_tokens,
       CAST(COALESCE(SUM(n_tokens) OVER (
         ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         0) AS BIGINT) AS start_offset,
       CAST(COALESCE(SUM(n_tokens) OVER (
         ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         0) // {PACK_BUDGET} AS BIGINT) AS bin_id
FROM (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS BIGINT)
           AS n_tokens
  FROM documents
)
"""
QUERIES["pack_sequences"] = q_pack_sequences


PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
PII_NUM_RE = "[0-9][0-9][0-9]+"
PII_ENTITY_RE = "\\b(customer|supplier)\\b"


def q_text_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern-based scrubbing: emails → ``<EMAIL>``, digit runs of 3+ →
    ``<NUM>``, denylisted entity terms → ``<ENT>`` — the standard
    pre-training redaction pass (pattern + denylist tiers).

    Patterns stick to the regex subset where Java (Spark) and RE2
    (DuckDB) agree — character classes, counted runs, alternation, ASCII
    ``\\b`` — no backrefs/lookaround. A narrow map; flags rows that
    changed so the redaction rate is directly aggregable.
    """
    docs = load_table(spark, "documents", sf_dir)
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), PII_EMAIL_RE, "<EMAIL>"),
            PII_NUM_RE,
            "<NUM>",
        ),
        PII_ENTITY_RE,
        "<ENT>",
    )
    return docs.select(
        "doc_id",
        scrubbed.alias("clean_text"),
        (scrubbed != F.col("text")).alias("was_redacted"),
    )


_SCRUB_SQL = (
    f"regexp_replace(regexp_replace(regexp_replace(text, "
    f"'{PII_EMAIL_RE}', '<EMAIL>', 'g'), "
    f"'{PII_NUM_RE}', '<NUM>', 'g'), "
    f"'{PII_ENTITY_RE}', '<ENT>', 'g')"
)
ORACLE["text_scrub_pii"] = f"""
SELECT doc_id,
       {_SCRUB_SQL} AS clean_text,
       {_SCRUB_SQL} <> text AS was_redacted
FROM documents
"""
QUERIES["text_scrub_pii"] = q_text_scrub_pii


ORACLE["text_tfidf_topk"] = f"""
WITH toks AS (
  SELECT doc_id, UNNEST({WS_TOKENS_SQL}) AS term FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT doc_id, term, tf, df,
       CAST(tf * n_docs AS DOUBLE) / CAST(df AS DOUBLE) AS tfidf,
       CAST(row_number() OVER (
         PARTITION BY doc_id
         ORDER BY CAST(tf * n_docs AS DOUBLE) / CAST(df AS DOUBLE) DESC,
                  term ASC) AS INT) AS rank
FROM tf JOIN dfreq USING (term), n
QUALIFY rank <= {TFIDF_K}
"""
QUERIES["text_tfidf_topk"] = q_text_tfidf_topk


#: sources treated as the INCOMING batch by dedup_incremental (the other
#: 15 sources are the already-indexed corpus).
NEW_SOURCES = ("src0", "src1", "src2", "src3", "src4")


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingestion near-dup: which incoming-batch documents
    (sources src0-src4) duplicate something already in the indexed
    corpus (the other sources). Cross-set MinHash banding — never
    new-vs-new or corpus-vs-corpus pairs; see
    ``operators/dedup.minhash_lsh_pairs_cross``."""
    from etl_pipeline_excel_sql__spark.operators.dedup import (
        minhash_lsh_pairs_cross,
    )

    docs = load_table(spark, "documents", sf_dir)
    is_new = F.col("source").isin(*NEW_SOURCES)
    return minhash_lsh_pairs_cross(docs.filter(is_new), docs.filter(~is_new))


_NEW_SRC_SQL = ", ".join(f"'{s}'" for s in NEW_SOURCES)

ORACLE["dedup_incremental"] = f"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN source IN ({_NEW_SRC_SQL}) THEN 'new' ELSE 'corpus' END
           AS side,
         {_shingle_sql(MINHASH_SHINGLE_N)} AS sh
  FROM (SELECT doc_id, source, {WS_TOKENS_SQL} AS toks FROM documents)
  WHERE len(toks) > 0
), hashed AS (
  SELECT doc_id, side, sh,
         list_transform(sh, s -> {_HASH60.format(e='s')} & {MINHASH_PRIME}) AS hb
  FROM base
), sigs AS (
  SELECT doc_id, side, sh,
    [{', '.join(
        f"list_min(list_transform(hb, h -> ({a} * h + {b}) % {MINHASH_PRIME}))"
        for a, b in affine_consts()
    )}] AS mh
  FROM hashed
), bands AS (
  SELECT doc_id, side, sh, b AS band,
         {_BAND_BUCKET_SQL} AS bucket
  FROM sigs, UNNEST(range(0, {MINHASH_K // MINHASH_BAND_ROWS})) AS t(b)
), cand AS (
  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id,
                  a.sh AS sh_n, b.sh AS sh_c
  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.side = 'new' AND b.side = 'corpus'
)
SELECT new_id, corpus_id,
  len(list_intersect(sh_n, sh_c))::DOUBLE
    / len(list_distinct(list_concat(sh_n, sh_c)))::DOUBLE AS jaccard_sim
FROM cand
WHERE len(list_intersect(sh_n, sh_c))::DOUBLE
    / len(list_distinct(list_concat(sh_n, sh_c)))::DOUBLE
    >= {MINHASH_THRESHOLD}
"""
QUERIES["dedup_incremental"] = q_dedup_incremental


# --- incremental cluster-state maintenance (round 12) ------------------------

def q_dedup_clusters_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Connected-components IVM: merge a NEW batch into PERSISTED
    cluster state without re-clustering the corpus — the ingest shape
    ``dedup_incremental`` (which yields the cross pairs) feeds at
    100 TB, completed into maintained cluster assignments.

    The classic reduction: the persisted labels collapse every existing
    cluster to skinny ``(member, cluster_id)`` star edges (cluster_id
    IS the min member id, so label nodes are member nodes); union those
    with the delta edges — new-vs-corpus (cross band join) and
    new-vs-new (self band join over the batch only) — and run
    components on the UNION. Cost is |labels| + |delta| edges; the
    corpus pair graph is never re-generated and corpus text is touched
    only by the cross probe's signature build. The result PROVABLY
    equals from-scratch clustering over the full corpus because the
    side-restricted band joins partition the full self-join's pair set
    (signatures are per-doc) and min-label components are
    union-associative — the oracle (shared verbatim with
    ``dedup_clusters``) recomputes from scratch, so hash equality IS
    the IVM-algebra proof.
    """
    from etl_pipeline_excel_sql__spark.operators.clusters import (
        connected_components,
    )
    from etl_pipeline_excel_sql__spark.operators.dedup import (
        minhash_index_tables,
        minhash_lsh_pairs_ingest_indexed,
    )

    docs = load_table(spark, "documents", sf_dir)
    is_new = F.col("source").isin(*NEW_SOURCES)
    new_docs = docs.filter(is_new)
    corpus = docs.filter(~is_new)

    def build(path: str) -> None:
        """The corpus-only state a production ingest loads, never
        recomputes: cluster labels plus the MinHash band/set index."""
        base_pairs = minhash_lsh_pairs(corpus).select("id_a", "id_b")
        connected_components(base_pairs).select(
            "member_id", "cluster_id"
        ).write.mode("overwrite").parquet(f"{path}/labels")
        # Round 14: the corpus MinHash band/set index persists alongside
        # the labels (dedup.minhash_index_tables) so the ingest's cross
        # probe reads skinny index rows instead of re-scanning and
        # re-signaturing the corpus text on every evaluation — the one
        # non-incremental cost the r13 fused pass still paid.
        mh_bands, mh_sets = minhash_index_tables(corpus)
        mh_bands.write.mode("overwrite").parquet(f"{path}/mh_bands")
        mh_sets.write.mode("overwrite").parquet(f"{path}/mh_sets")

    path = built_dir("cluster_state_", sf_dir, build)
    state = spark.read.parquet(f"{path}/labels")

    delta = minhash_lsh_pairs_ingest_indexed(
        new_docs,
        spark.read.parquet(f"{path}/mh_bands"),
        spark.read.parquet(f"{path}/mh_sets"),
    ).select("id_a", "id_b")
    label_edges = state.select(
        F.col("member_id").alias("id_a"), F.col("cluster_id").alias("id_b")
    )
    return connected_components(label_edges.unionByName(delta))


ORACLE["dedup_clusters_incremental"] = ORACLE["dedup_clusters"]
QUERIES["dedup_clusters_incremental"] = q_dedup_clusters_incremental


def q_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs that STRADDLE the train/val/test split — the
    curation bug evals die of: a val document with a train near-copy
    scores as memorization, not generalization. Composes the MinHash
    pair generator with the hash-split assignment (both already gated
    alone); a clean corpus returns zero rows, and every emitted row is
    an actionable (train-doc, eval-doc) pair with its Jaccard.

    Scale shape: the split table is a narrow zero-shuffle map, the two
    membership joins are id-keyed and size-gated; all the heavy lifting
    (banding, verification) is the audited `dedup_minhash` plan itself.
    """
    pairs = q_dedup_minhash(spark, sf_dir).select(
        "id_a", "id_b", "jaccard_sim"
    )
    splits = q_split_train_val(spark, sf_dir).select("doc_id", "split")
    return (
        pairs.join(
            splits.select(
                F.col("doc_id").alias("id_a"),
                F.col("split").alias("split_a"),
            ),
            "id_a",
        )
        .join(
            splits.select(
                F.col("doc_id").alias("id_b"),
                F.col("split").alias("split_b"),
            ),
            "id_b",
        )
        .filter(F.col("split_a") != F.col("split_b"))
        .select("id_a", "id_b", "jaccard_sim", "split_a", "split_b")
    )


ORACLE["split_leakage_audit"] = f"""
WITH splits AS (
  SELECT doc_id,
         CASE WHEN b < 80 THEN 'train'
              WHEN b < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM (
    SELECT doc_id,
           {_HASH60.format(e=f"concat('{SPLIT_SALT}', CAST(doc_id AS VARCHAR))")}
             % 100 AS b
    FROM documents
  )
)
SELECT p.id_a, p.id_b, p.jaccard_sim, sa.split AS split_a,
       sb.split AS split_b
FROM ({_MINHASH_SQL}) p
JOIN splits sa ON sa.doc_id = p.id_a
JOIN splits sb ON sb.doc_id = p.id_b
WHERE sa.split <> sb.split
"""
QUERIES["split_leakage_audit"] = q_split_leakage_audit


# --- LSH recall audit (round 10) -------------------------------------------

def _shared_jaccard_truth(
    spark: SparkSession, sf_dir: str, docs: DataFrame, exploded: DataFrame
) -> DataFrame:
    """Exact J >= 1/2 truth pairs for ``sf_dir``, built once per process
    (prefix-filter join over ``exploded``), persisted as parquet, and
    LOADED on every later call — subsequent audits pay a skinny
    (id_a, id_b, jaccard_ppm) scan instead of the corpus prefix join.
    ``lsh_recall_audit`` and ``minhash_band_tuning`` grade against this
    SAME truth set, so neither pays the prefix join per query (round-11
    verdict item 2)."""

    def build(path: str) -> None:
        jaccard_prefix_pairs(
            docs,
            threshold_num=PREFIX_JACCARD_NUM,
            threshold_den=PREFIX_JACCARD_DEN,
            exploded=exploded,
        ).select("id_a", "id_b", "jaccard_ppm").write.mode(
            "overwrite"
        ).parquet(path)

    return spark.read.parquet(built_dir("jaccard_truth_", sf_dir, build))


def q_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall of MinHash-LSH banding against EXACT ground truth,
    per similarity band — the audit that turns the LSH S-curve from a
    formula (recall = 1-(1-J^r)^b) into a number measured on THIS corpus
    with THIS banding: ``dedup_jaccard_prefix`` (prefix filtering,
    completeness-guaranteed at J >= 0.5) is the truth set;
    ``dedup_minhash``'s band-join survivors are the candidate set; the
    output is per-decile-band (J in [0.5,0.6) ... [1.0]) truth count,
    hit count, and recall in ppm.

    This is the number a 100 TB dedup run quotes for "how much did the
    sketch blocking miss": both sides are already scale-shaped (band
    bucket join / prefix-key join — never all-pairs), and the audit
    itself adds one key-key join of two pair lists plus a 6-group
    aggregate. All-integer output.

    Both sides start from the same shingle-occurrence sub-DAG
    (``shingle_rows`` over the non-blank corpus), so the audit builds it
    ONCE, persists it through a default :class:`SignatureCache` slot, and
    feeds it to both operators via their ``exploded`` hook — one corpus
    scan + shingle explode instead of two (round-10 verdict item 2).
    The truth set itself is the per-(process, sf) parquet artifact
    shared with ``minhash_band_tuning`` (:func:`_shared_jaccard_truth`)
    — built once, loaded by every audit thereafter.
    """
    docs = load_table(spark, "documents", sf_dir).filter(
        has_ws_tokens()
    )
    exploded = shared_slot(
        spark, "pipeline.audit_shingles", SignatureCache
    ).swap(shingle_rows(docs, MINHASH_SHINGLE_N))
    truth = _shared_jaccard_truth(spark, sf_dir, docs, exploded).select(
        "id_a", "id_b", "jaccard_ppm"
    )
    cand = (
        minhash_lsh_pairs(docs, exploded=exploded)
        .select("id_a", "id_b")
        .withColumn("__hit", F.lit(1))
    )
    per = truth.join(cand, ["id_a", "id_b"], "left").select(
        F.expr("jaccard_ppm div 100000").cast("bigint").alias("band"),
        F.coalesce(F.col("__hit"), F.lit(0)).alias("hit"),
    )
    return (
        per.groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_true"),
            F.sum("hit").cast("bigint").alias("n_hit"),
        )
        .withColumn(
            "recall_ppm",
            F.expr("(n_hit * 1000000) div n_true").cast("bigint"),
        )
    )


ORACLE["lsh_recall_audit"] = f"""
WITH truth AS MATERIALIZED (
  SELECT id_a, id_b, jaccard_ppm FROM ({_JACCARD_PREFIX_SQL})
), cand AS MATERIALIZED (
  SELECT id_a, id_b FROM ({_MINHASH_SQL})
), j AS (
  SELECT t.jaccard_ppm // 100000 AS band,
         CASE WHEN c.id_a IS NULL THEN 0 ELSE 1 END AS hit
  FROM truth t LEFT JOIN cand c USING (id_a, id_b)
)
SELECT CAST(band AS BIGINT) AS band,
       CAST(COUNT(*) AS BIGINT) AS n_true,
       CAST(SUM(hit) AS BIGINT) AS n_hit,
       CAST(SUM(hit) * 1000000 // COUNT(*) AS BIGINT) AS recall_ppm
FROM j GROUP BY band
"""
QUERIES["lsh_recall_audit"] = q_lsh_recall_audit


# --- sampled-truth LSH recall audit (round 13) ------------------------------

#: fixed absolute document budget for the sampled audit — the quantity
#: that makes the 100 TB cost O(sample): the sampled fraction SHRINKS
#: as the corpus grows (ppm threshold = budget/N), so the audit's
#: prefix-join truth never scales with the corpus.
LSH_AUDIT_SAMPLE_BUDGET = 2000

#: deterministic doc-sample salt (split_train_val hash convention)
LSH_AUDIT_SAMPLE_SALT = "lsr:"

def q_lsh_recall_audit_sampled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``lsh_recall_audit`` at its honest 100 TB cost: exact Jaccard
    truth over a FIXED-BUDGET deterministic document sample instead of
    the full corpus (SCALING.md's one-line swap, now a gated operator).

    Sampling: a doc enters iff ``md5(salt || doc_id) % 1e6 <
    min(1e6, budget·1e6 div N)`` — a pure hash map; the ppm threshold
    shrinks as the corpus grows, so the expected sample is ~constant
    (``LSH_AUDIT_SAMPLE_BUDGET`` docs) and the prefix-join truth plus
    the sampled band join cost O(sample²-dup-mass), NOT Θ(corpus dup
    mass) like ``dedup_jaccard_prefix`` (whose linear asymptote is its
    exact-recall contract — the decade probe shows this row's exponent
    far below it). Doc-level uniform sampling is the stratifier that
    stays honest at scale: stratifying truth PAIRS by J-decile would
    require knowing J first — the full truth set, the exact cost being
    avoided. Per-decile recall is still reported per stratum, and the
    pytest bounds the sampled-vs-exact deviation per band
    (``tests/test_round13_families.py``).

    Both sides (truth + candidates) share one shingle frame over the
    sampled docs (the ``lsh_recall_audit`` persist doctrine); the
    corpus-scale work that remains is one text scan to hash doc ids and
    shingle the survivors. Output: per J-decile band, sampled truth
    count, band-join hits, recall ppm — all-integer.

    Construction EAGERLY checkpoints the shingle frame through a default
    truncator, so the slot rule of
    :mod:`~etl_pipeline_excel_sql__spark.operators.iterative` applies.
    """
    docs = load_table(spark, "documents", sf_dir).filter(
        has_ws_tokens()
    )
    n_frame = docs.agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    ppm = F.least(
        F.lit(1000000).cast("bigint"),
        F.expr(f"({LSH_AUDIT_SAMPLE_BUDGET} * 1000000) div __n"),
    )
    sampled = (
        docs.join(F.broadcast(n_frame))
        .filter(
            md5_hash60(
                F.concat(
                    F.lit(LSH_AUDIT_SAMPLE_SALT),
                    F.col("doc_id").cast("string"),
                )
            )
            % 1000000
            < ppm
        )
        .drop("__n")
    )
    # Round-13 optimization: the frame is SAMPLE-sized, but a persist
    # slot keeps its full logical subtree, so the two pair generators'
    # many references blew the static plan up to 1415 lines / 118
    # Exchange nodes and the query paid seconds of driver-side planning
    # + AQE re-optimization (guide §3.3 "very large plans: materialise
    # an intermediate to truncate"). An eager localCheckpoint cuts every
    # downstream subtree to a short leaf: measured min-of-6 at sf0.1
    # 5.72 s → 3.72 s, identical rows. The cut is sample-scale, NOT
    # corpus-scale, which is why checkpoint beats persist here while
    # the corpus-scale signature caches keep persist.
    trunc = shared_slot(
        spark, "pipeline.audit_sample", lambda: LineageTruncator(spark)
    )
    exploded = trunc.truncate(
        shingle_rows(sampled, MINHASH_SHINGLE_N)
    )
    truth = jaccard_prefix_pairs(
        sampled,
        threshold_num=PREFIX_JACCARD_NUM,
        threshold_den=PREFIX_JACCARD_DEN,
        exploded=exploded,
    ).select("id_a", "id_b", "jaccard_ppm")
    cand = (
        minhash_lsh_pairs(sampled, exploded=exploded)
        .select("id_a", "id_b")
        .withColumn("__hit", F.lit(1))
    )
    per = truth.join(cand, ["id_a", "id_b"], "left").select(
        F.expr("jaccard_ppm div 100000").cast("bigint").alias("band"),
        F.coalesce(F.col("__hit"), F.lit(0)).alias("hit"),
    )
    return (
        per.groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_true"),
            F.sum("hit").cast("bigint").alias("n_hit"),
        )
        .withColumn(
            "recall_ppm",
            F.expr("(n_hit * 1000000) div n_true").cast("bigint"),
        )
    )


#: the shared tokenized-docs source line in the two reused CTE chains;
#: the sampled oracle swaps it for the sampled view (assert-guarded so
#: a future edit to either chain can't silently miss the swap).
_DOCS_TOKS_SRC = f"(SELECT doc_id, {WS_TOKENS_SQL} AS toks FROM documents)"
_SAMPLED_TOKS_SRC = "(SELECT doc_id, toks FROM lsr_sampled)"

assert _MINHASH_SQL.count(_DOCS_TOKS_SRC) == 1
assert _JACCARD_PREFIX_SQL.count(_DOCS_TOKS_SRC) == 1

ORACLE["lsh_recall_audit_sampled"] = f"""
WITH lsr_eligible AS MATERIALIZED (
  SELECT doc_id, toks FROM {_DOCS_TOKS_SRC} WHERE len(toks) > 0
), lsr_n AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM lsr_eligible
), lsr_sampled AS MATERIALIZED (
  SELECT doc_id, toks FROM lsr_eligible, lsr_n
  WHERE {_HASH60.format(e="concat('" + LSH_AUDIT_SAMPLE_SALT
        + "', CAST(doc_id AS VARCHAR))")} % 1000000
        < least(1000000, ({LSH_AUDIT_SAMPLE_BUDGET} * 1000000) // nn)
), truth AS MATERIALIZED (
  SELECT id_a, id_b, jaccard_ppm
  FROM ({_JACCARD_PREFIX_SQL.replace(_DOCS_TOKS_SRC, _SAMPLED_TOKS_SRC)})
), cand AS MATERIALIZED (
  SELECT id_a, id_b
  FROM ({_MINHASH_SQL.replace(_DOCS_TOKS_SRC, _SAMPLED_TOKS_SRC)})
), j AS (
  SELECT t.jaccard_ppm // 100000 AS band,
         CASE WHEN c.id_a IS NULL THEN 0 ELSE 1 END AS hit
  FROM truth t LEFT JOIN cand c USING (id_a, id_b)
)
SELECT CAST(band AS BIGINT) AS band,
       CAST(COUNT(*) AS BIGINT) AS n_true,
       CAST(SUM(hit) AS BIGINT) AS n_hit,
       CAST(SUM(hit) * 1000000 // COUNT(*) AS BIGINT) AS recall_ppm
FROM j GROUP BY band
"""
QUERIES["lsh_recall_audit_sampled"] = q_lsh_recall_audit_sampled


# --- cluster-safe split assignment (round 11) -------------------------------


def q_cluster_safe_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-FREE train/val/test assignment — the fix for what
    ``split_leakage_audit`` measures: hash-splitting per DOCUMENT lets a
    near-duplicate pair straddle train/val (memorization scored as
    generalization), so the split key must be the near-dup CLUSTER, not
    the document. Composes the MinHash pair generator, connected
    components, and the hash-bucket assignment (all three gated alone):
    every document is keyed by ``group_id = coalesce(component,
    own id)`` and the 80/10/10 bucket is ``md5(salt || group_id) % 100``
    — all members of a cluster land in the SAME split by construction.

    Output is the audit a data plan quotes: per split, document count,
    group count, and the number of near-dup pairs straddling that split
    and any other — PROVABLY zero, and the oracle recomputes the proof
    from scratch (recursive-CTE components + the same hash) rather than
    trusting the construction.

    Scale shape: the heavy work is the audited ``dedup_minhash`` +
    components DAG; assignment is a narrow map over (doc, group) and
    the leak probe joins the skinny pair list against the assignment.
    The pair frame feeds BOTH components and the leak probe, so the
    operator truncates it once — without the cut the full LSH banding +
    Jaccard-verify DAG executed a second time for the probe (a second
    full corpus dedup pass at 100 TB); single evaluation is pinned by
    an accumulator test (``test_clusters.py``).
    """
    from etl_pipeline_excel_sql__spark.operators.clusters import (
        cluster_safe_split_audit,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id")
    pairs = q_dedup_minhash(spark, sf_dir).select("id_a", "id_b")
    return cluster_safe_split_audit(docs, pairs, SPLIT_SALT)


ORACLE["cluster_safe_splits"] = f"""
WITH RECURSIVE pairs AS MATERIALIZED ({_MINHASH_SQL}),
sym AS MATERIALIZED (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT u AS node, u AS lbl FROM sym
  UNION
  SELECT s.v AS node, reach.lbl FROM reach JOIN sym s ON s.u = reach.node
),
comp AS (SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node),
grouped AS (
  SELECT d.doc_id,
         CAST(COALESCE(c.cluster_id, d.doc_id) AS BIGINT) AS group_id
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
),
assigned AS (
  SELECT doc_id, group_id,
         CASE WHEN b < 80 THEN 'train'
              WHEN b < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM (
    SELECT doc_id, group_id,
           {_HASH60.format(e=f"concat('{SPLIT_SALT}', CAST(group_id AS VARCHAR))")}
             % 100 AS b
    FROM grouped
  )
),
leak_rows AS (
  SELECT sa.split FROM pairs p
  JOIN assigned sa ON sa.doc_id = p.id_a
  JOIN assigned sb ON sb.doc_id = p.id_b
  WHERE sa.split <> sb.split
  UNION ALL
  SELECT sb.split FROM pairs p
  JOIN assigned sa ON sa.doc_id = p.id_a
  JOIN assigned sb ON sb.doc_id = p.id_b
  WHERE sa.split <> sb.split
),
leaks AS (
  SELECT split, CAST(COUNT(*) AS BIGINT) AS leak_pairs
  FROM leak_rows GROUP BY split
)
SELECT a.split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT a.group_id) AS BIGINT) AS n_groups,
       CAST(COALESCE(ANY_VALUE(l.leak_pairs), 0) AS BIGINT) AS leak_pairs
FROM assigned a LEFT JOIN leaks l ON l.split = a.split
GROUP BY a.split
"""
QUERIES["cluster_safe_splits"] = q_cluster_safe_splits


# --- MinHash banding tuning table (round 11) --------------------------------

#: band-row widths to evaluate over the 12-hash signature: b = 12/r
#: bands each. r=1 is the recall-greedy/candidate-hungry end, r=6 the
#: precision end — the production question is which rung fits the
#: candidate budget at the target recall.
BAND_TUNING_ROWS = (1, 2, 3, 4, 6)

def q_minhash_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH banding TUNING TABLE: for every (band_rows r, bands b =
    12/r) configuration of the same 12-hash MinHash signature, the
    measured candidate-pair volume and the measured recall against the
    prefix-join EXACT truth set (J >= 1/2) — the artifact that answers
    "which banding fits my candidate budget at my target recall" with
    numbers from THIS corpus instead of the 1-(1-J^r)^b formula.
    ``lsh_recall_audit`` grades ONE configuration per J-decile; this
    grades the whole knob range (SCALING.md's band-count knob rule).

    One corpus scan: the shingle explode and the 12-hash signature
    table are built once (bounded persist slots) and re-banded per
    config; each config adds only its band self-join on (band, bucket)
    carrying ids — never text — plus two counts. The exact truth set is
    the per-(process, sf) parquet artifact shared with
    ``lsh_recall_audit`` (:func:`_shared_jaccard_truth`). Output: one
    all-integer row per configuration.
    """
    from etl_pipeline_excel_sql__spark.operators.dedup import (
        _minhash_band_expr,
        _minhash_signatures,
    )

    docs = load_table(spark, "documents", sf_dir).filter(
        has_ws_tokens()
    )
    # Default persist slots: the shingle explode feeds the truth join AND
    # the signature build; the signature table is re-banded per config.
    exploded = shared_slot(
        spark, "pipeline.tuning_shingles", SignatureCache
    ).swap(shingle_rows(docs, MINHASH_SHINGLE_N))
    sig = shared_slot(
        spark, "pipeline.tuning_signatures", SignatureCache
    ).swap(_minhash_signatures(exploded))
    truth = _shared_jaccard_truth(spark, sf_dir, docs, exploded).select(
        "id_a", "id_b"
    )
    n_truth = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))

    rows = []
    for r in BAND_TUNING_ROWS:
        bands = sig.select("__id", _minhash_band_expr(r))
        cand = (
            bands.alias("l")
            .join(bands.alias("r"), on=["band", "bucket"])
            .filter(F.col("l.__id") < F.col("r.__id"))
            .select(
                F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b")
            )
            .distinct()
        )
        counts = cand.join(truth.withColumn("__t", F.lit(1)), ["id_a", "id_b"], "left").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
            F.sum(F.coalesce(F.col("__t"), F.lit(0)))
            .cast("bigint")
            .alias("n_hit"),
        )
        rows.append(
            counts.withColumn("band_rows", F.lit(r).cast("bigint")).withColumn(
                "n_bands", F.lit(MINHASH_K // r).cast("bigint")
            )
        )
    out = rows[0]
    for extra in rows[1:]:
        out = out.unionByName(extra)
    return out.join(F.broadcast(n_truth)).select(
        "band_rows",
        "n_bands",
        "n_candidates",
        "n_truth",
        "n_hit",
        F.expr("CAST(n_hit * 1000000 DIV greatest(n_truth, 1) AS BIGINT)").alias(
            "recall_ppm"
        ),
    )


def _band_tuning_sql() -> str:
    # outer CTE names are prefixed mh_ so they cannot shadow the CTEs
    # inside the nested _JACCARD_PREFIX_SQL WITH (DuckDB hits an
    # internal "recursive CTE scan" assertion on same-name shadowing
    # with materialized CTEs).
    sig_cte = f"""
mh_base AS MATERIALIZED (
  SELECT doc_id, {_shingle_sql(MINHASH_SHINGLE_N)} AS sh
  FROM (SELECT doc_id, {WS_TOKENS_SQL} AS toks FROM documents)
  WHERE len(toks) > 0
), mh_hashed AS (
  SELECT doc_id, sh,
         list_transform(sh, s -> {_HASH60.format(e='s')} & {MINHASH_PRIME}) AS hb
  FROM mh_base
), sigs AS MATERIALIZED (
  SELECT doc_id,
    [{', '.join(
        f"list_min(list_transform(hb, h -> ({a} * h + {b}) % {MINHASH_PRIME}))"
        for a, b in affine_consts()
    )}] AS mh
  FROM mh_hashed
), truth AS MATERIALIZED (
  SELECT id_a, id_b FROM ({_JACCARD_PREFIX_SQL})
), n_truth AS (SELECT COUNT(*) AS n_truth FROM truth)"""
    selects = []
    for r in BAND_TUNING_ROWS:
        bucket = " || ',' || ".join(
            f"CAST(mh[{r} * b + {i + 1}] AS VARCHAR)" for i in range(r)
        )
        selects.append(f"""
SELECT CAST({r} AS BIGINT) AS band_rows,
       CAST({MINHASH_K // r} AS BIGINT) AS n_bands,
       CAST(COUNT(*) AS BIGINT) AS n_candidates,
       (SELECT CAST(n_truth AS BIGINT) FROM n_truth) AS n_truth,
       CAST(SUM(CASE WHEN t.id_a IS NULL THEN 0 ELSE 1 END) AS BIGINT)
         AS n_hit,
       CAST(SUM(CASE WHEN t.id_a IS NULL THEN 0 ELSE 1 END) * 1000000
            // greatest((SELECT n_truth FROM n_truth), 1) AS BIGINT)
         AS recall_ppm
FROM (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM (SELECT doc_id, b AS band, {bucket} AS bucket
        FROM sigs, UNNEST(range(0, {MINHASH_K // r})) AS tt(b)) a
  JOIN (SELECT doc_id, b AS band, {bucket} AS bucket
        FROM sigs, UNNEST(range(0, {MINHASH_K // r})) AS tt(b)) b
    ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.doc_id < b.doc_id
) c
LEFT JOIN truth t ON t.id_a = c.id_a AND t.id_b = c.id_b""")
    return "WITH " + sig_cte + "\n" + "\nUNION ALL\n".join(selects)


ORACLE["minhash_band_tuning"] = _band_tuning_sql()
QUERIES["minhash_band_tuning"] = q_minhash_band_tuning
