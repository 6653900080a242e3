"""BPE merge-table training as an iterative DataFrame loop.

``bpe_pair_counts`` (plans/analytics5_queries.py) reports the statistic
the FIRST byte-pair-encoding merge maximizes; this module runs the
actual training loop [Sennrich, Haddow & Birch, "Neural Machine
Translation of Rare Words with Subword Units", ACL 2016]: repeatedly
find the most frequent adjacent symbol pair corpus-wide and fuse it into
one symbol, yielding the ordered merge table a tokenizer ships.

Distribution shape (100 TB): training runs on the DISTINCT-WORD
frequency table, not the corpus — one corpus-sized explode+groupBy up
front, then every round touches |vocab| rows (millions, not billions).
Per round: (1) adjacent-pair frequencies via an expression-only
``transform(sequence(...))`` explode and a map-side-combined aggregate
whose key space is bounded by symbol-pair cardinality; (2) the argmax
pair — ONE scalar row — is collected to the driver (the same bounded
driver-decision contract as pagerank's overflow guard: n_merges scalar
collects total, never corpus rows); (3) the merge applies to every word
via a codegen'd ``aggregate`` fold (left-to-right, non-overlapping,
exactly the reference algorithm's replacement order), with per-round
lineage truncation so the plan stays flat.

Determinism: ties break (count DESC, left ASC, right ASC) in each
engine's binary string order, so the merge table is a pure function of
the corpus, and the DuckDB oracle replays the unrolled rounds exactly
(plans/corpus_queries or graph twin; see ``bpe_unrolled_sql``).
Collation caveat: Spark compares strings by UTF-16 code units while
DuckDB compares UTF-8 bytes (code points); the two orders agree for all
Basic-Multilingual-Plane text but diverge for supplementary-plane
characters (emoji, rare CJK), where a tie-break could pick different
pairs per engine. An oracle mismatch on a non-BMP corpus is this
engine-collation difference, not a trainer bug; normalize symbols
through a byte-stable key if such corpora ever need exact parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from etl_pipeline_excel_sql__spark.functions.text import ws_tokens
from etl_pipeline_excel_sql__spark.operators.iterative import LineageTruncator
from etl_pipeline_excel_sql__spark.functions.localframe import local_df

#: Merge rounds of the registry's trained tables (small: each round is
#: two bounded jobs over the distinct-word table, and the oracle twins
#: unroll the same count), the subword-vocabulary size and the packed
#: LM training-sequence length.
BPE_TRAIN_MERGES = 6
BPE_VOCAB_TOP_K = 40
PACK_SEQ_LEN = 64
#: Doc ids per prefix-sum range of :func:`pack_lm_sequences` (two-phase
#: global offset; small so the range table is non-trivial even at sf0.001).
PACK_IDS_RANGE = 100

MERGES_SCHEMA = StructType(
    [
        StructField("merge_rank", IntegerType(), False),
        StructField("left", StringType(), False),
        StructField("right", StringType(), False),
        StructField("pair_count", LongType(), False),
    ]
)

#: Adjacent (a, b) symbol pairs of a symbol array, one row per position
#: (overlapping positions both count — the reference get_stats counts
#: every adjacent position; the MERGE is what applies non-overlapping).
_ADJ_PAIRS = (
    "transform(sequence(1, size(syms) - 1),"
    " i -> struct(element_at(syms, i) AS a, element_at(syms, i + 1) AS b))"
)


def _merge_fold(a: str, b: str):
    """Fuse every left-to-right non-overlapping (a, b) occurrence in
    ``syms`` — codegen'd aggregate fold, no Python per row."""
    return F.aggregate(
        F.col("syms"),
        F.expr("CAST(array() AS ARRAY<STRING>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.concat(F.element_at(acc, -1), x)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


#: key separator for the batched merge map — symbols come from
#: whitespace-tokenized text, which cannot contain NUL.
_PAIR_SEP = "\x00"


def _merge_fold_batch(pairs: list[tuple[str, str]]):
    """One left-to-right fold applying EVERY pair in ``pairs`` — a single
    map lookup per symbol instead of one nested fold per pair. Correct
    only for a mutually symbol-disjoint batch (see
    :func:`_accept_batch`): disjointness means a symbol produced by one
    merge can never be the left/right side of another, so the single
    pass is order-independent and equals applying the per-pair folds
    sequentially."""
    entries: list = []
    for a, b in pairs:
        entries.append(F.lit(a + _PAIR_SEP + b))
        entries.append(F.lit(a + b))
    merge_map = F.create_map(*entries)

    def step(acc, x):
        hit = F.try_element_at(
            merge_map, F.concat(F.element_at(acc, -1), F.lit(_PAIR_SEP), x)
        )
        return F.when(
            (F.size(acc) > 0) & hit.isNotNull(),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(hit)),
        ).otherwise(F.concat(acc, F.array(x)))

    return F.aggregate(
        F.col("syms"), F.expr("CAST(array() AS ARRAY<STRING>)"), step
    )


def _accept_batch(
    rows, n_remaining: int, fetched: int, vocab_concats: set[str]
) -> list[tuple[str, str, int]]:
    """Greedily choose a prefix of the sorted candidate pairs that is
    PROVABLY the next ``len(result)`` sequential BPE merges.

    ``rows`` are the top ``fetched + 1`` pairs ordered (cnt DESC, a ASC,
    b ASC) — the same total order sequential training uses for its
    argmax, so row 0 is always the true next merge. Further rows are
    accepted while sequential equality is guaranteed:

    1. **Disjointness** — walk in order, tracking every accepted left,
       right, and concatenated symbol; STOP at the first candidate
       touching any of them, or whose concat equals a prior-round merge
       symbol (``vocab_concats`` — every multi-char symbol in the
       working vocabulary is the concat of some earlier merge, so this
       excludes string-collision gains exactly, without reading the
       vocabulary back). Every pair that overlaps an accepted symbol
       sorts at/after the stop position — were it earlier, it would
       itself have stopped the walk — so its count is <= stop_cnt (the
       count AT the stop; everything unfetched is bounded by the
       (fetched+1)-th count, which is where stop_cnt comes from when no
       fetched candidate overlaps).
    2. **Strict dominance** — merging the accepted pairs perturbs only
       pairs that touch their symbols: decreased pairs only fall, and a
       newly-created pair's count is bounded by the old count of the
       adjacency that enables it ((w,x) for the left-extension (w, xy),
       (y,z) for (xy, z)), which overlaps an accepted symbol and is
       therefore <= stop_cnt. Existing pairs can only GAIN through a
       symbol string-equal to an accepted concat — excluded by rule 1.
       So accepting p_j (j >= 2) only while cnt(p_j) > stop_cnt makes
       every mid-batch sequential argmax exactly the next accepted pair:
       accepted counts are invariant (mutually disjoint, no collisions)
       and strictly above every perturbed count, and ties WITHIN the
       batch resolve in the same (cnt, a, b) order the walk used.

    The first candidate needs no condition: it IS the sequential argmax.
    Conservative by design — when equality can't be proven the batch
    shrinks (worst case to 1, which is sequential training itself).
    """
    if not rows:
        return []
    stop_cnt = 0
    accepted: list[tuple[str, str, int]] = []
    occupied: set[str] = set()
    for i, r in enumerate(rows):
        a, b, cnt = r["a"], r["b"], int(r["cnt"])
        if i >= min(n_remaining, fetched):
            stop_cnt = cnt
            break
        ids = {a, b, a + b}
        if (ids & occupied) or (a + b) in vocab_concats:
            if i == 0:
                # Row 0 IS the sequential argmax — no proof obligation —
                # but a concat string-colliding with an existing
                # vocabulary symbol voids the no-gain argument for
                # everything behind it, so it ships as a batch of one.
                accepted.append((a, b, cnt))
            stop_cnt = cnt
            break
        accepted.append((a, b, cnt))
        occupied |= ids
    out = accepted[:1]
    for a, b, cnt in accepted[1:]:
        if cnt > stop_cnt:
            out.append((a, b, cnt))
        else:
            break
    return out


def bpe_train_merges(
    docs: DataFrame,
    n_merges: int,
) -> DataFrame:
    """Train ``n_merges`` BPE merges over whitespace-tokenized ``docs``.

    Returns the ordered merge table ``(merge_rank, left, right,
    pair_count)`` — ``pair_count`` is the corpus-wide adjacent-position
    frequency that made the pair win its round. Stops early (fewer rows)
    if no adjacent pair remains. The result is a small local DataFrame
    (the trained artifact), deterministic for a given corpus.
    """
    if n_merges < 1:
        raise ValueError("bpe_train_merges: n_merges must be >= 1")
    return bpe_train_merges_from_words(word_frequencies(docs), n_merges)


def word_frequencies(docs: DataFrame) -> DataFrame:
    """The one corpus pass: distinct words with corpus frequencies —
    train AND encode consume this table; compute (and, in a pipeline,
    persist) it once rather than re-exploding the corpus per stage."""
    return (
        docs.select(F.explode(ws_tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def bpe_train_merges_from_words(
    words: DataFrame,
    n_merges: int,
    batch_pairs: int = 1,
    stats: dict | None = None,
    max_batch_pairs: int | None = None,
) -> DataFrame:
    """Training loop over a prebuilt ``(w, freq)`` table (see
    :func:`word_frequencies`).

    ``batch_pairs`` bounds how many merges one driver round-trip may
    emit: each round fetches the top ``batch_pairs + 1`` pairs and
    accepts the longest prefix that provably equals the sequential
    merge order (:func:`_accept_batch` — symbol-disjoint AND
    count-dominant), so the result is IDENTICAL to ``batch_pairs=1``
    while a 50k-merge vocabulary needs thousands, not 50k, of driver
    round-trips. ``stats["rounds"]``, when a dict is passed, records the
    driver round-trip count (the per-round job count is fixed, so this
    is the job-scaling evidence).

    ``max_batch_pairs`` makes the width ADAPTIVE: the round width starts
    at ``batch_pairs`` and doubles after every fully-accepted round
    (capped at ``max_batch_pairs``), halves after a partial one (floored
    at ``batch_pairs``) — so the driver round-trip count tracks how
    batchable the corpus actually is instead of a fixed guess, and a 50k
    vocabulary on a wide-alphabet corpus converges in O(log) rather than
    O(n/B) round-trips. The proof obligation is per-batch and width-
    independent (:func:`_accept_batch`), so the merge table is STILL
    bit-identical to sequential training at any width schedule;
    over-fetching past what the proof accepts costs only limit-k rows.
    """
    if batch_pairs < 1:
        raise ValueError("bpe_train_merges_from_words: batch_pairs >= 1")
    if max_batch_pairs is not None and max_batch_pairs < batch_pairs:
        raise ValueError(
            "bpe_train_merges_from_words: max_batch_pairs >= batch_pairs"
        )
    spark = words.sparkSession
    trunc = LineageTruncator(spark)
    syms = words.select(
        "freq",
        F.expr(
            "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
        ).alias("syms"),
    )
    # The round's top-k IS the materializing action (truncate_with):
    # the pair aggregation scans every partition, so it both answers
    # "which pairs win" and completes the lineage cut — one job per
    # round instead of a materialize job plus an aggregate job (the
    # same fold as _propagate_labels' changed-count action).
    width = batch_pairs

    def _top(d: DataFrame):
        return (
            d.filter(F.size("syms") >= 2)
            .select("freq", F.explode(F.expr(_ADJ_PAIRS)).alias("p"))
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(width + 1)
            .collect()
        )

    syms, top = trunc.truncate_with(syms, _top)
    rounds = 1
    merges: list[tuple[int, str, str, int]] = []
    vocab_concats: set[str] = set()
    while len(merges) < n_merges:
        batch = _accept_batch(
            top, n_merges - len(merges), width, vocab_concats
        )
        if not batch:
            break
        base = len(merges)
        merges.extend(
            (base + i, a, b, cnt) for i, (a, b, cnt) in enumerate(batch)
        )
        vocab_concats.update(a + b for a, b, _ in batch)
        if max_batch_pairs is not None:
            # full acceptance => the corpus is batchier than the width;
            # partial => the proof hit an overlap/dominance stop — back
            # off so over-fetch stays proportional to what's provable.
            if len(batch) >= width:
                width = min(width * 2, max_batch_pairs)
            else:
                width = max(width // 2, batch_pairs)
        if len(merges) < n_merges:
            syms, top = trunc.truncate_with(
                syms.select(
                    "freq",
                    _merge_fold_batch(
                        [(a, b) for a, b, _ in batch]
                    ).alias("syms"),
                ),
                _top,
            )
            rounds += 1
    if stats is not None:
        stats["rounds"] = rounds
    return local_df(spark, merges, MERGES_SCHEMA)


def _bpe_cte_parts(docs_cte: str) -> list[str]:
    """The shared unrolled-round CTE chain: ``w0`` (char-split distinct
    words) through ``w{BPE_TRAIN_MERGES}`` (fully merged), with ``m{i}``
    holding round i's winning pair. Every CTE is MATERIALIZED — each
    round references the previous word table multiple times and DuckDB
    inlines plain CTEs, re-expanding the chain exponentially."""
    parts = [
        f"""w0 AS MATERIALIZED (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq,
         list_transform(range(1, length(w) + 1),
                        i -> substr(w, CAST(i AS INT), 1)) AS syms
  FROM (
    SELECT UNNEST(list_filter(
             regexp_split_to_array(trim(t.text), '\\s+'),
             x -> x <> '')) AS w
    FROM ({docs_cte}) t
  )
  GROUP BY w
)"""
    ]
    for i in range(1, BPE_TRAIN_MERGES + 1):
        p = i - 1
        parts.append(
            f"""p{i} AS MATERIALIZED (
  SELECT z['a'] AS a, z['b'] AS b, SUM(freq) AS cnt FROM (
    SELECT freq,
           UNNEST(list_transform(range(1, len(syms)),
                  j -> {{'a': syms[CAST(j AS INT)],
                        'b': syms[CAST(j AS INT) + 1]}})) AS z
    FROM w{p} WHERE len(syms) >= 2
  ) GROUP BY 1, 2
), m{i} AS MATERIALIZED (
  SELECT a, b, cnt FROM p{i} ORDER BY cnt DESC, a ASC, b ASC LIMIT 1
), w{i} AS MATERIALIZED (
  -- LEFT JOIN ON TRUE, not a cross join: when the pair supply runs dry
  -- before the unroll finishes, m{{i}} is empty and a cross join would
  -- annihilate the word table (the Spark trainer stops early and KEEPS
  -- the words); the left join carries them through with a no-op fold.
  SELECT w, freq,
         CASE WHEN m.a IS NULL THEN syms
              ELSE list_reduce(list_transform(syms, s -> [s]),
                 (acc, x) -> CASE WHEN acc[-1] = m.a AND x[1] = m.b
                             THEN acc[:len(acc)-1] || [acc[-1] || x[1]]
                             ELSE acc || x END)
         END AS syms
  FROM w{p} LEFT JOIN m{i} m ON TRUE
)"""
        )
    return parts


def bpe_unrolled_sql() -> str:
    """DuckDB oracle twin of :func:`bpe_train_merges` over ``documents``.

    Returns a complete query producing ``(merge_rank, left, right,
    pair_count)``.
    """
    parts = _bpe_cte_parts("SELECT text FROM documents")
    final = "\nUNION ALL\n".join(
        f"SELECT CAST({i - 1} AS INT) AS merge_rank, a AS \"left\","
        f" b AS \"right\", CAST(cnt AS BIGINT) AS pair_count FROM m{i}"
        for i in range(1, BPE_TRAIN_MERGES + 1)
    )
    return "WITH " + ",\n".join(parts) + "\n" + final


def bpe_vocab_unrolled_sql() -> str:
    """DuckDB oracle twin of train-then-apply (:func:`bpe_train_merges`
    feeding :func:`bpe_subword_vocab`) over ``documents``: the fully
    merged word table ``w{n}`` exploded into weighted subword
    frequencies, top-``BPE_VOCAB_TOP_K``."""
    parts = _bpe_cte_parts("SELECT text FROM documents")
    final = f"""SELECT subword, CAST(SUM(freq) AS BIGINT) AS n_occurrences
FROM (SELECT freq, UNNEST(syms) AS subword FROM w{BPE_TRAIN_MERGES})
GROUP BY subword
ORDER BY n_occurrences DESC, subword ASC
LIMIT {BPE_VOCAB_TOP_K}"""
    return "WITH " + ",\n".join(parts) + "\n" + final


def bpe_encode_words(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    words: DataFrame | None = None,
) -> DataFrame:
    """Apply an ordered merge table: corpus subword tokenization.

    Returns ``(w, freq, syms)`` — every DISTINCT word with its corpus
    frequency and its subword symbol array after all merges. Encoding
    runs on the distinct-word table, not the corpus: at 100 TB the word
    vocabulary is millions of rows while the corpus is billions, so the
    k merge folds (codegen'd, chained in one projection — no
    per-merge job) touch the small table and callers join the result
    back to documents by word (broadcast-sized for natural-language
    vocabularies). This is the standard train-then-apply split:
    ``bpe_train_merges`` produces the merge list (a tiny driver-side
    artifact, exactly what a tokenizer file ships), this applies it.
    """
    if words is None:
        words = word_frequencies(docs)
    out = words.select(
        "w",
        "freq",
        F.expr(
            "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
        ).alias("syms"),
    )
    for a, b in merges:
        out = out.withColumn("syms", _merge_fold(a, b))
    return out


def bpe_vocab_ids(
    words: DataFrame, merges: list[tuple[str, str]]
) -> list[tuple[str, int]]:
    """Deterministic symbol → id table for a trained merge list: the
    sorted base alphabet first (ids 0..A-1), then merge outputs in rank
    order (ids A..A+n-1) — the standard BPE vocabulary layout a
    tokenizer file ships.

    The alphabet is the DISTINCT single characters of the word table —
    a bounded aggregate (≤ the character inventory, thousands at web
    scale) collected like any trained artifact. The sort is by code
    point (Python), which equals DuckDB's binary UTF-8 order for ALL
    planes — this id contract has no BMP caveat. Raises if a merge
    output string-collides with the alphabet or another merge (two
    symbols would share an id — the ambiguity must be resolved by the
    caller's corpus, not silently here).
    """
    alpha = sorted(
        r.sym
        for r in words.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
                )
            ).alias("sym")
        )
        .distinct()
        .collect()
    )
    concats = [a + b for a, b in merges]
    if len(set(concats)) != len(concats) or set(concats) & set(alpha):
        raise ValueError(
            "bpe_vocab_ids: merge output string-collides with the "
            "alphabet or another merge — id assignment is ambiguous"
        )
    return [(s, i) for i, s in enumerate(alpha)] + [
        (s, len(alpha) + i) for i, s in enumerate(concats)
    ]


def bpe_doc_token_ids(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    words: DataFrame | None = None,
) -> DataFrame:
    """The tokenizer last mile: every document as a training-ready
    token-id array — ``(doc_id, n_subwords, token_ids)``.

    Composition: encode the DISTINCT-word table once
    (:func:`bpe_encode_words` — k codegen'd folds over millions of
    words, not billions of tokens), map subwords to ids via a broadcast
    of the :func:`bpe_vocab_ids` table (bounded trained structure:
    alphabet + merge outputs — the whitelisted broadcast class), then
    join documents' positional tokens to the encoded words by word
    string. That word join is SIZE-GATED, never hint-broadcast: the
    distinct-word table grows with the corpus (census rule). Per-doc
    reassembly is one ordered collect_list + flatten — the only
    exchange carrying output-scale payload, as it must.

    Every input document appears exactly once (empty docs get an empty
    array). Contract: ``words``, when passed (to share the one corpus
    pass with training), must cover every token of ``docs`` — tokens
    absent from it would silently drop; the default builds ``words``
    from ``docs`` itself, which covers by construction.
    """
    spark = docs.sparkSession
    if words is None:
        words = word_frequencies(docs)
    vocab = bpe_vocab_ids(words, merges)
    vdf = local_df(spark, vocab, "sym string, id int")
    enc = bpe_encode_words(docs, merges, words=words)
    wids = (
        enc.select("w", F.posexplode("syms").alias("sp", "sym"))
        .join(F.broadcast(vdf), "sym")
        .groupBy("w")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("sp", "id"))),
                lambda s: s["id"],
            ).alias("ids")
        )
    )
    toks = docs.select(
        "doc_id",
        F.posexplode(ws_tokens(F.col("text"))).alias("pos", "w"),
    )
    per_doc = (
        toks.join(wids, "w")
        .groupBy("doc_id")
        .agg(
            F.flatten(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "ids"))),
                    lambda s: s["ids"],
                )
            ).alias("__tids")
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.size("__tids"), F.lit(0)).alias("n_subwords"),
            F.coalesce(
                F.col("__tids"), F.expr("CAST(array() AS ARRAY<INT>)")
            ).alias("token_ids"),
        )
    )


def _token_ids_ctes(docs_cte: str, prefix_ctes: str = "") -> str:
    """Shared oracle CTE chain ending at ``perdoc(doc_id, tids)`` —
    per-document token-id arrays (see :func:`bpe_token_ids_unrolled_sql`
    for the layout contract). ``prefix_ctes``, when non-empty, is spliced
    in front (comma-terminated by this function) so a caller can feed the
    chain a DERIVED corpus — e.g. the span-trimmed documents of
    ``plans/spans_queries.q_curate_pack_pipeline`` — as ``docs_cte``
    referencing those CTEs."""
    parts = _bpe_cte_parts(docs_cte)
    merge_ids = "\n    UNION ALL\n".join(
        f"    SELECT a || b AS sym,"
        f" (SELECT COUNT(*) FROM alpha) + {i - 1} AS id FROM m{i}"
        for i in range(1, BPE_TRAIN_MERGES + 1)
    )
    return (
        "WITH "
        + (prefix_ctes + ",\n" if prefix_ctes else "")
        + ",\n".join(parts)
        + f""",
alpha AS MATERIALIZED (
  SELECT sym, CAST(row_number() OVER (ORDER BY sym) - 1 AS BIGINT) AS id
  FROM (SELECT DISTINCT UNNEST(list_transform(range(1, length(w) + 1),
                               i -> substr(w, CAST(i AS INT), 1))) AS sym
        FROM w0)
), vocab AS MATERIALIZED (
  SELECT sym, id FROM alpha
  UNION ALL
{merge_ids}
), wids AS MATERIALIZED (
  SELECT w, list(CAST(id AS INT) ORDER BY sp) AS ids
  FROM (SELECT w, generate_subscripts(syms, 1) AS sp, unnest(syms) AS sym
        FROM w{BPE_TRAIN_MERGES}) e
  JOIN vocab USING (sym)
  GROUP BY w
), tokpos AS MATERIALIZED (
  SELECT doc_id, generate_subscripts(t, 1) AS pos, unnest(t) AS w
  FROM (SELECT doc_id, list_filter(
          regexp_split_to_array(trim(t.text), '\\s+'), x -> x <> '') AS t
        FROM ({docs_cte}) t)
), perdoc AS MATERIALIZED (
  SELECT doc_id, flatten(list(ids ORDER BY pos)) AS tids
  FROM tokpos JOIN wids USING (w)
  GROUP BY doc_id
)"""
    )


def bpe_token_ids_unrolled_sql() -> str:
    """DuckDB oracle twin of train-then-:func:`bpe_doc_token_ids` over
    ``documents``: the
    unrolled merge chain (``w{n}`` carries the word string), the
    alphabet+merges id table (binary UTF-8 sort == the Python code
    point sort — portable on every plane), per-word id arrays, and the
    per-document ordered flatten. ``token_ids`` is rendered to a
    space-delimited string (:func:`render_packed_for_harness` twin)."""
    return (
        _token_ids_ctes("SELECT doc_id, text FROM documents")
        + """
SELECT d.doc_id,
       CAST(COALESCE(len(p.tids), 0) AS INT) AS n_subwords,
       array_to_string(COALESCE(p.tids, CAST([] AS INT[])), ' ')
           AS token_ids
FROM (SELECT doc_id FROM (SELECT doc_id, text FROM documents) t) d
LEFT JOIN perdoc p USING (doc_id)"""
    )


def bpe_packed_sequences_unrolled_sql(
    docs_cte: str, prefix_ctes: str = ""
) -> str:
    """DuckDB oracle twin of :func:`pack token ids <bpe_doc_token_ids>`
    → fixed-length LM sequences: the single global prefix-sum window
    (the naive form whose two-phase decomposition the Spark side runs),
    then chunking by global position. ``token_ids`` is rendered to a
    space-delimited string, matching :func:`render_packed_for_harness`
    on the Spark side (the harness canonicalizer needs hashable
    cells — the ``array_funcs`` doctrine)."""
    return (
        _token_ids_ctes(docs_cte, prefix_ctes)
        + f""",
offs AS MATERIALIZED (
  SELECT doc_id, tids,
         COALESCE(SUM(len(tids)) OVER (
           ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS start_off
  FROM perdoc
), flat AS MATERIALIZED (
  SELECT start_off + generate_subscripts(tids, 1) - 1 AS g,
         unnest(tids) AS id
  FROM offs
)
SELECT CAST(g // {PACK_SEQ_LEN} AS BIGINT) AS seq_id,
       CAST(COUNT(*) AS INT) AS n_filled,
       array_to_string(list(CAST(id AS INT) ORDER BY g), ' ') AS token_ids
FROM flat GROUP BY 1"""
    )


def pack_lm_sequences(
    ids_df: DataFrame, seq_len: int, range_size: int = PACK_IDS_RANGE
) -> DataFrame:
    """Pack per-document token-id arrays into fixed-length LM training
    sequences — ``(seq_id, n_filled, token_ids)``, ids crossing document
    boundaries in doc_id order, last sequence possibly short. This is
    the batch shape a pretraining loader consumes after
    :func:`bpe_doc_token_ids`.

    The global token offset per document comes from the scalable
    two-phase prefix sum (``q_pack_sequences`` doctrine): per-range
    partial sums (one map-side-combined aggregate, ``doc_id DIV
    range_size`` ranges), a window over that small table, then
    per-document cumsum WITHIN each range — never a single global
    window funneling the corpus through one partition. The re-chunk
    groupBy(seq_id) is the one output-scale exchange; it carries
    (global position, id) pairs, which IS the output.
    """
    from pyspark.sql import Window

    toks = ids_df.select(
        "doc_id",
        "n_subwords",
        "token_ids",
        F.expr(f"CAST(doc_id DIV {range_size} AS BIGINT)").alias("__rng"),
    )
    rng_w = Window.orderBy("__rng").rowsBetween(
        Window.unboundedPreceding, -1
    )
    rng_off = (
        toks.groupBy("__rng")
        .agg(F.sum("n_subwords").alias("__tot"))
        .withColumn(
            "__off",
            F.coalesce(F.sum("__tot").over(rng_w), F.lit(0).cast("bigint")),
        )
        .select("__rng", "__off")
    )
    in_w = (
        Window.partitionBy("__rng")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flat = (
        toks.join(rng_off, "__rng")
        .withColumn(
            "__start",
            F.col("__off")
            + F.coalesce(
                F.sum("n_subwords").over(in_w), F.lit(0).cast("bigint")
            ),
        )
        .select("__start", F.posexplode("token_ids").alias("p", "id"))
        .select((F.col("__start") + F.col("p")).alias("g"), "id")
    )
    return (
        flat.select(
            F.expr(f"CAST(g DIV {seq_len} AS BIGINT)").alias("seq_id"),
            "g",
            "id",
        )
        .groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_filled"),
            F.transform(
                F.sort_array(F.collect_list(F.struct("g", "id"))),
                lambda s: s["id"],
            ).alias("token_ids"),
        )
    )


def render_packed_for_harness(df: DataFrame) -> DataFrame:
    """Harness-shape render of :func:`pack_lm_sequences` output: the
    ``token_ids`` array becomes a space-delimited string. The
    verification harness canonicalizes result frames via pandas
    sort/factorize, which requires hashable cells (the ``array_funcs``
    doctrine, ``plans/extended_queries.py``) — registered queries
    return this form; a training data loader consumes the array form
    straight from :func:`pack_lm_sequences`. Same information,
    hashable dtype.
    """
    return df.withColumn(
        "token_ids",
        F.array_join(F.col("token_ids").cast("array<string>"), " "),
    )


def bpe_subword_vocab(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    words: DataFrame | None = None,
) -> DataFrame:
    """Corpus subword frequency table under a merge list: the trained
    tokenizer's observed vocabulary — ``(subword, n_occurrences)``,
    top-``BPE_VOCAB_TOP_K`` by (count DESC, subword ASC).

    Occurrences weight by word frequency (every instance of the word
    contributes each of its subwords once). Shuffle payload is
    (subword, partial count) — alphabet-bounded, corpus-independent.
    ``words`` shares a prebuilt :func:`word_frequencies` table (one
    corpus pass for train AND apply).
    """
    enc = bpe_encode_words(docs, merges, words=words)
    return (
        enc.select("freq", F.explode("syms").alias("subword"))
        .groupBy("subword")
        .agg(F.sum("freq").cast("bigint").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("subword").asc())
        .limit(BPE_VOCAB_TOP_K)
    )
