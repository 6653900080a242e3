"""Text-analysis expressions for the training-data pipeline operators.

All pure Column expressions over the ``documents`` table — tokenization,
shingling, language-ID heuristics, quality scoring, token counting. Designed
oracle-portable: every function has a mechanical DuckDB translation (see
plans/oracle.py) so correctness is externally checkable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Tiny per-language stopword lists for the n-gram/stopword language-ID
#: heuristic. Deliberately small and hard-coded: the heuristic must be a
#: deterministic pure function of the text.
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with"),
    "de": ("der", "die", "das", "und", "ist", "von", "mit", "ein", "zu", "auf"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es", "por", "con"),
    "fr": ("le", "la", "de", "et", "un", "est", "en", "que", "pour", "dans"),
}

#: BPE-ish token pattern: runs of word chars, or single non-space symbols —
#: a cheap proxy for subword tokenizers' pre-tokenization split.
BPE_SPLIT_RE = r"\w+|[^\w\s]"


def ws_tokens(col: Column | str) -> Column:
    """Whitespace tokenization of trimmed text (empty text → empty array).

    ``split(trim(x), '\\s+')`` can only ever emit the empty string as the
    single element of ``[""]`` when the trimmed text is empty (interior
    and edge separators are consumed by ``\\s+`` after the trim), so
    ``array_remove(.., '')`` is exactly the old higher-order
    ``filter(.., t -> t != '')`` — but it is a plain codegen-friendly
    expression instead of an interpreted per-element lambda (round-13
    A/B at sf0.1: explode+count over the corpus 0.486 s → 0.445 s,
    arrays bit-identical; this function runs inside nearly every text
    query's scan projection)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_remove(F.split(F.trim(c), r"\s+"), "")


#: DuckDB twin of :func:`ws_tokens` over the ``text`` column, for the
#: oracles.
WS_TOKENS_SQL = (
    "list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '')"
)


def ws_token_count(col: Column | str) -> Column:
    return F.size(ws_tokens(col))


def has_ws_tokens() -> Column:
    """``text`` holds at least one whitespace token: the empty-document
    filter of the shingling operators. Their DuckDB oracle twins apply
    the same filter, so every Spark side must spell it this one way."""
    return ws_token_count(F.col("text")) > 0


def bpe_token_count() -> Column:
    """Count of ``text``'s BPE-ish pre-tokens (word runs + individual
    symbols)."""
    return F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_SPLIT_RE), 0))


def shingles(tokens: Column, n: int = 3) -> Column:
    """Distinct n-gram shingles (space-joined token windows).

    ``transform(sequence(...), i -> concat_ws(' ', slice(tokens, i, n)))``
    over a document's token array; texts shorter than ``n`` tokens yield a
    single shingle of the whole text so no document silently drops out of
    dedup.
    """
    count = F.greatest(F.size(tokens) - F.lit(n - 1), F.lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), count),
            lambda i: F.concat_ws(" ", F.slice(tokens, i, n)),
        )
    )


def stopword_hits(tokens: Column, lang: str) -> Column:
    """Number of tokens that are stopwords of ``lang``."""
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(tokens, lambda t: F.array_contains(sw, t)))


def lang_id(tokens: Column) -> Column:
    """Heuristic language ID: argmax of per-language stopword hit counts.

    Ties (including the all-zero case) resolve to the alphabetically first
    language among the tied — deterministic, so oracle-checkable. Unknown
    (no hits at all) → ``'und'``.
    """
    hit_structs = [
        F.struct(
            stopword_hits(tokens, lang).alias("hits"), F.lit(lang).alias("lang")
        )
        for lang in sorted(STOPWORDS)
    ]
    # array_max on struct compares fields in order: (hits, lang) — max hits,
    # then lexicographically greatest lang. To make ties pick the *first*
    # language alphabetically, compare (hits, reversed-rank) instead.
    ranked = [
        F.struct(
            stopword_hits(tokens, lang).alias("hits"),
            F.lit(len(STOPWORDS) - i).alias("rank"),
            F.lit(lang).alias("lang"),
        )
        for i, lang in enumerate(sorted(STOPWORDS))
    ]
    best = F.array_max(F.array(*ranked))
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def quality_features(text: Column | str) -> dict[str, Column]:
    """Document quality heuristics (length / punctuation / stopword ratios).

    Returns named Columns; callers select the ones they need. Ratios divide
    by ``greatest(x, 1)`` so empty documents score 0 instead of erroring
    under ANSI division.
    """
    c = F.col(text) if isinstance(text, str) else text
    toks = ws_tokens(c)
    n_chars = F.length(c)
    n_tokens = F.size(toks)
    n_punct = F.size(F.regexp_extract_all(c, F.lit(r"[^\w\s]"), 0))
    en_sw = stopword_hits(toks, "en")
    safe_chars = F.greatest(n_chars, F.lit(1)).cast("double")
    safe_toks = F.greatest(n_tokens, F.lit(1)).cast("double")
    return {
        "n_chars": n_chars.cast("bigint"),
        "n_tokens": n_tokens.cast("bigint"),
        "avg_token_len": F.aggregate(
            toks, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t)
        ).cast("double")
        / safe_toks,
        "punct_ratio": n_punct.cast("double") / safe_chars,
        "stopword_ratio": en_sw.cast("double") / safe_toks,
    }
