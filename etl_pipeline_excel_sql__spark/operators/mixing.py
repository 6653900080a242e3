"""Domain-mixture resampling: hit a target domain mix under a budget.

Training corpora are rarely consumed as-found: the recipe says "X% web,
Y% code, Z% reference" within a token budget, while the raw corpus has
whatever mix crawling produced. This operator computes, per domain, the
deterministic Bernoulli keep-rate that lands the output closest to the
requested mixture without ever upsampling (rates are capped at 1.0 — a
domain smaller than its target contributes everything it has; the
operator reports the achieved sizes so the caller can re-normalize or
top up elsewhere).

Distribution shape (100 TB): one map-side-combined aggregate over the
corpus to size each domain (grouping key cardinality = number of
domains, i.e. tiny), a broadcast join of the resulting rate table back
onto the corpus, then a pure narrow filter on the engine-standard 60-bit
md5 hash — reproducible on any engine/partitioning/retry, verifiable by
the DuckDB oracle from the same definition, and restartable (the same
doc set survives a re-run). No shuffle of corpus rows at any point.

Rates are integer BASIS POINTS (of the 10k hash space), floored — float
rates would make "keep" depend on float rounding that differs across
engines; basis points make the oracle exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.functions.hashing import md5_hash60

#: The registry's mixture recipe: weights normalize to exact binary
#: fractions (0.5/0.25/0.25) so the oracle's float arithmetic is
#: bit-identical; es/zh are absent → weight 0 → dropped from the output.
MIX_WEIGHTS = {"en": 2.0, "de": 1.0, "fr": 1.0}


def domain_mixture_rates(
    df: DataFrame,
    domain_col: str,
    size_col: str,
    budget: int,
    weights: dict[str, float] = MIX_WEIGHTS,
) -> DataFrame:
    """Per-domain keep-rates for a target mixture within ``budget``.

    Returns one row per observed domain:
    ``(domain, domain_size, target_size, rate_bp)`` where ``rate_bp`` is
    the floored basis-point Bernoulli rate ``min(10000, 10000 * target /
    domain_size)``. ``weights`` maps domain → relative weight (it is
    normalized over the domains it mentions; domains absent from
    ``weights`` get weight 0 and drop out).
    """
    if budget <= 0:
        raise ValueError("domain_mixture_rates: budget must be positive")
    totals = df.groupBy(F.col(domain_col).alias("domain")).agg(
        F.sum(F.col(size_col)).alias("domain_size")
    )
    norm = sum(weights.values())
    if norm <= 0:
        raise ValueError("domain_mixture_rates: weights sum must be > 0")
    wmap = F.create_map(
        *[F.lit(x) for kv in weights.items() for x in (kv[0], kv[1] / norm)]
    )
    weighted = totals.select(
        "domain",
        "domain_size",
        (F.lit(budget) * wmap[F.col("domain")]).alias("target_size"),
    ).filter(F.col("target_size").isNotNull())
    return weighted.select(
        "domain",
        "domain_size",
        F.floor(F.col("target_size")).cast("bigint").alias("target_size"),
        F.least(
            F.lit(10000),
            F.floor(
                F.lit(10000) * F.col("target_size") / F.col("domain_size")
            ),
        )
        .cast("int")
        .alias("rate_bp"),
    )


def domain_mixture_sample(
    df: DataFrame,
    domain_col: str,
    id_col: str,
    size_col: str,
    budget: int,
    weights: dict[str, float] = MIX_WEIGHTS,
) -> DataFrame:
    """Deterministic mixture resample of ``df``.

    Keeps row ``r`` iff ``md5_60(domain ':' id) % 10000 < rate_bp`` for
    its domain's computed rate — the hash keys on (domain, id) so a doc
    re-ingested under a different domain redraws independently, and the
    SAME doc set survives any re-run/scale-up. Output is the input rows
    plus ``rate_bp`` (the audit column: a downstream consumer can verify
    the mixture it was promised).
    """
    clash = {"rate_bp", "__mix_draw", "__mix_domain"} & set(df.columns)
    if clash:
        raise ValueError(
            "domain_mixture_sample: input already has column(s) "
            f"{sorted(clash)} — 'rate_bp' is the emitted audit column and "
            "the __mix_* names are internal; rename them on the input first"
        )
    rates = domain_mixture_rates(df, domain_col, size_col, budget, weights)
    keyed = df.withColumn(
        "__mix_draw",
        F.pmod(
            md5_hash60(
                F.concat(
                    F.col(domain_col).cast("string"), F.lit(":"), F.col(id_col).cast("string")
                )
            ),
            F.lit(10000),
        ),
    )
    # Reserved-name key so an input domain column literally named
    # "domain" doesn't collide with the rate table's.
    rate_key = rates.select(
        F.col("domain").alias("__mix_domain"), "rate_bp"
    )
    return (
        keyed.join(
            F.broadcast(rate_key),
            keyed[domain_col] == F.col("__mix_domain"),
        )
        .filter(F.col("__mix_draw") < F.col("rate_bp"))
        .drop("__mix_domain", "__mix_draw")
    )
