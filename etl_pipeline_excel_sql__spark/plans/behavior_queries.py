"""Blocked fuzzy record linkage over the part catalog
(``operators/linkage``) — best-match entity resolution, the dirty-catalog
merge primitive.

Integer-exact end to end (packed arg-min, Levenshtein distances — both
engines implement the same exact integer edit distance), so the oracle
hashes bit-for-bit on any build. (The behavior-analytics siblings —
ordered funnel and cohort retention — live in ``analytics3_queries`` as
``funnel_conversion``/``cohort_retention``.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.operators.linkage import (
    _PACK_BASE,
    ER_MAX_DIST,
    blocked_best_match,
)
from etl_pipeline_excel_sql__spark.sources.registry import load_table

QUERIES: dict = {}
ORACLE: dict = {}

#: every 17th part plays the reconciliation batch (bounded, broadcasts).
LINKAGE_PROBE_MOD = 17


def noun_block(col: F.Column) -> F.Column:
    """Second-token blocking key, guarded for sub-2-word names: bare
    ``element_at(split(name,' '), 2)`` returns NULL (or THROWS under
    Spark 4 ANSI defaults) on single-word names, while the DuckDB
    oracle's ``split_part`` returns ``''`` and groups them into one
    comparable block — a twin desync latent on TPC-H (p_name is always
    5 words) but live on any other corpus. NULL names are coalesced to
    ``''`` BEFORE the split in both twins (Spark's when/otherwise would
    yield ``''`` while ``split_part(NULL, ' ', 2)`` yields NULL — a
    second latent desync on nullable name columns), so both engines
    yield ``''`` for blockless AND NULL names."""
    toks = F.split(F.coalesce(col, F.lit("")), " ")
    return F.when(F.size(toks) >= 2, F.element_at(toks, 2)).otherwise(
        F.lit("")
    )


def _parts_with_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The part catalog with its blocking key: the name's noun (second
    token) — the token-signature blocking classic. Block cardinality is
    the operator's contract (the LSH-band doctrine): ~8 nouns here, each
    block a bounded slice of the catalog."""
    return load_table(spark, "part", sf_dir).select(
        "p_partkey",
        "p_name",
        noun_block(F.col("p_name")).alias("block"),
    )


def q_linkage_best_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution: for every probe part, the closest OTHER part
    name within its blocking group by exact Levenshtein distance,
    deterministic ties — the dirty-catalog merge primitive. Probe batch
    broadcasts; best match is a packed-integer arg-min aggregate (no
    window sort, map-side combine)."""
    cat = _parts_with_block(spark, sf_dir)
    return blocked_best_match(
        cat,
        cat.filter(F.col("p_partkey") % LINKAGE_PROBE_MOD == 0),
        key_col="p_partkey",
        name_col="p_name",
        block_col="block",
    )


ORACLE["linkage_best_match"] = f"""
WITH cat AS (
  SELECT p_partkey AS key, p_name AS name,
         split_part(coalesce(p_name, ''), ' ', 2) AS block
  FROM part
), probes AS (
  SELECT * FROM cat WHERE key % {LINKAGE_PROBE_MOD} = 0
), pairs AS (
  SELECT p.key, p.name, p.block,
         levenshtein(p.name, c.name) * {_PACK_BASE} + c.key AS packed
  FROM probes p JOIN cat c USING (block)
  WHERE c.key <> p.key
)
SELECT key AS p_partkey, name AS p_name, block,
       CAST(MIN(packed) % {_PACK_BASE} AS BIGINT) AS match_key,
       CAST(MIN(packed) // {_PACK_BASE} AS BIGINT) AS dist
FROM pairs GROUP BY key, name, block
"""
QUERIES["linkage_best_match"] = q_linkage_best_match


# --- composed entity-resolution capstone (round 11) -------------------------


def q_entity_resolution_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed entity-resolution capstone — the dirty-catalog shape a
    real user runs end-to-end, wiring the round-10 linkage family into
    the cluster-resolution machinery (the ``curate_pack_pipeline``
    composition doctrine applied to record linkage):

    1. **Exact collapse**: identical names become one REPRESENTATIVE
       (``rep_key`` = min record key, record count carried) — one
       hash-groupBy shuffle, and the reason step 2 is bounded: an
       n-record duplicate family is one node, never an O(n²)
       distance-0 clique.
    2. **Blocked fuzzy pairs** (``operators/linkage.blocked_match_pairs``):
       within-block representative pairs at Levenshtein <=
       ``ER_MAX_DIST``. Comparisons are Σ|block-vocabulary|² — vocab
       grows far slower than records, the blocked-linkage contract.
    3. **Cluster resolution** (``operators/clusters.connected_components``):
       transitive closure of the match pairs — large-star/small-star,
       the same iterative engine the dedup family gates.
    4. **Entity rollup**: every representative maps to
       ``entity_id = coalesce(component, own key)`` (singletons stay
       their own entity); per entity: variant-name count, total record
       count, and the canonical name (the min-key representative's).

    At 100 TB: step 1 is the only record-scale shuffle; steps 2-4 run
    on the collapsed vocabulary. Output is integers + strings — exact
    on any engine.
    """
    from etl_pipeline_excel_sql__spark.operators.clusters import (
        connected_components,
    )
    from etl_pipeline_excel_sql__spark.operators.linkage import (
        blocked_match_pairs,
    )

    cat = load_table(spark, "part", sf_dir)
    reps = (
        cat.groupBy("p_name")
        .agg(
            F.min("p_partkey").cast("bigint").alias("rep_key"),
            F.count(F.lit(1)).cast("bigint").alias("n_records"),
        )
        .withColumn("block", noun_block(F.col("p_name")))
    )
    edges = blocked_match_pairs(
        reps,
        key_col="rep_key",
        name_col="p_name",
        block_col="block",
    ).select("id_a", "id_b")
    comp = connected_components(edges).select(
        F.col("member_id").alias("rep_key"), "cluster_id"
    )
    ent = reps.join(comp, "rep_key", "left").select(
        "p_name",
        "n_records",
        F.coalesce(F.col("cluster_id"), F.col("rep_key"))
        .cast("bigint")
        .alias("entity_id"),
    )
    summary = ent.groupBy("entity_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_names"),
        F.sum("n_records").cast("bigint").alias("n_records"),
    )
    canon = reps.select(
        F.col("rep_key").alias("entity_id"),
        F.col("p_name").alias("canonical_name"),
    )
    return summary.join(canon, "entity_id").select(
        "entity_id", "canonical_name", "n_names", "n_records"
    )


ORACLE["entity_resolution_pipeline"] = f"""
WITH RECURSIVE reps0 AS MATERIALIZED (
  SELECT p_name AS n, CAST(MIN(p_partkey) AS BIGINT) AS k,
         CAST(COUNT(*) AS BIGINT) AS n_records
  FROM part GROUP BY p_name
), reps AS MATERIALIZED (
  SELECT n, split_part(coalesce(n, ''), ' ', 2) AS b, k, n_records
  FROM reps0
), pairs AS MATERIALIZED (
  SELECT a.k AS ka, b.k AS kb
  FROM reps a JOIN reps b USING (b)
  WHERE a.k < b.k AND levenshtein(a.n, b.n) <= {ER_MAX_DIST}
), sym AS MATERIALIZED (
  SELECT ka AS u, kb AS v FROM pairs UNION SELECT kb, ka FROM pairs
), reach AS (
  SELECT u AS node, u AS lbl FROM sym
  UNION
  SELECT s.v AS node, reach.lbl FROM reach JOIN sym s ON s.u = reach.node
), comp AS (
  SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node
), ent AS (
  SELECT r.n, r.n_records, COALESCE(c.cluster_id, r.k) AS entity_id
  FROM reps r LEFT JOIN comp c ON c.node = r.k
), summary AS (
  SELECT entity_id, CAST(COUNT(*) AS BIGINT) AS n_names,
         CAST(SUM(n_records) AS BIGINT) AS n_records
  FROM ent GROUP BY entity_id
)
SELECT s.entity_id, r.n AS canonical_name, s.n_names, s.n_records
FROM summary s JOIN reps r ON r.k = s.entity_id
"""
QUERIES["entity_resolution_pipeline"] = q_entity_resolution_pipeline
