"""Supervised linear-classifier queries: the batch-perceptron quality
gate (``operators/perceptron``) trained and scored on the documents
corpus, hash-gated end to end.

The oracle unrolls the training rounds as MATERIALIZED CTEs (the
k-means/BPE iterative-oracle pattern): round 1's update is the label
sum per bucket (all-zero weights misclassify everything), each later
round recomputes margins against the previous weight table, updates on
the mistake set, and full-outer-merges the delta. All integer
arithmetic, so the final (margin, pred) table hashes exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.functions.hashing import H60_SQL
from etl_pipeline_excel_sql__spark.functions.text import (
    WS_TOKENS_SQL,
    ws_tokens,
)
from etl_pipeline_excel_sql__spark.operators.perceptron import (
    PERCEPTRON_ROUNDS,
    perceptron_scores,
)
from etl_pipeline_excel_sql__spark.sources.registry import load_table

QUERIES: dict = {}
ORACLE: dict = {}

PERCEPTRON_BUCKETS = 512

#: Deterministic supervision: the doc mentions the target token. A toy
#: stand-in for human quality labels — the TRAINING MACHINERY is the
#: artifact under test, and any ±1 Column works in its place.
PERCEPTRON_TARGET_TOKEN = "slow"


def q_perceptron_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train 3 batch-perceptron rounds over 512 hashed binary token
    buckets, then score every document: ``(doc_id, y, margin, pred)``.
    One broadcast weight join + two partial-combining aggregates per
    round; per-round driver state is the bounded weight vector."""
    docs = load_table(spark, "documents", sf_dir)
    label = F.when(
        F.array_contains(ws_tokens(F.col("text")), PERCEPTRON_TARGET_TOKEN),
        F.lit(1),
    ).otherwise(F.lit(-1))
    return perceptron_scores(docs, label, PERCEPTRON_BUCKETS)


def perceptron_unrolled_sql() -> str:
    """DuckDB oracle twin: the identical rounds unrolled as CTEs."""
    h = H60_SQL.replace("{x}", "term")
    parts = [
        f"""feats AS MATERIALIZED (
  SELECT DISTINCT doc_id, y, CAST({h} % {PERCEPTRON_BUCKETS} AS INT) AS bucket
  FROM (
    SELECT doc_id,
           CASE WHEN list_contains({WS_TOKENS_SQL}, '{PERCEPTRON_TARGET_TOKEN}')
                THEN 1 ELSE -1 END AS y,
           UNNEST({WS_TOKENS_SQL}) AS term
    FROM documents
  )
)""",
        # round 1: zero weights -> every doc misclassified -> the update
        # is the per-bucket label sum
        """w1 AS MATERIALIZED (
  SELECT bucket, SUM(y) AS w FROM feats GROUP BY bucket
)""",
    ]
    for r in range(2, PERCEPTRON_ROUNDS + 1):
        p = r - 1
        parts.append(
            f"""m{r} AS MATERIALIZED (
  SELECT f.doc_id, f.y, SUM(COALESCE(w.w, 0)) AS margin
  FROM feats f LEFT JOIN w{p} w ON w.bucket = f.bucket
  GROUP BY f.doc_id, f.y
)"""
        )
        parts.append(
            f"""d{r} AS MATERIALIZED (
  SELECT f.bucket, SUM(f.y) AS dw
  FROM feats f
  JOIN (SELECT doc_id FROM m{r} WHERE y * margin <= 0) mis
    ON mis.doc_id = f.doc_id
  GROUP BY f.bucket
)"""
        )
        parts.append(
            f"""w{r} AS MATERIALIZED (
  SELECT COALESCE(w.bucket, d.bucket) AS bucket,
         COALESCE(w.w, 0) + COALESCE(d.dw, 0) AS w
  FROM w{p} w FULL OUTER JOIN d{r} d ON w.bucket = d.bucket
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT f.doc_id, f.y,
       CAST(SUM(COALESCE(w.w, 0)) AS BIGINT) AS margin,
       CAST(CASE WHEN SUM(COALESCE(w.w, 0)) > 0 THEN 1 ELSE -1 END AS INT)
         AS pred
FROM feats f LEFT JOIN w{PERCEPTRON_ROUNDS} w ON w.bucket = f.bucket
GROUP BY f.doc_id, f.y"""
    )


ORACLE["perceptron_quality"] = perceptron_unrolled_sql()
QUERIES["perceptron_quality"] = q_perceptron_quality


def q_perceptron_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained classifier's confusion matrix: ``(y, pred, n,
    share_ppm)`` — counts per (label, prediction) cell plus each cell's
    integer parts-per-million share of the corpus, closing the
    classifier tier's evaluation loop as a gated row. Pure integers
    (doctrine 'exact' class); one extra aggregate over the scored
    table."""
    scored = q_perceptron_quality(spark, sf_dir)
    cells = scored.groupBy("y", "pred").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    # total via a window over the ≤4-row cell table — ONE training run,
    # not a second count() action over the scored corpus
    return cells.select(
        "y",
        "pred",
        "n",
        F.expr("n * 1000000 DIV sum(n) OVER ()").alias("share_ppm"),
    )


#: fixed margin-band width for the calibration report — scale-free
#: (no global sort/NTILE) and deterministic.
CALIBRATION_BAND = 256

#: FLOOR division as PURE INTEGERS (the doctrine census rejects floor of
#: a computed double, and Spark's DIV truncates toward zero — wrong for
#: negative margins): subtract the positive mod, then the division is
#: exact and truncation == floor. `%` takes the dividend's sign in BOTH
#: engines, so ((m % B) + B) % B agrees cross-engine.
_BAND_SQL = (
    "CAST((margin - ((margin % {b}) + {b}) % {b}) DIV {b} AS BIGINT)"
)


def q_perceptron_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration/reliability report for the trained classifier
    (round 10): margin bands × empirical positive rate — does a bigger
    margin actually mean more-likely-positive? ``(margin_band, n,
    n_pos, pos_ppm)``, one bounded aggregate over the scored table.
    Fixed-width integer bands instead of NTILE deciles (no global sort
    at any scale), banded by float-free positive-mod floor division."""
    scored = q_perceptron_quality(spark, sf_dir)
    return (
        scored.select(
            F.expr(_BAND_SQL.format(b=CALIBRATION_BAND)).alias(
                "margin_band"
            ),
            "y",
        )
        .groupBy("margin_band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.when(F.col("y") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_pos"),
        )
        .select(
            "margin_band",
            "n",
            "n_pos",
            F.expr(f"CAST(n_pos * 1000000 DIV n AS BIGINT)").alias(
                "pos_ppm"
            ),
        )
    )


ORACLE["perceptron_calibration"] = f"""
WITH scored AS MATERIALIZED (
{ORACLE["perceptron_quality"]}
)
SELECT CAST((margin - ((margin % {CALIBRATION_BAND}) + {CALIBRATION_BAND})
              % {CALIBRATION_BAND}) // {CALIBRATION_BAND} AS BIGINT)
         AS margin_band,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) * 1000000
              // COUNT(*) AS BIGINT) AS pos_ppm
FROM scored GROUP BY 1
"""
QUERIES["perceptron_calibration"] = q_perceptron_calibration


ORACLE["perceptron_confusion"] = f"""
WITH scored AS MATERIALIZED (
{ORACLE["perceptron_quality"]}
),
cells AS (
  SELECT y, pred, CAST(COUNT(*) AS BIGINT) AS n
  FROM scored GROUP BY y, pred
)
SELECT y, pred, n,
       CAST(n * 1000000 // SUM(n) OVER () AS BIGINT) AS share_ppm
FROM cells
"""
QUERIES["perceptron_confusion"] = q_perceptron_confusion
