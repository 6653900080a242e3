"""Table sources.

The reference's only scan is a full-table JDBC read of SQL Server
(``SELECT * FROM Working_Table_Uploadtest_V2`` — reference Download.py:78-86,
Upload.py:116-123) with the ministry filter applied *client-side afterwards*.
Here scans are declarative: the caller composes ``.filter``/``.select`` on the
returned DataFrame and Catalyst pushes predicates and column pruning into the
source (JDBC query rewrite, or parquet row-group/page pruning) — strictly
better than the reference's fetch-everything-then-filter at any scale.

For the test corpus the "database table" is parquet at ``$sf_dir``; the JDBC
path is the same API surface with options swapped.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Dimension tables small enough to always broadcast in joins.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def corpus_fingerprint(sf_dir: str) -> tuple:
    """Cheap content-identity key for the corpus at ``sf_dir`` — the
    (path, mtime_ns, size) triples of ``documents.parquet``'s file(s).

    :func:`built_dir` keys every derived per-(process, sf) artifact on
    this, not on ``sf_dir`` alone (ADVICE r12): if the corpus at the
    same path is REGENERATED in-process (e.g. ``gen_scaled_testdata``
    then re-bench in one session), the fingerprint changes and the stale
    artifact is rebuilt instead of silently desyncing from the oracle,
    which reads the live files.
    """
    import pathlib

    p = pathlib.Path(sf_dir) / "documents.parquet"
    if p.is_dir():
        return tuple(
            (str(q.relative_to(p)), q.stat().st_mtime_ns, q.stat().st_size)
            for q in sorted(p.rglob("*"))
            if q.is_file()
        )
    st = p.stat()
    return (st.st_mtime_ns, st.st_size)


def scratch_dir(prefix: str) -> str:
    """``tempfile.mkdtemp`` with atexit removal — every :func:`built_dir`
    goes through here so nothing lingers past the process (ADVICE r12:
    the caches previously leaked their dirs for the machine's
    lifetime)."""
    import atexit
    import shutil
    import tempfile

    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


#: Build-once dirs: (prefix, sf_dir, corpus fingerprint) -> path.
_BUILT_DIRS: dict[tuple, str] = {}


def built_dir(prefix: str, sf_dir: str, build: Callable[[str], None]) -> str:
    """The dir of a derived artifact built once per (process, corpus
    version) and loaded by every later call: the persisted Jaccard
    truth, cluster and curation state, the resharded ring table and the
    bm25 serving index.

    The first call for a key makes a :func:`scratch_dir` and runs
    ``build(path)`` into it. The path is registered only after ``build``
    returns, so a failed build is retried on the next call instead of
    being read half-written."""
    key = (prefix, sf_dir, corpus_fingerprint(sf_dir))
    path = _BUILT_DIRS.get(key)
    if path is None:
        path = scratch_dir(prefix)
        build(path)
        _BUILT_DIRS[key] = path
    return path


def ensure_session_confs(spark: SparkSession) -> None:
    """Pin the SQL confs our semantics depend on, whoever built the session.

    Queries may be invoked with an externally-created SparkSession (the
    verification driver does exactly that); these are runtime SQL confs, so
    setting them here is safe and idempotent:

    * ``nanosAsLong`` — events.ts is TIMESTAMP(NANOS) parquet, which the
      vectorized reader otherwise rejects outright;
    * UTC session timezone — timestamp→string rendering must not depend on
      the host timezone (the oracle renders naive/UTC).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to a plain TIMESTAMP whatever the physical
    parquet type happens to be in this environment.

    The corpus has shipped ``ts`` in (at least) three forms across
    environments: TIMESTAMP(NANOS) surfaced as raw-nanos ``bigint`` under
    ``nanosAsLong``, TIMESTAMP(MICROS) with ``isAdjustedToUTC=false``
    surfaced as ``timestamp_ntz``, and plain ``timestamp``. Branching on the
    *observed* dtype here — once, for every consumer (batch ``load_table``
    and the streaming source) — makes every downstream query dtype-agnostic.
    """
    dtype = dict(df.dtypes).get("ts")
    if dtype == "bigint":
        # Raw nanos: truncate to micros with integer division (`div` — float
        # division would lose precision above 2**53).
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dtype == "timestamp_ntz":
        # Session timezone is pinned UTC (ensure_session_confs), so the NTZ
        # wall-clock values and the UTC instants are identical.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    """Load one corpus table as a DataFrame (lazy parquet scan)."""
    ensure_session_confs(spark)
    d = sf_dir or DEFAULT_SF_DIR
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    df = spark.read.parquet(f"{d}/{name}.parquet")
    if name == "events":
        df = normalize_events_ts(df)
    return df


def load_tables(spark: SparkSession, sf_dir: str | None = None) -> dict[str, DataFrame]:
    return {t: load_table(spark, t, sf_dir) for t in TABLES}


@dataclass(frozen=True)
class JdbcSource:
    """Declarative JDBC source (reference Download.py:78-86 semantics).

    The reference hardcodes a SQL Server DSN and pulls the whole table over
    ODBC before filtering. This source instead:

    * pushes filters/projections into the remote query (Catalyst JDBC
      pushdown);
    * reads in parallel via ``partitionColumn``/``numPartitions`` so a large
      table lands as N concurrent range scans instead of one cursor;
    * leaves credentials to options, never code.
    """

    url: str
    table: str
    options: dict[str, str] = field(default_factory=dict)
    partition_column: str | None = None
    num_partitions: int | None = None
    lower_bound: int | None = None
    upper_bound: int | None = None

    def load(self, spark: SparkSession) -> DataFrame:
        reader = (
            spark.read.format("jdbc")
            .option("url", self.url)
            .option("dbtable", self.table)
        )
        if self.partition_column is not None:
            reader = (
                reader.option("partitionColumn", self.partition_column)
                .option("numPartitions", str(self.num_partitions or 8))
                .option("lowerBound", str(self.lower_bound or 0))
                .option("upperBound", str(self.upper_bound or 1_000_000))
            )
        for k, v in self.options.items():
            reader = reader.option(k, v)
        return reader.load()

