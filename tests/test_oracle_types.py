"""Oracle final-projection type doctrine.

The driver's correctness hash compares the Spark result and the DuckDB
oracle through the PANDAS pathway, which is dtype-sensitive: DuckDB
widens ``SUM(BIGINT)`` to HUGEINT and ``.df()`` converts HUGEINT (and
wide decimals) to float64, while Spark's bigint sum stays int64 — so an
oracle that lets a widened type reach its final projection hash-mismatches
on values that are integer-identical. That was the rounds-8/9 ``bm25_topk``
driver red (rows/schema green, hash red, two rounds running, locally
undetectable because ``fetchall()`` returns Python ints for HUGEINT).

Rule: every oracle's FINAL projection must be free of HUGEINT/UHUGEINT
and of DECIMAL(38,*) — explicitly ``CAST(... AS BIGINT)`` around integer
sums/products, and the repo's decimal→VARCHAR→DOUBLE chain for exact
decimal aggregates. DuckDB plans this check with LIMIT 0, so the whole
registry scans in seconds with no Spark session.
"""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entrymod

TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()

FORBIDDEN = ("HUGEINT", "UHUGEINT")


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return c


#: duckdb type -> Spark typeName the pandas pathway renders identically.
DUCK_TO_SPARK = {
    "BIGINT": "long",
    "INTEGER": "integer",
    "SMALLINT": "short",
    "TINYINT": "byte",
    "DOUBLE": "double",
    "FLOAT": "float",
    "VARCHAR": "string",
    "BOOLEAN": "boolean",
    "DATE": "date",
    "BLOB": "binary",
}


def test_spark_and_oracle_column_types_align(con, registry_plans):
    """Exact width/type parity between each Spark result schema and its
    oracle's final projection. The driver observably tolerates integer
    WIDTH differences (dedup_spans was gate-green with int32-vs-BIGINT),
    but int-vs-float killed bm25_topk for two rounds — exact parity
    keeps the whole axis closed instead of relying on which leniencies
    the driver's hash happens to have."""
    oracles = entrymod.oracle_sql()
    mismatches: dict[str, dict] = {}
    for name in sorted(oracles):
        if name.startswith("stream_"):
            continue  # streaming queries execute eagerly; covered by sweeps
        schema = registry_plans[name].schema
        stypes = {f.name: f.dataType.typeName() for f in schema.fields}
        rel = con.sql(f"SELECT * FROM ({oracles[name]}) LIMIT 0")
        dtypes = dict(zip(rel.columns, (str(t) for t in rel.types)))
        diffs = {}
        for c, st in stypes.items():
            dt = dtypes.get(c)
            if dt is None:
                continue  # column-name parity is the sweeps' job
            exp = DUCK_TO_SPARK.get(dt)
            if exp is None:
                if dt.startswith("DECIMAL") and st.startswith("decimal"):
                    continue
                if dt.startswith("TIMESTAMP") and st.startswith("timestamp"):
                    continue
                diffs[c] = (st, dt)
            elif exp != st:
                diffs[c] = (st, dt)
        if diffs:
            mismatches[name] = diffs
    assert not mismatches, f"spark-vs-oracle type drift: {mismatches}"


def test_no_pandas_lossy_types_in_any_oracle(con):
    oracles = entrymod.oracle_sql()
    assert oracles, "registry is empty?"
    bad: dict[str, dict[str, str]] = {}
    for name, sql in sorted(oracles.items()):
        rel = con.sql(f"SELECT * FROM ({sql}) LIMIT 0")
        types = dict(zip(rel.columns, (str(t) for t in rel.types)))
        weird = {
            c: t
            for c, t in types.items()
            if t in FORBIDDEN or t.startswith("DECIMAL(38")
        }
        if weird:
            bad[name] = weird
    assert not bad, (
        "oracle final projections emit pandas-lossy types (HUGEINT -> "
        f"float64 in .df(); the bm25_topk driver-red class): {bad}"
    )
