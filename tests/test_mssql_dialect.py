"""SQL Server dialect coverage for the JDBC source.

The reference's actual database is SQL Server over ODBC
(Download.py:78-86); this repo's JDBC contract tests run against
embedded Derby because no SQL Server exists in the container. These
tests close the dialect gap without a server: they assert the exact SQL
TEXT Spark's built-in ``MsSqlServerDialect`` generates for the
operations ``JdbcSource`` relies on — dialect resolution from the
connection URL, pushdown literal escaping, identifier quoting, and the
TOP-N limit clause. A Spark upgrade that changed any of these texts —
and would therefore change what the source sends a production SQL
Server — fails here by string.
"""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def mssql(spark):
    """Spark's registered dialect for sqlserver:// URLs + JVM handles."""
    jvm = spark._jvm
    dialect = jvm.org.apache.spark.sql.jdbc.JdbcDialects.get(
        "jdbc:sqlserver://dbhost;databaseName=mydb"
    )
    return spark, jvm, dialect


def test_sqlserver_url_resolves_to_mssql_dialect(mssql):
    _, _, dialect = mssql
    assert "MsSqlServerDialect" in dialect.toString()


def test_pushdown_literal_escaping(mssql):
    """String literals compiled into pushed-down WHERE clauses double
    embedded quotes — the difference between a working filter and an
    injection-shaped syntax error on names like O'Brien."""
    _, _, dialect = mssql
    assert dialect.compileValue("O'Brien") == "'O''Brien'"
    # numeric literals pass through unquoted
    assert dialect.compileValue(42) == 42


def test_identifier_quoting(mssql):
    _, _, dialect = mssql
    assert dialect.quoteIdentifier("my col") == '"my col"'


def test_limit_clause_is_top_n(mssql):
    """SQL Server has no LIMIT keyword; pushed-down limits must compile
    to TOP (n)."""
    _, _, dialect = mssql
    assert dialect.getLimitClause(5) == "TOP (5)"
