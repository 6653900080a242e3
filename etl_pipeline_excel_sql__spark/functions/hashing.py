"""Deterministic, engine-portable hashing expressions.

All content hashing in the engine is built on MD5 (available and
bit-identical in Spark, DuckDB, and every other engine), truncated to 60
bits. We deliberately avoid ``xxhash64``/``F.hash`` — fast but Spark-private,
so results could never be verified by an external oracle or reproduced by a
downstream system reading our outputs.

At 100 TB scale these expressions are all codegen'd JVM work (md5 + string
slicing + conv), fully parallel, no shuffle of their own.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: 60-bit hash space (15 hex digits) — fits comfortably in a signed int64,
#: so arithmetic on hashes can never overflow ANSI-mode bigint checks.
HASH_BITS = 60

#: The DuckDB-oracle twin of :func:`md5_hash60`, as a format template
#: (``{x}`` = the SQL string expression to hash). Single source of truth:
#: every plan module's oracle imports THIS instead of restating the
#: definition, so a change to the hash contract cannot silently leave a
#: stringly-typed copy behind.
H60_SQL = "CAST('0x' || substr(md5({x}), 1, 15) AS BIGINT)"


def md5_hash60(col: Column | str) -> Column:
    """60-bit integer hash of a string column via md5 (portable, exact).

    DuckDB-oracle equivalent: ``CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def md5_hash60_seeded(col: Column | str, seed: int) -> Column:
    """Seeded variant: hash of ``'<seed>:' || x`` — gives k independent
    hash families for MinHash permutations from one primitive."""
    c = F.col(col) if isinstance(col, str) else col
    return md5_hash60(F.concat(F.lit(f"{seed}:"), c))


def rolling_fingerprint(tokens: Column) -> Column:
    """Polynomial rolling hash of a token sequence (order-sensitive).

    ``acc = (acc * 31 + md5_60(token) % mod) % mod`` left fold. The modulus
    keeps every intermediate below 2**46, safely inside ANSI bigint. Unlike
    :func:`md5_hash60` of the whole text, this fingerprint is stable under
    chunked/streaming computation (fold is associative-composable by segment).
    """
    modulus = 1 << 40
    return F.aggregate(
        tokens,
        F.lit(0).cast("bigint"),
        lambda acc, t: (
            acc * 31
            + F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("bigint") % modulus
        )
        % modulus,
    )
