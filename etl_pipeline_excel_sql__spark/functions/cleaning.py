"""Scalar cleaning/formatting functions (SURVEY.md §2.6).

Each reproduces a reference semantic exactly, as a pure Column expression so
it runs inside whole-stage codegen — no Python in the hot path. Reference
citations point at the behavior being replicated, not code being ported.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Columns produced by these helpers stay null-safe under ANSI mode (Spark 4
#: defaults): all parses/casts use ``try_`` variants so malformed input maps
#: to NULL (the reference's ``errors='coerce'`` semantics), never a job abort.

_NUMERIC_RE = r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$"


def null_literal_to_null(col: Column | str) -> Column:
    """Map the literal string ``'NULL'`` to SQL NULL.

    The reference's SQL extracts arrive with the four-character string
    ``'NULL'`` standing in for missing values and rewrites it to NaN
    (reference Download.py:148). Everything downstream must see a real NULL.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c == F.lit("NULL"), F.lit(None)).otherwise(c)


def date_reformat(col: Column | str) -> Column:
    """Parse-coerce-reformat a date-ish column to ``MM-dd-yyyy`` strings.

    Reference semantics (Download.py:130-136): ``pd.to_datetime(...,
    errors='coerce').strftime('%m-%d-%Y')`` — unparseable input becomes NULL,
    parseable input becomes a reformatted string. ``try_to_timestamp``
    gives the coerce behavior natively; the whole expression is codegen'd.
    """
    c = F.col(col) if isinstance(col, str) else col
    ts = F.try_to_timestamp(c.cast("string"))
    return F.date_format(ts, "MM-dd-yyyy")


def percent_format(col: Column | str) -> Column:
    """Render a 0..1 readiness ratio as an integer percent string.

    Reference semantics (Download.py:146-155), verified vectors
    (FIXTURES.md B4): ``0.876 → '88%'``, ``0.5 → '50%'``, ``1.0 → '100%'``,
    ``'NULL' → NULL``, ``NULL → NULL``, non-numeric strings pass through
    unchanged. Rounding is Python ``f"{x*100:.0f}"`` — round-half-even on the
    exact double — matched here with ``bround`` (HALF_EVEN).

    Works for both numeric and string-typed inputs: the original column is a
    SQL float, but all-string Excel re-reads of the same data must format
    identically (numeric-looking strings were numbers upstream).
    """
    c = F.col(col) if isinstance(col, str) else col
    s = c.cast("string")
    num = c.try_cast("double")
    formatted = F.concat(
        F.bround(num * F.lit(100.0), 0).cast("decimal(38,0)").cast("string"),
        F.lit("%"),
    )
    return (
        F.when(s == F.lit("NULL"), F.lit(None))
        .when(s.rlike(_NUMERIC_RE), formatted)
        .otherwise(s)
    )


def to_str(col: Column | str) -> Column:
    """Null-safe stringify: NULL → ``''``, else ``str(x).strip()``.

    Reference semantics (Compare.py:45-48). This is the canonical form every
    diff comparison runs on — blank and NULL are the same thing to the diff
    engine.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(F.trim(c.cast("string")), F.lit(""))
