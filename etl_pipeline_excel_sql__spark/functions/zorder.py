"""Z-order (Morton) keys: bit-interleave two non-negative integer
coordinates into one BIGINT whose sort order is the space-filling
Z-curve — the standard multi-dimensional data-layout key (Morton 1966;
the technique behind Delta/Iceberg Z-ORDER clustering).

Why it matters at 100 TB: parquet scan pruning works off per-file
min/max column statistics, and a table range-partitioned + sorted by
ONE column has useless stats on every other filter column. Sorting by
the interleaved key makes each output file cover a small RECTANGLE in
(a, b) space, so min/max footer stats prune files for predicates on
EITHER dimension.

Pure integer shift/mask arithmetic — bit-identical in every engine, so
the key itself is oracle-gated like any other value.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Bits kept per coordinate (the key uses 2*bits <= 62 of the BIGINT).
ZORDER_BITS = 21


def zorder_key(a: Column, b: Column, bits: int = ZORDER_BITS) -> Column:
    """Interleave the low ``bits`` bits of ``a`` (even positions) and
    ``b`` (odd positions): key = Σ_i ((a>>i)&1)·4^i + 2·((b>>i)&1)·4^i.

    Callers pass NON-NEGATIVE coordinates already quantized to the
    ``bits`` budget (rank, bucket id, epoch-hour, ``pmod``-folded id);
    higher bits are ignored by construction (masking, not failure — a
    layout key tolerates coordinate overflow by coarsening, unlike
    ``spans.packed_doc_pos`` where aliasing corrupts results).
    """
    if not 1 <= bits <= 31:
        raise ValueError("zorder_key: bits must be in [1, 31]")
    terms = []
    for i in range(bits):
        terms.append(
            F.shiftright(a.cast("bigint"), i).bitwiseAND(F.lit(1))
            * F.lit(1 << (2 * i))
        )
        terms.append(
            F.shiftright(b.cast("bigint"), i).bitwiseAND(F.lit(1))
            * F.lit(1 << (2 * i + 1))
        )
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out.cast("bigint")


def zorder_key_sql(a: str, b: str) -> str:
    """DuckDB twin — the identical shift/mask sum."""
    terms = []
    for i in range(ZORDER_BITS):
        terms.append(f"(({a} >> {i}) & 1) * {1 << (2 * i)}")
        terms.append(f"(({b} >> {i}) & 1) * {1 << (2 * i + 1)}")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"
