"""Randomized Python-twin parity for CDC chunking and the HLL sketch —
the literal-transcription style of tests/test_spans.py: a pure-Python
replay of the documented algorithm over seeded random corpora must
match the distributed implementation row for row."""

from __future__ import annotations

import hashlib
import random

from pyspark.sql import functions as F

from etl_pipeline_excel_sql__spark.operators.cdc import (
    CDC_DIVISOR,
    cdc_chunk_rows,
)
from etl_pipeline_excel_sql__spark.operators.sketches import (
    HLL_M,
    hll_registers,
)


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _py_chunks(tokens: list[str], divisor: int):
    """Literal transcription of the CDC contract: boundary AFTER token
    i when h60 of the trailing 2-token window ≡ 0 (mod divisor); chunk
    of token i = count of boundaries strictly before i."""
    chunk_of = []
    boundaries_before = 0
    for i, t in enumerate(tokens):
        chunk_of.append(boundaries_before)
        gram = t if i == 0 else f"{tokens[i - 1]} {t}"
        if _h60(gram) % divisor == 0:
            boundaries_before += 1
    out = {}
    for i, c in enumerate(chunk_of):
        out.setdefault(c, []).append(i)
    return {
        c: (
            pos[0],
            len(pos),
            hashlib.md5(
                " ".join(tokens[p] for p in pos).encode()
            ).hexdigest(),
        )
        for c, pos in out.items()
    }


def test_cdc_matches_python_transcription(spark):
    rng = random.Random(0xCDC)
    alphabet = [f"w{i}" for i in range(9)]
    docs = {
        d: [rng.choice(alphabet) for _ in range(rng.randrange(0, 120))]
        for d in range(40)
    }
    df = spark.createDataFrame(
        [(d, " ".join(t)) for d, t in docs.items()],
        "doc_id LONG, text STRING",
    )
    got: dict = {}
    for r in cdc_chunk_rows(df).collect():
        got.setdefault(r.doc_id, {})[r.chunk_no] = (
            r.pos0,
            r.n_toks,
            r.digest,
        )
    expect = {
        d: _py_chunks(t, CDC_DIVISOR) for d, t in docs.items() if t
    }
    assert got == expect


def _py_registers(values: list[str]) -> dict[int, int]:
    regs = {r: 0 for r in range(HLL_M)}
    for v in values:
        h = _h60(v)
        reg, payload = h % HLL_M, h // HLL_M
        rho = 55 if payload == 0 else 55 - payload.bit_length()
        regs[reg] = max(regs[reg], rho)
    return regs


def test_hll_registers_match_python_transcription(spark):
    rng = random.Random(0x477)
    vals = [f"v{rng.randrange(5000)}" for _ in range(3000)]
    df = spark.createDataFrame(
        [("g", v) for v in vals], "grp STRING, v STRING"
    )
    got = {
        r.reg: r.rho
        for r in hll_registers(df, "v", ["grp"]).collect()
    }
    assert got == _py_registers(vals)
    # and the register table is insensitive to duplication order
    got2 = {
        r.reg: r.rho
        for r in hll_registers(
            df.orderBy(F.rand(7)), "v", ["grp"]
        ).collect()
    }
    assert got2 == got
