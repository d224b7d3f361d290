"""Shared deterministic-sketch primitives: the md5->60-bit hash
contract and the integer-exact HyperLogLog register algebra.

ONE home for spellings that must stay bit-identical everywhere they
appear: the engine's ANALYZE statistics (sources/lakemaint.py) and the
MinHash signatures (functions/minhash.py).

Determinism rules (each is exact integer arithmetic, so any engine that
implements md5 computes the same values):
- md5 -> first 15 hex chars -> 60-bit BIGINT;
- integer DIV for hash splitting (60-bit values exceed double range);
- register rho from length(bin(x)), never floor(log2);
- the harmonic denominator as an exact integer sum of 2^(rest_bits+1-rho).
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

def md5_long(c: Column) -> Column:
    """60-bit hash from md5 -- identical in Spark and DuckDB."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def hll_rho(rest: Column, rest_bits: int) -> Column:
    """HLL register value: 1-based leading-zero rank of ``rest``
    interpreted as a ``rest_bits``-wide integer (rest == 0 -> the
    maximal rank rest_bits + 1). Uses length(bin(x)) -- exact integer
    arithmetic, unlike floor(log2) whose last-ulp rounding differs
    between engines."""
    return F.when(rest == 0, F.lit(rest_bits + 1)).otherwise(
        F.lit(rest_bits) - F.length(F.bin(rest)) + 1
    )


def hll_denom_term(rho_col: str, rest_bits: int) -> Column:
    """The register's harmonic-sum contribution 2^-rho, scaled by
    2^(rest_bits+1) so the sum stays an exact BIGINT."""
    return F.expr(
        f"shiftleft(CAST(1 AS BIGINT), {rest_bits} + 1 - {rho_col})"
    )


_ALPHA = {16: 0.673, 32: 0.697, 64: 0.709}


def hll_alpha(m: int) -> float:
    """Flajolet et al. 2007 bias constant."""
    return _ALPHA.get(m, 0.7213 / (1 + 1.079 / m))


def hll_estimate(nonzero: int, denom_used: int | None, m: int,
                 rest_bits: int) -> float:
    """Driver-side estimate from a collected sketch: ``nonzero``
    occupied registers whose scaled terms sum to ``denom_used``
    (empty registers contribute 2^(rest_bits+1) each). Below 2.5m the
    standard linear-counting patch applies."""
    scale = 1 << (rest_bits + 1)
    empties = m - nonzero
    denom = (denom_used or 0) + empties * scale
    est = hll_alpha(m) * m * m * scale / denom
    if est <= 2.5 * m and empties > 0:
        est = m * math.log(m / empties)
    return est
