"""Exact money aggregation on 64-bit integers (guide §2.3: narrower
types; r18).

The engine's exactness contract is "aggregate in decimal internally,
cast DOUBLE at the edge" (CLAUDE.md). Decimal SUMs are the expensive
way to honor it: Spark's decimal aggregation buffers pay a per-row
Decimal update (measured r18: q1's four decimal sums dominate the
scan stage — 1.4s single-task; the integer formulation below runs the
identical query at 0.6-0.8s, values bit-identical).

This module keeps the contract with long arithmetic:

- money columns in the fixture are exact 2-decimal quantities stored
  as double (TESTDATA.md); ``unscaled()`` maps them to their exact
  unscaled int64 (cents). ``round(x * 100)`` equals the decimal(„,2)
  cast for every representable 2-decimal value: the double nearest to
  N/100 times 100 is within 2^-43 of N, so the nearest-integer round
  recovers N exactly (pinned against the live fixture by
  tests/test_intsum.py, which re-checks at every driver regen).
- derived money expressions (price * (1 - disc), * (1 + tax)) become
  long multiplies on the unscaled values — the SAME integers the
  decimal multiply produces, at fixed scale.
- SUMs run as one or two LONG accumulators. A single int64 sum is
  exact only while n_rows * max|x| < 2^63, so every sum here is a
  **split accumulator**: hi = sum(x div D) and lo = sum(x mod D) with
  D = 10^6, recombined exactly as hi*D + lo in decimal AFTER the
  aggregation (per group, a handful of rows). Exactness bound: with
  per-row |x| <= 1.3e11 (the TPC-H charge bound at scale 6), both
  accumulators stay under 2^63 past 5e12 rows per group — beyond
  100 TB. The recombination identity x = D*trunc(x/D) + rem(x, D)
  holds for negative values too (both sides truncate toward zero).

The public surface mirrors how the plans use it:

    ss = SplitSum(expr_long, "rev")          # .aggs -> list for .agg()
    ... .agg(*ss.aggs, F.count(...))
    ... .select(ss.decimal(4, "decimal(28,4)").cast("double"), ...)

``decimal(scale, prec)`` reconstructs the exact decimal the old
formulation's SUM produced (same type, same value), so downstream
expressions — including decimal division for AVG — stay bit-identical.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: split base: lo holds 6 decimal digits, hi the rest.
SPLIT = 1_000_000


def unscaled(col: Column) -> Column:
    """Exact unscaled int64 (cents) of a fixture money double (see module doc)."""
    return F.round(col * 100).cast("bigint")


def itrunc(c: Column, d: int) -> Column:
    """Truncated integer division on longs, without FP hazards:
    (c - c % d) is an exact multiple of d and |c| stays far below 2^53
    for every per-row money value, so the double division is exact."""
    return ((c - c % F.lit(d)) / F.lit(d)).cast("bigint")


class SplitSum:
    """An exact SUM of a long expression as two int64 accumulators."""

    def __init__(self, expr: Column, name: str) -> None:
        self._hi = f"_{name}_hi"
        self._lo = f"_{name}_lo"
        self.aggs = [
            F.sum(itrunc(expr, SPLIT)).alias(self._hi),
            F.sum(expr % F.lit(SPLIT)).alias(self._lo),
        ]

    def unscaled_total(self) -> Column:
        """hi*D + lo as decimal(38,0) — the exact unscaled sum."""
        return F.col(self._hi).cast("decimal(38,0)") * F.lit(SPLIT).cast(
            "decimal(7,0)"
        ) + F.col(self._lo).cast("decimal(38,0)")

    def decimal(self, scale: int, prec: str) -> Column:
        """The exact decimal the old decimal-SUM produced (cast to the
        SAME result type, so every downstream expression — compare,
        divide, cast double — is bit-identical to the old plan)."""
        if scale == 0:
            return self.unscaled_total().cast(prec)
        point = F.lit(f"0.{'0' * (scale - 1)}1").cast(f"decimal({scale + 1},{scale})")
        return (self.unscaled_total() * point).cast(prec)
