"""Cross-engine deterministic aggregation helpers (the integer-unit rule).

Problem: ``ROUND(SUM(double), k)`` is summation-order-dependent — Spark and
DuckDB (and Spark under two different partition counts) sum doubles in
different orders, and the accumulated ulp drift can flip the rounded digit
(observed: q9/q11 cent flips at sf0.1). Row counts and schemas still match,
so only a value-hash gate catches it.

Rule (also in SCALE.md): any double aggregate whose result feeds a ROUND or
a comparison must be computed from per-row INTEGER units:

    cents    = ROUND(x * 100) :: long     -- per-row, IEEE-identical everywhere
    SUM(cents)                            -- long sum: exact, commutative
    result   = ROUND(SUM(cents)/100.0, 2) -- identical double from identical long

Per-row products must keep the SAME association order in the Spark
expression and the oracle SQL (left-assoc ``a*(1-b)*(1+c)``), because IEEE
multiplication is deterministic but not associative.

Long sums are exact up to 2^63; at 100 TB (~6e9 lineitems, ~1e7 max cents
per row) the sum is ~6e16 « 9.2e18, so the pattern survives the target
scale with three orders of headroom.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


__doc_inline_note__ = """Why some query sites inline their own ROUND(scale *
expr)::long instead of calling int_units(expr, scale): int_units computes
round(expr * scale) while several ln-family oracles are written as
ROUND(scale * a * b) = (scale*a)*b. IEEE multiplication is commutative but
NOT associative, and scale=1e6 is not a power of two, so (scale*a)*b and
(a*b)*scale can differ by an ulp — enough to flip the rounded unit at a
.5 boundary. Each Spark site must mirror its oracle string's exact
association order, so those sites inline the twin expression on purpose."""


def int_units(col: Column | str, scale: int = 100) -> Column:
    """Per-row conversion of a fixed-decimal double to exact integer units
    (cents by default). IEEE multiply+round of the same double is identical
    on every engine, so downstream long sums are order-free."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * scale).cast("long")


def sum_exact(col: Column | str) -> Column:
    """Order-free replacement for ``ROUND(SUM(x), 2)`` on money-like
    doubles. SQL twin:
    ``ROUND(SUM(CAST(ROUND(x * 100) AS BIGINT)) / 100.0, 2)``."""
    return F.round(F.sum(int_units(col)) / 100.0, 2)


def avg_exact(col: Column | str, ndigits: int = 6) -> Column:
    """Order-free replacement for ``ROUND(AVG(x), ndigits)``. SQL twin:
    ``ROUND(SUM(CAST(ROUND(x * 100) AS BIGINT)) / 100.0 / COUNT(x),
    <ndigits>)``. COUNT of the same column so null handling matches AVG."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(int_units(c)) / 100.0 / F.count(c), ndigits)


def sql_sum_exact(expr: str, alias: str) -> str:
    """DuckDB oracle fragment matching :func:`sum_exact`."""
    return f"ROUND(SUM(CAST(ROUND(({expr}) * 100) AS BIGINT)) / 100.0, 2) AS {alias}"
