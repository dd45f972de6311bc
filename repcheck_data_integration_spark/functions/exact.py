"""Deterministic (order-independent) floating aggregation helpers.

Parallel summation of doubles is order-dependent — at 1000 executors a plain
``sum(double)`` returns a different ULP every run and can never hash-match a
single-threaded oracle. The fixture money columns carry 2 decimals, so we sum
the scaled integer instead: ``sum(cast(round(x * 100) as bigint))`` is exact,
associative, and identical in Spark and DuckDB; divide once at the end.

The oracle twins in the query registry use the literally-identical SQL
formula so per-row IEEE arithmetic matches bit-for-bit.

The module has two accumulators. Signed money goes through the scaled LONG
(:func:`exact_sum` for non-negative columns, :func:`scaled_long` inside
your own sum otherwise). Integral sums and products go through
:func:`dec_sum`'s DECIMAL(38,0), which cannot wrap where a LONG sum of
squares or cross products would pass ``Long.MAX``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


# Rounding form: floor(x*s + 0.5), NOT round(x*s, 0). Spark's round() on a
# double routes through java.math.BigDecimal PER ROW (valueOf + setScale +
# doubleValue), which made TPC-H q1's seven exact aggregates 3.1x slower at
# the sf10 probe (3.09 s -> 1.00 s measured, values bit-identical on all
# 60M rows); floor(+0.5) is plain IEEE arithmetic in both engines. On the
# fixture domain the two are value-identical: money columns are 2-decimal
# fixed-point, so x*s lands within ~1 ulp of an integer and never at an
# exact .5 (where the conventions would diverge for negatives:
# half-away-from-zero vs half-toward-+inf). Both engine sides use the
# literally-identical formula so per-row IEEE arithmetic matches
# bit-for-bit — same guarantee as before, minus the BigDecimal tax.


def exact_sum(col: Column, scale: int = 2) -> Column:
    """Order-independent sum of a fixed-point double column, as double.

    PRECONDITION (ADVICE r6): the column must be NON-NEGATIVE fixed-point
    (money/quantity domains). floor(x*s + 0.5) rounds negative exact
    halves toward +inf, unlike round-half-away-from-zero; for signed
    columns use :func:`scaled_long` (sign-aware, bit-equal to Spark's
    round) inside your own sum, and mirror the same formula in the
    oracle twin."""
    s = 10**scale
    return (
        F.sum(F.floor(col * F.lit(s) + F.lit(0.5)).cast("long"))
        / F.lit(float(s))
    ).cast("double")


def exact_avg(col: Column, scale: int = 2) -> Column:
    """Order-independent avg of a fixed-point double column, as double.

    Same NON-NEGATIVE fixed-point precondition as :func:`exact_sum`."""
    s = 10**scale
    return (
        F.sum(F.floor(col * F.lit(s) + F.lit(0.5)).cast("long"))
        / (F.count(col) * F.lit(float(s)))
    ).cast("double")


def sql_exact_sum(expr: str, scale: int = 2) -> str:
    """DuckDB twin of :func:`exact_sum` — same parenthesization on purpose."""
    s = 10**scale
    return (
        f"CAST(sum(CAST(floor(({expr}) * {s} + 0.5) AS BIGINT))"
        f" / {float(s)} AS DOUBLE)"
    )


def sql_exact_avg(expr: str, scale: int = 2) -> str:
    s = 10**scale
    return (
        f"CAST(sum(CAST(floor(({expr}) * {s} + 0.5) AS BIGINT))"
        f" / (count({expr}) * {float(s)}) AS DOUBLE)"
    )


def scaled_long(col: Column, scale: int) -> Column:
    """Bit-equivalent replacement for ``F.round(col * scale, 0)
    .cast("long")`` without the per-row BigDecimal: Spark's round() on a
    double allocates java.math.BigDecimal per value, measured 6.7x slower
    than plain IEEE arithmetic on the 12.8M-element sf10 centroid
    aggregate (2.95 s -> 0.44 s, zero value drift across every element).

    sign(x) * floor(abs(x) + 0.5) reproduces round-half-AWAY-FROM-ZERO —
    the convention of both Spark's round (BigDecimal HALF_UP on the
    magnitude) and DuckDB's round(DOUBLE) — including negative inputs and
    exact dyadic halves (e.g. float32 1/128 * 1e6 = 7812.5). The only
    theoretical divergence class (binary value within half-an-ulp below
    an exact .5 whose shortest decimal repr still reads below .5) cannot
    occur for float32*10^k products, which are exact in double; for money
    doubles it is gate-verified per oracle twin.
    """
    x = col.cast("double") * F.lit(scale)
    return (
        F.when(x < 0, F.lit(-1)).otherwise(F.lit(1)).cast("long")
        * F.floor(F.abs(x) + F.lit(0.5))
    ).cast("long")


def dec_sum(expr: Column | str, scale: float | None = None) -> Column:
    """Exact sum of an integral expression as double, divided by ``scale``
    when given. A ``str`` goes through ``F.expr``. The sum runs in
    DECIMAL(38,0), so it is order-independent and does not wrap past
    ``Long.MAX``; widen a product's operand before the multiply
    (``"CAST(x AS DECIMAL(38,0)) * x"``), since the final cast alone leaves
    the per-row product in LONG. NULL rows are skipped, and an all-NULL
    input sums to NULL."""
    x = F.expr(expr) if isinstance(expr, str) else expr
    s = F.sum(x.cast("decimal(38,0)")).cast("double")
    return s if scale is None else s / F.lit(scale)
