"""Order-independent (bit-exact) numeric aggregation helpers.

Floating-point SUM/AVG are accumulation-order dependent; Spark's
partial-per-partition merge order differs from DuckDB's, so a naive
``sum(double)`` can differ in the last ulps and break value-hash parity.

Fix: aggregate through exact DECIMAL arithmetic (both engines sum
decimals exactly; the double→decimal cast of the *same* input double is
identical in both) and cast the exact result back to DOUBLE. Derived
stats (avg, stddev, corr) are then computed in float64 FROM those exact
sums, so every arithmetic step is bit-identical across engines.

This is also the right answer at 100 TB: decimal partial aggregation is
still map-side combined and shuffle-light; determinism costs nothing.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: enough integer headroom for sf1000-scale sums (10^32) at 6dp
_PREC, _SCALE = 30, 6


def dsum(col: Column) -> Column:
    """Exact sum of a double column, returned as double."""
    return F.sum(col.cast(f"decimal({_PREC},{_SCALE})")).cast("double")


def davg(col: Column) -> Column:
    """Deterministic mean: exact sum / count, divided in float64."""
    return dsum(col) / F.count(col)


def dsum_sql(expr: str) -> str:
    # The final decimal→double cast routes through VARCHAR for the same
    # reason as dprod_sum_sql: DuckDB's int128-decimal→double is not
    # correctly rounded (double(int)/double(10^scale), two roundings).
    # Harmless below 2^53 scaled units, but a 10x-sf q01 sum_charge
    # (~2.8e16 micro-units) diverged from Spark's BigDecimal path by one
    # ulp; string→double is correctly rounded in both engines.
    return (
        f"CAST(CAST(SUM(CAST(({expr}) AS DECIMAL({_PREC},{_SCALE}))) "
        f"AS VARCHAR) AS DOUBLE)"
    )


def davg_sql(expr: str) -> str:
    return f"({dsum_sql(expr)} / COUNT({expr}))"


#: operand precision for exact product sums: (18,6) x (18,6) multiplies
#: to (37,12) with NO rounding in either engine.
_PPREC, _PSCALE = 18, 6

#: operand-magnitude ceiling for dprod_sum/dstddev/dcorr: DECIMAL(18,6)
#: holds 12 integer digits, so any |operand| >= 10^12 overflows the
#: cast. In non-ANSI Spark that yields NULL (row silently skipped by
#: SUM) while DuckDB's DECIMAL(19,6) cast errors — the engines would
#: diverge. dsum/davg use (30,6) and are NOT subject to this bound.
PROD_OPERAND_BOUND = 10.0 ** (_PPREC - _PSCALE)


def dprod_sum(x: Column, y: Column, checked: bool = False) -> Column:
    """Exact sum of products: decimalize each operand ONCE, multiply in
    decimal (lossless), sum exactly, cast back to double.

    Summing ``dsum(x*y)`` instead would round the double product x*y to
    6dp a SECOND time, and Spark (Java HALF_UP) and DuckDB break exact
    .5 ties differently — observed as a 1-ulp corr divergence at sf0.1.
    Decimal-first multiplication has no second rounding to disagree on.

    Operands must satisfy |v| < PROD_OPERAND_BOUND (10^12) — see the
    constant above. ``checked=True`` inserts a per-row raise_error guard
    so out-of-range data fails loudly in Spark exactly where DuckDB's
    narrower cast would error, at the cost of one branch per row."""

    def _guard(c: Column) -> Column:
        if not checked:
            return c
        return F.when(
            F.abs(c) >= F.lit(PROD_OPERAND_BOUND),
            F.raise_error(
                F.concat(
                    F.lit("dprod_sum operand out of decimal(18,6) range: "),
                    c.cast("string"),
                )
            ).cast("double"),
        ).otherwise(c)

    xd = _guard(x).cast(f"decimal({_PPREC},{_PSCALE})")
    yd = _guard(y).cast(f"decimal({_PPREC},{_PSCALE})")
    return F.sum(xd * yd).cast("double")


def dprod_sum_sql(x: str, y: str) -> str:
    # DuckDB stores width<=18 decimals in int64 and overflows their
    # product; width 19 forces the int128 path (product width 38, still
    # exact). The VALUES equal Spark's (18,6) operands — only storage
    # width differs. The final decimal→double cast must route through
    # VARCHAR: DuckDB's direct int128-decimal→double is not correctly
    # rounded at scale 12 (double(int)/double(10^12), two roundings),
    # while string→double and Spark's BigDecimal path both are.
    w = _PPREC + 1
    return (
        f"CAST(CAST(SUM(CAST(({x}) AS DECIMAL({w},{_PSCALE})) * "
        f"CAST(({y}) AS DECIMAL({w},{_PSCALE}))) AS VARCHAR) AS DOUBLE)"
    )


def dstddev(col: Column) -> Column:
    """Deterministic sample stddev from exact sums (float64 derivation).
    Inherits dprod_sum's |v| < 10^12 operand bound (PROD_OPERAND_BOUND)."""
    n = F.count(col).cast("double")
    sx = dsum(col)
    sx2 = dprod_sum(col, col)
    return F.sqrt((sx2 - sx * sx / n) / (n - F.lit(1.0)))


def dstddev_sql(expr: str) -> str:
    n = f"CAST(COUNT({expr}) AS DOUBLE)"
    sx = dsum_sql(expr)
    sx2 = dprod_sum_sql(expr, expr)
    return f"sqrt(({sx2} - {sx} * {sx} / {n}) / ({n} - 1.0))"


def dcorr(x: Column, y: Column) -> Column:
    """Deterministic Pearson correlation from exact sums.
    Inherits dprod_sum's |v| < 10^12 operand bound (PROD_OPERAND_BOUND)."""
    n = F.count(x).cast("double")
    sx, sy = dsum(x), dsum(y)
    sxx = dprod_sum(x, x)
    syy = dprod_sum(y, y)
    sxy = dprod_sum(x, y)
    return (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )


def dcorr_sql(x: str, y: str) -> str:
    n = f"CAST(COUNT(*) AS DOUBLE)"
    sx, sy = dsum_sql(x), dsum_sql(y)
    sxx, syy = dprod_sum_sql(x, x), dprod_sum_sql(y, y)
    sxy = dprod_sum_sql(x, y)
    return (
        f"(({n} * {sxy} - {sx} * {sy}) / "
        f"(sqrt({n} * {sxx} - {sx} * {sx}) * sqrt({n} * {syy} - {sy} * {sy})))"
    )
