"""Cross-engine deterministic aggregate helpers.

Floating-point SUM/AVG/STDDEV/CORR are association-sensitive: Spark's
partial->final hash aggregation and DuckDB's single-threaded (or
segment-tree windowed) execution add doubles in different orders, so raw
double aggregates differ in the last ulps and fail a value-hash oracle.

The fix used throughout this engine (and by every oracle-checked query):

- SUM: cast each term to DECIMAL first. Decimal addition is associative and
  exact in both engines, and the final DECIMAL->DOUBLE cast is the IEEE
  nearest double, so the result is bit-identical. On a 1000-executor
  cluster this also makes partial aggregation reproducible run-to-run.
- AVG: exact decimal sum (as double) divided by COUNT — a single IEEE
  division, deterministic.
- STDDEV/CORR: two-pass. Compute the group mean (davg), join it back,
  then sum the centered deviations' squares and products exactly
  (``centered_stddev_samp``, ``centered_corr``; why not the single-pass
  sum-of-squares identity is under "centered moments" below). Their
  ``sql_centered_*`` twins render the same double expression tree for
  the DuckDB oracle side, operation for operation.

Reference parity note: the reference rounds all published metrics to 2-6 dp
(≈440 ROUND calls, SURVEY.md §2.8) precisely because BigQuery float
aggregation is similarly order-unstable; this module makes rounding a
belt-and-suspenders measure instead of a correctness requirement.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(28,6)"


def _c(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


# ---------------------------------------------------------------- Spark side


def dsum(c: Column | str) -> Column:
    """Exact (decimal-accumulated) SUM of a double expression, as DOUBLE."""
    return F.sum(_c(c).cast(DEC)).cast("double")


def davg(c: Column | str) -> Column:
    """Deterministic AVG: exact sum / count (one IEEE division).

    NOT rounded: rounding a deterministic double only adds half-tie risk
    (engines disagree on exact .5 boundaries); a bit-identical quotient
    needs no rounding.
    """
    x = _c(c)
    return dsum(x) / F.count(x)


# -------------------------------------------------------- centered moments
# Variance/stddev/corr use TWO-PASS (centered) sums, not the single-pass
# sum-of-squares identity. Two reasons, both cross-engine:
#
# 1. Sums of raw squares overflow 2^53 in the decimal's internal integer,
#    after which the decimal->double cast is no longer identical in both
#    engines (Spark converts via BigDecimal; DuckDB via int128 / 10^scale).
# 2. Casting low-entropy doubles (money values have ≤6 true decimals) to a
#    nearby decimal scale lands on exact .5 ties, where Spark (HALF_UP on
#    the shortest string repr) and DuckDB (round on the true binary value)
#    disagree. Deviations from a group mean have full-entropy mantissas, so
#    ties are ~2^-40 events, and squared deviations are small enough that
#    scale-2 decimal sums stay far below 2^53.
#
# One more subtlety: Spark's double->decimal cast rounds the double's
# SHORTEST decimal repr (BigDecimal.valueOf) while DuckDB rounds the true
# binary value — for a full-entropy double of magnitude V cast at scale s,
# they disagree with probability ≈ ulp(V)/(2·10^-s) ≈ V·10^s·1e-16. Keeping
# each value's internal units (V·10^s) below ~1e9 makes that a ~1e-7 event;
# deviations are therefore pre-shrunk by 1e-3 before squaring (results are
# rescaled — variance by 1e6, stddev by 1e3, corr is scale-free).
#
# Calling convention: compute the group mean first (davg), join it back,
# then aggregate the centered columns — helpers below build both halves.

DEV2 = "decimal(28,2)"
_SHRINK = 1.0e-3


def dsum2(c: Column | str) -> Column:
    """Exact low-scale SUM for centered squares/products, as DOUBLE."""
    return F.sum(_c(c).cast(DEV2)).cast("double")


def sql_dsum2(expr: str) -> str:
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(28,2))) AS DOUBLE)"


def centered_stddev_samp(dev: Column | str) -> Column:
    """Sample stddev from a pre-centered column ``dev = x - mean``."""
    d = _c(dev) * F.lit(_SHRINK)
    n = F.count(d).cast("double")
    return F.when(
        n > 1, F.sqrt(dsum2(d * d) / (n - F.lit(1.0))) * F.lit(1.0e3)
    )


def centered_corr(devx: Column | str, devy: Column | str) -> Column:
    """Pearson correlation from pre-centered columns."""
    dx, dy = _c(devx) * F.lit(_SHRINK), _c(devy) * F.lit(_SHRINK)
    n = F.count(F.lit(1)).cast("double")
    num = dsum2(dx * dy)
    den = F.sqrt(F.greatest(dsum2(dx * dx) * dsum2(dy * dy), F.lit(0.0)))
    return F.when(n > 1, num / F.nullif(den, F.lit(0)))


def sql_centered_stddev_samp(dev: str) -> str:
    d = f"(({dev}) * 1.0e-3)"
    n = f"CAST(COUNT({d}) AS DOUBLE)"
    return (
        f"CASE WHEN {n} > 1 THEN"
        f" SQRT({sql_dsum2(f'{d} * {d}')} / ({n} - 1.0)) * 1.0e3 END"
    )


def sql_centered_corr(devx: str, devy: str) -> str:
    dx, dy = f"(({devx}) * 1.0e-3)", f"(({devy}) * 1.0e-3)"
    n = "CAST(COUNT(1) AS DOUBLE)"
    num = sql_dsum2(f"{dx} * {dy}")
    den = (
        f"SQRT(GREATEST({sql_dsum2(f'{dx} * {dx}')}"
        f" * {sql_dsum2(f'{dy} * {dy}')}, 0.0))"
    )
    return f"CASE WHEN {n} > 1 THEN {num} / NULLIF({den}, 0) END"


# --------------------------------------------------- DuckDB-oracle SQL side
# String generators producing the operation-for-operation equivalent ANSI
# SQL, so the double expression trees match the Spark side exactly.


def sql_dsum(expr: str) -> str:
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(28,6))) AS DOUBLE)"


def sql_davg(expr: str) -> str:
    return f"{sql_dsum(expr)} / COUNT({expr})"
