"""Oracle-compatibility numeric helpers.

Money columns in the testdata are 2-decimal values stored as parquet
doubles. Summing them as doubles is order-dependent (last-bit fp noise)
and rounding a double sum can land on a .xx5 tie that Spark (HALF_UP) and
DuckDB resolve differently. The deterministic pattern used by every
oracle-checked money aggregate in this repo:

  cast each 2-dp input to DECIMAL → exact decimal arithmetic → exact sum
  → ROUND in the decimal domain (both engines round decimal ties away
  from zero) → cast back to DOUBLE.

This costs a little CPU versus double sums, but the aggregate input is
exact so the result is bit-identical across engines, partition counts, and
reduction orders — which is also the property you want at 1000-executor
scale, where double-sum reduction order is nondeterministic run-to-run.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MONEY = "decimal(18,2)"


def asc_seq(start: Column, stop: Column) -> Column:
    """``sequence(start, stop)`` that is EMPTY when ``stop < start``.

    Spark's ``sequence()`` defaults the step to -1 when start > stop, so
    ``sequence(1, 0)`` yields a DESCENDING ``[1, 0]`` — not the empty
    array that DuckDB's ``range(start, stop+1)`` (and every oracle in this
    repo) produces. A descending index sequence then feeds 0/negative
    positions into ``slice``/``element_at`` and raises a
    SparkRuntimeException on otherwise-valid short inputs. Every computed
    index fan-out must use this instead of raw ``F.sequence``.
    """
    return F.when(stop >= start, F.sequence(start, stop)).otherwise(
        F.array().cast("array<int>")
    )


def money(c: Column | str) -> Column:
    """Exact 2-dp decimal view of a money/rate column stored as double."""
    col = F.col(c) if isinstance(c, str) else c
    return col.cast(MONEY)


def dsum(expr: Column, scale: int = 2) -> Column:
    """Exact decimal SUM rounded at ``scale``, returned as double."""
    return F.round(F.sum(expr), scale).cast("double")


def disc_price() -> Column:
    """l_extendedprice * (1 - l_discount), exact decimal(·,4)."""
    return money("l_extendedprice") * (F.lit(1) - money("l_discount"))


# -- integer-cents fast path -------------------------------------------------
#
# The decimal pattern above is exact but pays a per-row price: a
# decimal(18,2) × decimal(19,2) product has result precision 38, which
# drops Spark's Decimal out of its compact-long representation into the
# JavaBigDecimal path for every row (measured 2× on the flagship star
# aggregate at sf0.1 — see OPTIMIZATION_r09.md). The SAME exact values can
# be computed in whole-stage-codegen long arithmetic:
#
#   cents(x)   = (x·100 + signum(x)·0.5) as long — exact for 2-dp money
#                doubles: the true value is k/100, its double is within
#                1 ulp, so x·100 lands within a few ulps of the integer k
#                and the half-add-then-truncate recovers k exactly for
#                either sign (|k| < 2^52). NOT F.round(): Spark's double
#                round goes through BigDecimal.valueOf (a Double.toString
#                per row) — measured 3× slower than this pure-codegen
#                form, which costs the same as a double multiply.
#   products   = long · long              — e.g. cents(p)·(100−cents(d))
#                is the disc_price numerator in 10⁻⁴-dollar units; bounded
#                by ~1e11/row even at ×128 magnitudes (long-safe).
#   SUM        = decimal(38,0) fold of the long products — cast(long) is a
#                compact decimal, and Decimal.+ of equal-scale compacts
#                stays in checked long adds until genuine overflow, so the
#                aggregation buffer never touches BigDecimal at any scale
#                (same fold the stats/eventseries operators standardized
#                on in r7; overflow-sweep safe).
#   result     = SUM / 10^scale, rounded — ONE decimal division per GROUP
#                (not per row). The quotient's true scale ≤ 6, Spark's
#                division result type is decimal(38,6), so the division is
#                exact and ROUND(·, s) matches ROUND(SUM(decimal), s)
#                bit-for-bit; decimal→double conversion is value-based
#                (correctly rounded in both Decimal.toDouble paths), so
#                the final double equals the decimal pattern's.
#
# Every query converted to this path is oracle-hash-verified at
# sf0.001/0.01/0.1 against the UNCHANGED decimal-SQL oracle.


def cents(c: Column | str, scale: int = 2) -> Column:
    """Exact scaled-integer (long) view of a ``scale``-dp money double.

    Half-add-then-truncate (sign-aware) instead of ``F.round`` — see the
    module comment above; exact for any ``scale``-dp value of either sign
    with |scaled value| < 2⁵², NULL-propagating like a cast."""
    col = F.col(c) if isinstance(c, str) else c
    return (col * (10**scale) + F.signum(col) * F.lit(0.5)).cast("long")


def disc_price_cents() -> Column:
    """disc_price in 10⁻⁴-dollar integer units (long)."""
    return cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))


def charge_cents() -> Column:
    """charge in 10⁻⁶-dollar integer units (long)."""
    return disc_price_cents() * (F.lit(100) + cents("l_tax"))


def csum(units: Column, unit_scale: int = 2) -> Column:
    """Exact decimal SUM of integer money units, as dollars: equals
    ``F.sum(decimal_expr)`` for the equivalent decimal product, with the
    per-row work in long codegen. Result is decimal(38,6) (exact — the
    true scale is ≤ ``unit_scale`` ≤ 6)."""
    return F.sum(units.cast("decimal(38,0)")) / F.lit(10**unit_scale)


def cdsum(units: Column, unit_scale: int = 2, round_scale: int = 2) -> Column:
    """``dsum`` on the integer-cents path: ROUND(SUM, round_scale)::DOUBLE."""
    return F.round(csum(units, unit_scale), round_scale).cast("double")


def charge() -> Column:
    """disc_price * (1 + l_tax), exact decimal(·,6).

    The intermediate is re-capped at decimal(18,4) (its true scale) so the
    second product stays within precision 38 in both Spark and DuckDB.
    """
    return disc_price().cast("decimal(18,4)") * (F.lit(1) + money("l_tax"))


# SQL fragments for the DuckDB oracle — keep in lockstep with the columns above.
SQL_DISC_PRICE = "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"
SQL_CHARGE = (
    f"CAST({SQL_DISC_PRICE} AS DECIMAL(18,4)) * (1 + CAST(l_tax AS DECIMAL(18,2)))"
)
