"""Deterministic money rounding.

Spark's ``round()`` on doubles goes through the shortest decimal
representation (BigDecimal HALF_UP) while DuckDB and most other engines
round in binary float math — the two disagree whenever the true product
lands on an exact ``x.xx5`` boundary, which happens constantly for
2-decimal prices times 2-decimal discount factors (SURVEY.md §7 hazard
(3), observed in practice on the customer-sales-report mart).

``dround`` is round-half-away-from-zero computed with plain IEEE ops
(sign/abs/mul/add/floor/div) so ANY engine that evaluates the same
expression on the same double produces the same bits. The catalog uses
it on every monetary output; ``o_round`` emits the identical expression
for the DuckDB oracle side.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dround(c: Column, scale: int = 2) -> Column:
    """Round half away from zero, bit-reproducible across engines."""
    f = float(10 ** scale)
    return F.signum(c) * F.floor(F.abs(c) * f + F.lit(0.5)) / f


def o_round(expr: str, scale: int = 2) -> str:
    """DuckDB SQL twin of :func:`dround` (same IEEE op sequence)."""
    f = float(10 ** scale)
    return f"(sign({expr}) * floor(abs({expr}) * {f} + 0.5) / {f})"


# --- exact (order-independent) money aggregation --------------------------
#
# A double sum depends on partition/accumulation ORDER, so two engines can
# disagree by an ulp — which flips a 2dp rounding whenever the true total
# lands on a .005 boundary (common: prices and discounts are 2dp decimals).
# Money aggregates therefore sum in scaled BIGINT micro-units: each double
# rounds (half-away, pure IEEE ops — a deterministic function of the
# double's bits, identical in any engine) to an integer count of 1e-6
# units, and integer addition is exact and order-independent. Unlike a
# DECIMAL(38,6) sum this stays on the primitive-long whole-stage-codegen
# path — the decimal form boxes every row through BigDecimal and measured
# ~35% slower on the fact-table aggregates at sf0.1.
#
# Range: exact while |total| < 2^53 micro-units (~9.0e9 money units);
# above that the final double conversion loses sub-cent precision but
# stays deterministic (same bigint → same double). The bigint sum itself
# errors loudly (ANSI overflow) past ~9.2e12 money units — for totals
# beyond that, aggregate with ``dec_sum`` (exact DECIMAL(38,6), slower).

_UNIT_SCALE = 6
_UNIT_F = float(10**_UNIT_SCALE)


def money_units(c: Column) -> Column:
    """Money double -> exact BIGINT micro-units (half-away rounding with
    the same IEEE op sequence as :func:`dround`)."""
    return (F.signum(c) * F.floor(F.abs(c) * _UNIT_F + F.lit(0.5))).cast("bigint")


def o_money_units(expr: str) -> str:
    return f"CAST(sign({expr}) * floor(abs({expr}) * {_UNIT_F} + 0.5) AS BIGINT)"


def usum(c: Column) -> Column:
    """Exact order-independent sum in BIGINT micro-units — the fast-path
    aggregation representation. Re-aggregate freely (bigint + bigint is
    exact); convert once at the edge with ``from_units``."""
    return F.sum(money_units(c))


def o_usum(expr: str) -> str:
    return f"sum({o_money_units(expr)})"


def from_units(c: Column) -> Column:
    """Micro-units BIGINT -> money double."""
    return c / F.lit(_UNIT_F)


def o_from_units(expr: str) -> str:
    return f"({expr} / {_UNIT_F})"


def dec_sum(c: Column) -> Column:
    """Exact decimal sum of a money expression — the wide-range slow
    path (use when totals can exceed ~9.2e12 money units; see module
    docstring)."""
    return F.sum(c.cast("decimal(38,6)"))


def dsum(c: Column, scale: int = 2) -> Column:
    """Deterministic rounded sum of a money column, returned as double."""
    return dround(from_units(usum(c)), scale)


# The bigint micro-unit accumulator overflows (loud ANSI error, never a
# silent wrap) when |total| exceeds LONG_MAX micro-units:
_USUM_MAX_ABS_TOTAL = (2**63 - 1) / _UNIT_F  # ~9.22e12 money units


def checked_sum(c: Column, max_abs_total: float, scale: int = 2) -> Column:
    """Rounded money sum with the representation chosen AT PLAN TIME from
    a caller-declared worst-case ``|total|`` bound: the codegen-friendly
    bigint micro-unit path when the bound provably fits the accumulator
    (with 1000x headroom for skewed partial aggregates), else the exact
    DECIMAL(38,6) path. Call sites no longer have to remember the
    ~9.2e12 usum boundary themselves; declaring a loose bound costs only
    the ~35% decimal-path slowdown, never correctness."""
    if max_abs_total <= _USUM_MAX_ABS_TOTAL / 1000.0:
        return dround(from_units(usum(c)), scale)
    return dround(dec_sum(c).cast("double"), scale)


def davg(c: Column, scale: int = 2) -> Column:
    """Deterministic rounded mean: exact micro-unit sum → double → /count."""
    return dround(from_units(usum(c)) / F.count(c), scale)


def o_dsum(expr: str, scale: int = 2) -> str:
    return o_round(o_from_units(o_usum(expr)), scale)


def o_davg(expr: str, scale: int = 2) -> str:
    return o_round(f"({o_from_units(o_usum(expr))} / count({expr}))", scale)
