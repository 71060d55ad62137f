"""Quantile / tiering operators (SURVEY.md A6 + P10).

The reference computes loyalty-tier cutoffs with a driver-side
``approxQuantile(..., 0.01)`` action (`m_customer_sales_report_task.py:169-174`)
then bakes the scalars into the plan. Both styles are supported:

- ``approx_quantiles``: Greenwald-Khanna sketch, one pass, the right call
  at 100 TB (error budget explicit);
- ``inplan_quantiles``: exact ``percentile`` as a 1-row frame joined
  onto the plan — deterministic, used where results are hash-compared
  against an oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def approx_quantiles(df: DataFrame, col: str, probs: list[float], rel_err: float = 0.01) -> list[float]:
    return df.approxQuantile(col, probs, rel_err)


def inplan_quantiles(df: DataFrame, col: str, probs: list[float], names: list[str]) -> DataFrame:
    """Exact percentiles as a 1-row DataFrame — broadcast it onto the
    plan instead of collecting scalars: the whole pipeline stays ONE
    job (no extra action re-running the upstream, unlike the
    reference's approxQuantile at `m_customer_sales_report_task.py:169-174`)."""
    return df.agg(
        *[
            F.expr(f"percentile({col}, {p})").alias(name)
            for p, name in zip(probs, names)
        ]
    )


def tier_by_cutoffs(
    amount: Column,
    silver: Column | float,
    gold: Column | float,
    labels: tuple[str, str, str] = ("GOLD", "SILVER", "BRONZE"),
) -> Column:
    """Reference tier CASE (`m_customer_sales_report_task.py:177-186`):
    GOLD strictly above ``gold``, SILVER in [silver, gold], else BRONZE.
    Cutoffs may be Python scalars (driver-action style) or Columns
    (in-plan style via :func:`inplan_quantiles`)."""
    return (
        F.when(amount > gold, labels[0])
        .when(amount.between(silver, gold), labels[1])
        .otherwise(labels[2])
    )
