"""Join operators (SURVEY.md §2.3).

The reference's joins are plain equi-joins with ad-hoc `trim()` key
normalization (`m_supplier_performance_task.py:102,162,178`) and
anti-join semantics emulated as outer-join + null-filter
(`Raptor.py:281-290`). Here:

- key cleaning is an explicit option, applied symmetrically;
- semi/anti joins use Spark's native `left_semi`/`left_anti` (no wide
  row materialization, no null-filter pass);
- small dimensions can be broadcast explicitly — at 100 TB the fact side
  must never be shuffled for a 10 MB dimension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def join_on_clean_keys(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str | None = None,
    how: str = "inner",
    trim_keys: bool = False,
    broadcast_right: bool = False,
) -> DataFrame:
    """Equi-join with optional symmetric trim() normalization and an
    explicit broadcast hint for the right (dimension) side."""
    right_key = right_key or left_key
    r = F.broadcast(right) if broadcast_right else right
    if trim_keys:
        cond = F.trim(left[left_key]) == F.trim(r[right_key])
    else:
        cond = left[left_key] == r[right_key]
    return left.join(r, cond, how)


def semi_join(left: DataFrame, right: DataFrame, on: list[str] | str) -> DataFrame:
    """EXISTS — rows of ``left`` with a match in ``right`` (left columns only)."""
    return left.join(right, on, "left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: list[str] | str) -> DataFrame:
    """NOT EXISTS — idiomatic replacement for the reference's
    outer-join + ``filter("Target_Record is null")`` (`Raptor.py:620-645`)."""
    return left.join(right, on, "left_anti")
