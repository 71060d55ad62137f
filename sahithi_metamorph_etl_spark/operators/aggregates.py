"""Aggregation operators (SURVEY.md §2.4)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def duplicate_keys(df: DataFrame, keys: list[str]) -> DataFrame:
    """Key groups with >1 row (reference A5/Q1, `utils.py:136-140`).

    Returns (keys..., n_rows). The validator uses ``limit(1)`` on this to
    gate writes cheaply; exposed as a DataFrame so it is also a query.
    """
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .filter(F.col("n_rows") > 1)
    )


def dedupe_by_key(
    df: DataFrame,
    keys: list[str],
    order_by: list[Column] | None = None,
) -> DataFrame:
    """Keep exactly ONE row per key, deterministically.

    ``dropDuplicates`` keeps an arbitrary row (whichever partition wins);
    here the survivor is the first row under ``order_by`` (default: all
    non-key columns ascending, nulls last — a total order over the
    payload so reruns and engine changes keep the same row). One shuffle
    on the keys; the window ranks within each key group only.
    """
    from pyspark.sql import Window

    if order_by is None:
        order_by = [
            F.col(c).asc_nulls_last() for c in df.columns if c not in keys
        ]
        if not order_by:  # key-only frame: rows are indistinguishable
            return df.dropDuplicates(keys)
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )

