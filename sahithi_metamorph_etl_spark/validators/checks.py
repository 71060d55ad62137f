"""Pre-publish data-quality gates (SURVEY.md §2.11 Q1).

Reference: ``DuplicateValidator.validate_no_duplicates``
(`utils.py:116-142`) raises if any key group has more than one row; plus
empty-payload guards (`ingestion_task.py:32-33`). Differences here:

- the duplicate probe is ``limit(1)`` — on a 100 TB input the reference's
  full count of all duplicate groups is an unbounded extra job; one
  surviving row is enough to fail the gate;
- the empty probe is ``isEmpty()``: one job that stops at the first
  non-empty partition;
- each check is its own bounded action over the frame it is given and
  returns the frame unchanged. The package's ingest task
  (``marts/flow.py``) audits the staged raw snapshot, not the source
  lineage: it writes the lineage once, reads the parquet back, gates it,
  and only then publishes it to the legacy layer, so the checks scan
  parquet instead of recomputing joins and shuffles. A gate on an
  unstaged frame re-runs its whole lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..operators.aggregates import duplicate_keys


class DuplicateKeyError(Exception):
    pass


class EmptyInputError(Exception):
    pass


class SchemaMismatchError(Exception):
    pass


def validate_unique(df: DataFrame, keys: list[str]) -> DataFrame:
    """Raise DuplicateKeyError if (keys) is not a unique key of df."""
    offender = duplicate_keys(df, keys).limit(1).collect()
    if offender:
        raise DuplicateKeyError(f"duplicate key {keys}: {offender[0].asDict()}")
    return df


def validate_non_empty(df: DataFrame, what: str = "input") -> DataFrame:
    if df.isEmpty():
        raise EmptyInputError(f"{what} is empty")
    return df


def validate_schema(df: DataFrame, schema: T.StructType, strict_nullability: bool = False) -> DataFrame:
    """Name+type conformance (order-insensitive). Nullability is advisory
    unless ``strict_nullability`` (parquet round-trips widen nullability)."""
    have = {f.name: f for f in df.schema.fields}
    problems = []
    for want in schema.fields:
        got = have.get(want.name)
        if got is None:
            problems.append(f"missing column {want.name}")
        elif got.dataType != want.dataType:
            problems.append(f"{want.name}: {got.dataType.simpleString()} != {want.dataType.simpleString()}")
        elif strict_nullability and got.nullable and not want.nullable:
            problems.append(f"{want.name}: nullable but contract requires NOT NULL")
    if problems:
        raise SchemaMismatchError("; ".join(problems))
    return df
