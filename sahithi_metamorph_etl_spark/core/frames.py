"""Driver-held results as Arrow-built local frames.

Many operators and catalog rows end by turning a small driver-side
result (a union-find labelling, hot keys, a one-row summary, BPE
merges) into a DataFrame. The classic ``spark.createDataFrame(rows,
schema)`` pickles the rows into an RDD, and every execution of that
frame runs a Python ``map`` stage — the first one in a JVM also starts
a Python worker pool (~1–2 s cold). An Arrow table handed to
``createDataFrame`` is decoded in the JVM into a ``LocalRelation``: a
``LocalTableScan`` with real size statistics that runs without any
Python worker.

Every driver-built frame in the package goes through this module; the
REST connector (``sources/rest.py``) keeps the classic path for its
row-level type errors on external JSON.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def _has_timestamp(dt: T.DataType) -> bool:
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return True
    if isinstance(dt, T.ArrayType):
        return _has_timestamp(dt.elementType)
    if isinstance(dt, T.MapType):
        return _has_timestamp(dt.keyType) or _has_timestamp(dt.valueType)
    if isinstance(dt, T.StructType):
        return any(_has_timestamp(f.dataType) for f in dt.fields)
    return False


def local_frame(
    spark: SparkSession, data: Sequence | pa.Table, schema: T.StructType | str
) -> DataFrame:
    """``data`` — a sequence of row tuples or a ``pyarrow.Table`` — as a
    ``LocalRelation`` frame with ``schema`` (a ``StructType`` or a DDL
    string).

    Python rows may not carry a ``timestamp``/``timestamp_ntz`` field
    (``ValueError``): the classic path reads a naive ``datetime`` in the
    Python process's local zone, Arrow reads it as UTC, so converting
    would silently shift instants. Arrow tables (e.g. from
    :meth:`DataFrame.toArrow`) carry their zone and are accepted."""
    if isinstance(schema, str):
        schema = T.DataType.fromDDL(schema)
    if not isinstance(data, pa.Table):
        if _has_timestamp(schema):
            raise ValueError(
                "local_frame: Python rows with a timestamp field would be "
                "read as UTC, not local time; pass a pyarrow.Table"
            )
        width = len(schema.fields)
        if any(len(r) != width for r in data):
            raise ValueError(f"local_frame: every row must have {width} fields")
        arrow_schema = to_arrow_schema(schema)
        data = pa.Table.from_arrays(
            [
                pa.array([r[i] for r in data], type=field.type)
                for i, field in enumerate(arrow_schema)
            ],
            schema=arrow_schema,
        )
    return spark.createDataFrame(data, schema)


def localize(df: DataFrame) -> DataFrame:
    """``df``'s rows collected once through Arrow and re-served as a
    local frame: the result no longer depends on its sources (temp
    files, persisted frames) and executing it starts no Python worker."""
    return local_frame(df.sparkSession, df.toArrow(), df.schema)
