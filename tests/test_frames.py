"""The one driver-side frame path (``core/frames.py``): Arrow-built
``LocalRelation`` frames equal to the classic pickled-row
``createDataFrame``, timestamps in Python rows refused, and no other
``createDataFrame`` call in the package outside the REST connector."""

from __future__ import annotations

import datetime as dt
import pathlib
import re

import pytest

from sahithi_metamorph_etl_spark.core.frames import local_frame, localize

_SCHEMA = (
    "id bigint, n int, x double, s string, ok boolean, d date, v array<double>"
)
_ROWS = [
    (1, 7, 0.5, "a", True, dt.date(2024, 1, 31), [1.0, -2.5]),
    (2**40, -3, -1e300, "ünï", False, dt.date(1970, 1, 1), []),
    (None, None, None, None, None, None, None),
    (4, 0, 0.0, "", True, dt.date(2000, 2, 29), [None, 3.0]),
]


def _plan_node(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()


@pytest.mark.parametrize("rows", [_ROWS, []], ids=["rows", "empty"])
def test_local_frame_equals_classic_create(spark, rows):
    got = local_frame(spark, rows, _SCHEMA)
    want = spark.createDataFrame(rows, _SCHEMA)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert _plan_node(got) == "LocalRelation"


def test_local_frame_accepts_struct_type_and_arrow(spark):
    want = spark.createDataFrame(_ROWS, _SCHEMA)
    assert local_frame(spark, _ROWS, want.schema).collect() == want.collect()
    back = localize(want)
    assert back.schema == want.schema
    assert back.collect() == want.collect()
    assert _plan_node(back) == "LocalRelation"


def test_localize_keeps_timestamps_from_arrow(spark):
    # Arrow tables carry their zone: a timestamp round-trips through
    # localize although Python rows with one are refused
    src = spark.sql("SELECT 1 AS id, TIMESTAMP'2024-03-10 02:30:00' AS ts")
    assert localize(src).collect() == src.collect()


@pytest.mark.parametrize(
    "schema", ["ts timestamp", "ts timestamp_ntz", "a array<timestamp>"]
)
def test_local_frame_refuses_timestamps_in_python_rows(spark, schema):
    with pytest.raises(ValueError, match="timestamp"):
        local_frame(spark, [], schema)


def test_local_frame_rejects_ragged_rows(spark):
    with pytest.raises(ValueError, match="2 fields"):
        local_frame(spark, [(1, "a"), (2,)], "id bigint, s string")


def test_create_dataframe_only_in_frames_and_rest():
    pkg = pathlib.Path(__file__).resolve().parent.parent / "sahithi_metamorph_etl_spark"
    allowed = {pkg / "core" / "frames.py", pkg / "sources" / "rest.py"}
    offenders = [
        f"{p.relative_to(pkg)}:{i}"
        for p in sorted(pkg.rglob("*.py"))
        if p not in allowed
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if re.search(r"\.createDataFrame\(", line)
    ]
    assert offenders == [], "build driver-side frames with core.frames.local_frame"
