"""``session.local_frame``: driver-built frames through Arrow.

The helper must be a drop-in for ``spark.createDataFrame(rows, schema)``
on every type the engine's call sites build frames from — same schema,
same collected rows — while starting no Python worker.
"""

from __future__ import annotations

import datetime
import time

import pytest
from pyspark import SparkContext
from pyspark.sql import types as T

from agol_pandas_spark.session import local_frame

BIG = 2**53 + 1

SCHEMA = T.StructType([
    T.StructField("b", T.ByteType()),
    T.StructField("s", T.ShortType()),
    T.StructField("i", T.IntegerType()),
    T.StructField("id", T.LongType()),
    T.StructField("str", T.StringType()),
    T.StructField("d", T.DateType()),
    T.StructField("x", T.DoubleType()),
    T.StructField("ok", T.BooleanType()),
    T.StructField("ts", T.TimestampType()),
])

ROWS = [
    (1, 300, 70000, BIG, "a", datetime.date(2020, 2, 29), 1.5, True,
     datetime.datetime(2021, 3, 14, 1, 59, 26, 535897)),
    (-128, -32768, -2**31, -BIG, "", datetime.date(1969, 12, 31), -0.0, False,
     datetime.datetime(1969, 12, 31, 23, 59, 59, 999999)),
    (None, None, None, None, None, None, None, None, None),
    (127, 32767, 2**31 - 1, 2**63 - 1, "ü", datetime.date(1, 1, 1), 1e308,
     None, datetime.datetime(2021, 3, 14, 1, 0, tzinfo=datetime.timezone.utc)),
]


@pytest.fixture()
def local_tz(monkeypatch):
    """A process-local time zone off UTC: the list path reads a naive
    ``datetime`` in it, and so must the helper."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


@pytest.mark.parametrize("rows", [ROWS, []], ids=["rows", "empty"])
def test_local_frame_matches_list_path(spark, local_tz, rows):
    want = spark.createDataFrame(rows, SCHEMA)
    got = local_frame(spark, rows, SCHEMA)
    assert got.schema == want.schema == SCHEMA
    assert got.collect() == want.collect()


def test_local_frame_starts_no_job_or_python_rdd(spark, monkeypatch):
    def refuse(*a, **kw):
        raise AssertionError("a Python RDD was built")

    monkeypatch.setattr(SparkContext, "parallelize", refuse)
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    before = sched.nextJobId()
    df = local_frame(spark, ROWS, SCHEMA)
    assert sched.nextJobId() == before
    assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()
    assert df.count() == len(ROWS)
