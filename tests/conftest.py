"""Shared fixtures: one SparkSession per test run, testdata paths."""

from __future__ import annotations

import os

import pyarrow.parquet as papq
import pytest

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from agol_pandas_spark.session import get_spark

    s = get_spark(app_name="agol_pandas_spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_CORRECTNESS


@pytest.fixture(scope="session")
def catalog(spark, sf_dir):
    from agol_pandas_spark.catalog import Catalog

    return Catalog(spark, sf_dir)


def _jobs(spark, fn):
    """Spark jobs ``fn`` started, from any thread: the scheduler's job-id
    counter, not a job group (jobs submitted from pool threads do not
    inherit the caller's group)."""
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    before = sched.nextJobId()
    fn()
    return sched.nextJobId() - before


def _rebuild_failing_at(
    monkeypatch, position, rebuild,
    targets=((os, "replace"), (os, "rename"), (papq, "write_table")),
    exc=OSError,
) -> bool:
    """Run ``rebuild`` with the ``position``-th call (counted across the
    ``(module, attribute)`` functions in ``targets``; by default
    ``os.replace``, ``os.rename`` and ``pyarrow.parquet.write_table``)
    raising ``exc``. False when the rebuild finished before reaching
    that call."""
    calls = [0]

    def failing(fn):
        def call(*args, **kwargs):
            calls[0] += 1
            if calls[0] - 1 == position:
                raise exc(f"injected failure at call {position}")
            return fn(*args, **kwargs)

        return call

    with monkeypatch.context() as m:
        for mod, attr in targets:
            m.setattr(mod, attr, failing(getattr(mod, attr)))
        try:
            rebuild()
        except exc:
            if calls[0] <= position:
                raise
    return calls[0] > position
