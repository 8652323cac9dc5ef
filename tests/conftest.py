from __future__ import annotations

import itertools
import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from chill_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("chill_spark-tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


class SparkJobs:
    """Counts the Spark jobs started inside ``group(name)`` blocks."""

    _ids = itertools.count(1)

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext

    def new_name(self) -> str:
        return f"test-jobs-{next(self._ids)}"

    @contextmanager
    def group(self, name: str):
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", prev)

    def count(self, name: str) -> int:
        # job starts reach the status store through the listener bus
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(self.sc.statusTracker().getJobIdsForGroup(name))

    def run(self, fn):
        """(fn(), number of Spark jobs it started)."""
        name = self.new_name()
        with self.group(name):
            out = fn()
        return out, self.count(name)


@pytest.fixture
def spark_jobs(spark) -> SparkJobs:
    return SparkJobs(spark)
