from __future__ import annotations

import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMALL = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_SF_ORACLE", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from arc_spark.session import get_spark

    s = get_spark(app_name="arc-spark-tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_small() -> str:
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_oracle() -> str:
    return SF_ORACLE


class SparkJobProbe:
    """Spark jobs started while a block runs, read from the status store
    by job id — whatever job group they ran under (the query registry
    sets its own group, so a job-group probe misses the Spark route)."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()

    def ids(self) -> set[int]:
        # jobs reach the status store through the async listener bus
        self._sc.listenerBus().waitUntilEmpty()
        it = self._sc.statusStore().jobsList(None).iterator()
        out = set()
        while it.hasNext():
            out.add(int(it.next().jobId()))
        return out

    @contextlib.contextmanager
    def started(self):
        """``with probe.started() as jobs:`` — on exit, ``jobs`` holds
        the ids of the jobs started inside the block, ascending."""
        before = self.ids()
        jobs: list[int] = []
        try:
            yield jobs
        finally:
            jobs.extend(sorted(self.ids() - before))


@pytest.fixture()
def spark_jobs(spark) -> SparkJobProbe:
    return SparkJobProbe(spark)
