"""Shared Spark session for the test suite.

Session-scoped (JVM startup is ~10 s); local[4] with 4 shuffle
partitions is plenty for correctness tests — bench.py owns perf runs.
"""

from __future__ import annotations

import contextlib
import os
import time

import pytest

from qms_datawarehouse_spark.session import get_spark

SF_DIR = os.environ.get("QMS_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("QMS_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("qms-tests", master="local[4]", shuffle_partitions=4)
    yield spark


@pytest.fixture()
def warehouse(spark, tmp_path):
    from qms_datawarehouse_spark.warehouse import ParquetWarehouse

    return ParquetWarehouse(spark, str(tmp_path / "wh"))


_JOB_GROUP_PROPS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)


@pytest.fixture()
def jobs_in_group(spark):
    """``with jobs_in_group("g") as ids:`` runs the block under Spark job
    group ``g``; on exit ``ids`` holds the ids of the jobs Spark
    attributed to ``g`` and the thread's group is cleared again."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    @contextlib.contextmanager
    def in_group(group):
        sc.setJobGroup(group, group)
        try:
            yield
        finally:
            for prop in _JOB_GROUP_PROPS:
                sc.setLocalProperty(prop, None)

    @contextlib.contextmanager
    def run(group):
        ids: list[int] = []
        with in_group(group):
            yield ids
        # the status store applies listener events in order: once a
        # later fence job is visible, every job the block ran is too
        fence = f"{group}-fence"
        with in_group(fence):
            sc.parallelize([1], 1).count()
        deadline = time.monotonic() + 30
        while not tracker.getJobIdsForGroup(fence):
            assert time.monotonic() < deadline, "fence job never recorded"
            time.sleep(0.05)
        ids.extend(tracker.getJobIdsForGroup(group))

    return run
