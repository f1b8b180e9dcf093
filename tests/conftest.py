from __future__ import annotations

import contextlib
import os
import time
import uuid

import pytest

from sqltask_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        app_name="sqltask_spark_tests",
        master="local[4]",
        conf={
            "spark.sql.shuffle.partitions": "4",
            "spark.ui.enabled": "false",
            "spark.driver.memory": "4g",
            # Plan tests assert BroadcastHashJoin on dimension joins.
            # Queries only HINT the constant-size dims (region/nation);
            # SF-scaled dims (customer/supplier/part) must be chosen by
            # Catalyst's size-based planning, so pin the threshold the
            # assertions rely on at test scale (10 MB = Spark default).
            "spark.sql.autoBroadcastJoinThreshold": "10485760",
        },
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def tables(spark, sf_dir):
    from sqltask_spark.data import load_tables

    return load_tables(spark, sf_dir)


_JOB_GROUP_PROPS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)


class JobCount:
    """The number of Spark jobs a :func:`counted_jobs` block launched,
    set when the block exits."""

    n: int | None = None


@contextlib.contextmanager
def counted_jobs(spark):
    """Count the Spark jobs the block launches: it runs under a job
    group of its own, read back through the public
    ``statusTracker().getJobIdsForGroup``; the caller's job group is
    restored afterwards.

    The status tracker learns of a job from the listener bus, which
    may lag the action that ran it. So on exit one sentinel job runs
    under a second group; once the tracker has seen it, it has seen
    every job the block started before it."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    saved = {k: sc.getLocalProperty(k) for k in _JOB_GROUP_PROPS}
    tag = f"counted-jobs-{uuid.uuid4().hex}"
    count = JobCount()
    sc.setJobGroup(tag, "counted_jobs")
    try:
        yield count
    finally:
        sc.setJobGroup(f"{tag}-sentinel", "counted_jobs sentinel")
        try:
            spark.range(1).count()
            deadline = time.monotonic() + 30
            while not tracker.getJobIdsForGroup(f"{tag}-sentinel"):
                if time.monotonic() > deadline:
                    raise TimeoutError("sentinel job never reached the tracker")
                time.sleep(0.01)
        finally:
            for k, v in saved.items():
                sc.setLocalProperty(k, v)
        count.n = len(tracker.getJobIdsForGroup(tag))


@pytest.fixture
def jobs(spark):
    """``with jobs() as c: ...`` then ``c.n`` — see :func:`counted_jobs`."""
    return lambda: counted_jobs(spark)
