from __future__ import annotations

import itertools

import pytest

from ftidx.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(cores=4, app_name="ftidx-tests", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def spark_jobs(spark):
    """``spark_jobs(fn)`` runs ``fn()`` under a job group of its own:
    its result and the ids of the Spark jobs it launched."""
    sc = spark.sparkContext
    groups = (f"spark-jobs-{i}" for i in itertools.count())

    def run(fn):
        group = next(groups)
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, sc.statusTracker().getJobIdsForGroup(group)
    return run
