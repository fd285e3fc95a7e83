from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from openie_spark.session import get_spark

    s = get_spark(app_name="openie-tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture
def job_ids(spark):
    """``job_ids(group, fn)`` → (fn(), ids of the Spark jobs fn ran),
    fn run in job group ``group``."""
    sc = spark.sparkContext

    def run(group: str, fn):
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)
        sc._jsc.sc().listenerBus().waitUntilEmpty()   # the tracker is fed async
        return out, list(sc.statusTracker().getJobIdsForGroup(group))
    return run


def rows(df):
    return [tuple(r) for r in df.collect()]
