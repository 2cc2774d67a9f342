"""Jobs launched from a query's driver threads carry the caller's job
group, so a per-query job count sees all of them."""

import os
import time
import uuid

import pytest

from gpi_etl_spark import queries as Q

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="sf0.001 testdata not present"
)


def _fence(spark, tracker) -> list:
    """Run one job in a fresh group and return its job ids, once the
    status tracker reports them."""
    group = f"fence-{uuid.uuid4().hex}"
    sc = spark.sparkContext
    try:
        sc.setJobGroup(group, "fence")
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(group):
        assert time.monotonic() < deadline, "fence job never reported"
        time.sleep(0.05)
    return tracker.getJobIdsForGroup(group)


def test_q212_pool_thread_jobs_join_the_callers_job_group(spark):
    """q212 trains its coarse quantizer and its product quantizer on
    two driver threads. Every job of one warm op, those threads' jobs
    included, lands in the job group the op runs in: the group's job
    count equals the job ids spent between two fence jobs."""
    fn = Q.REGISTRY["q212_ivfadc_ann"][0]
    fn(spark, SF_DIR).collect()  # warm
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"q212-{uuid.uuid4().hex}"
    before = max(_fence(spark, tracker))
    try:
        sc.setJobGroup(group, "q212 op")
        fn(spark, SF_DIR).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    after = min(_fence(spark, tracker))
    launched = after - before - 1
    assert launched > 0
    assert len(tracker.getJobIdsForGroup(group)) == launched
