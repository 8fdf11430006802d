"""overlap(): independent driver legs run concurrently, return their
results in order, re-raise a leg's failure, and keep the caller's job
group on every job they launch."""

from __future__ import annotations

import threading

import pytest

from etl_sentinel_imagery_spark.overlap import overlap
from tests.conftest import SF_DIR


def test_results_in_leg_order_and_legs_run_concurrently(spark):
    both_started = threading.Barrier(2, timeout=30)

    def leg(value):
        def run():
            both_started.wait()  # deadlocks unless both legs are live
            return value

        return run

    assert overlap(spark, leg("a"), leg("b")) == ["a", "b"]


def test_first_failing_leg_is_reraised_after_all_legs_finish(spark):
    finished = []

    def boom():
        raise KeyError("leg 0")

    def slow_ok():
        finished.append(spark.range(3).count())

    with pytest.raises(KeyError, match="leg 0"):
        overlap(spark, boom, slow_ok)
    assert finished == [3]


def test_overlapped_query_jobs_keep_the_callers_job_group(spark):
    """docs_incremental_dedup overlaps its index build with the batch's
    signature checkpoint. Run under a job group, none of its jobs may
    land ungrouped (plain pool threads start with empty JVM local
    properties, so their jobs did)."""
    from __spark_entry__ import queries

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    # job ids only grow; the tracker evicts old ones as jobs pile up
    last = max(tracker.getJobIdsForGroup(None), default=-1)
    sc.setJobGroup("overlap-test", "docs_incremental_dedup")
    try:
        queries()["docs_incremental_dedup"](spark, SF_DIR).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    assert tracker.getJobIdsForGroup("overlap-test")
    assert [j for j in tracker.getJobIdsForGroup(None) if j > last] == []
