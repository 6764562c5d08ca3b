"""operators/parallel.py: run_parallel's threads run their thunks under
the caller's job group, so their jobs are labelled like the caller's, and
each thread has its own copy, so a thunk that sets its own group does not
relabel its siblings' jobs."""

from __future__ import annotations

import threading

from gridmr_spark.operators.parallel import run_parallel

_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


def _clear_job_group(sc) -> None:
    for key in _GROUP_KEYS:
        sc.setLocalProperty(key, None)


def test_thunks_see_the_callers_job_group(spark):
    sc = spark.sparkContext
    sc.setJobGroup("parallel_probe", "run_parallel label probe")
    try:
        seen = run_parallel(
            lambda: sc.getLocalProperty("spark.jobGroup.id"),
            lambda: sc.getLocalProperty("spark.jobGroup.id"),
        )
    finally:
        _clear_job_group(sc)
    assert seen == ["parallel_probe", "parallel_probe"]


def test_a_thunks_own_job_group_stays_in_its_thread(spark):
    sc = spark.sparkContext
    both_running = threading.Barrier(2, timeout=30)
    group_set = threading.Barrier(2, timeout=30)

    def relabel():
        both_running.wait()
        sc.setJobGroup("parallel_own", "set inside one thunk")
        group_set.wait()
        return sc.getLocalProperty("spark.jobGroup.id")

    def sibling():
        both_running.wait()
        group_set.wait()
        return sc.getLocalProperty("spark.jobGroup.id")

    sc.setJobGroup("parallel_caller", "run_parallel caller")
    try:
        seen = run_parallel(relabel, sibling)
        callers = sc.getLocalProperty("spark.jobGroup.id")
    finally:
        _clear_job_group(sc)
    assert seen == ["parallel_own", "parallel_caller"]
    assert callers == "parallel_caller"
