from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from data_ingestion_spark.session import get_spark

    s = get_spark("engine-tests", cpus=8)
    yield s
    s.stop()


def jobs_in_group(spark, fn, group: str) -> tuple[int, set]:
    """(jobs run inside ``group``, jobs run outside any group) by ``fn``."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    outside_before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    outside = set(tracker.getJobIdsForGroup(None)) - outside_before
    return len(tracker.getJobIdsForGroup(group)), outside


def tasks_in_group(spark, fn, group: str) -> list[int]:
    """Result-stage task count of every job ``fn`` runs inside
    ``group``, in job order, read from the status store: the width of
    each write or collect. A job that only materializes a shuffle (an
    adaptive-execution map stage) has no result stage and reports 0,
    so ``len`` of the list is the job count. A streaming query runs
    its micro-batches in a group of its own, its ``runId``: when ``fn``
    returns a (finished) streaming query, that group's jobs are
    reported instead."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        ran = fn()
    finally:
        sc._jsc.clearJobGroup()
    if hasattr(ran, "runId"):
        group = str(ran.runId)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store, tracker = jsc.statusStore(), sc.statusTracker()
    out = []
    for j in sorted(tracker.getJobIdsForGroup(group)):
        last = store.lastStageAttempt(max(tracker.getJobInfo(j).stageIds))
        shuffles = last.shuffleWriteRecords() > 0 or last.shuffleWriteBytes() > 0
        out.append(0 if shuffles else int(last.numTasks()))
    return out
