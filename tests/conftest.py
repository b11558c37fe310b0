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
