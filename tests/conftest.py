from __future__ import annotations

import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="aldean-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def spark_jobs(spark):
    """``spark_jobs(fn, tag)``: (fn's result, the Spark jobs it ran). A
    control job in a second group follows it: status events arrive in
    order, so once the control job is listed every job ``fn`` ran is
    listed too."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def run(fn, tag: str):
        group = f"test-{tag}-{time.monotonic_ns()}"
        sc.setJobGroup(group, tag)
        try:
            out = fn()
        finally:
            sc.setJobGroup(group + "-control", "control")
            sc.parallelize([1], 1).count()
            deadline = time.monotonic() + 30
            while not tracker.getJobIdsForGroup(group + "-control") and time.monotonic() < deadline:
                time.sleep(0.02)
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(tracker.getJobIdsForGroup(group))

    return run
