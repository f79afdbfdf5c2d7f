from __future__ import annotations

import contextlib
import itertools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from graph_etl_pipeline_spark.session import get_spark

    yield get_spark()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


_job_groups = itertools.count()


@contextlib.contextmanager
def job_group(spark):
    """Run the block in a fresh Spark job group with AQE off, so the job
    fan is deterministic. Yields a function that returns the number of
    jobs the group has fired so far; job-count pins assert on it."""
    sc = spark.sparkContext
    group = f"job_pin_{next(_job_groups)}"
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup(group, "job-count pin")
    try:
        yield lambda: len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup(None, None)
        spark.conf.set("spark.sql.adaptive.enabled", old)
