from __future__ import annotations

import contextlib
import itertools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from graph_etl_pipeline_spark.io import SCRATCH_DIR  # noqa: E402

SF_SMOKE = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")


def listing(path):
    return set(os.listdir(path)) if os.path.isdir(path) else set()


# What the cache root and the scratch root held before any test ran; the
# scratch audit in tests/test_scratch.py checks only what the suite adds.
CACHE_AT_START = listing(os.path.dirname(SCRATCH_DIR))
SCRATCH_AT_START = listing(SCRATCH_DIR)


def pytest_collection_modifyitems(items):
    """Run the scratch audit last, so it sees every dir the suite made."""
    items.sort(key=lambda item: item.name == "test_suite_scratch_dirs_carry_a_pid")


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
