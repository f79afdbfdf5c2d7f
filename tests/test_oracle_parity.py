"""Differential test mirroring the driver's t2 correctness gate: every
registered query with an oracle must match DuckDB on row count, schema,
and order-insensitive values (SURVEY.md §5.2)."""

from __future__ import annotations

import pytest

from graph_etl_pipeline_spark.registry import all_queries
from tests.conftest import SF_SMOKE
from tests.parity import compare

SPECS = sorted(all_queries().values(), key=lambda s: s.name)

# BroadcastNestedLoopJoin/CartesianProduct in a hot path is a scale bug.
# The only sanctioned cross join is sim_cosine_topk's 1-row broadcast
# query vector; stream_tumbling_hourly returns a scan of its stream's
# memory sink, which hides the aggregation plan.
CROSS_ALLOWED = {"sim_cosine_topk", "stream_tumbling_hourly"}


def _assert_no_cartesian(spec, df) -> None:
    if spec.name not in CROSS_ALLOWED:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, spec.name


@pytest.mark.parametrize("spec", [s for s in SPECS if s.oracle], ids=lambda s: s.name)
def test_oracle_parity(spark, spec):
    df = spec.fn(spark, SF_SMOKE)
    _assert_no_cartesian(spec, df)
    problems = compare(df, spec.oracle, SF_SMOKE)
    assert not problems, f"{spec.name}: " + "; ".join(problems)


@pytest.mark.parametrize("spec", [s for s in SPECS if s.oracle is None], ids=lambda s: s.name)
def test_rows_only(spark, spec):
    """Queries without an oracle still must run and return a stable schema."""
    df = spec.fn(spark, SF_SMOKE)
    _assert_no_cartesian(spec, df)
    assert df.columns
    assert df.count() >= 0
