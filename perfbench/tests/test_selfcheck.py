"""Self-check of the benchmark: deterministic inputs, checks that catch a
corrupted output, and a runner that prints every declared metric.

    python3 -m pytest perfbench/tests -q

The last test runs each workload once (about two minutes per workload);
it is skipped unless PERFBENCH_E2E=1.
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import layers  # noqa: E402
import workloads  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs
    )


def test_generator_is_deterministic(tmp_path):
    gen.generate(11, str(tmp_path / "a"))
    gen.generate(11, str(tmp_path / "b"))
    gen.generate(12, str(tmp_path / "c"))
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))


@pytest.fixture(scope="module")
def truth(tmp_path_factory):
    return gen.gen_kg(5, str(tmp_path_factory.mktemp("kg")))


def _expected_state(truth):
    """The state rows a correct ingest produces, built from the truth."""
    fac_rows = [{"uid": gen.uid(n), "name": n, **f} for n, f in truth["facilities"].items()]
    names = {n for n, _, _ in truth["edges"]}
    item_rows = [(gen.uid(n), n) for n in sorted(names)]
    item_rows += [(f"pad{i}", f"pad{i}") for i in range(truth["items"] - len(item_rows))]
    edge_rows = [(gen.uid(n), gen.uid(t), r) for n, t, r in truth["edges"]]
    return fac_rows, item_rows, edge_rows


def test_truth_covers_the_messy_cases(truth):
    rels = {r for _, _, r in truth["edges"]}
    assert rels == {"DISPOSED_IN", "DISPOSED_AT"}
    assert all(b["unmatched_facilities"] > 0 for b in truth["batches"])
    assert any(b["csv_rows"] > b["items_loaded"] for b in truth["batches"])  # markers, blanks
    assert {"rule"} <= {via for r in truth["routes"].values() for _, via in r}
    assert any(not lk["expect"] for lk in truth["lookups"])  # misses


def test_checks_accept_the_truth(truth):
    fac_rows, item_rows, edge_rows = _expected_state(truth)
    assert workloads.check_state(truth, fac_rows, item_rows, edge_rows) == []
    routes = [(i, s, v) for i, r in truth["routes"].items() for s, v in r]
    assert workloads.check_routes(truth["routes"], routes) == []
    for lk in truth["lookups"]:
        cols = {"item": ("rel_type", "name"), "facility_items": ("name",)}.get(
            lk["kind"], ("name",) + gen.FIELDS
        )
        rows = [dict(zip(cols, r)) for r in lk["expect"]]
        assert workloads.check_lookup(lk, rows) == []


def test_corrupted_output_raises_the_error_rate(truth):
    """One dropped edge, one wrong route, one wrong lookup answer: each
    is a failed operation, so the error rate is above zero."""
    fac_rows, item_rows, edge_rows = _expected_state(truth)
    checks = workloads.Checks()
    checks.record("state", workloads.check_state(truth, fac_rows, item_rows, edge_rows[1:]))
    routes = [(i, s, v) for i, r in truth["routes"].items() for s, v in r]
    routes[0] = (routes[0][0], gen.uid("Biotonne") + "x", routes[0][2])
    checks.record("routes", workloads.check_routes(truth["routes"], routes))
    lk = next(lk for lk in truth["lookups"] if lk["kind"] == "facility_items" and lk["expect"])
    checks.record("lookup", workloads.check_lookup(lk, [{"name": r[0]} for r in lk["expect"][1:]]))
    checks.record("batch", workloads.check_batch_stats(
        truth["batches"][0], {**truth["batches"][0], "unmatched_facilities": 0}))
    assert checks.attempted == 4 and checks.failed == 4
    assert checks.failed / checks.attempted > 0


class _Rows:
    """What the oracle check reads of a collected DataFrame, without Spark."""

    def __init__(self, schema, rows):
        self.schema, self.columns, self._rows = schema, schema.fieldNames(), rows

    def collect(self):
        return self._rows


def test_oracle_check_catches_missing_rows_and_type_drift(tmp_path):
    from pyspark.sql import types as T

    gen.gen_tables(4, str(tmp_path))
    compare = workloads.parity().compare
    sql = "SELECT r_name AS s, r_regionkey AS k FROM region"
    schema = T.StructType([T.StructField("k", T.LongType()), T.StructField("s", T.StringType())])
    rows = list(enumerate(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]))
    assert compare(_Rows(schema, rows[::-1]), sql, str(tmp_path)) == []
    assert compare(_Rows(schema, rows[1:]), sql, str(tmp_path))
    # equal values, other type class: DuckDB sums integers to a HUGEINT
    total = T.StructType([T.StructField("k", T.LongType())])
    drift = compare(_Rows(total, [(10,)]), "SELECT SUM(r_regionkey) AS k FROM region", str(tmp_path))
    assert any("type drift" in p for p in drift)


def test_quantile_estimator():
    from run import hd_quantile

    xs = [float(x) for x in range(101)]
    assert hd_quantile(xs[::-1], 0.5) == pytest.approx(50.0)
    assert hd_quantile(xs, 0.9) == pytest.approx(90.4, abs=0.1)
    assert hd_quantile([7.0] * 14, 0.9) == pytest.approx(7.0)
    # the median of an even sample sits between the middle two, and one
    # sample crossing the middle moves it by less than the gap it crosses
    low = [1.0, 2.0, 3.0, 10.0, 11.0, 12.0]
    assert 3.0 < hd_quantile(low, 0.5) < 10.0
    moved = hd_quantile([1.0, 2.0, 10.5, 10.0, 11.0, 12.0], 0.5) - hd_quantile(low, 0.5)
    assert 0 < moved < (10.0 - 3.0) / 2


def test_declared_names_match_the_runner():
    spec = _spec()
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    assert [m["name"] for m in spec["per_layer"]] == list(layers.METRICS)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.METRICS


@pytest.mark.skipif(os.environ.get("PERFBENCH_E2E") != "1", reason="set PERFBENCH_E2E=1")
@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_runner_prints_every_metric(workload, trace):
    spec = _spec()
    cmd = spec["command"] + ["--workload", workload, "--seed", "3", "--seconds", "1",
                             "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    declared = spec["per_layer"] if trace else spec["end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
