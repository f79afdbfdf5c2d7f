"""Per-corpus keys. io.memo, the one per-corpus memo: key = (name,
applicationId, sorted input files of the frames, *extra). Entries of
other applications are dropped on sight; a new file set for the same
(name, extra) replaces the old entry; refresh=True rebuilds. io.materialize
addresses a table by plan and input files."""

from __future__ import annotations

import pathlib
import re

from pyspark.sql import functions as F

from graph_etl_pipeline_spark import io
from graph_etl_pipeline_spark.operators import pairs


def _counter():
    calls = []

    def build():
        calls.append(len(calls))
        return len(calls)

    return calls, build


def test_memo_hit_builds_once(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(3).write.parquet(path)
    calls, build = _counter()
    assert io.memo("test_hit", [spark.read.parquet(path)], build, "x") == 1
    assert io.memo("test_hit", [spark.read.parquet(path)], build, "x") == 1
    assert len(calls) == 1


def test_in_place_rewrite_leaves_one_hot_probe_entry(spark, tmp_path):
    """A corpus rewritten in place keeps its plan hash but changes its
    input files: the probe runs again, and the new verdict replaces the
    old one instead of sitting next to it."""
    path = str(tmp_path / "g.parquet")
    sel = lambda j: j.select(F.col("a.o").alias("oa"), F.col("b.o").alias("ob"))  # noqa: E731

    def probe_entries(df):
        return [
            v
            for k, v in io._MEMO.items()
            if k[0] == "hot_probe" and k[3:] == (df.semanticHash(), "k", 4)
        ]

    spark.createDataFrame([("a", i) for i in range(3)], "k string, o int").write.parquet(path)
    small = spark.read.parquet(path)
    pairs.bounded_self_pairs(small, "k", "o", 4, sel).count()
    assert probe_entries(small) == [False]

    spark.createDataFrame([("a", i) for i in range(6)], "k string, o int").write.mode(
        "overwrite"
    ).parquet(path)
    big = spark.read.parquet(path)
    assert big.semanticHash() == small.semanticHash()
    assert pairs.bounded_self_pairs(big, "k", "o", 4, sel).count() == 15
    assert probe_entries(big) == [True]


def test_entries_of_other_applications_are_dropped(spark):
    stale = ("test_other_app", "app-that-stopped", ())
    io._MEMO[stale] = "dead session frame"
    _, build = _counter()
    io.memo("test_live_app", [spark.range(1)], build)
    assert stale not in io._MEMO


def test_refresh_rebuilds(spark):
    df = spark.range(1)
    calls, build = _counter()
    assert io.memo("test_refresh", [df], build) == 1
    assert io.memo("test_refresh", [df], build, refresh=True) == 2
    assert io.memo("test_refresh", [df], build) == 2
    assert len(calls) == 2


def test_materialize_keeps_checkpointed_plans_apart(spark):
    """Two checkpointed frames render the same plan text and read no file;
    the second must not be served the first one's table."""
    first = spark.range(3).localCheckpoint()
    second = spark.range(5).localCheckpoint()
    assert io.materialize(first, "test_ckpt_plan").count() == 3
    assert io.materialize(second, "test_ckpt_plan").count() == 5


def test_only_io_and_catalog_read_input_files():
    """Per-corpus keys are built in one place: outside io.py (memo,
    materialize, the parallelism floor) and catalog.py (view snapshots)
    no module calls DataFrame.inputFiles()."""
    pkg = pathlib.Path(io.__file__).parent
    owners = {pkg / "io.py", pkg / "catalog.py"}
    offenders = [
        f"{path.relative_to(pkg)}:{n}"
        for path in sorted(pkg.rglob("*.py"))
        if path not in owners
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if re.search(r"\.inputFiles\(", line)
    ]
    assert offenders == []
