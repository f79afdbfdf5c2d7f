"""io.read_parquet, the package's one parquet reader: the schema is
inferred once per listing of the data files and inference confs, and a
read with the memoized schema equals a plain spark.read.parquet."""

from __future__ import annotations

import pathlib
import re
import shutil

from conftest import job_group

from graph_etl_pipeline_spark import io


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def test_second_read_infers_no_schema(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(5).write.parquet(path)
    io.read_parquet(spark, path)
    with job_group(spark) as jobs:
        df = io.read_parquet(spark, path)
        assert jobs() == 0
    assert df.count() == 5


def test_rewrite_in_place_with_new_schema(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(path)
    assert io.read_parquet(spark, path).columns == ["id", "name"]
    assert io.read_parquet(spark, path).columns == ["id", "name"]

    spark.createDataFrame([(2.5, 7, True)], "score double, n int, ok boolean").write.mode(
        "overwrite"
    ).parquet(path)
    df = io.read_parquet(spark, path)
    assert df.schema == spark.read.parquet(path).schema
    assert df.columns == ["score", "n", "ok"]
    assert _rows(df) == [(2.5, 7, True)]


def test_entries_of_removed_paths_are_dropped(spark, tmp_path):
    gone, live = str(tmp_path / "gone"), str(tmp_path / "live")
    spark.range(2).write.parquet(gone)
    spark.range(3).write.parquet(live)
    io.read_parquet(spark, gone)
    shutil.rmtree(gone)
    io.read_parquet(spark, live)
    assert (gone,) not in io._SCHEMAS and (live,) in io._SCHEMAS


def test_partitioned_dir_matches_plain_read(spark, tmp_path):
    path = str(tmp_path / "part")
    spark.createDataFrame(
        [(1, 10, 1.0), (2, 20, 2.0), (3, 10, 3.0)], "id long, p int, v double"
    ).write.partitionBy("p").parquet(path)
    conf = "spark.sql.sources.partitionColumnTypeInference.enabled"
    old = spark.conf.get(conf)
    try:
        for infer in ("true", "false"):
            spark.conf.set(conf, infer)
            io.read_parquet(spark, path)
            memoized, plain = io.read_parquet(spark, path), spark.read.parquet(path)
            assert memoized.schema == plain.schema
            assert memoized.columns == plain.columns == ["id", "v", "p"]
            assert _rows(memoized) == _rows(plain)
    finally:
        spark.conf.set(conf, old)


def test_multi_path_read_matches_plain_read(spark, tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    spark.createDataFrame([(1, "x")], "id long, s string").write.parquet(a)
    spark.createDataFrame([(2, "y", 9)], "id long, s string, w int").write.parquet(b)
    old = spark.conf.get("spark.sql.parquet.mergeSchema")
    try:
        for merge in ("false", "true"):
            spark.conf.set("spark.sql.parquet.mergeSchema", merge)
            io.read_parquet(spark, a, b)
            memoized, plain = io.read_parquet(spark, a, b), spark.read.parquet(a, b)
            assert memoized.schema == plain.schema
            assert memoized.columns == plain.columns
            assert _rows(memoized) == _rows(plain)
    finally:
        spark.conf.set("spark.sql.parquet.mergeSchema", old)


def test_only_io_reads_parquet():
    """Every batch parquet read goes through io.read_parquet: outside
    io.py no package module calls read.parquet(."""
    pkg = pathlib.Path(io.__file__).parent
    offenders = [
        f"{path.relative_to(pkg)}:{n}"
        for path in sorted(pkg.rglob("*.py"))
        if path != pathlib.Path(io.__file__)
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if re.search(r"read\.parquet\(", line)
    ]
    assert offenders == []
