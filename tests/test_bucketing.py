"""Bucketed co-located join (SURVEY §1.5: "bucketing for co-located
joins" — the scale technique that removes the per-query shuffle from
repeated big-big joins). Writing both join sides bucketed by the join key
lets Spark plan a SortMergeJoin with NO Exchange on either side: the
shuffle is paid once at write time, then every subsequent join is free."""

from __future__ import annotations

import os
import uuid

import pytest
from conftest import listing

from pyspark.sql import functions as F

from graph_etl_pipeline_spark.io import table


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir):
    # spark.sql.warehouse.dir is static config — tables land in the
    # default ./spark-warehouse (gitignored); DROP TABLE cleans up files
    suffix = uuid.uuid4().hex[:8]
    li_name, o_name = f"li_bucketed_{suffix}", f"o_bucketed_{suffix}"
    (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_extendedprice")
        .write.bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .mode("overwrite")
        .saveAsTable(li_name)
    )
    (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .mode("overwrite")
        .saveAsTable(o_name)
    )
    yield li_name, o_name
    spark.sql(f"DROP TABLE IF EXISTS {li_name}")
    spark.sql(f"DROP TABLE IF EXISTS {o_name}")


def test_bucketed_join_has_no_exchange(spark, sf_dir, bucketed_tables):
    li_name, o_name = bucketed_tables
    # at test scale the small side would auto-broadcast (which ignores
    # buckets); disable it to exercise the big-big sort-merge path this
    # technique exists for
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        li, o = spark.table(li_name), spark.table(o_name)
        joined = li.join(o, li.l_orderkey == o.o_orderkey)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join must not shuffle either side"
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    # correctness: same row count as the unbucketed join
    plain = table(spark, sf_dir, "lineitem").join(
        table(spark, sf_dir, "orders"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    assert joined.count() == plain.count()


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """Hive-style partitionBy(lang) layout: a lang-filtered read must
    push the predicate into PartitionFilters (directory pruning — the
    scan never lists the other languages' files) and still return
    exactly the rows a post-hoc filter would."""
    from pyspark.sql import functions as F

    from graph_etl_pipeline_spark.io import table

    docs = table(spark, sf_dir, "documents")
    out = str(tmp_path / "docs_by_lang")
    docs.write.partitionBy("lang").parquet(out)

    filtered = spark.read.parquet(out).filter(F.col("lang") == "en")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "lang" in pf and "en" in pf

    assert filtered.count() == docs.filter(F.col("lang") == "en").count()


def test_bucketed_query_leaves_the_warehouse_untouched(spark, sf_dir, tmp_path):
    """join_bucketed_colocated keeps its bucketed tables as external
    tables under the scratch root, so nothing lands in the warehouse dir.
    A fresh data-root path forces the tables to be written here."""
    from urllib.parse import urlparse

    from graph_etl_pipeline_spark.registry import all_queries

    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    before = listing(warehouse)
    fresh = tmp_path / "sf"
    fresh.symlink_to(os.path.abspath(sf_dir))
    all_queries()["join_bucketed_colocated"].fn(spark, str(fresh)).collect()
    assert listing(warehouse) == before
