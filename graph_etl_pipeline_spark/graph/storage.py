"""Graph persistence (SURVEY.md §1.5 storage mapping).

Vertices are written partitioned by label (one columnar table per node
type behind a union view), edges partitioned by rel_type — the layout
that makes `edges.filter(rel_type = X)` a partition-pruned scan instead
of a full read. This is the Spark analogue of the reference's per-label
indexes (schema.cql:20,56-57,76,101): the "index column" becomes the
physical partition key.

At 100 TB add a second sort dimension: within each rel_type partition,
sort/bucket by src_uid so per-vertex edge lookups touch one file run
(and keep a dst_uid-sorted copy if reverse traversal is hot).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from graph_etl_pipeline_spark.graph.model import PropertyGraph
from graph_etl_pipeline_spark.io import read_parquet


def write_graph(g: PropertyGraph, warehouse: str, mode: str = "overwrite") -> None:
    g.vertices.write.mode(mode).partitionBy("label").parquet(f"{warehouse}/vertices")
    g.edges.write.mode(mode).partitionBy("rel_type").parquet(f"{warehouse}/edges")


def read_graph(spark: SparkSession, warehouse: str) -> PropertyGraph:
    return PropertyGraph(
        vertices=read_parquet(spark, f"{warehouse}/vertices"),
        edges=read_parquet(spark, f"{warehouse}/edges"),
    )
