"""Skew-mitigation utilities (SURVEY.md §4.2 / 100 TB design).

AQE's skew-join splitting handles most cases at runtime
(spark.sql.adaptive.skewJoin.enabled, on in session.py); this helper
covers the place AQE can't: skewed AGGREGATION keys (two-phase salted
aggregation). Broadcast-ineligible skewed joins are salted
deterministically in queries/joins.py:join_salted_skew.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: Sequence[Column],
    partial_aggs: Sequence[Column],
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase aggregation: phase 1 groups on (keys + random salt) so a
    hot key spreads over `salt_buckets` reducers; phase 2 merges partials
    on the true keys. `partial_aggs` must be the phase-1 forms whose
    outputs the phase-2 `aggs` consume (classic sum-of-sums /
    sum-of-counts decomposition).

    Example:
        salted_agg(df, ["k"],
                   aggs=[F.sum("s").alias("total"), F.sum("c").alias("n")],
                   partial_aggs=[F.sum("v").alias("s"), F.count("*").alias("c")])
    """
    salted = df.withColumn("_salt", (F.rand(seed=42) * salt_buckets).cast("int"))
    partial = salted.groupBy(*keys, "_salt").agg(*partial_aggs)
    return partial.groupBy(*keys).agg(*aggs)

