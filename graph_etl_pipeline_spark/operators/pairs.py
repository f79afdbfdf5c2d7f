"""Bounded within-group self-pair generation — the ONE copy of the
cap/probe/triangle-tile idea: embedding-cosine hot labels, copurchase
hot baskets, Jaccard wedge hubs and SemDeDup hot cells all bound
quadratic per-group fanout through it.

``bounded_self_pairs(df, key, order_col, cap, select_pairs)`` emits every
within-``key`` pair (a, b) with ``a.order_col < b.order_col`` — exactly
the plain per-group self-join's pair set — but ADAPTIVELY:

* A map-combined per-key count probes for groups over ``cap``. None (the
  common case once upstream blocking sizes groups sanely) ⇒ the plain
  self-join, zero extra work, zero WindowExecs. The probe's verdict is
  memoized per input plan, key and cap through ``io.memo``, so
  steady-state runs skip the eager count job entirely.
* Hot groups present (power-law corpora — hub nodes, mega-baskets, fat
  LSH buckets) ⇒ keys split cold/hot via broadcast anti/semi joins; cold
  keys keep the plain join, hot keys go through TRIANGLE TILING: rows
  are chunked into runs of ≤ cap in ``order_col`` order, and the join
  shuffles on (key, tile_i, tile_j), so a group of n rows becomes
  (n/cap)² independent tiles of ≤ cap² pair candidates each instead of a
  single n² task. Each (a, b) pair lands in exactly one tile
  (chunk_a, chunk_b), so the union of the two branches is identical to
  the naive join; only the work distribution changes. Replication is
  linear in group size (each row ships to ≤ nchunks tiles) vs the
  quadratic straggler it removes.

Determinism contract: (key, order_col) must be unique per row (every
caller feeds a distinct-ed edge/bucket/vector table), so the chunking
window has no ties and every recomputation assigns identical chunks —
the assignment is recomputed per join side rather than materialized
(scan + one window exchange, cheaper than a storage round-trip).
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from graph_etl_pipeline_spark.io import memo

# Internal column names; callers' frames must not collide.
_TILE_I, _TILE_J, _CHUNK, _MAXC = "__tile_i", "__tile_j", "__chunk", "__max_chunk"


def hot_keys(df: DataFrame, key: str, cap: int) -> DataFrame:
    """Keys whose group size exceeds ``cap`` — one map-combined count."""
    return (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > cap)
        .select(key)
    )


def plain_self_pairs(df: DataFrame, key: str, order_col: str) -> DataFrame:
    """Per-key a<b self-join — one shuffle, no replication. Correct and
    optimal while every group fits the cap. Returns the a/b-aliased join
    for the caller's pair projection."""
    a, b = df.alias("a"), df.alias("b")
    return a.join(
        b,
        (F.col(f"a.{key}") == F.col(f"b.{key}"))
        & (F.col(f"a.{order_col}") < F.col(f"b.{order_col}")),
    )


def tiled_self_pairs(df: DataFrame, key: str, order_col: str, cap: int) -> DataFrame:
    """Within-key pairs for HOT groups, triangle-tiled (module docstring).
    Returns the a/b-aliased join filtered to a.order_col < b.order_col."""
    w = Window.partitionBy(key).orderBy(order_col)
    # max_chunk rides the SAME per-key exchange as row_number (second
    # WindowExec, zero extra shuffle) — no aggregate + broadcast side
    # input for the fan-out bound.
    chunked = df.withColumn(
        _CHUNK, ((F.row_number().over(w) - F.lit(1)) / F.lit(cap)).cast("int")
    ).withColumn(_MAXC, F.max(_CHUNK).over(Window.partitionBy(key)))
    # A pair (a, b) with a.order < b.order has chunk_a <= chunk_b (chunks
    # follow order_col order). Left fans out to tiles (chunk, j) for
    # j >= chunk; right to tiles (i, chunk) for i <= chunk; they meet
    # exactly once, at tile (chunk_a, chunk_b).
    base = [c for c in df.columns]
    left = chunked.withColumn(
        _TILE_J, F.explode(F.sequence(F.col(_CHUNK), F.col(_MAXC)))
    ).select(*base, F.col(_CHUNK).alias(_TILE_I), _TILE_J)
    right = chunked.withColumn(
        _TILE_I, F.explode(F.sequence(F.lit(0), F.col(_CHUNK)))
    ).select(*base, _TILE_I, F.col(_CHUNK).alias(_TILE_J))
    return (
        left.alias("a")
        .join(right.alias("b"), [key, _TILE_I, _TILE_J])
        .filter(F.col(f"a.{order_col}") < F.col(f"b.{order_col}"))
    )


def bounded_self_pairs(
    df: DataFrame,
    key: str,
    order_col: str,
    cap: int,
    select_pairs: Callable[[DataFrame], DataFrame],
    plain_impl: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """All within-``key`` (a, b) pairs with a.order_col < b.order_col,
    hot groups triangle-tiled (module docstring). ``select_pairs``
    projects the a/b-aliased pair join down to the caller's columns; it
    runs once per branch so the cold/hot union has a consistent schema.

    ``plain_impl`` overrides HOW the bounded (non-hot) branch builds its
    a/b-aliased pair join — e.g. a broadcast equi-join when the key has
    few distinct values and a shuffle join would collapse parallelism to
    the key count (the SemDeDup cell join). It must emit exactly
    ``plain_self_pairs``' pair set; only the physical strategy differs."""
    plain = plain_impl or (lambda d: plain_self_pairs(d, key, order_col))
    # The verdict is blocking statistics, not data: both branches emit
    # the identical pair set, so a verdict can only pick the physical
    # strategy. Keying it on the input files as well as the plan keeps a
    # corpus rewritten in place from reusing a stale verdict and running
    # the unbounded plain join on newly hot groups.
    has_hot = memo(
        "hot_probe",
        [df],
        lambda: hot_keys(df, key, cap).limit(1).count() > 0,
        df.semanticHash(),
        key,
        cap,
    )
    if not has_hot:
        return select_pairs(plain(df))
    hot = hot_keys(df, key, cap)
    hot_b = F.broadcast(hot)
    cold = select_pairs(plain(df.join(hot_b, key, "left_anti")))
    hot_p = select_pairs(
        tiled_self_pairs(df.join(hot_b, key, "left_semi"), key, order_col, cap)
    )
    return cold.unionByName(hot_p)
