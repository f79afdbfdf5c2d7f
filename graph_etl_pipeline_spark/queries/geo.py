"""Spatial operators via integer grid bucketing.

The reference has no geospatial surface at all; this family adds the one
primitive a 100 TB pipeline with location columns cannot live without —
nearest-neighbor / radius joins WITHOUT a cross join — using the same
cell-bucketing idea as S2/geohash/H3 indexing, reduced to exact integer
arithmetic so a DuckDB oracle can replay it bit-for-bit.

Scale design: a spatial join over points is a plain equi-join once both
sides carry a grid cell id — the probe side fans out to the 3×3 cell
neighborhood (a constant ×9 map-side explode, the standard "one ring"
guarantee for radius ≤ cell size), the build side stays one row per
point, and the join shuffles on the cell id like any other key. Skewed
cells behave like any skewed join key (AQE skew split / salting apply
unchanged). Candidate sets are |points per cell| × 9, never |S|·|C|;
distances are exact int64 (micro-unit coordinates squared stay < 2^63),
and argmin ties break on the supplier key, so the result is
deterministic under any partitioning.

Coordinates here are derived from seeded md5 lanes (the testdata carries
no location columns) — the derivation IS part of the contract, replayed
identically by the oracle; swap in real lat/lon micro-degrees and
nothing else changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graph_etl_pipeline_spark.functions.hashing import md5_lane, md5_lane_sql
from graph_etl_pipeline_spark.io import table
from graph_etl_pipeline_spark.registry import register

GEO_UNITS = 1_000_000  # coordinate space: [0, 1e6) micro-units per axis
GEO_CELL = 125_000  # 8×8 grid; one-ring search radius == cell size


def _coord(seed: str, key: F.Column, units: int = GEO_UNITS) -> F.Column:
    """Deterministic coordinate in [0, units) from a seeded 24-bit md5
    lane; exact in both engines."""
    return F.pmod(md5_lane(key, seed + ":", 1, 6), F.lit(units))


def _coord_sql(seed: str, key: str, units: int = GEO_UNITS) -> str:
    return f"{md5_lane_sql(key, seed + ':', 1, 6)} % {units}"


@register(
    "geo_grid_nn_join",
    oracle=f"""
    WITH c AS (
        SELECT c_custkey,
               {_coord_sql("gx", "c_custkey")} AS x,
               {_coord_sql("gy", "c_custkey")} AS y
        FROM customer
    ),
    s AS (
        SELECT s_suppkey,
               {_coord_sql("sx", "s_suppkey")} AS x,
               {_coord_sql("sy", "s_suppkey")} AS y
        FROM supplier
    ),
    cand AS (
        SELECT c.c_custkey, s.s_suppkey,
               (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y) AS d2,
               ROW_NUMBER() OVER (
                   PARTITION BY c.c_custkey
                   ORDER BY (c.x - s.x) * (c.x - s.x)
                          + (c.y - s.y) * (c.y - s.y), s.s_suppkey
               ) AS rn
        FROM c
        JOIN (SELECT unnest([-1, 0, 1]) AS dx) dxs ON TRUE
        JOIN (SELECT unnest([-1, 0, 1]) AS dys) dys ON TRUE
        JOIN s ON s.x // {GEO_CELL} = c.x // {GEO_CELL} + dxs.dx
              AND s.y // {GEO_CELL} = c.y // {GEO_CELL} + dys.dys
    )
    SELECT c_custkey, s_suppkey AS nn_suppkey, CAST(d2 AS BIGINT) AS d2
    FROM cand WHERE rn = 1
    """,
    tags=("geo", "join", "spatial"),
)
def geo_grid_nn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRID-BUCKETED NEAREST-NEIGHBOR JOIN — the spatial join pattern
    (S2/geohash/H3 cell indexing) expressed as pure DataFrame ops: each
    supplier lands in one 8×8 grid cell; each customer probes its cell's
    3×3 neighborhood (a constant ×9 map-side fan-out via posexplode of
    the ring offsets), candidates meet in an ordinary equi-join on
    (cell_x, cell_y), and the per-customer argmin collapses through
    ``min(struct(d2, s_suppkey))`` — a MAP-SIDE-COMBINABLE aggregate
    (partial min per partition, then one exchange of survivors), with
    the supplier key inside the struct as the deterministic tie-break.

    The one-ring probe guarantees exact nearest-neighbor for any true NN
    distance ≤ one cell edge; customers whose neighborhood holds no
    supplier are absent from the result (the production recipe widens
    the ring or falls back to a coarser grid level for the remnant —
    a second, smaller pass, same operator).

    Never a cross join: candidate volume is #points-per-cell × 9 per
    probe, the join is a plain shuffle (or broadcast when the build side
    is a small dimension, as here — Catalyst broadcasts the 9-cell
    supplier side automatically under the threshold), and all geometry
    is exact int64 (micro-unit deltas < 1e6, squares < 1e12, sums
    < 2^63). Coordinates derive from seeded md5 lanes since the
    testdata has no location columns; the oracle replays the derivation
    bit-for-bit."""
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey",
        _coord("gx", F.col("c_custkey")).alias("x"),
        _coord("gy", F.col("c_custkey")).alias("y"),
    )
    supp = (
        table(spark, sf_dir, "supplier")
        .select(
            "s_suppkey",
            _coord("sx", F.col("s_suppkey")).alias("x"),
            _coord("sy", F.col("s_suppkey")).alias("y"),
        )
        .withColumn("cell_x", (F.col("x") / GEO_CELL).cast("long"))
        .withColumn("cell_y", (F.col("y") / GEO_CELL).cast("long"))
    )

    ring = F.expr("explode(flatten(transform(array(-1,0,1), dx -> transform(array(-1,0,1), dy -> struct(dx, dy)))))")
    probes = (
        cust.select(
            "c_custkey",
            "x",
            "y",
            ring.alias("off"),
        )
        .select(
            "c_custkey",
            "x",
            "y",
            ((F.col("x") / GEO_CELL).cast("long") + F.col("off.dx")).alias("cell_x"),
            ((F.col("y") / GEO_CELL).cast("long") + F.col("off.dy")).alias("cell_y"),
        )
    )

    dx = probes["x"] - supp["x"]
    dy = probes["y"] - supp["y"]
    cand = probes.join(supp, ["cell_x", "cell_y"]).select(
        "c_custkey",
        "s_suppkey",
        (dx * dx + dy * dy).alias("d2"),
    )
    best = cand.groupBy("c_custkey").agg(
        F.min(F.struct("d2", "s_suppkey")).alias("best")
    )
    return best.select(
        "c_custkey",
        F.col("best.s_suppkey").alias("nn_suppkey"),
        F.col("best.d2").alias("d2"),
    )


# Bounding boxes for the containment join: half-extent per axis derived
# from its own md5 lane, capped well under one grid cell so a box covers
# at most a 2x2 cell block (bounded fan-out).
GEO_BOX_MAX_HALF = 60_000


@register(
    "geo_bbox_contains_join",
    oracle=f"""
    WITH p AS (
        SELECT c_custkey,
               {_coord_sql("gx", "c_custkey")} AS x,
               {_coord_sql("gy", "c_custkey")} AS y
        FROM customer
    ),
    b AS (
        SELECT s_suppkey,
               {_coord_sql("sx", "s_suppkey")} AS cx,
               {_coord_sql("sy", "s_suppkey")} AS cy,
               1 + {_coord_sql("shw", "s_suppkey", GEO_BOX_MAX_HALF)} AS hw,
               1 + {_coord_sql("shh", "s_suppkey", GEO_BOX_MAX_HALF)} AS hh
        FROM supplier
    )
    SELECT p.c_custkey, b.s_suppkey,
           CAST(b.cx - b.hw AS BIGINT) AS x_lo, CAST(b.cx + b.hw AS BIGINT) AS x_hi
    FROM p JOIN b
      ON p.x BETWEEN b.cx - b.hw AND b.cx + b.hw
     AND p.y BETWEEN b.cy - b.hh AND b.cy + b.hh
    """,
    tags=("geo", "join", "spatial"),
)
def geo_bbox_contains_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRID-BUCKETED CONTAINMENT JOIN (point-in-bbox) — the second
    spatial-join verb beside geo_grid_nn_join's nearest-neighbor: which
    region contains this point (geofencing, tile assignment, admin-area
    tagging). The naive plan is a range-predicate theta-join — a
    nested-loop at any scale. Here each BOX explodes to the grid cells
    its extent covers (half-extents are capped under one cell edge, so
    that cover is at most a 2×2 block — a bounded ×≤4 map-side fan-out,
    the build side's analogue of the NN probe ring), each POINT lands in
    its single cell, candidates meet in a plain equi-join on the cell
    id, and the exact BETWEEN containment verifies map-side after the
    join. A point lies in exactly one cell, so a box-cell pair can match
    it at most once — no post-join dedup needed.

    All geometry is exact int64 micro-units derived from seeded md5
    lanes (the shared geo-fixture discipline; the oracle replays the
    derivation and joins on the raw predicate, so a wrong cell cover —
    the classic off-by-one at cell boundaries — surfaces as a missing
    or extra pair, not a silent approximation).

    At 100 TB: cells bound candidate volume by local density; the boxes
    side (regions/geofences) is usually dimension-sized and broadcasts,
    while the exploded cover keeps working unchanged when both sides are
    fact-sized (shuffle on cell id). Larger regions use a coarser grid
    level for the cover — same operator, different cell constant."""
    p = table(spark, sf_dir, "customer").select(
        "c_custkey",
        _coord("gx", F.col("c_custkey")).alias("x"),
        _coord("gy", F.col("c_custkey")).alias("y"),
    ).withColumn("cell_x", F.expr(f"x div {GEO_CELL}")).withColumn(
        "cell_y", F.expr(f"y div {GEO_CELL}")
    )
    b = table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        _coord("sx", F.col("s_suppkey")).alias("cx"),
        _coord("sy", F.col("s_suppkey")).alias("cy"),
        (1 + _coord("shw", F.col("s_suppkey"), GEO_BOX_MAX_HALF)).alias("hw"),
        (1 + _coord("shh", F.col("s_suppkey"), GEO_BOX_MAX_HALF)).alias("hh"),
    )
    cover = b.select(
        "s_suppkey",
        "cx",
        "cy",
        "hw",
        "hh",
        F.explode(
            F.sequence(
                F.expr(f"(cx - hw) div {GEO_CELL}"), F.expr(f"(cx + hw) div {GEO_CELL}")
            )
        ).alias("cell_x"),
    ).select(
        "*",
        F.explode(
            F.sequence(
                F.expr(f"(cy - hh) div {GEO_CELL}"), F.expr(f"(cy + hh) div {GEO_CELL}")
            )
        ).alias("cell_y"),
    )
    # No explicit F.broadcast hint: Catalyst broadcasts the exploded
    # cover while it sits under autoBroadcastJoinThreshold (the usual
    # dimension-sized geofence case) and falls back to a shuffle
    # equi-join on (cell_x, cell_y) when the boxes side is fact-sized —
    # a hard hint would pin the build side and OOM the driver instead
    # of degrading to the shuffle plan.
    joined = p.join(cover, ["cell_x", "cell_y"]).filter(
        F.col("x").between(F.col("cx") - F.col("hw"), F.col("cx") + F.col("hw"))
        & F.col("y").between(F.col("cy") - F.col("hh"), F.col("cy") + F.col("hh"))
    )
    return joined.select(
        "c_custkey",
        "s_suppkey",
        (F.col("cx") - F.col("hw")).cast("long").alias("x_lo"),
        (F.col("cx") + F.col("hw")).cast("long").alias("x_hi"),
    )
