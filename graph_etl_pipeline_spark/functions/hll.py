"""Packed 16-register HyperLogLog sketches.

Each key carries ``M`` = 16 registers of 6 bits (a rank is at most 33),
packed eight to a BIGINT word: registers 0-7 in ``r0``, 8-15 in ``r1``,
register ``k`` of a word at bits ``[6k, 6k + 6)``. An item lands in
register ``j`` = md5 lane 1 mod 16 with rank ``rho`` = 33 - bit length of
md5 lane 2 (33 for a zero lane), both 32-bit lanes of
``md5(seed || item)``, so the sketch is hash-exact and a DuckDB oracle
replays it. Register-wise MAX is associative, commutative and idempotent:
sketches merge in any order and replays are no-ops.

The serving form is the exact BIGINT denominator
``D = Σ_j 2^(33 - M_j)`` (an empty register adds ``SCALE`` = 2^33); the
raw estimate is ``alpha_16 · M² · SCALE / D``.

Spark's built-in ``hll_sketch_agg`` is not used: DuckDB cannot reproduce
its DataSketches bytes, and this layout is what both engines share.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graph_etl_pipeline_spark.functions.hashing import md5_lane, md5_lane_sql

M = 16
SCALE = 2**33
_HALF = M // 2


def rho(lane: Column) -> Column:
    """Rank of a 32-bit lane: 33 - its bit length, 33 for zero."""
    return F.when(lane == 0, F.lit(33)).otherwise(33 - F.length(F.bin(lane))).cast("long")


def rho_sql(lane: str) -> str:
    """DuckDB twin of :func:`rho`."""
    return f"CASE WHEN {lane} = 0 THEN 33 ELSE 33 - length(bin({lane})) END"


def rank(item: Column | str, seed: str) -> tuple[Column, Column]:
    """(register index j, rank rho) of each item."""
    return md5_lane(item, seed, 1, 8) % M, rho(md5_lane(item, seed, 9, 8))


def rank_sql(item_expr: str, seed: str) -> tuple[str, str]:
    """DuckDB twin of :func:`rank`."""
    return f"{md5_lane_sql(item_expr, seed, 1, 8)} % {M}", rho_sql(
        md5_lane_sql(item_expr, seed, 9, 8)
    )


# Sum of Σ 2^(33 - m) over the nonempty registers of a (key, j, m) group.
DENOMINATOR_SQL = (
    f"CAST(({M} - COUNT(*)) * {SCALE} + SUM(CAST(1 AS BIGINT) << (33 - m)) AS BIGINT)"
)


def words(df: DataFrame, key: str, item: str, seed: str) -> DataFrame:
    """Each row of ``df`` as its one-register sketch ``(key, r0, r1)``."""
    j, r = rank(item, seed)
    # Variable shift counts need the SQL expression form: the Python
    # F.shiftleft binding only takes a literal bit count.
    return df.select(key, j.alias("j"), r.alias("rho")).select(
        key,
        F.expr(
            f"CASE WHEN j < {_HALF} THEN shiftleft(rho, CAST(j * 6 AS INT))"
            " ELSE CAST(0 AS BIGINT) END"
        ).alias("r0"),
        F.expr(
            f"CASE WHEN j >= {_HALF}"
            f" THEN shiftleft(rho, CAST((j - {_HALF}) * 6 AS INT))"
            " ELSE CAST(0 AS BIGINT) END"
        ).alias("r1"),
    )


def _register(word: str, k: int) -> Column:
    return F.shiftright(F.col(word), 6 * k).bitwiseAND(63)


def _pack(registers: Iterable[Column]) -> Column:
    out = F.lit(0).cast("long")
    for k, reg in enumerate(registers):
        out = out + F.shiftleft(reg, 6 * k)
    return out


def register_max(df: DataFrame, key: str) -> DataFrame:
    """Register-wise MAX of the ``(key, r0, r1)`` rows per key. The slices
    are unpacked inside the aggregate expressions, so the aggregation is
    map-combinable (a partial HashAggregate) and the shuffle carries only
    ``(key, r0, r1)`` rows."""
    maxes = [
        F.max(_register(word, k)).alias(f"{word}_{k}")
        for word in ("r0", "r1")
        for k in range(_HALF)
    ]
    return (
        df.groupBy(key)
        .agg(*maxes)
        .select(
            key,
            *[_pack(F.col(f"{w}_{k}") for k in range(_HALF)).alias(w) for w in ("r0", "r1")],
        )
    )


def merge(a: DataFrame, b: DataFrame, key: str) -> DataFrame:
    """Register-wise MAX of two key-unique sketch tables. FULL OUTER, with
    a missing side read as the all-zero sketch (MAX(0, x) = x), so a key
    present on one side only keeps its registers."""
    joined = a.alias("a").join(b.alias("b"), F.col(f"a.{key}") == F.col(f"b.{key}"), "full_outer")
    zero = F.lit(0).cast("long")

    def word_max(w: str) -> Column:
        return _pack(
            F.greatest(
                F.coalesce(_register(f"a.{w}", k), zero),
                F.coalesce(_register(f"b.{w}", k), zero),
            )
            for k in range(_HALF)
        ).alias(w)

    return joined.select(
        F.coalesce(F.col(f"a.{key}"), F.col(f"b.{key}")).alias(key),
        word_max("r0"),
        word_max("r1"),
    )


def denominator() -> Column:
    """``D = Σ_j 2^(33 - M_j)`` over the 16 registers of ``(r0, r1)``."""
    d = F.lit(0).cast("long")
    for w in ("r0", "r1"):
        for k in range(_HALF):
            d = d + F.expr(
                "shiftleft(CAST(1 AS BIGINT),"
                f" CAST(33 - (shiftright({w}, {6 * k}) & 63) AS INT))"
            )
    return d
