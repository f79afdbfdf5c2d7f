"""Seeded hash lanes and the packed HLL (functions/hashing.py,
functions/hll.py): each Spark expression equals its DuckDB twin, and no
module outside functions/ writes a lane or a register slice by hand."""

from __future__ import annotations

import hashlib
import pathlib
import re

import duckdb
import pytest
from pyspark.sql import functions as F

import graph_etl_pipeline_spark
from graph_etl_pipeline_spark.functions import hll
from graph_etl_pipeline_spark.functions.hashing import (
    hex_lane,
    hex_lane_sql,
    md5_lane,
    md5_lane_sql,
)

HEXES = ["00000000", "ffffffff", "f" * 15, "0123456789abcde"]


def _duck(sql: str) -> list[tuple]:
    return duckdb.connect().execute(sql).fetchall()


def test_hex_lane_twins_agree(spark):
    """Spark conv and DuckDB '0x' casts read the same unsigned value,
    past 2^31 and up to fifteen hex chars."""
    lanes = [(h, s, w) for h in HEXES for s, w in [(1, len(h)), (3, 5)]]
    got = spark.range(1).select(
        *[hex_lane(F.lit(h), s, w).alias(f"c{i}") for i, (h, s, w) in enumerate(lanes)]
    ).first()
    (twin,) = _duck("SELECT " + ", ".join(hex_lane_sql(f"'{h}'", s, w) for h, s, w in lanes))
    want = [int(h[s - 1 : s - 1 + w], 16) for h, s, w in lanes]
    assert list(got) == list(twin) == want
    assert max(want) == 16**15 - 1


def test_md5_lane_twins_agree(spark):
    """Seeded and unseeded lanes of string and integer columns: Spark, the
    DuckDB twin and md5 of the same text all give the same integer."""
    rows = [(1, "alpha", 7), (2, "", 0), (3, "käse brot", -42), (4, "x", 2**40 + 3)]
    lanes = [("s", "", 1, 15), ("s", "tokdrift:", 1, 8), ("n", "bk:", 9, 8), ("n", "", 3, 6)]
    df = spark.createDataFrame(rows, "id int, s string, n bigint")
    got = sorted(
        tuple(r)
        for r in df.select(
            "id", *[md5_lane(c, seed, s, w).alias(f"l{i}") for i, (c, seed, s, w) in enumerate(lanes)]
        ).collect()
    )
    values = ", ".join(f"({i}, '{s}', {n})" for i, s, n in rows)
    twin = _duck(
        "SELECT id, "
        + ", ".join(md5_lane_sql(c, seed, s, w) for c, seed, s, w in lanes)
        + f" FROM (VALUES {values}) t(id, s, n) ORDER BY id"
    )

    def py_lane(text: str, seed: str, start: int, width: int) -> int:
        digest = hashlib.md5((seed + text).encode()).hexdigest()
        return int(digest[start - 1 : start - 1 + width], 16)

    want = [
        (i, *[py_lane(str({"s": s, "n": n}[c]), seed, st, w) for c, seed, st, w in lanes])
        for i, s, n in rows
    ]
    assert got == twin == want


def test_lane_width_16_raises(spark):
    for build in (
        lambda: hex_lane("h", 1, 16),
        lambda: hex_lane_sql("h", 1, 16),
        lambda: md5_lane("h", "", 1, 16),
        lambda: md5_lane_sql("h", "seed:", 1, 16),
    ):
        with pytest.raises(ValueError, match="overflows BIGINT"):
            build()


def test_rho_of_a_zero_lane_is_33(spark):
    lanes = [0, 1, 2, 2**31, 2**32 - 1]
    got = spark.range(1).select(
        *[hll.rho(F.lit(v).cast("long")).alias(f"r{i}") for i, v in enumerate(lanes)]
    ).first()
    (twin,) = _duck("SELECT " + ", ".join(hll.rho_sql(f"CAST({v} AS BIGINT)") for v in lanes))
    assert list(got) == list(twin) == [33, 32, 31, 1, 1]


# key -> items; key 3 sees one item, key 4 many (every register filled)
TOY = {1: range(1, 41), 2: range(5, 10), 3: [100], 4: range(1000, 1400)}


def _toy(spark):
    return spark.createDataFrame(
        [(k, i) for k, items in TOY.items() for i in items], "key bigint, item bigint"
    )


def test_packed_hll_matches_its_sql_twin(spark):
    """words + register_max + denominator (Spark) equal the per-register
    MAX, packing and denominator computed from rank_sql in DuckDB."""
    sketch = hll.register_max(hll.words(_toy(spark), "key", "item", "toy:"), "key")
    got = sorted(
        tuple(r) for r in sketch.select("key", "r0", "r1", hll.denominator().alias("d")).collect()
    )
    j, rho = hll.rank_sql("item", "toy:")
    values = ", ".join(f"({k}, {i})" for k, items in TOY.items() for i in items)
    twin = _duck(f"""
        WITH h AS (SELECT key, {j} AS j, {rho} AS rho
                   FROM (VALUES {values}) t(key, item)),
        regs AS (SELECT key, j, MAX(rho) AS m FROM h GROUP BY key, j)
        SELECT key,
               CAST(SUM(CASE WHEN j < 8 THEN m << (j * 6) ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN j >= 8 THEN m << ((j - 8) * 6) ELSE 0 END) AS BIGINT),
               {hll.DENOMINATOR_SQL}
        FROM regs GROUP BY key ORDER BY key
    """)
    assert got == twin
    # key 3 holds one item: 15 empty registers and one of rank rho(100)
    ((rho100,),) = _duck(f"SELECT {rho} FROM (VALUES (100)) t(item)")
    assert got[2][3] == (hll.M - 1) * hll.SCALE + 2 ** (33 - rho100)


def test_packed_hll_merge_is_the_union_sketch(spark):
    """merge(a, b) of two key-unique sketches equals the sketch of the
    union of their inputs, including keys on one side only."""
    toy = _toy(spark)

    def sketch(rows):
        return hll.register_max(hll.words(rows, "key", "item", "toy:"), "key")

    # key 2 only on the right, key 3 (one even item) only on the left
    left = toy.filter((F.col("key") != 2) & (F.col("item") % 2 == 0))
    right = toy.filter((F.col("key") == 2) | (F.col("item") % 2 == 1))
    merged = {tuple(r) for r in hll.merge(sketch(left), sketch(right), "key").collect()}
    whole = {tuple(r) for r in sketch(toy).collect()}
    assert merged == whole and {r[0] for r in merged} == set(TOY)


# Hand-written lanes and register slices that belong in functions/.
HAND_WRITTEN = {
    "F.conv(": re.compile(r"F\.conv\("),
    "'0x' lane": re.compile(r"'0x'"),
    "register slice": re.compile(r"shiftright\((?:[^()]|\([^()]*\))*?6 \* k", re.S),
}


def test_only_functions_write_hash_lanes_and_register_slices():
    """Outside functions/ no module spells an md5 lane (Spark conv or a
    DuckDB '0x' cast) or unpacks a 6-bit HLL register itself."""
    pkg = pathlib.Path(graph_etl_pipeline_spark.__file__).parent
    offenders = sorted(
        f"{path.relative_to(pkg)}: {what}"
        for path in pkg.rglob("*.py")
        if pkg / "functions" not in path.parents
        for what, pattern in HAND_WRITTEN.items()
        if pattern.search(path.read_text())
    )
    assert offenders == []
