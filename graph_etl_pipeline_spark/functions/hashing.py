"""Hash-based key, signature and seeded-lane functions.

Engine analogue of the reference's deterministic surrogate keys
(reference: src/etl/waste_items.py:61-63, src/etl/facilities.py:36-38 —
sha256(name) truncated to 16 hex chars). All built-in JVM expressions; no
Python UDFs. md5-based min-hashing keeps signatures portable across
engines (DuckDB has md5 too), which keeps the dedup operators
oracle-checkable.

Hash lanes: a lane is the integer value of ``width`` hex chars of a hex
digest, starting at 1-based char ``start``. Every lane has a Spark Column
form and a DuckDB SQL twin that the oracles use; the two are engine-equal
because Spark ``conv(hex, 16, 10)`` and DuckDB ``('0x' || hex)::BIGINT``
read the same unsigned value. A seeded lane hashes ``seed || text``, so
sketch families with different seeds never share hash bits.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 16 hex chars can exceed 2^63 - 1: both engines' BIGINT would overflow.
MAX_LANE_WIDTH = 15


def uid_hash(c: Column | str, length: int = 16) -> Column:
    """Deterministic surrogate uid: sha256 hex truncated to `length` chars."""
    c = F.col(c) if isinstance(c, str) else c
    return F.sha2(c.cast("string"), 256).substr(1, length)


def _check_width(width: int) -> None:
    if width > MAX_LANE_WIDTH:
        raise ValueError(
            f"hash lane width {width} > {MAX_LANE_WIDTH} hex chars overflows BIGINT"
        )


def hex_lane(hex_col: Column | str, start: int, width: int) -> Column:
    """BIGINT value of hex chars [start, start + width) of a hex string."""
    _check_width(width)
    return F.conv(F.substring(hex_col, start, width), 16, 10).cast("long")


def hex_lane_sql(hex_expr: str, start: int, width: int) -> str:
    """DuckDB twin of :func:`hex_lane`."""
    _check_width(width)
    return f"('0x'||substr({hex_expr},{start},{width}))::BIGINT"


def md5_lane(c: Column | str, seed: str, start: int, width: int) -> Column:
    """:func:`hex_lane` of ``md5(seed || CAST(c AS string))``; ``seed=""``
    hashes the text alone."""
    text = (F.col(c) if isinstance(c, str) else c).cast("string")
    return hex_lane(F.md5(F.concat(F.lit(seed), text) if seed else text), start, width)


def md5_lane_sql(expr: str, seed: str, start: int, width: int) -> str:
    """DuckDB twin of :func:`md5_lane`."""
    text = f"CAST({expr} AS VARCHAR)"
    return hex_lane_sql(f"md5('{seed}'||{text})" if seed else f"md5({text})", start, width)
