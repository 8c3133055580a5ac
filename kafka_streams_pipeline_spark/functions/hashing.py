"""Deterministic, engine-portable hashing expressions.

Everything here must produce IDENTICAL values in Spark SQL and DuckDB
so dedup/similarity operators can be oracle-checked exactly. The
portable primitive is md5 over strings: both engines return the same
hex, and a fixed-width hex prefix converts to BIGINT on both sides
(Spark ``conv(hex, 16, 10)``; DuckDB ``('0x' || hex)::BIGINT``).

Spark's native ``hash()``/``xxhash64`` are faster but Murmur3-specific
— they can back non-oracle scale paths, never the declared queries.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 8 hex chars = 32 bits: safely inside BIGINT on both engines, and
# small enough that rolling-hash arithmetic below never overflows.
HEX_WIDTH = 8
ROLL_BASE = 131
ROLL_MOD = 1_000_000_007


def md5_long(col: Column | str) -> Column:
    """Spark: first 8 md5 hex chars as BIGINT (0 .. 2^32-1)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, HEX_WIDTH), 16, 10).cast("long")


def md5_long_sql(expr: str) -> str:
    """DuckDB twin of :func:`md5_long`."""
    return f"('0x' || substr(md5({expr}), 1, {HEX_WIDTH}))::BIGINT"
