"""Parquet fixture loading (driver testdata) and view registration."""

from __future__ import annotations

import calendar
import datetime as dt
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

from kafka_streams_pipeline_spark.schema import FIXTURE_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Fixture columns stored as parquet TIMESTAMP(NANOS): Spark 4 reads
# them only as raw long (spark.sql.legacy.parquet.nanosAsLong); we
# convert to TimestampType at µs precision — the same ns→µs
# truncation DuckDB applies, so oracle comparisons agree. The raw
# nanos column is KEPT (as _<col>_ns): predicates on the derived
# timestamp cannot push through the conversion expression, so
# time-range queries add the equivalent long-range predicate via
# pushed_ts_range — that is what reaches the parquet row-group stats.
_NANOS_TS_COLS = {"events": ("ts",)}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for col in _NANOS_TS_COLS.get(name, ()):
        if col not in df.columns:
            continue
        dtype = df.schema[col].dataType
        if isinstance(dtype, LongType):
            df = df.withColumnRenamed(col, f"_{col}_ns").withColumn(
                col, F.timestamp_micros(F.expr(f"_{col}_ns div 1000"))
            )
        elif isinstance(dtype, TimestampNTZType):
            # µs-precision writers (e.g. DuckDB COPY) come back as NTZ;
            # session tz is UTC, so the naive values ARE UTC instants
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def _utc_ns(t: dt.datetime) -> int:
    """Naive datetime interpreted as UTC → epoch nanos."""
    return (calendar.timegm(t.timetuple()) * 1_000_000 + t.microsecond) * 1000


def pushed_ts_range(
    df: DataFrame,
    lo: dt.datetime | None = None,
    hi: dt.datetime | None = None,
) -> DataFrame:
    """Time-range filter ``lo <= ts < hi`` that actually reaches the
    parquet scan.

    Applies the predicate on the raw nanos column when present (that
    one pushes down → row-group min/max skipping), alongside the
    timestamp-typed condition for frames without a raw twin. Bounds
    are naive datetimes interpreted as UTC."""
    raw = "_ts_ns"
    conds: list[Column] = []
    if lo is not None:
        ts_lit = F.lit(lo.strftime("%Y-%m-%d %H:%M:%S")).cast("timestamp")
        conds.append(F.col("ts") >= ts_lit)
        if raw in df.columns:
            conds.append(F.col(raw) >= _utc_ns(lo))
    if hi is not None:
        ts_lit = F.lit(hi.strftime("%Y-%m-%d %H:%M:%S")).cast("timestamp")
        conds.append(F.col("ts") < ts_lit)
        if raw in df.columns:
            conds.append(F.col(raw) < _utc_ns(hi))
    for c in conds:
        df = df.where(c)
    return df


def load_tables(spark: SparkSession) -> dict[str, DataFrame]:
    """Load every fixture table present under ``DEFAULT_SF_DIR``."""
    out: dict[str, DataFrame] = {}
    for name in FIXTURE_TABLES:
        path = os.path.join(DEFAULT_SF_DIR, f"{name}.parquet")
        if os.path.exists(path):
            out[name] = load_table(spark, DEFAULT_SF_DIR, name)
    return out


def register_views(spark: SparkSession) -> dict[str, DataFrame]:
    """Load fixture tables and register them as temp views (SQL access)."""
    tables = load_tables(spark)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables
