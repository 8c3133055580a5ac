"""Spatiotemporal UDFs: Arrow-vectorized geohash encode/decode.

The reference's readings arrive pre-hashed (model/TemperatureReading
carries `geohash`), so the declared queries never need these — all
plan-level spatial predicates stay native (SURVEY.md §4). They exist
for the general ingest case: a source with raw lat/lon gets its cell
key here, ONCE at ingest, so everything downstream is a plain string
column again.

pandas_udf (Arrow batches), not row-at-a-time Python — the ~10-100×
difference the guide warns about. At 100 TB this runs in the ingest
pass only; the standing view and every query read the materialized
`gh` column.
"""

from __future__ import annotations

from functools import lru_cache

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from kafka_streams_pipeline_spark import geo


# UDF registration needs an active SparkSession, so construction is
# lazy (first use) rather than at module import.
@lru_cache(maxsize=1)
def _encode12_udf():
    @pandas_udf("string")
    def geohash_encode12(lat: pd.Series, lon: pd.Series) -> pd.Series:
        out = []
        for la, lo in zip(lat, lon):
            if la is None or lo is None or pd.isna(la) or pd.isna(lo):
                out.append(None)
            else:
                out.append(geo.encode(float(la), float(lo), geo.MAX_PRECISION))
        return pd.Series(out, dtype="object")

    return geohash_encode12


@lru_cache(maxsize=1)
def _decode_center_udf():
    @pandas_udf("struct<lat:double, lon:double>")
    def decode_center(gh: pd.Series) -> pd.DataFrame:
        lats, lons = [], []
        for g in gh:
            try:
                la, lo = geo.decode(g)
            except (TypeError, ValueError):
                la = lo = None
            lats.append(la)
            lons.append(lo)
        return pd.DataFrame({"lat": lats, "lon": lons})

    return decode_center


def geohash_encode12(lat: Column, lon: Column) -> Column:
    """12-char geohash per (lat, lon); null-safe (null in → null
    out). Truncate with substring() for coarser precisions — cheaper
    than re-encoding per precision."""
    return _encode12_udf()(lat, lon)


def geohash_decode_center(gh: Column | str) -> Column:
    """Cell-center struct<lat,lon> per geohash; null/invalid → nulls."""
    return _decode_center_udf()(F.col(gh) if isinstance(gh, str) else gh)


def geohash_col(lat: Column | str, lon: Column | str, precision: int = 6) -> Column:
    """`precision`-char geohash column from lat/lon columns."""
    full = geohash_encode12(F.col(lat) if isinstance(lat, str) else lat,
                            F.col(lon) if isinstance(lon, str) else lon)
    return F.substring(full, 1, precision)


def readings_from_latlon(df: DataFrame) -> DataFrame:
    """Reading-shaped frame from a raw lat/lon source: the general
    ingest adapter (geohash computed once, here; never again)."""
    return df.select(
        F.col("timestamp"),
        F.col("sensorId").cast("string").alias("sensorId"),
        geohash_col("lat", "lon", geo.MAX_PRECISION).alias("geohash"),
        F.col("tempVal").cast("double").alias("tempVal"),
        F.lit("c").alias("tempUnit"),
    )
