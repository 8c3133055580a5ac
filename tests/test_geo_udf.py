"""Vectorized geohash UDFs agree with the pure-Python toolkit and
survive nulls (functions/geo_udf.py)."""

from __future__ import annotations

from kafka_streams_pipeline_spark import geo
from kafka_streams_pipeline_spark.functions.geo_udf import (
    geohash_col,
    geohash_decode_center,
    readings_from_latlon,
)

COORDS = [
    (48.669, -4.329),  # the README example region (u15...)
    (0.0, 0.0),
    (-33.8688, 151.2093),
    (89.9, 179.9),
    (-89.9, -179.9),
]


def test_encode_udf_matches_toolkit(spark):
    df = spark.createDataFrame(COORDS, "lat double, lon double")
    got = {
        (r["lat"], r["lon"]): r["gh"]
        for r in df.withColumn("gh", geohash_col("lat", "lon", 6)).collect()
    }
    for la, lo in COORDS:
        assert got[(la, lo)] == geo.encode(la, lo, 6)


def test_decode_udf_roundtrip_and_nulls(spark):
    df = spark.createDataFrame(
        [("u155mz",), ("s000",), (None,)], "gh string"
    ).withColumn("c", geohash_decode_center("gh"))
    rows = {r["gh"]: r["c"] for r in df.collect()}
    for gh in ["u155mz", "s000"]:
        la, lo = geo.decode(gh)
        assert abs(rows[gh]["lat"] - la) < 1e-12
        assert abs(rows[gh]["lon"] - lo) < 1e-12
    assert rows[None]["lat"] is None


def test_readings_from_latlon_feed_view(spark):
    from kafka_streams_pipeline_spark.operators.view import build_view

    raw = spark.createDataFrame(
        [(1_700_000_000_000 + i, f"x{i}", la, lo, 20.0 + i)
         for i, (la, lo) in enumerate(COORDS)],
        "timestamp long, sensorId string, lat double, lon double, tempVal double",
    )
    readings = readings_from_latlon(raw)
    rows = readings.collect()
    assert all(len(r["geohash"]) == 12 for r in rows)
    view = build_view(readings).collect()
    assert sum(r["count"] for r in view) == len(COORDS)
    assert {r["gh"] for r in view} == {
        geo.encode(la, lo, 6) for la, lo in COORDS
    }
