"""The materialized windowed view — the engine's core state.

Reference: per-(geohash-cell, 1-hour tumbling window) aggregate
{count, sum, avg} held in WindowStore ``view-gh{p}-hour``
(ingestion/KafkaStreamsAggregator.java:83-105):

- re-key to geohash[0:precision]            (:94, SURVEY.md §2.2 P1)
- tumbling 1-hour epoch-aligned windows     (:99,          §2.3 A2)
- incremental count/sum/avg aggregate       (:42-51,       §2.3 A1)

Spark-first shape: ONE declarative groupBy — Catalyst plans it as
partial (map-side) + final hash aggregation over a single shuffle on
(gh, window), which IS the reference's repartition-topic + RocksDB
store + cross-host merge collapsed into the engine (SURVEY.md §2.3
A7). At 100 TB: the shuffle is keyed by (gh, window) so cardinality
is bounded by cells × hours, not raw rows; map-side combine reduces
each input partition to that bound before the exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_streams_pipeline_spark.sources.readings import with_event_time

DEFAULT_PRECISION = 6  # ingestion/KafkaStreamsAggregator.java:39
DEFAULT_WINDOW = "1 hour"  # ingestion/KafkaStreamsAggregator.java:99


def build_view(readings: DataFrame, precision: int = DEFAULT_PRECISION) -> DataFrame:
    """readings → view (gh, window_start, count, sum, avg).

    Accepts either a frame that already has an event-time column
    ``ts`` or the raw reading shape with epoch-millis
    ``timestamp`` (then event time is derived, with the validity
    guard of querying/util/TSExtractor.java:11-22).

    avg is computed as sum/count at the END of aggregation — the
    algebraic form that stays correct under any partial/final merge
    (querying/util/Aggregator.java:17-30).

    The sum accumulates as a micros-scaled BIGINT (each value rounded
    to 6 dp once, then summed as exact integers) and is divided back
    to double only at the end. Double summation is non-associative and
    Spark's partial/final merge order is nondeterministic, so a raw
    sum(double) can drift past round(·, 6) between runs (and vs the
    DuckDB oracle) on large groups; integer summation cannot. Headroom:
    a long holds ±9.2e18 micros ≈ ±9.2e12 in value units per
    (cell, hour) group — far above any physical sensor sum.
    """
    if "ts" not in readings.columns:
        readings = with_event_time(readings)
    agg = (
        readings.withColumn("gh", F.substring(F.col("geohash"), 1, precision))
        .groupBy(F.window(F.col("ts"), DEFAULT_WINDOW).alias("w"), F.col("gh"))
        .agg(
            F.count(F.lit(1)).alias("count"),
            F.sum(F.round(F.col("tempVal") * 1000000).cast("long")).alias("sum_u"),
        )
    )
    return agg.select(
        F.col("gh"),
        F.col("w.start").alias("window_start"),
        F.col("count"),
        (F.col("sum_u") / F.lit(1000000.0)).alias("sum"),
        (F.col("sum_u") / F.lit(1000000.0) / F.col("count")).alias("avg"),
    )


def view_oracle_sql(readings_sql: str) -> str:
    """DuckDB twin of :func:`build_view` over a readings relation that
    exposes columns (ts TIMESTAMP, geohash VARCHAR, tempVal DOUBLE)."""
    return f"""
        SELECT
            substring(geohash, 1, {DEFAULT_PRECISION}) AS gh,
            date_trunc('hour', ts)                  AS window_start,
            count(*)                                AS count,
            sum(CAST(round(tempVal * 1000000) AS BIGINT)) / 1000000.0
                                                    AS sum,
            sum(CAST(round(tempVal * 1000000) AS BIGINT)) / 1000000.0
                / count(*)                          AS avg
        FROM ({readings_sql})
        GROUP BY 1, 2
    """
