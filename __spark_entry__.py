"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash).

The actual inventory lives in
``kafka_streams_pipeline_spark/inventory/`` (and the operator
modules it imports); this file is the thin driver-facing adapter.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from kafka_streams_pipeline_spark import inventory, session  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the reference's materialized hourly view
    (geohash-cell × 1-hour window → count/sum/avg) over sf0.001."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return inventory.QUERIES["q_hourly_view"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2/§7.3."""

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            # driver-owned sessions lack the engine profile
            for k, v in session.SESSION_CONFS.items():
                spark.conf.set(k, v)
            return fn(spark, sf_dir)

        return run

    return {name: wrap(fn) for name, fn in inventory.QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB twins of ``queries()`` (identical column aliases)."""
    return {
        name: inventory.ORACLES[name]
        for name in inventory.QUERIES
        if name in inventory.ORACLES
    }
