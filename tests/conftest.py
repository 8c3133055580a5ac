from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_streams_pipeline_spark.inventory import QUERIES  # noqa: E402
from kafka_streams_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
ORACLE_SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="kspipeline-tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def declared_plans(spark, sf_dir) -> dict[str, str]:
    """Formatted physical plan of every registered query, built once
    per session and shared by the plan guards that census the whole
    declared surface (building all of them takes minutes)."""
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return {
        name: fn(spark, sf_dir)._jdf.queryExecution().explainString(mode)
        for name, fn in QUERIES.items()
    }
