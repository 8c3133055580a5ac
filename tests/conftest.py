from __future__ import annotations

import os
import sys
import tempfile

import pytest
from pyspark.sql.readwriter import DataFrameReader

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_streams_pipeline_spark.inventory import QUERIES, _shared  # noqa: E402
from kafka_streams_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
ORACLE_SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def job_ids(spark):
    """Start counting Spark jobs: returns a callable giving the ids of
    the jobs launched since this call, as a range. Read off the DAG
    scheduler's job-id sequence, so jobs of streaming-query threads
    count too."""
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    first = scheduler.nextJobId()
    return lambda: range(first, scheduler.nextJobId())


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        app_name="kspipeline-tests",
        extra_conf={"spark.sql.shuffle.partitions": "8"},
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def declared_builds(
    spark, sf_dir, tmp_path_factory
) -> dict[str, tuple[str, int]]:
    """Every registered query built once per session (building all of
    them takes minutes), as name -> (formatted physical plan, Spark
    jobs its builder launched). Jobs are counted on the scheduler's
    job-id sequence, which also sees streaming-query threads; the jobs
    of parquet schema inference inside ``DataFrameReader.parquet`` are
    left out. Each builder starts with an empty shared view store, so
    a builder that reuses a store written by an earlier one is still
    measured cold. No stream may be running, or its jobs would be
    counted. Temp directories made during the pass (those fresh view
    stores included) go under a pytest-managed directory, not the
    system temp dir."""
    assert not spark.streams.active, "a stream from another test is running"
    schema_jobs = 0
    read_parquet = DataFrameReader.parquet

    def counted_parquet(self, *paths, **options):
        nonlocal schema_jobs
        jobs = job_ids(spark)
        try:
            return read_parquet(self, *paths, **options)
        finally:
            schema_jobs += len(jobs())

    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    builds = {}
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(DataFrameReader, "parquet", counted_parquet)
        mp.setattr(tempfile, "tempdir", str(tmp_path_factory.mktemp("builds")))
        for name, fn in QUERIES.items():
            mp.setattr(_shared, "_VIEW_STORE", {})
            jobs, schema_start = job_ids(spark), schema_jobs
            df = fn(spark, sf_dir)
            built = len(jobs()) - (schema_jobs - schema_start)
            builds[name] = (df._jdf.queryExecution().explainString(mode), built)
    return builds


@pytest.fixture(scope="session")
def declared_plans(declared_builds) -> dict[str, str]:
    """Formatted physical plan of every registered query, shared by the
    plan guards that census the whole declared surface."""
    return {name: plan for name, (plan, _) in declared_builds.items()}
