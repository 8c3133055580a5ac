"""Sinks: Kafka record encode (S3) and the materialized view store (S4).

Reference: JsonPOJOSerializer (POJO→bytes,
ingestion/util/serdes/JsonPOJOSerializer.java:40-49) and the
materialized WindowStore (ingestion/KafkaStreamsAggregator.java:103-105).

The view store's layout is owned here and nowhere else:

    view_dir/ws_date=<yyyy-mm-dd>/part-*.parquet

one directory per window date, each holding view rows
(``schema.VIEW_SCHEMA``) in one file sorted by (gh, window_start).
Partitioning by ws_date gives history/snapshot queries partition
pruning on their time predicates (operators/queries derives the
ws_date bounds); the sort makes parquet min/max stats skip on gh.

Every write goes through one partition writer, whichever way it
comes in: ``write_view`` (batch build or append), ``upsert_view``
(the streaming foreachBatch merge) and ``compact_view`` (the same
merge with no new rows). Every read uses the declared schema, so no
read runs a schema-inference job. Directories are listed only
through the Hadoop FileSystem API, so the store works on any
Spark-supported filesystem (local FS, HDFS, s3a://, gs://, abfss://).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DateType, StructField, StructType

from kafka_streams_pipeline_spark.schema import VIEW_SCHEMA

#: A stored view row: the view plus its ws_date partition column.
_STORE_SCHEMA = StructType([*VIEW_SCHEMA.fields, StructField("ws_date", DateType())])
_KEY = ["gh", "window_start"]


def to_kafka_records(
    readings: DataFrame, key_col: str = "sensorId"
) -> DataFrame:
    """Encode reading rows to the Kafka wire shape (key, value) —
    value is the reference's JSON record format (README.md:11-17).
    Feed to ``df.write.format('kafka')`` / ``writeStream`` when a
    broker is configured."""
    return readings.select(
        F.col(key_col).cast("string").alias("key"),
        F.to_json(
            F.struct("timestamp", "sensorId", "geohash", "tempVal", "tempUnit")
        ).alias("value"),
    )


def _glob(spark: SparkSession, pattern: str) -> list[str]:
    """Names of the paths matching a Hadoop glob; no Spark job."""
    path = spark._jvm.org.apache.hadoop.fs.Path(pattern)
    found = path.getFileSystem(spark._jsc.hadoopConfiguration()).globStatus(path)
    return [s.getPath().getName() for s in found or []]


def _partitions(spark: SparkSession, view_dir: str) -> list[str]:
    """The store's ``ws_date=<d>`` partition directory names."""
    return _glob(spark, f"{view_dir}/ws_date=*")


def newest_ws_date(view: DataFrame) -> str | None:
    """The newest ``ws_date`` (yyyy-mm-dd) among the store files in the
    listing ``view`` holds, or None when it holds none. Reads the
    listing the view's scan already made: no job, no new listing."""
    parents = (path.rsplit("/", 2)[-2] for path in view.inputFiles())
    return max(
        (d[len("ws_date="):] for d in parents if d.startswith("ws_date=")),
        default=None,
    )


def _read_store(
    spark: SparkSession, view_dir: str, parts: list[str] | None = None
) -> DataFrame:
    """The stored rows of ``parts`` (default: every partition)."""
    paths = [f"{view_dir}/{p}" for p in parts] if parts else [view_dir]
    return (
        spark.read.schema(_STORE_SCHEMA)
        .option("basePath", view_dir)
        .parquet(*paths)
    )


def _write_partitions(
    rows: DataFrame, view_dir: str, mode: str, dynamic: bool = False
) -> None:
    """The one partition writer: one file per ws_date, sorted by
    (gh, window_start). The sort leads with ws_date because the
    partitioned writer needs its input grouped by ws_date; a sort
    that does not lead with it gets a Sort(ws_date) planned on top,
    which replaces the (gh, window_start) order in the files.
    ``dynamic`` replaces only the partitions ``rows`` carries."""
    writer = (
        rows.repartition("ws_date")
        .sortWithinPartitions("ws_date", *_KEY)
        .write.mode(mode)
        .partitionBy("ws_date")
    )
    if dynamic:
        writer = writer.option("partitionOverwriteMode", "dynamic")
    writer.parquet(view_dir)


def _merge_partitions(
    spark: SparkSession,
    view_dir: str,
    parts: list[str],
    rows: DataFrame | None = None,
) -> None:
    """Rewrite the stored partitions ``parts`` together with ``rows``:
    every stored row whose (gh, window_start) key ``rows`` does not
    carry, plus ``rows``. With no ``rows`` this rewrites ``parts``
    as they are (compaction)."""
    if not parts and rows is None:
        return
    merged = rows
    if parts:
        stored = _read_store(spark, view_dir, parts)
        if rows is None:
            merged = stored
        else:
            merged = rows.unionByName(
                stored.join(rows.select(*_KEY), _KEY, "left_anti")
            )
    _write_partitions(merged, view_dir, "overwrite", dynamic=True)


def write_view(view: DataFrame, view_dir: str, mode: str = "overwrite") -> None:
    """Materialize the hourly view into the store — the batch twin of
    the streaming upsert (S4). ``mode`` is the DataFrameWriter save
    mode: ``overwrite`` replaces the whole store, ``append`` adds one
    more file to each partition the view touches."""
    _write_partitions(
        view.withColumn("ws_date", F.to_date("window_start")), view_dir, mode
    )


def upsert_view(view: DataFrame, view_dir: str) -> None:
    """Merge updated view rows into the store.

    Update-mode micro-batches carry the COMPLETE re-aggregated value
    for every changed key (the streaming state holds the running
    aggregate), so the merge is delete-matching-keys ∪ insert —
    confined to the ws_date partitions the rows touch, which the
    watermark bounds. The rewrite cost tracks update volume, not
    store size. Delta/Iceberg MERGE is the drop-in upgrade when
    available."""
    spark = view.sparkSession
    rows = view.withColumn("ws_date", F.to_date("window_start")).cache()
    try:
        dates = {
            f"ws_date={r['ws_date']}"
            for r in rows.select("ws_date").distinct().collect()
        }
        if dates:
            stored = sorted(dates.intersection(_partitions(spark, view_dir)))
            _merge_partitions(spark, view_dir, stored, rows)
    finally:
        rows.unpersist()


def compact_view(spark: SparkSession, view_dir: str) -> int:
    """Rewrite the store with one sorted file per ws_date partition
    and return the number of parquet files removed.

    Appending writers and backfills leave several files per
    partition, and scan cost becomes file-open bound. Compaction (this,
    or OPTIMIZE on Delta/Iceberg) restores the one-sorted-file layout
    that gives parquet min/max skipping on gh its power. It is the
    upsert's partition merge run with no new rows over every
    partition, through the same dynamic-overwrite commit.

    Crash behaviour: the new files are written under a
    ``.spark-staging-*`` directory inside ``view_dir``, which readers
    skip. Only after the write job succeeds is each partition
    directory deleted and its staged copy renamed into place, one
    partition at a time. A crash before that leaves the store as it
    was, plus the staging directory. A crash during it leaves the
    partitions already swapped compacted, the rest as they were, and
    at most one partition missing from the store; that partition's
    rows are still in the staging directory and must be moved back by
    hand. A reader that planned its scan before a partition was
    swapped fails on the deleted files and must re-read."""
    before = len(_glob(spark, f"{view_dir}/ws_date=*/*.parquet"))
    _merge_partitions(spark, view_dir, _partitions(spark, view_dir))
    return before - len(_glob(spark, f"{view_dir}/ws_date=*/*.parquet"))


def read_view(spark: SparkSession, view_dir: str) -> DataFrame:
    """Load the view store for the query family, with the declared
    schema (no schema-inference job). The ws_date partition column is
    KEPT: Spark does not infer ws_date bounds from window_start
    predicates, so operators/queries adds the derived partition
    predicate itself whenever the column is present (that's what
    turns a time-range query into a pruned scan)."""
    return _read_store(spark, view_dir)
