"""Sinks: Kafka record encode (S3) and the materialized view store (S4).

Reference: JsonPOJOSerializer (POJO→bytes,
ingestion/util/serdes/JsonPOJOSerializer.java:40-49) and the
materialized WindowStore (ingestion/KafkaStreamsAggregator.java:103-105).

The view store's layout is owned here and nowhere else:

    view_dir/ws_date=<yyyy-mm-dd>/part-*.parquet

one directory per window date, each holding view rows
(``schema.VIEW_SCHEMA``) in files sorted by (gh, window_start).
Partitioning by ws_date gives history/snapshot queries partition
pruning on their time predicates (operators/queries derives the
ws_date bounds); the sort makes parquet min/max stats skip on gh.

The rows of one (gh, window_start) key are versions of its
aggregate, and the version with the largest ``count`` is current.
The streaming sink appends each micro-batch's update-mode rows, and
each row is the complete aggregate of a key the batch changed. A
key's count only grows from one version to the next: late rows add
to it, and the watermark drops rows for windows it has evicted. So
rows of equal count are identical copies, such as the rows a re-run
micro-batch appends again. A partition holding one file holds one
version per key and is read as it is; ``read_view`` resolves a
partition of several files to one row per key, and ``compact_view``
folds it to one file by the same rule. Ingest never deletes a file,
so a reader's listing stays valid while the stream appends.

Every write goes through one partition writer, whichever way it
comes in: ``write_view`` (the batch build, and the streaming sink's
append) and ``compact_view``. Every read uses the declared schema, so
no read runs a schema-inference job, and reads list the store on the
driver. Only Spark's own file listing is used, so the store works on
any Spark-supported filesystem (local FS, HDFS, s3a://, gs://,
abfss://).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DateType, StructField, StructType

from kafka_streams_pipeline_spark.schema import VIEW_SCHEMA

#: A stored view row: the view plus its ws_date partition column.
_STORE_SCHEMA = StructType([*VIEW_SCHEMA.fields, StructField("ws_date", DateType())])
_KEY = ["gh", "window_start"]


def to_kafka_records(readings: DataFrame) -> DataFrame:
    """Encode reading rows to the Kafka wire shape (key, value) —
    value is the reference's JSON record format (README.md:11-17).
    Feed to ``df.write.format('kafka')`` / ``writeStream`` when a
    broker is configured."""
    return readings.select(
        F.col("sensorId").cast("string").alias("key"),
        F.to_json(
            F.struct("timestamp", "sensorId", "geohash", "tempVal", "tempUnit")
        ).alias("value"),
    )


def _by_partition(view: DataFrame) -> dict[str, list[str]]:
    """The store files in the listing ``view``'s scans made, by their
    ``ws_date=<d>`` directory name. No job, no new listing."""
    parts: dict[str, list[str]] = {}
    for path in view.inputFiles():
        parts.setdefault(path.rsplit("/", 2)[-2], []).append(path)
    return parts


def _stacked(parts: dict[str, list[str]]) -> list[dt.date]:
    """The ws_date of each partition that holds more than one file."""
    return [
        dt.date.fromisoformat(p[len("ws_date="):])
        for p, files in parts.items()
        if len(files) > 1
    ]


def newest_ws_date(view: DataFrame) -> str | None:
    """The newest ``ws_date`` (yyyy-mm-dd) among the store files in the
    listing ``view`` holds, or None when it holds none. Reads the
    listing the view's scan already made: no job, no new listing."""
    return max(
        (d[len("ws_date="):] for d in _by_partition(view) if d.startswith("ws_date=")),
        default=None,
    )


def _read_store(spark: SparkSession, view_dir: str) -> DataFrame:
    """The stored rows as written: a key may have several versions."""
    return (
        spark.read.schema(_STORE_SCHEMA)
        .option("basePath", view_dir)
        .parquet(view_dir)
    )


def _resolved(rows: DataFrame) -> DataFrame:
    """One row per (gh, window_start): the version with the largest
    count (equal counts are identical copies)."""
    return (
        rows.groupBy(*_KEY, "ws_date")
        .agg(
            F.max("count").alias("count"),
            F.max_by("sum", "count").alias("sum"),
            F.max_by("avg", "count").alias("avg"),
        )
        .select(*_STORE_SCHEMA.fieldNames())
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


def write_view(view: DataFrame, view_dir: str, mode: str = "overwrite") -> None:
    """Materialize the hourly view into the store (S4). ``mode`` is
    the DataFrameWriter save mode: ``overwrite`` replaces the whole
    store, ``append`` adds one more file to each partition the view
    touches and deletes none.

    Appended rows are versions: where a key already has a row, the
    row with the larger ``count`` wins on read and on compaction. So
    append either rows on keys the store does not hold, or complete
    re-aggregated values, as the streaming sink
    (``streaming.pipeline.upsert_view_batch``) does with each
    micro-batch's update-mode rows; a partial aggregate over more
    readings of a stored key would be read as a version, not summed."""
    _write_partitions(
        view.withColumn("ws_date", F.to_date("window_start")), view_dir, mode
    )


def compact_view(spark: SparkSession, view_dir: str) -> int:
    """Rewrite every partition that holds several files as one sorted
    file, and return the number of parquet files removed.

    The streaming sink appends a file to each partition a micro-batch
    touches, and scan cost becomes file-open bound as they pile up
    (``read_view`` has the measurements). Compaction (this, or
    OPTIMIZE on Delta/Iceberg) restores the one-sorted-file layout that
    gives parquet min/max skipping on gh its power, folding each key's
    versions by the read's rule (the largest count wins). Partitions
    that already hold one file are left alone.

    Do not run it while a stream appends to the same store. Its commit
    is a dynamic partition overwrite, which deletes each rewritten
    partition directory whole, so a file the stream appended after
    compaction listed the store would be deleted with its rows.

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
    stored = _read_store(spark, view_dir)
    before = _by_partition(stored)
    stacked = _stacked(before)
    if not stacked:
        return 0
    _write_partitions(
        _resolved(stored.where(F.col("ws_date").isin(stacked))),
        view_dir,
        "overwrite",
        dynamic=True,
    )
    after = _by_partition(_read_store(spark, view_dir))
    return sum(map(len, before.values())) - sum(map(len, after.values()))


def read_view(spark: SparkSession, view_dir: str) -> DataFrame:
    """Load the view store for the query family, one row per
    (gh, window_start), with the declared schema (no schema-inference
    job). The ws_date partition column is KEPT: Spark does not infer
    ws_date bounds from window_start predicates, so operators/queries
    adds the derived partition predicate itself whenever the column is
    present (that's what turns a time-range query into a pruned scan).

    Building the frame lists the store once, on the driver, and
    launches no job. When every partition holds one file, the frame is
    that plain scan. Otherwise the partitions that hold several files
    are resolved to the largest-count version of each key, in one task
    (coalesced before the aggregate, so a pruned read plans no
    Exchange), beside the plain scan of the other partitions; both
    sides select their partitions from the one listing. The frame
    reads only the files it listed; since ingest only adds files, it
    stays readable, without the rows appended later.

    Resolving costs each read in proportion to the files it opens.
    Measured on a synthetic store shaped like perfbench
    ``ingest_mixed``'s (24k keys over two ws_dates: one full write,
    then appends of 900 updated keys each; ``get_spark`` session,
    4 vCPU, median of 15 after 3 warm-ups), at 1 / 10 / 100 files per
    partition: building the frame took 9 / 23 / 29 ms, building it
    and collecting a 10-cell ``history`` over the whole span
    116 / 136 / 333 ms, and a whole-store ``count()`` 48 / 107 / 202 ms.
    So a store the stream has appended to for more than a few dozen
    micro-batches should be compacted (``compact_view``, while the
    stream is stopped) before it serves reads that need to be fast.
    """
    stored = _read_store(spark, view_dir)
    stacked = _stacked(_by_partition(stored))
    if not stacked:
        return stored
    many = F.col("ws_date").isin(stacked)
    return stored.where(~many).unionByName(
        _resolved(stored.where(many).coalesce(1))
    )
