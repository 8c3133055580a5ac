"""Structured Streaming ingest: the reference's continuous topology
re-expressed (SURVEY.md §3.1).

Reference shape (ingestion/KafkaStreamsAggregator.java:53-110):
consume → deserialize → event-time extract → re-key to geohash cell →
1-hour windowed count/sum/avg into a queryable WindowStore, with a
10 s commit cadence and ~24 h late-data retention.

Spark shape: ``readStream`` (kafka or files) → ``from_json``/typed
readings → ``withWatermark('ts', grace)`` →
``groupBy(window('ts','1 hour'), gh).agg(...)`` in **update** mode →
``foreachBatch`` upsert into an external parquet view table
partitioned by window date.

Semantics mapping (SURVEY.md §2.8):
- T3 late data: watermark 24 h ≈ Kafka Streams 2.3's default window
  retention. Difference documented: the watermark DROPS rows later
  than 24 h, where KS silently stops retaining the window.
- T4 cadence: trigger(processingTime='10 seconds') mirrors the commit
  interval; tests use availableNow for determinism.
- T5 queryability: Spark state is not interactively queryable, so the
  queryable copy is this external view table — written per
  micro-batch, readable by the batch query family (operators/queries).

Scale: the upsert rewrites only the window-date partitions touched by
the micro-batch (late data bounded by the watermark bounds how many),
merging surviving rows with updated keys — at 1000 executors the
rewrite cost tracks update volume, not view size. Delta/Iceberg MERGE
is the drop-in upgrade when available.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kafka_streams_pipeline_spark.operators.view import DEFAULT_PRECISION, DEFAULT_WINDOW
from kafka_streams_pipeline_spark.schema import READING_SCHEMA

DEFAULT_GRACE = "24 hours"  # Kafka Streams 2.3 default retention (T3)


def streaming_view_aggregate(
    readings: DataFrame,
    precision: int = DEFAULT_PRECISION,
    window: str = DEFAULT_WINDOW,
    grace: str = DEFAULT_GRACE,
) -> DataFrame:
    """The standing windowed aggregate over a *streaming* readings
    frame: identical expression to operators/view.build_view plus the
    watermark (same plan shape → streaming/batch parity by
    construction)."""
    agg = (
        readings.withWatermark("ts", grace)
        .withColumn("gh", F.substring(F.col("geohash"), 1, precision))
        .groupBy(F.window(F.col("ts"), window).alias("w"), F.col("gh"))
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


def _existing_partition_paths(
    spark: SparkSession, view_dir: str, dates: list
) -> list[str]:
    """Which ws_date=<d> partition directories already exist, probed
    through the Hadoop FileSystem API — works on any Spark-supported
    store (local FS, HDFS, s3a://, gs://, abfss://), unlike driver-
    local os.listdir which only sees the driver's disk."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    base = jvm.org.apache.hadoop.fs.Path(view_dir)
    fs = base.getFileSystem(hconf)
    if not fs.exists(base):
        return []
    out = []
    for d in dates:
        part = f"{view_dir}/ws_date={d}"
        if fs.exists(jvm.org.apache.hadoop.fs.Path(part)):
            out.append(part)
    return out


def upsert_view_batch(view_dir: str):
    """foreachBatch upsert: merge a micro-batch of updated
    (gh, window_start) aggregates into the parquet view table.

    Update-mode batches carry the COMPLETE re-aggregated value for
    every changed key (the streaming state holds the running
    aggregate), so the merge is delete-matching-keys ∪ insert-batch —
    confined to the window-date partitions present in the batch.
    """

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = batch_df.withColumn(
            "ws_date", F.to_date("window_start")
        ).cache()
        dates = [r["ws_date"] for r in batch_df.select("ws_date").distinct().collect()]
        if not dates:
            batch_df.unpersist()
            return
        merged = batch_df
        existing_parts = _existing_partition_paths(spark, view_dir, dates)
        if existing_parts:
            existing = (
                spark.read.schema(batch_df.schema)
                .option("basePath", view_dir)
                .parquet(*existing_parts)
            )
            survivors = existing.join(
                batch_df.select("gh", "window_start"),
                ["gh", "window_start"],
                "left_anti",
            ).select(*batch_df.columns)
            merged = batch_df.unionByName(survivors)
        (
            merged.repartition("ws_date")
            .write.mode("overwrite")
            .partitionBy("ws_date")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(view_dir)
        )
        batch_df.unpersist()

    return apply


#: org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider
#: — Spark's bundled alternative provider; with changelog
#: checkpointing it uploads per-batch DELTAS instead of full state
#: snapshots.
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)

def start_file_stream_pipeline(
    spark: SparkSession,
    source_dir: str,
    view_dir: str,
    checkpoint_dir: str,
    precision: int = DEFAULT_PRECISION,
    grace: str = DEFAULT_GRACE,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    processing_time: str = "10 seconds",
    state_partitions: int | None = None,
    rocksdb_state: bool = False,
) -> StreamingQuery:
    """File-source replay of the ingest topology (json files of
    reading records). Kafka deployments swap the source for
    sources/readings.kafka_reading_stream — every later stage is
    identical.

    ``state_partitions``: number of shuffle/state-store partitions
    for the stateful aggregate; default one per core
    (``defaultParallelism``). Every micro-batch commits every state
    partition, data or not, so this count is the per-batch commit
    cost. Pinned by the checkpoint at the stream's first start;
    results do not depend on it.

    ``rocksdb_state``: use the RocksDB state-store provider with
    changelog checkpointing (per-batch delta uploads instead of full
    HDFS-backed snapshots). Also pinned at first start via the
    checkpoint. Both knobs are applied through the streaming query's
    cloned session conf, so they never leak into the caller's
    session."""
    reader = spark.readStream.schema(READING_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.json(source_dir)
    readings = (
        raw.withColumn("ts", F.timestamp_millis(F.col("timestamp")))
        .filter(
            F.col("ts").isNotNull()
            & (F.col("timestamp").isNull() | (F.col("timestamp") >= 0))
        )
    )
    agg = streaming_view_aggregate(readings, precision=precision, grace=grace)
    writer = (
        agg.writeStream.outputMode("update")
        .foreachBatch(upsert_view_batch(view_dir))
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    # StreamExecution clones the session at start(), freezing the
    # confs below into the query; restoring afterwards keeps the
    # caller's session untouched.
    overrides: dict[str, str | None] = {
        "spark.sql.shuffle.partitions": str(
            state_partitions or spark.sparkContext.defaultParallelism
        )
    }
    if rocksdb_state:
        overrides["spark.sql.streaming.stateStore.providerClass"] = (
            ROCKSDB_PROVIDER
        )
        overrides[
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled"
        ] = "true"
    saved = {
        k: spark.conf.get(k, None) for k in overrides
    }
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        return writer.start()
    finally:
        for k, prev in saved.items():
            if prev is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, prev)


def streaming_dedup(
    readings: DataFrame,
    keys: tuple[str, ...] = ("sensorId", "timestamp"),
    grace: str = DEFAULT_GRACE,
) -> DataFrame:
    """Streaming exact dedup: keep the first arrival per key, with
    dedup state bounded by the watermark (keys older than ``grace``
    are forgotten — the price of bounded state at 100 TB/day; exact
    dedup of an unbounded stream needs unbounded memory). Emits each
    surviving row exactly once in append mode."""
    return readings.withWatermark("ts", grace).dropDuplicates([*keys, "ts"])


def read_view(spark: SparkSession, view_dir: str) -> DataFrame:
    """The queryable view table (drop the physical partition column)."""
    return spark.read.parquet(view_dir).select(
        "gh", "window_start", "count", "sum", "avg"
    )


def await_replay(q: StreamingQuery, timeout_secs: int = 300) -> None:
    """Wait for a bounded (availableNow) replay to finish, LOUDLY.

    ``StreamingQuery.awaitTermination(timeout)`` returns False on
    timeout and leaves the query RUNNING — a caller that ignores the
    return value then reads a partially-upserted sink while the
    query keeps mutating it in the background (the flaky-parity
    failure mode: a replay that outlives its wait on a loaded box).
    This helper turns that into a deterministic failure: on timeout
    it stops the query (so the sink stops moving under later
    readers), captures status + last progress for diagnosis, and
    raises. Also re-raises the query's own exception if it FAILED
    rather than timed out.
    """
    if q.awaitTermination(timeout_secs):
        return
    status, progress = None, None
    try:
        status, progress = q.status, q.lastProgress
    except Exception:  # pragma: no cover - diagnostics only
        pass
    try:
        q.stop()
    except Exception:  # pragma: no cover - best effort
        pass
    exc = q.exception()
    if exc is not None:  # died rather than timed out
        raise exc
    raise TimeoutError(
        f"streaming replay did not finish within {timeout_secs}s; "
        f"query stopped to keep the sink stable. status={status} "
        f"lastProgress={progress}"
    )
