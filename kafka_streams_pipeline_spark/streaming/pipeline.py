"""Structured Streaming ingest: the reference's continuous topology
re-expressed (SURVEY.md §3.1).

Reference shape (ingestion/KafkaStreamsAggregator.java:53-110):
consume → deserialize → event-time extract → re-key to geohash cell →
1-hour windowed count/sum/avg into a queryable WindowStore, with a
10 s commit cadence and ~24 h late-data retention.

Spark shape: ``readStream`` (kafka or files) → ``from_json``/typed
readings → ``withWatermark('ts', grace)`` →
``groupBy(window('ts','1 hour'), gh).agg(...)`` in **update** mode →
``foreachBatch`` append to the parquet view store, whose
ws_date-partitioned layout sources/sinks.py owns (writes, compaction
and the version-resolving reads).

Semantics mapping (SURVEY.md §2.8):
- T3 late data: watermark 24 h ≈ Kafka Streams 2.3's default window
  retention. Difference documented: the watermark DROPS rows later
  than 24 h, where KS silently stops retaining the window.
- T4 cadence: trigger(processingTime='10 seconds') mirrors the commit
  interval; tests use availableNow for determinism.
- T5 queryability: Spark state is not interactively queryable, so the
  queryable copy is this external view store — written per
  micro-batch, readable by the batch query family (operators/queries).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kafka_streams_pipeline_spark.operators.view import build_view
from kafka_streams_pipeline_spark.schema import READING_SCHEMA
from kafka_streams_pipeline_spark.sources.sinks import write_view

DEFAULT_GRACE = "24 hours"  # Kafka Streams 2.3 default retention (T3)


def streaming_view_aggregate(readings: DataFrame) -> DataFrame:
    """The standing windowed aggregate over a *streaming* readings
    frame: operators/view.build_view behind the watermark (one plan
    shape → streaming/batch parity by construction)."""
    return build_view(readings.withWatermark("ts", DEFAULT_GRACE))


def upsert_view_batch(view_dir: str):
    """foreachBatch function that appends each micro-batch of updated
    (gh, window_start) aggregates to the view store, one file per
    ws_date partition the batch touches, in one Spark job
    (sources/sinks.write_view). Each row is the complete aggregate of
    a changed key, so it is that key's newest version, and the store's
    readers take the largest-count version of each key. A micro-batch
    re-run after a crash appends copies of rows already written, which
    resolve away, so the sink is exactly-once without a ledger."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        write_view(batch_df, view_dir, mode="append")

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
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    processing_time: str = "10 seconds",
    rocksdb_state: bool = False,
) -> StreamingQuery:
    """File-source replay of the ingest topology (json files of
    reading records). Kafka deployments swap the source for
    sources/readings.kafka_reading_stream — every later stage is
    identical.

    ``spark`` is expected to carry ``session.SESSION_CONFS`` (as
    ``get_spark`` sessions and the ``__spark_entry__`` wrapper do).
    The file source lists each micro-batch's files through it, and on
    a bare session a batch of more than 32 files lists them in a
    Spark job with one task per file
    (``spark.sql.sources.parallelPartitionDiscovery.threshold``; see
    the session module's design notes).

    The stateful aggregate runs ONE shuffle/state-store partition.
    Every micro-batch commits every state-store instance, data or
    not, and each commit is a fixed cost whatever the rows: with
    RocksDB changelog checkpointing, about 12 ms for one instance
    against 120-130 ms for four (4 vCPU; replaying ``ingest_mixed``'s
    steady batches of ~900 readings, a batch took 253 ms at one
    partition and 287 ms at four). More partitions pay off only once
    a batch has enough rows to keep the cores busy. In availableNow
    replays of the sf0.1 readings (three batches; shifted copies for
    the larger sizes; 4 vCPU), one partition took 1.24 s against
    1.33 s at 33k rows per batch, was even at 67k, and lost from 100k
    (1.60 s against 1.38 s; 3.39 s against 2.36 s at 333k). So the
    break-even is about 60k rows per micro-batch, far above the
    ingest batches this pipeline serves; a stream whose batches are
    larger (backfills, long triggers) would need its own count. The
    count also sets the width of the sink's one shuffle (the
    ``ws_date`` repartition of the append), which runs on the stream's
    session; the sink appends each batch's rows as new versions of
    their keys (the largest ``count`` wins on read), so it reads
    nothing back from the store. Pinned by the checkpoint at the
    stream's first start, so an existing checkpoint keeps the count it
    started with; results do not depend on it.

    ``rocksdb_state``: select the RocksDB state-store provider and
    turn on its changelog checkpointing (each commit uploads the
    batch's changelog instead of a RocksDB checkpoint of the store).
    Under ``get_spark`` the provider is already RocksDB
    (``session.SESSION_CONFS``), so there the flag only adds changelog
    checkpointing, and ``False`` means RocksDB without changelog, not
    the HDFS-backed provider; on a session that selects no provider,
    ``False`` leaves Spark's default HDFS-backed store. Pinned at first
    start via the checkpoint. The partition count and the provider are
    applied through the streaming query's cloned session conf, so they
    never leak into the caller's session."""
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
    agg = streaming_view_aggregate(readings)
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
        "spark.sql.shuffle.partitions": "1"
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


def streaming_dedup(readings: DataFrame) -> DataFrame:
    """Streaming exact dedup: keep the first arrival per (sensorId,
    timestamp, ts), with dedup state bounded by the watermark (keys
    older than ``DEFAULT_GRACE`` are forgotten — the price of bounded
    state at 100 TB/day; exact dedup of an unbounded stream needs
    unbounded memory). Emits each surviving row exactly once in
    append mode."""
    return readings.withWatermark("ts", DEFAULT_GRACE).dropDuplicates(
        ["sensorId", "timestamp", "ts"]
    )


def await_replay(q: StreamingQuery) -> None:
    """Wait up to 300 s for a bounded (availableNow) replay to finish,
    LOUDLY.

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
    timeout_secs = 300
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
