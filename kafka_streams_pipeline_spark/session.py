"""SparkSession factory with scale-appropriate defaults.

Single place where execution-relevant configuration lives, so tests,
bench.py and the driver entry all run the same engine profile.

Design notes (100 TB posture; first tuned on a 32-vCPU host, the
figures below measured on 4 vCPU):

- UTC session timezone: the reference truncates timestamps in the
  JVM system zone (querying/QueryingController.java:240-249); we
  standardize on UTC (documented deviation, SURVEY.md §2.7 F3).
- AQE on: runtime coalescing of small shuffle partitions and skew
  join splitting — the knobs that let one plan survive sf0.001 → 100 TB.
- shuffle.partitions: 32 unless $SPARK_GRAFT_SHUFFLE_PARTITIONS says
  otherwise, whatever the core count (the value once matched a
  32-core host; AQE coalesces the small partitions on smaller ones).
  On a real cluster this is overridden (or left to AQE's
  initialPartitionNum).
- Arrow enabled: any pandas interchange (mapInPandas stubs,
  toPandas in tests) is batched, not per-row pickled.
- DataFrame call-site capture off
  (spark.python.sql.dataFrameDebugging.enabled=false): by default
  PySpark wraps every Column/functions call to record its Python call
  site for error messages, at the cost of extra py4j round trips and
  a stack walk per call. Nothing here reads that context, and on a
  serving request the capture was most of the DataFrame build: over
  the perfbench serve store (4 vCPU, 20 requests per kind, one
  process) the build p50 of history / history_interval / snapshot is
  49 / 60 / 117 ms with it and 31 / 34 / 42 ms without.
- File listing on the driver
  (spark.sql.sources.parallelPartitionDiscovery.threshold at its
  maximum): above the threshold (stock 32 root paths, or 32
  subdirectories) InMemoryFileIndex lists in a Spark job with one task
  per path. The master here is local[N], so that job runs the same
  stat calls in the driver's JVM plus task scheduling. A file-stream
  micro-batch hands each new file to the index as its own root path,
  and perfbench ingest_mixed's batches carry 60-130 files. A 100-file
  availableNow batch (4 vCPU, 5 runs) spent a median 489 ms in
  getBatch with the listing job and 17 ms without it. The conf must
  be on the caller's session: the file source lists through it, and
  the same value set only while the stream starts (its cloned
  session) left getBatch at 403 ms, listing job included.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

#: The engine profile's runtime-settable confs: ``get_spark`` builds
#: its session with them, and the driver adapter (``__spark_entry__``)
#: applies them to a session it did not build. The JVM-start-only
#: ones (driver memory, UI, call-site capture) live in ``get_spark``.
SESSION_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.shuffle.partitions": str(DEFAULT_SHUFFLE_PARTITIONS),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.files.maxPartitionBytes": str(256 * 1024 * 1024),
    "spark.sql.sources.parallelPartitionDiscovery.threshold": str(2**31 - 1),
    # driver fixtures use parquet TIMESTAMP(NANOS) (events.ts);
    # Spark 4 rejects it unless read as long (normalized in
    # sources/tables.py back to TimestampType at µs precision,
    # matching DuckDB's µs truncation)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
}


def get_spark(
    app_name: str = "kafka-streams-pipeline-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or
    ``*``. Configs that require a fresh JVM (driver memory) only take
    effect when no session exists yet; in long-lived test sessions the
    existing one is reused.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    confs = dict(SESSION_CONFS)
    if shuffle_partitions:
        confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    confs.update(extra_conf or {})
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# Rows-per-slice for driver-built frames: small enough that genuinely
# large label lists still pickle in parallel, large enough that a
# metadata frame is ONE task instead of defaultParallelism near-empty
# tasks (one per core locally; thousands on a real cluster).
_LOCAL_ROWS_PER_SLICE = 65_536


def local_rows_df(spark: SparkSession, rows, schema):
    """``createDataFrame`` for DRIVER-BUILT row lists with slice count
    derived from the data instead of ``defaultParallelism``.

    ``spark.createDataFrame(list)`` parallelizes into
    ``defaultParallelism`` slices regardless of size, so every tiny
    metadata/summary frame (store history, quantile literals, collected
    terminal rows) schedules 32 local tasks — or thousands of cluster
    tasks — to move a handful of rows. Every action on such a frame
    pays that scheduling tax again. Slices here scale with ``len(rows)``
    (1 per 64Ki rows), so metadata frames are one task while bounded-
    but-large lists (e.g. union-find label maps up to ~2M rows) keep
    parallel pickling."""
    rows = rows if isinstance(rows, list) else list(rows)
    if not rows:
        return spark.createDataFrame(rows, schema)
    slices = max(1, min(
        spark.sparkContext.defaultParallelism,
        len(rows) // _LOCAL_ROWS_PER_SLICE + 1,
    ))
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, slices), schema
    )


class CacheHandoff:
    """Frames an operator persisted for the lazy frame it returned.

    The returned frame reads these caches when the caller executes
    it, so the operator cannot unpersist them before returning.
    Instead it ``keep``s each one and calls ``release`` at its next
    call's entry, which bounds the session to ONE call's cached
    frames. The caller may also ``release`` once it has materialized
    the result: the frame stays valid (Spark recomputes from lineage
    if it is read again), only the pinned blocks are freed."""

    def __init__(self) -> None:
        self._frames: list = []

    def keep(self, frame):
        self._frames.append(frame)
        return frame

    def release(self) -> None:
        while self._frames:
            try:
                self._frames.pop().unpersist()
            except Exception:  # session already stopped — nothing to free
                pass
