"""Streaming parity (SURVEY.md §5.4): the file-stream pipeline with
out-of-order input across multiple micro-batches must converge to the
same view table the batch builder produces.
"""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from kafka_streams_pipeline_spark.inventory._shared import _write_chunks
from kafka_streams_pipeline_spark.operators import build_view
from kafka_streams_pipeline_spark.sources.readings import readings_from_events
from kafka_streams_pipeline_spark.sources.sinks import read_view
from kafka_streams_pipeline_spark.sources.tables import load_table
from kafka_streams_pipeline_spark.streaming.pipeline import (
    await_replay,
    start_file_stream_pipeline,
)


@pytest.fixture(scope="module")
def readings_rows(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    return readings_from_events(events).collect()


def _disordered(rows, n_chunks=3, disorder_block=50):
    """Split a replay into chunks in time order (so the watermark
    advances like a live stream) with LOCAL disorder: rows are reversed
    within blocks of ``disorder_block``, so every micro-batch carries
    rows that update windows an earlier batch opened.

    The blocks are not small against the 24 h grace on sparse
    fixtures. On sf0.001 (1,000 events over ~800 h) chunk 1 starts
    about 34 h before chunk 0's maximum. ``test_stream_matches_batch_view``
    still sees every row only because Spark judges batch N's rows
    against the watermark batch N-1 ran under, which lags the max event
    time by one batch (``test_late_rows_judged_one_batch_behind``)."""
    ordered = sorted(rows, key=lambda r: r["timestamp"])
    jumbled = []
    for i in range(0, len(ordered), disorder_block):
        jumbled.extend(reversed(ordered[i : i + disorder_block]))
    per = (len(jumbled) + n_chunks - 1) // n_chunks
    return [jumbled[c * per : (c + 1) * per] for c in range(n_chunks)]


def test_stream_matches_batch_view(spark, sf_dir, readings_rows, tmp_path_factory):
    base = tmp_path_factory.mktemp("stream")
    src, view, ckpt = str(base / "src"), str(base / "view"), str(base / "ckpt")
    _write_chunks(src, _disordered(readings_rows, n_chunks=3))

    q = start_file_stream_pipeline(
        spark, src, view, ckpt, available_now=True, max_files_per_trigger=1
    )
    await_replay(q, 300)

    got = {
        (r["gh"], r["window_start"]): (r["count"], r["sum"], r["avg"])
        for r in read_view(spark, view).collect()
    }
    events = load_table(spark, sf_dir, "events")
    exp = {
        (r["gh"], r["window_start"]): (r["count"], r["sum"], r["avg"])
        for r in build_view(readings_from_events(events)).collect()
    }
    assert set(got) == set(exp)
    for k in exp:
        assert got[k][0] == exp[k][0]
        assert got[k][1] == pytest.approx(exp[k][1], rel=1e-9)
        assert got[k][2] == pytest.approx(exp[k][2], rel=1e-9)


def _hour_reading(hour, val, i):
    """Reading ``i`` at ``hour`` hours past the epoch, in one cell."""
    return {
        "timestamp": hour * 3_600_000 + i,
        "sensorId": f"s{i:06d}",
        "geohash": "u155mz82dv33",
        "tempVal": float(val),
        "tempUnit": "c",
    }


def test_late_beyond_watermark_dropped(spark, tmp_path_factory):
    """T3 semantics (SURVEY.md §2.8): a row arriving later than the
    24 h grace does NOT update its window — the documented deviation
    from Kafka Streams (which silently stops *retaining* the window
    instead). Watermark advances at batch boundaries, so the late row
    arrives in a second micro-batch after fresher data has moved the
    watermark past its window.

    The late rows come after a restart. The first run ends with a
    no-data batch that runs under the moved watermark (36 h) and evicts
    the hour-0 window, so the restart's batch judges the rows against
    36 h and drops them. In a single run the same rows would land
    (``test_late_rows_judged_one_batch_behind``)."""
    base = tmp_path_factory.mktemp("stream-late")
    src, view, ckpt = str(base / "src"), str(base / "view"), str(base / "ckpt")
    # batch 1: 10 rows in hour 0, then 10 rows at hour 60 → watermark
    # advances to 60h − 24h = 36h after the batch
    _write_chunks(src, [
        [_hour_reading(0, 20.0, i) for i in range(10)]
        + [_hour_reading(60, 25.0, i) for i in range(10)]
    ])
    q = start_file_stream_pipeline(
        spark, src, view, ckpt, available_now=True, max_files_per_trigger=1
    )
    await_replay(q, 300)
    # batch 2: 5 more rows for hour 0 — its window end (1 h) is far
    # below the 36 h watermark → dropped
    _write_chunks(src, [[_hour_reading(0, 99.0, 100 + i) for i in range(5)]])
    q2 = start_file_stream_pipeline(
        spark, src, view, ckpt, available_now=True, max_files_per_trigger=1
    )
    await_replay(q2, 300)

    rows = {r["window_start"].hour: r for r in read_view(spark, view).collect()}
    assert rows[0]["count"] == 10  # late rows did NOT land
    assert rows[0]["avg"] == pytest.approx(20.0)


def test_late_rows_judged_one_batch_behind(spark, tmp_path_factory):
    """Spark drops a late row in batch N against the watermark that
    batch N-1 ran under, not against the max event time the batches
    before N reached. Batch 0 holds 10 hour-0 rows and 10 hour-60 rows
    and moves the watermark to 36 h; batch 1, in the same run, holds 5
    more hour-0 rows. Batch 1 still judges them against batch 0's
    watermark (none), so they land and the hour-0 count is 15. Contrast
    ``test_late_beyond_watermark_dropped``, where a restart puts a
    no-data batch between the two and the rows are dropped. A sink that
    applied the watermark itself would have to reproduce this lag."""
    base = tmp_path_factory.mktemp("stream-late-lag")
    src, view, ckpt = str(base / "src"), str(base / "view"), str(base / "ckpt")
    _write_chunks(src, [
        [_hour_reading(0, 20.0, i) for i in range(10)]
        + [_hour_reading(60, 25.0, i) for i in range(10)],
        [_hour_reading(0, 99.0, 100 + i) for i in range(5)],
    ])
    q = start_file_stream_pipeline(
        spark, src, view, ckpt, available_now=True, max_files_per_trigger=1
    )
    await_replay(q, 300)

    rows = {r["window_start"].hour: r for r in read_view(spark, view).collect()}
    assert rows[0]["count"] == 15


def test_streaming_dedup_across_batches(spark, tmp_path_factory):
    """streaming_dedup keeps first arrival per (sensorId, timestamp)
    even when the duplicate arrives in a LATER micro-batch (state
    carries across batches, bounded by the watermark)."""
    from pyspark.sql import functions as SF

    from kafka_streams_pipeline_spark.schema import READING_SCHEMA
    from kafka_streams_pipeline_spark.streaming.pipeline import streaming_dedup

    def reading(i, val):
        return {
            "timestamp": 1_700_000_000_000 + i * 1000,
            "sensorId": f"s{i:06d}",
            "geohash": "u155mz82dv33",
            "tempVal": float(val),
            "tempUnit": "c",
        }

    base = tmp_path_factory.mktemp("stream-dedup")
    src, out, ckpt = str(base / "src"), str(base / "out"), str(base / "ckpt")
    _write_chunks(src, [
        [reading(i, 20.0) for i in [0, 1, 0]],  # duplicate within the batch
        [reading(i, 20.0) for i in [1, 2]],  # duplicate across batches + one new
    ])

    raw = spark.readStream.schema(READING_SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).json(src)
    readings = raw.withColumn("ts", SF.timestamp_millis("timestamp"))
    q = (
        streaming_dedup(readings)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    await_replay(q, 300)
    rows = spark.read.parquet(out).select("sensorId").collect()
    assert sorted(r["sensorId"] for r in rows) == ["s000000", "s000001", "s000002"]


def test_stream_restart_resumes_from_checkpoint(
    spark, sf_dir, readings_rows, tmp_path_factory
):
    """New files after a restart update the same view through the same
    checkpoint — the reference's changelog-restore equivalent (T6)."""
    base = tmp_path_factory.mktemp("stream-restart")
    src, view, ckpt = str(base / "src"), str(base / "view"), str(base / "ckpt")
    half = len(readings_rows) // 2
    _write_chunks(src, _disordered(readings_rows[:half], n_chunks=1))
    q = start_file_stream_pipeline(spark, src, view, ckpt, available_now=True)
    await_replay(q, 300)
    n1 = read_view(spark, view).agg(F.sum("count")).collect()[0][0]
    assert n1 == half

    # "restart": a second availableNow run over the same checkpoint
    # picks up only the new file
    _write_chunks(src, _disordered(readings_rows[half:], n_chunks=1))
    q2 = start_file_stream_pipeline(spark, src, view, ckpt, available_now=True)
    await_replay(q2, 300)
    n2 = read_view(spark, view).agg(F.sum("count")).collect()[0][0]
    assert n2 == len(readings_rows)


def test_processing_time_trigger(spark, readings_rows, tmp_path_factory):
    """T4: the continuous processingTime cadence path (reference
    commits every 10 s; shortened to 1 s here). The query must keep
    ticking: a file landing AFTER the stream starts is picked up by a
    later micro-batch, then the query stops cleanly."""
    import time

    base = tmp_path_factory.mktemp("stream-proc")
    src, view, ckpt = str(base / "src"), str(base / "view"), str(base / "ckpt")
    half = len(readings_rows) // 2
    _write_chunks(src, _disordered(readings_rows[:half], n_chunks=1))

    q = start_file_stream_pipeline(
        spark, src, view, ckpt, available_now=False, processing_time="1 second"
    )

    def total():
        try:
            return read_view(spark, view).agg(F.sum("count")).collect()[0][0] or 0
        except Exception:  # view dir not written yet
            return 0

    try:
        deadline = time.time() + 120
        while total() < half and time.time() < deadline:
            time.sleep(1)
        assert total() == half
        # a second file lands mid-stream (atomic rename, like a real
        # ingest drop) → a later tick must pick it up
        _write_chunks(src + "/more", _disordered(readings_rows[half:], n_chunks=1))
        os.rename(src + "/more/chunk000.json", src + "/late.json")
        while total() < len(readings_rows) and time.time() < deadline:
            time.sleep(1)
        assert total() == len(readings_rows)
        assert len(q.recentProgress) >= 2  # genuinely multiple ticks
    finally:
        q.stop()


def test_compact_view_reduces_files_preserves_data(
    spark, sf_dir, readings_rows, tmp_path_factory
):
    """A fragmented store (append-mode writers: the foreachBatch sink
    appends one file per touched partition each micro-batch) compacts
    to one sorted file per ws_date partition, and reads the same
    before and after. The two halves here share keys, so both reads
    resolve them by the store's rule (the largest count wins)."""
    from kafka_streams_pipeline_spark.operators import build_view
    from kafka_streams_pipeline_spark.sources.readings import readings_from_events
    from kafka_streams_pipeline_spark.sources.sinks import compact_view, write_view

    base = tmp_path_factory.mktemp("compact")
    view = str(base / "view")
    events = load_table(spark, sf_dir, "events")
    v1 = build_view(readings_from_events(events.where(F.col("event_id") % 2 == 0)))
    v2 = build_view(readings_from_events(events.where(F.col("event_id") % 2 == 1)))
    write_view(v1, view, mode="overwrite")
    write_view(v2, view, mode="append")  # fragments every partition

    def n_files(d):
        return sum(
            1 for root, _, fs in os.walk(d) for f in fs if f.endswith(".parquet")
        )

    before_rows = sorted(
        tuple(r) for r in read_view(spark, view).collect()
    )
    n_before = n_files(view)
    removed = compact_view(spark, view)
    assert removed > 0 and n_files(view) == n_before - removed
    n_parts = len([d for d in os.listdir(view) if d.startswith("ws_date=")])
    assert n_files(view) == n_parts  # one file per partition
    after_rows = sorted(tuple(r) for r in read_view(spark, view).collect())
    assert after_rows == before_rows


def test_compact_view_over_a_streamed_store(spark, sf_dir, tmp_path_factory):
    """A store the stream wrote (three upsert micro-batches) plus an
    appended slice on disjoint keys compacts in place: one parquet
    file per ws_date, rows equal to build_view over all the readings,
    no directory left beside the store, and reading it back launches
    no Spark job."""
    from kafka_streams_pipeline_spark.sources.sinks import compact_view, write_view

    base = tmp_path_factory.mktemp("compact-stream")
    src, view, ckpt = str(base / "src"), str(base / "view"), str(base / "ckpt")
    readings = readings_from_events(load_table(spark, sf_dir, "events"))
    streamed = F.crc32(F.substring("geohash", 1, 6)) % 2 == 0
    _write_chunks(src, _disordered(readings.where(streamed).collect(), n_chunks=3))
    q = start_file_stream_pipeline(
        spark, src, view, ckpt, available_now=True, max_files_per_trigger=1
    )
    await_replay(q, 300)
    assert sum(1 for p in q.recentProgress if p["numInputRows"] > 0) == 3
    write_view(build_view(readings.where(~streamed)), view, mode="append")

    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    first_job = scheduler.nextJobId()
    fragmented = read_view(spark, view)
    assert scheduler.nextJobId() == first_job
    want = sorted(tuple(r) for r in build_view(readings).collect())
    assert sorted(tuple(r) for r in fragmented.drop("ws_date").collect()) == want

    beside = sorted(os.listdir(base))
    assert compact_view(spark, view) > 0
    assert sorted(os.listdir(base)) == beside
    parts = [e for e in os.listdir(view) if os.path.isdir(os.path.join(view, e))]
    assert parts and all(p.startswith("ws_date=") for p in parts), parts
    for p in parts:
        files = [f for f in os.listdir(os.path.join(view, p)) if f.endswith(".parquet")]
        assert len(files) == 1, (p, files)

    first_job = scheduler.nextJobId()
    stored = read_view(spark, view)
    assert scheduler.nextJobId() == first_job
    got = sorted(tuple(r) for r in stored.drop("ws_date").collect())
    assert got == want


#: Four cells, one per 6-character view cell.
_CELLS = ("u155mz82dv33", "u155m0000000", "u4pruydqqvj8", "gcpvj0duq5bq")


def _versioned_chunks(n_chunks):
    """``n_chunks`` chunks of readings, each with one reading per cell
    in every other hour from 1000 to 1020 h past the epoch (two
    ws_dates). Every chunk updates every (cell, hour) key, so each
    micro-batch appends a new version of each key. Chunk 0 holds the
    latest reading, so the watermark (1020 h − 24 h) moves only in the
    first batch and drops no row, and no no-data batch follows a
    replay's last batch."""
    return [
        [
            {
                "timestamp": (1000 + h) * 3_600_000 + (n_chunks - c) * 1000 + i,
                "sensorId": f"s{c}{i}",
                "geohash": cell,
                "tempVal": 20.0 + c + h / 4 + i,
                "tempUnit": "c",
            }
            for h in range(0, 21, 2)
            for i, cell in enumerate(_CELLS)
        ]
        for c in range(n_chunks)
    ]


def _view_of(spark, chunks):
    """build_view over the readings of ``chunks``, as sorted tuples with
    the store's ws_date."""
    from kafka_streams_pipeline_spark.schema import READING_SCHEMA

    rows = [r for chunk in chunks for r in chunk]
    view = build_view(spark.createDataFrame(rows, READING_SCHEMA))
    stored = view.withColumn("ws_date", F.to_date("window_start"))
    return sorted(tuple(r) for r in stored.collect())


def _files_per_partition(view):
    return {
        p: len([f for f in os.listdir(os.path.join(view, p)) if f.endswith(".parquet")])
        for p in os.listdir(view)
        if p.startswith("ws_date=")
    }


def test_crash_rerun_stays_exactly_once(spark, tmp_path):
    """A micro-batch that Spark re-runs after a crash appends its rows
    a second time, and they resolve away. The replay runs three
    availableNow batches; deleting the last commit-log entry makes the
    restart re-run batch 2 from the same offsets and state. The store
    then holds two copies of batch 2's rows in each partition, reads as
    build_view of every reading, and compacts to one file per ws_date
    with the same rows."""
    from kafka_streams_pipeline_spark.sources.sinks import compact_view

    src, view, ckpt = (str(tmp_path / d) for d in ("src", "view", "ckpt"))
    chunks = _versioned_chunks(3)
    _write_chunks(src, chunks)
    q = start_file_stream_pipeline(
        spark, src, view, ckpt, available_now=True, max_files_per_trigger=1
    )
    await_replay(q, 300)
    assert [p["numInputRows"] for p in q.recentProgress] == [len(c) for c in chunks]
    assert set(_files_per_partition(view).values()) == {3}

    commits = os.path.join(ckpt, "commits")
    for name in ("2", ".2.crc"):
        if os.path.exists(os.path.join(commits, name)):
            os.remove(os.path.join(commits, name))
    q2 = start_file_stream_pipeline(
        spark, src, view, ckpt, available_now=True, max_files_per_trigger=1
    )
    await_replay(q2, 300)
    assert [(p["batchId"], p["numInputRows"]) for p in q2.recentProgress] == [
        (2, len(chunks[2]))
    ]
    assert set(_files_per_partition(view).values()) == {4}

    want = _view_of(spark, chunks)
    assert sorted(tuple(r) for r in read_view(spark, view).collect()) == want
    assert compact_view(spark, view) == 3 * len(_files_per_partition(view))
    assert set(_files_per_partition(view).values()) == {1}
    assert sorted(tuple(r) for r in read_view(spark, view).collect()) == want


def test_live_reads_survive_ingest(spark, tmp_path):
    """A read_view frame built before a micro-batch still collects after
    it, and reads the store as it was when built: the sink only adds
    files, so every file the frame listed is still there. Each
    micro-batch is one Spark job, and building the frame over the
    fragmented store launches none."""
    src, view, ckpt = (str(tmp_path / d) for d in ("src", "view", "ckpt"))
    chunks = _versioned_chunks(4)
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    for n in range(1, len(chunks) + 1):
        before = None
        if n > 1:
            first_job = scheduler.nextJobId()
            before = read_view(spark, view)
            assert scheduler.nextJobId() == first_job
        _write_chunks(src, chunks[n - 1 : n])
        first_job = scheduler.nextJobId()
        q = start_file_stream_pipeline(spark, src, view, ckpt, available_now=True)
        await_replay(q, 300)
        batches = q.recentProgress
        assert sum(p["numInputRows"] for p in batches) == len(chunks[n - 1])
        assert scheduler.nextJobId() - first_job == len(batches)
        if before is not None:
            assert sorted(tuple(r) for r in before.collect()) == _view_of(
                spark, chunks[: n - 1]
            )
    assert set(_files_per_partition(view).values()) == {len(chunks)}
    assert sorted(tuple(r) for r in read_view(spark, view).collect()) == _view_of(
        spark, chunks
    )


def test_streaming_session_window(spark, sf_dir, readings_rows, tmp_path_factory):
    """session_window works under Structured Streaming with a
    watermark: per-sensor 30-min-gap sessions from the stream equal
    the batch session aggregation over the same data."""
    from kafka_streams_pipeline_spark.schema import READING_SCHEMA

    base = tmp_path_factory.mktemp("stream-session")
    src, ckpt = str(base / "src"), str(base / "ckpt")
    _write_chunks(src, _disordered(readings_rows[:2000], n_chunks=1))

    raw = spark.readStream.schema(READING_SCHEMA).json(src)
    readings = raw.withColumn("ts", F.timestamp_millis("timestamp"))
    agg = (
        readings.withWatermark("ts", "24 hours")
        .groupBy(
            F.session_window("ts", "30 minutes").alias("w"), F.col("sensorId")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select("sensorId", F.col("w.start").alias("start"), "n")
    )
    batches = []
    # session aggregation streams in append/complete mode only (update
    # is rejected: merged sessions would retract earlier emissions);
    # complete gives the full session table at the final batch
    q = (
        agg.writeStream.outputMode("complete")
        .foreachBatch(lambda df, eid: batches.append(df.collect()))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    await_replay(q, 300)
    got = {(r["sensorId"], r["start"]): r["n"] for r in batches[-1]}

    batch_df = (
        spark.createDataFrame(readings_rows[:2000], schema=READING_SCHEMA)
        .withColumn("ts", F.timestamp_millis("timestamp"))
        .groupBy(
            F.session_window("ts", "30 minutes").alias("w"), F.col("sensorId")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select("sensorId", F.col("w.start").alias("start"), "n")
    )
    want = {(r["sensorId"], r["start"]): r["n"] for r in batch_df.collect()}
    assert got == want


def test_corpus_filters_run_under_streaming(spark, sf_dir, tmp_path_factory):
    """Batch/stream unification for the per-row corpus operators:
    heuristic_filter and repetition_stats are stateless projections,
    so the same builder runs unchanged on a readStream frame and
    yields byte-identical results to the batch path."""
    from kafka_streams_pipeline_spark.operators.text import (
        heuristic_filter,
        repetition_stats,
    )
    from kafka_streams_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(80)
    src = str(tmp_path_factory.mktemp("docs_src"))
    out = str(tmp_path_factory.mktemp("docs_out"))
    ck = str(tmp_path_factory.mktemp("docs_ck"))
    docs.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    await_replay(
        heuristic_filter(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start(),
        120,
    )
    got = {r.doc_id: (r.keep, r.drop_reason) for r in spark.read.parquet(out).collect()}
    want = {
        r.doc_id: (r.keep, r.drop_reason)
        for r in heuristic_filter(spark.read.parquet(src)).collect()
    }
    assert got == want

    # repetition_stats streams too (separate sink, same pattern)
    out2 = str(tmp_path_factory.mktemp("rep_out"))
    ck2 = str(tmp_path_factory.mktemp("rep_ck"))
    await_replay(
        repetition_stats(stream)
        .writeStream.format("parquet")
        .option("path", out2)
        .option("checkpointLocation", ck2)
        .trigger(availableNow=True)
        .start(),
        120,
    )
    got2 = {r.doc_id: r.top_token_frac for r in spark.read.parquet(out2).collect()}
    want2 = {
        r.doc_id: r.top_token_frac
        for r in repetition_stats(spark.read.parquet(src)).collect()
    }
    assert got2 == want2


def test_stream_stream_interval_join_matches_batch(spark, sf_dir, tmp_path_factory):
    """The real stream-stream shape of q_interval_join: purchases and
    clicks as two watermarked file streams joined on user_id with the
    [-10 min, 0) time bound. Structured Streaming requires the
    watermark + time-range condition to bound the join state; with
    availableNow over the full fixture the result must equal the
    registered batch query exactly."""
    from kafka_streams_pipeline_spark.inventory import QUERIES
    from kafka_streams_pipeline_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    src = str(tmp_path_factory.mktemp("ev_src"))
    out = str(tmp_path_factory.mktemp("ev_out"))
    ck = str(tmp_path_factory.mktemp("ev_ck"))
    events.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    stream = spark.readStream.schema(schema).parquet(src)
    p = (
        stream.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    c = (
        stream.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("c_ts") < F.col("p_ts")),
        "inner",
    ).select("p_id", "user_id", "p_ts", "c_ts")
    await_replay(
        joined.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start(),
        180,
    )
    # aggregate the streamed join results to the registered query's
    # grain; left-join semantics (purchases with zero clicks) come
    # from re-adding the zero rows
    streamed = spark.read.parquet(out)
    got_counts = {
        (r.p_id, r.user_id): r.n
        for r in streamed.groupBy("p_id", "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    batch = QUERIES["q_interval_join"](spark, sf_dir).collect()
    want_counts = {
        (r.p_id, r.user_id): r.n_clicks_10m for r in batch if r.n_clicks_10m > 0
    }
    assert got_counts == want_counts


def test_media_decode_runs_under_streaming(spark, sf_dir, tmp_path_factory):
    """Batch/stream unification for the binary-decode kernels:
    decode_png is a stateless mapInPandas projection, so the same
    builder runs unchanged on a readStream frame of (asset_id,
    payload) rows and yields byte-identical stats to the batch path —
    the shape of a streaming ingest that decodes media as it lands."""
    from kafka_streams_pipeline_spark.operators.multimodal import (
        decode_png,
        png_from_documents,
    )
    from kafka_streams_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(40)
    payloads = png_from_documents(docs)
    src = str(tmp_path_factory.mktemp("media_src"))
    out = str(tmp_path_factory.mktemp("media_out"))
    ck = str(tmp_path_factory.mktemp("media_ck"))
    payloads.write.mode("overwrite").parquet(src)

    batch = {
        r.asset_id: (r.width, r.height, r.sum_c0, r.weighted_sum)
        for r in decode_png(spark.read.parquet(src)).collect()
    }
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    await_replay(
        decode_png(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start(),
        120,
    )
    streamed = {
        r.asset_id: (r.width, r.height, r.sum_c0, r.weighted_sum)
        for r in spark.read.parquet(out).collect()
    }
    assert streamed == batch and len(batch) == 40


def test_streaming_join_crosses_batches(spark, tmp_path):
    """The q_streaming_join replay must actually exercise the join
    state store: with boundaries cut before each matched purchase,
    every match's click arrives in an EARLIER micro-batch, so every
    emitted match is served from buffered state — and the emitted set
    still equals the batch interval join."""
    import json as _json
    import os as _os

    import pyspark.sql.functions as F

    from kafka_streams_pipeline_spark.inventory.streaming_rows import (
        _cut_chunks,
    )
    from tests.conftest import ORACLE_SF_DIR
    from kafka_streams_pipeline_spark.sources.tables import load_table

    ev = (
        load_table(spark, ORACLE_SF_DIR, "events")
        .select(
            "event_id",
            F.unix_millis("ts").alias("ts_ms"),
            "user_id",
            "event_type",
        )
        .where(F.col("event_type").isin("purchase", "click"))
        .collect()
    )
    rows = sorted(
        (r.asDict() for r in ev), key=lambda r: (r["ts_ms"], r["event_id"])
    )
    ev_df = spark.createDataFrame(
        rows, "event_id long, ts_ms long, user_id long, event_type string"
    )
    pp = ev_df.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts_ms").alias("p_ms"),
    )
    cc = ev_df.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts_ms").alias("c_ms"),
    )
    matches = (
        pp.join(
            cc,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("c_ms") >= F.col("p_ms") - 600_000)
            & (F.col("c_ms") < F.col("p_ms")),
        )
        .select("p_id", "c_id")
        .collect()
    )
    assert matches, "fixture must contain interval-join matches"
    idx = {r["event_id"]: i for i, r in enumerate(rows)}
    cuts = [idx[r["p_id"]] for r in {m["p_id"]: m for m in matches}.values()]
    src = str(tmp_path / "src")
    _write_chunks(src, _cut_chunks(rows, cuts))

    # layout property: every match's click chunk < purchase chunk
    bounds = []
    pos = 0
    chunk_of = {}
    for fname in sorted(_os.listdir(src)):
        with open(_os.path.join(src, fname)) as f:
            for line in f:
                chunk_of[_json.loads(line)["event_id"]] = fname
    crossing = sum(
        1 for m in matches if chunk_of[m["c_id"]] < chunk_of[m["p_id"]]
    )
    assert crossing == len(matches), (crossing, len(matches))

    # streaming run: every match must be emitted in a LATER batch
    # than batch 0 is for its click — i.e. emitted only once the
    # purchase arrives, from buffered click state
    schema = "event_id long, ts_ms long, user_id long, event_type string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(src)
        .withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
    )
    p = (
        stream.where(F.col("event_type") == "purchase")
        .withWatermark("ts", "24 hours")
        .select(F.col("event_id").alias("p_id"), "user_id",
                F.col("ts").alias("p_ts"))
    )
    c = (
        stream.where(F.col("event_type") == "click")
        .withWatermark("ts", "24 hours")
        .select(F.col("user_id").alias("c_user"),
                F.col("ts").alias("c_ts"))
    )
    joined = p.join(
        c,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("c_ts") < F.col("p_ts")),
    ).select("p_id", F.unix_millis("c_ts").alias("c_ts_ms"))
    emitted_in = []

    def sink(df, epoch_id):
        emitted_in.extend((r["p_id"], r["c_ts_ms"], epoch_id)
                          for r in df.collect())

    q = (
        joined.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_replay(q, 300)
    assert len(emitted_in) == len(matches)
    # no match can be emitted in the first micro-batch: its purchase
    # is always the first row of a later chunk
    assert all(e[2] >= 1 for e in emitted_in)


def test_streaming_outer_join_emits_null_padded_rows(spark):
    """q_streaming_outer_join: the left-outer replay must emit BOTH
    result kinds — state-served matches identical to the inner-join
    row's, plus NULL-padded rows for purchases with no click in the
    preceding 10 minutes, flushed by the far-future sentinel
    advancing the watermark past every real purchase. The union must
    equal the batch LEFT JOIN exactly."""
    import pyspark.sql.functions as F

    from kafka_streams_pipeline_spark.inventory import QUERIES
    from kafka_streams_pipeline_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    got = QUERIES["q_streaming_outer_join"](spark, SF_DIR).collect()
    ev = load_table(spark, SF_DIR, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        "user_id",
        F.unix_millis("ts").alias("p_ts_ms"),
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.unix_millis("ts").alias("c_ts_ms"),
    )
    expected = (
        p.join(
            c,
            (F.col("c_user") == F.col("user_id"))
            & (F.col("c_ts_ms") >= F.col("p_ts_ms") - 600_000)
            & (F.col("c_ts_ms") < F.col("p_ts_ms")),
            "left_outer",
        )
        .select("p_id", "user_id", "p_ts_ms", "c_ts_ms")
        .collect()
    )
    key = lambda r: (r["p_id"], r["p_ts_ms"], r["c_ts_ms"])  # noqa: E731
    assert sorted(map(key, got)) == sorted(map(key, expected))
    nulls = [r for r in got if r["c_ts_ms"] is None]
    matches = [r for r in got if r["c_ts_ms"] is not None]
    assert nulls and matches  # both emission paths exercised


def test_store_ingest_exactly_once_across_replay(spark, tmp_path):
    """The idempotent store sink under the worst crash window: a
    micro-batch whose store commit landed but whose checkpoint
    marker did not is REPLAYED on restart and must be recognized and
    skipped — final store content exactly-once, version count equal
    to the data-batch count, and the skip path provably exercised."""
    import os
    import time

    from kafka_streams_pipeline_spark.sources.versioned import (
        latest_version,
        read_corpus,
        store_history,
    )
    from kafka_streams_pipeline_spark.streaming.store_sink import (
        make_store_commit_sink,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    store = str(tmp_path / "store")
    _write_chunks(src, [[{"k": i * 10 + j} for j in range(10)] for i in range(4)])

    stats: dict = {}
    sink = make_store_commit_sink(store, "t", stats)

    def run():
        q = (
            spark.readStream.schema("k long")
            .option("maxFilesPerTrigger", 1)
            .json(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        await_replay(q, 120)
        for _ in range(100):
            if all(aq.id != q.id for aq in spark.streams.active):
                break
            time.sleep(0.1)

    run()
    commits = os.path.join(ckpt, "commits")
    newest = max(f for f in os.listdir(commits) if f.isdigit())
    os.unlink(os.path.join(commits, newest))
    crc = os.path.join(commits, f".{newest}.crc")
    if os.path.exists(crc):
        os.unlink(crc)
    run()

    assert stats == {"committed": 4, "skipped": 1, "quarantined": 0}
    assert latest_version(store) == 4
    got = sorted(r["k"] for r in read_corpus(spark, store).collect())
    assert got == list(range(40))  # exactly once, nothing doubled/lost
    notes = [r["note"] for r in store_history(spark, store).collect()]
    assert len(notes) == len(set(notes)) == 4


def test_store_upsert_sink_applies_cdc_stream(spark, tmp_path):
    """Streaming CDC apply: a corrections stream (re-scores +
    tombstones) lands as idempotent upsert batches; the merged read
    serves the corrected view, a replayed micro-batch is skipped,
    and raw history still carries every correction batch."""
    import os
    import time

    from kafka_streams_pipeline_spark.sources.versioned import (
        commit_corpus,
        read_corpus_latest,
        store_history,
    )
    from kafka_streams_pipeline_spark.streaming.store_sink import (
        make_store_upsert_sink,
    )

    store = str(tmp_path / "store")
    commit_corpus(
        spark.createDataFrame(
            [(i, 100) for i in range(20)], "k long, score long"
        ),
        store,
        "base",
    )
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    _write_chunks(src, [
        [{"k": 3, "score": 999, "_deleted": False}],
        [{"k": 7, "score": 0, "_deleted": True}],
        [{"k": 3, "score": 555, "_deleted": False}],
    ])

    stats: dict = {}
    sink = make_store_upsert_sink(store, "k", "cdc", stats)

    def run():
        q = (
            spark.readStream.schema("k long, score long, _deleted boolean")
            .option("maxFilesPerTrigger", 1)
            .json(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        await_replay(q, 120)
        for _ in range(100):
            if all(aq.id != q.id for aq in spark.streams.active):
                break
            time.sleep(0.1)

    run()
    commits = os.path.join(ckpt, "commits")
    newest = max(f for f in os.listdir(commits) if f.isdigit())
    os.unlink(os.path.join(commits, newest))
    crc = os.path.join(commits, f".{newest}.crc")
    if os.path.exists(crc):
        os.unlink(crc)
    run()

    assert stats == {"committed": 3, "skipped": 1}
    merged = {
        r["k"]: r["score"]
        for r in read_corpus_latest(spark, store, "k").collect()
    }
    assert merged[3] == 555  # last correction wins across batches
    assert 7 not in merged  # tombstone applied
    assert len(merged) == 19
    assert store_history(spark, store).count() == 4  # base + 3 deltas


def test_version_at_timestamp_travel(spark, tmp_path):
    """TIMESTAMP AS OF: version_at resolves the newest version
    committed at or before the asked instant, refuses pre-store
    instants loudly, and legacy manifests without ts resolve as
    arbitrarily old."""
    import json
    import os
    import time

    from kafka_streams_pipeline_spark.sources.versioned import (
        _manifest_path,
        commit_corpus,
        read_corpus,
        version_at,
    )

    store = str(tmp_path / "store")
    t0 = time.time()
    commit_corpus(spark.range(3).selectExpr("id AS k"), store, "v1")
    t1 = time.time()
    time.sleep(0.05)
    commit_corpus(spark.range(3, 9).selectExpr("id AS k"), store, "v2")

    assert version_at(store, t1) == 1
    assert version_at(store, time.time()) == 2
    assert read_corpus(spark, store, version_at(store, t1)).count() == 3
    with pytest.raises(ValueError, match="no version"):
        version_at(store, t0 - 10)

    # legacy manifest (no ts) counts as arbitrarily old
    mp = _manifest_path(store, 1)
    rec = json.load(open(mp))
    del rec["ts"]
    os.unlink(mp)
    json.dump(rec, open(mp, "w"))
    assert version_at(store, t0 - 10) == 1


def test_store_sink_quarantines_poisoned_batches(spark, tmp_path):
    """Streaming governance: a micro-batch failing the check suite is
    dead-lettered (rows + violation counts under quarantine/) and
    NOT committed — the stream continues, clean batches land, and
    checks without a quarantine_dir refuse up front."""
    import json
    import os

    from kafka_streams_pipeline_spark.operators.quality import Check
    from kafka_streams_pipeline_spark.sources.versioned import (
        read_corpus,
        store_history,
    )
    from kafka_streams_pipeline_spark.streaming.store_sink import (
        make_store_commit_sink,
    )

    with pytest.raises(ValueError, match="quarantine_dir"):
        make_store_commit_sink(
            str(tmp_path / "s0"), checks=[Check("c", "not_null", "v")]
        )

    src = str(tmp_path / "src")
    qdir = str(tmp_path / "quarantine")
    store = str(tmp_path / "store")
    _write_chunks(src, [
        [{"k": 1, "v": 10}, {"k": 2, "v": 20}],          # clean
        [{"k": 3, "v": -7}, {"k": 4, "v": 40}],          # poisoned
        [{"k": 5, "v": 50}],                             # clean
    ])

    stats: dict = {}
    sink = make_store_commit_sink(
        store,
        "gq",
        stats,
        checks=[Check("v_positive", "in_range", "v", lo=0)],
        quarantine_dir=qdir,
    )
    q = (
        spark.readStream.schema("k long, v long")
        .option("maxFilesPerTrigger", 1)
        .json(src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_replay(q, 120)

    assert stats == {"committed": 2, "skipped": 0, "quarantined": 1}
    assert sorted(r["k"] for r in read_corpus(spark, store).collect()) == [
        1, 2, 5,
    ]
    assert store_history(spark, store).count() == 2
    (qbatch,) = os.listdir(qdir)
    viol = json.load(open(os.path.join(qdir, qbatch, "violations.json")))
    assert viol["failed"] == {"v_positive": 1}
    qrows = spark.read.parquet(os.path.join(qdir, qbatch, "rows"))
    assert sorted(r["k"] for r in qrows.collect()) == [3, 4]


def test_store_sink_ledger_namespaced_by_query(spark, tmp_path):
    """ADVICE r9: the sink's idempotence ledger is namespaced by the
    streaming QUERY id. A second stream writing the same store under
    the same prefix — or the same logical stream after a checkpoint
    RESET — restarts micro-batch ids at 0; keyed on batch_id alone
    its first batch would read as a replay and be silently dropped.
    Both streams' batches must commit; replays within one checkpoint
    still dedup (proven by the restart tests above)."""
    from kafka_streams_pipeline_spark.sources.versioned import (
        read_corpus,
        store_history,
    )
    from kafka_streams_pipeline_spark.streaming.store_sink import (
        make_store_commit_sink,
    )

    store = str(tmp_path / "store")

    def run_stream(tag, lo, hi):
        src = str(tmp_path / f"src-{tag}")
        ckpt = str(tmp_path / f"ckpt-{tag}")  # fresh checkpoint
        _write_chunks(src, [[{"k": k} for k in range(lo, hi)]])
        stats: dict = {}
        sink = make_store_commit_sink(store, "ingest", stats)
        q = (
            spark.readStream.schema("k long")
            .json(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        await_replay(q, 120)
        return stats

    s1 = run_stream("first", 0, 10)
    s2 = run_stream("second", 10, 20)  # batch ids restart at 0
    assert s1["committed"] == 1 and s1["skipped"] == 0
    assert s2["committed"] == 1 and s2["skipped"] == 0, (
        "checkpoint-reset batch 0 mistaken for a replay"
    )
    got = sorted(r["k"] for r in read_corpus(spark, store).collect())
    assert got == list(range(20))
    notes = [r["note"] for r in store_history(spark, store).collect()]
    assert len(notes) == len(set(notes)) == 2
    assert all(n.startswith("ingest-q") for n in notes), notes


def test_streaming_semi_join_emits_once_from_state(spark, tmp_path):
    """Left-semi stream-stream join: a purchase matched by TWO
    in-window clicks (both buffered in an earlier micro-batch) emits
    exactly ONCE; an unmatched purchase never emits."""
    from kafka_streams_pipeline_spark.streaming.pipeline import await_replay

    t0 = 1_700_000_000_000
    rows = [
        # two clicks for user 1 inside the 10-min window; none for user 2
        {"event_id": 1, "ts_ms": t0, "user_id": 1, "event_type": "click"},
        {"event_id": 2, "ts_ms": t0 + 60_000, "user_id": 1,
         "event_type": "click"},
        {"event_id": 3, "ts_ms": t0 + 120_000, "user_id": 1,
         "event_type": "purchase"},
        {"event_id": 4, "ts_ms": t0 + 120_000, "user_id": 2,
         "event_type": "purchase"},
    ]
    src = str(tmp_path / "src")
    _write_chunks(src, [rows[:2], rows[2:]])  # clicks | purchases

    schema = "event_id long, ts_ms long, user_id long, event_type string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(src)
        .withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
    )
    p = (
        stream.where(F.col("event_type") == "purchase")
        .withWatermark("ts", "24 hours")
        .select(F.col("event_id").alias("p_id"), "user_id",
                F.col("ts").alias("p_ts"))
    )
    c = (
        stream.where(F.col("event_type") == "click")
        .withWatermark("ts", "24 hours")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
    )
    joined = p.join(
        c,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("c_ts") < F.col("p_ts")),
        "left_semi",
    )
    emitted: list = []
    q = (
        joined.writeStream.outputMode("append")
        .foreachBatch(lambda df, _e: emitted.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_replay(q, 300)
    assert [(r["p_id"], r["user_id"]) for r in emitted] == [(3, 1)]


def _job_descriptions(spark, first_job: int) -> list[str]:
    """Descriptions of the Spark jobs launched since job id
    ``first_job`` (stream threads included), read from the status
    store once the listener bus has delivered their events."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    store = sc.statusStore()
    out = []
    for job_id in range(first_job, sc.dagScheduler().nextJobId()):
        desc = store.job(job_id).description()
        out.append(desc.get() if desc.isDefined() else "")
    return out


def test_entry_wrap_applies_the_session_profile(spark, sf_dir):
    """The driver builds its own session, without the engine profile.
    A wrapped builder must set every runtime conf ``get_spark`` builds
    with (the driver-side listing threshold among them) on a session
    where each one was unset."""
    import __spark_entry__ as entrymod
    from kafka_streams_pipeline_spark.session import SESSION_CONFS

    saved = {k: spark.conf.get(k) for k in SESSION_CONFS}
    try:
        for k in SESSION_CONFS:
            spark.conf.unset(k)
        assert all(spark.conf.get(k, None) is None for k in SESSION_CONFS)
        entrymod.queries()["q_hourly_view"](spark, sf_dir)
        assert {k: spark.conf.get(k) for k in SESSION_CONFS} == SESSION_CONFS
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_many_file_batch_lists_on_the_driver(spark, readings_rows, tmp_path):
    """A file-stream micro-batch passes each new file to the file index
    as its own root path; above Spark's parallel-discovery threshold
    (stock 32) the index re-lists them in a Spark job with one task per
    file. The session keeps listing on the driver, so a 40-file batch
    launches no such job."""
    src, view, ckpt = (str(tmp_path / d) for d in ("src", "view", "ckpt"))
    _write_chunks(src, _disordered(readings_rows, n_chunks=40))
    assert len(os.listdir(src)) == 40
    first_job = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    q = start_file_stream_pipeline(spark, src, view, ckpt, available_now=True)
    await_replay(q, 300)
    data = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert [p["numInputRows"] for p in data] == [len(readings_rows)]
    jobs = _job_descriptions(spark, first_job)
    assert jobs, "the replay launched no job"
    assert [d for d in jobs if d.startswith("Listing leaf files")] == []


def _state_operator(spark, rows, base, given):
    """Replay ``rows`` as one availableNow batch and return the state
    operator's entry of the stream's last progress."""
    src = str(base / "src")
    _write_chunks(src, _disordered(rows, n_chunks=1))
    q = start_file_stream_pipeline(
        spark, src, str(base / "view"), str(base / "ckpt"),
        available_now=True, state_partitions=given,
    )
    await_replay(q, 300)
    return q.lastProgress["stateOperators"][0]


def _state_partitions_used(spark, rows, base, given):
    """The state operator's partition count after replaying ``rows``."""
    return _state_operator(spark, rows, base, given)["numShufflePartitions"]


def test_default_state_partitions_derivation(spark, readings_rows, tmp_path):
    """Without ``state_partitions`` the stateful aggregate runs one
    state partition whatever the core count, so each micro-batch
    commits one state-store instance."""
    op = _state_operator(spark, readings_rows[:200], tmp_path, None)
    assert op["numShufflePartitions"] == 1
    assert op["numStateStoreInstances"] == 1


def test_resolve_state_partitions_hint(spark, readings_rows, tmp_path):
    """An explicit ``state_partitions`` count wins over the default."""
    explicit = 2 * spark.sparkContext.defaultParallelism + 1  # odd, never 8
    got = _state_partitions_used(
        spark, readings_rows[:200], tmp_path, explicit
    )
    assert got == explicit


def test_streaming_acf_short_series_rows_match_batch(spark, tmp_path):
    """A series with fewer hours than the max lag must still emit
    its (event_type, lag) rows as (n_pairs=0, acf NULL) — the batch
    stack form does, and the streaming sufficient-stat fold must
    match it row-for-row or the shared oracle hash-mismatches (r14
    review finding)."""
    import datetime as dt

    from kafka_streams_pipeline_spark.inventory.streaming_rows import (
        q_streaming_acf,
    )
    from kafka_streams_pipeline_spark.operators.timeseries import (
        acf_by_series,
    )

    base = dt.datetime(2024, 3, 1)
    rows = []
    for i in range(2):  # "tiny": 2 hours < max_lag 3
        rows.append((i, base + dt.timedelta(hours=i), 1, "tiny",
                     5.0 + i, "{}"))
    for i in range(9):  # "long": plenty of lag pairs
        rows.append((100 + i, base + dt.timedelta(hours=i), 1, "long",
                     float((i * 7) % 5), "{}"))
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    ev.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))

    batch = sorted(map(tuple, acf_by_series(ev).collect()))
    streamed = sorted(
        map(tuple, q_streaming_acf(spark, str(tmp_path)).collect())
    )
    assert streamed == batch
    # the short series' rows exist with 0 pairs and NULL acf (and
    # the 2-point series' one lag-1 pair is exactly -1/2:
    # num = -d², den = 2d²)
    tiny = [t for t in streamed if t[0] == "tiny"]
    assert [(t[1], t[2], t[3]) for t in tiny] == [
        (1, 1, -500_000), (2, 0, None), (3, 0, None),
    ]


def _kspipeline_dirs() -> set:
    import tempfile

    root = tempfile.gettempdir()
    return {d for d in os.listdir(root) if d.startswith("kspipeline-")}


def test_replay_runs_same_second_chunks_in_list_order(spark):
    """Three chunks written back to back (well inside one second)
    replay in list order, one micro-batch each: the harness gives each
    file its own ascending mtime, so the file source cannot tie-break
    them into another order."""
    from kafka_streams_pipeline_spark.inventory._shared import (
        _replay,
        _scratch,
    )

    seen: list = []
    with _scratch("test-order") as base:
        _replay(
            spark, base, [[{"k": 3}], [{"k": 1}, {"k": 4}], [{"k": 2}]],
            "k long", lambda s: s,
            lambda df, epoch: seen.append(
                (epoch, sorted(r["k"] for r in df.collect()))
            ),
        )
        mtimes = [
            os.path.getmtime(os.path.join(base, "src", f))
            for f in sorted(os.listdir(os.path.join(base, "src")))
        ]
    assert mtimes == sorted(set(mtimes)) and len(mtimes) == 3
    assert seen == [(0, [3]), (1, [1, 4]), (2, [2])]


def test_replay_reraises_sink_error_and_cleans_up(spark):
    """A sink that fails on the second micro-batch fails the replay
    with the sink's own error; no query is left running and the
    scratch directory is gone."""
    from pyspark.errors import StreamingQueryException

    from kafka_streams_pipeline_spark.inventory._shared import (
        _replay,
        _scratch,
    )

    before = _kspipeline_dirs()

    def sink(df, epoch):
        if epoch == 1:
            raise ValueError("sink refused batch 2")

    with pytest.raises(StreamingQueryException, match="sink refused batch 2"):
        with _scratch("test-fail") as base:
            _replay(
                spark, base, [[{"k": 1}], [{"k": 2}], [{"k": 3}]],
                "k long", lambda s: s, sink,
            )
    assert not spark.streams.active
    assert not os.path.exists(base)
    assert _kspipeline_dirs() <= before


def test_replay_rejects_batch_count_mismatch(spark):
    """A file the run did not write (here: one left in the source by
    an earlier write) becomes an extra micro-batch, so the run's batch
    count no longer matches its file count and the replay raises."""
    from kafka_streams_pipeline_spark.inventory._shared import (
        _replay,
        _scratch,
    )

    seen: list = []
    with _scratch("test-count") as base:
        _write_chunks(os.path.join(base, "src"), [[{"k": 1}]])
        with pytest.raises(RuntimeError, match="2 data micro-batches for 1"):
            _replay(
                spark, base, [[{"k": 2}]], "k long", lambda s: s,
                lambda df, epoch: seen.append(epoch),
            )
    assert seen == [0, 1]
