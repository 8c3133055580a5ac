"""Custom stateful streaming ops (applyInPandasWithState): running
totals across micro-batches must equal the batch aggregate; the alert
latch must persist across batches via state.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kafka_streams_pipeline_spark.inventory._shared import _write_chunks
from kafka_streams_pipeline_spark.schema import READING_SCHEMA
from kafka_streams_pipeline_spark.streaming.pipeline import await_replay
from kafka_streams_pipeline_spark.sources.readings import readings_from_events
from kafka_streams_pipeline_spark.sources.tables import load_table
from kafka_streams_pipeline_spark.streaming.stateful import (
    running_sensor_totals,
    threshold_alert_latch,
)


@pytest.fixture(scope="module")
def reading_stream_dir(spark, sf_dir, tmp_path_factory):
    rows = sorted(
        readings_from_events(load_table(spark, sf_dir, "events")).collect(),
        key=lambda r: r["timestamp"],
    )
    src = str(tmp_path_factory.mktemp("stateful") / "src")
    _write_chunks(src, [rows[c * 334 : (c + 1) * 334] for c in range(3)])
    return src


def _latest_per_key(batches, key):
    """update-mode emits one row per touched key per batch — the last
    emission per key is the final state."""
    out = {}
    for batch in batches:
        for r in batch:
            out[r[key]] = r
    return out


def _run_stream(spark, src, op, ckpt):
    batches = []

    def sink(df, epoch_id):
        batches.append(df.collect())

    q = (
        op(
            spark.readStream.schema(READING_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(src)
            .withColumn("ts", F.timestamp_millis(F.col("timestamp")))
        )
        .writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    await_replay(q)
    assert len(batches) >= 3  # one per file → state crossed batches
    return batches


def test_running_totals_match_batch(spark, sf_dir, reading_stream_dir, tmp_path):
    batches = _run_stream(
        spark, reading_stream_dir, running_sensor_totals, str(tmp_path / "ckpt")
    )
    final = _latest_per_key(batches, "sensorId")
    expected = {
        r["sensorId"]: r
        for r in readings_from_events(load_table(spark, sf_dir, "events"))
        .groupBy("sensorId")
        .agg(
            F.count(F.lit(1)).alias("count"),
            (
                F.sum(F.round(F.col("tempVal") * 1000000).cast("long"))
                / 1000000.0
            ).alias("sum"),
        )
        .collect()
    }
    assert set(final) == set(expected)
    # micros-integer state → EXACT equality with the batch aggregate,
    # not approx — batch boundaries cannot move the result
    for k, e in expected.items():
        assert final[k]["count"] == e["count"]
        assert final[k]["sum"] == e["sum"]
        assert final[k]["avg"] == e["sum"] / e["count"]


def test_alert_latch_persists(spark, sf_dir, reading_stream_dir, tmp_path):
    batches = _run_stream(
        spark,
        reading_stream_dir,
        lambda df: threshold_alert_latch(df, threshold=150.0),
        str(tmp_path / "ckpt"),
    )
    final = _latest_per_key(batches, "sensorId")
    expected = {
        r["sensorId"]: r
        for r in readings_from_events(load_table(spark, sf_dir, "events"))
        .groupBy("sensorId")
        .agg(
            F.sum((F.col("tempVal") > 150.0).cast("long")).alias("n_alerts"),
            F.max(F.col("tempVal") > 150.0).alias("latched"),
        )
        .collect()
    }
    for k, e in expected.items():
        assert final[k]["n_alerts"] == e["n_alerts"]
        assert final[k]["latched"] == e["latched"]
    # the latch, once set in an early batch, stays set in later emissions
    for key, rows in {
        k: [r for b in batches for r in b if r["sensorId"] == k] for k in final
    }.items():
        seen = False
        for r in rows:
            seen = seen or r["latched"]
            if seen:
                assert r["latched"], f"latch reset for {key}"


def test_cms_sketch_counts(spark, sf_dir, reading_stream_dir, tmp_path):
    """CMS estimates carry across micro-batches; every estimate
    dominates the true count (CMS never underestimates) and equals it
    when the sketch is collision-free at fixture cardinality."""
    from kafka_streams_pipeline_spark.streaming.stateful import cms_sensor_counts

    batches = _run_stream(
        spark, reading_stream_dir, cms_sensor_counts, str(tmp_path / "ckpt")
    )
    final = {}
    for batch in batches:
        for r in batch:
            final[(r["gh"], r["sensorId"])] = r["est_count"]
    truth = {
        (r["gh"], r["sensorId"]): r["n"]
        for r in readings_from_events(load_table(spark, sf_dir, "events"))
        .withColumn("gh", F.substring("geohash", 1, 6))
        .groupBy("gh", "sensorId")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(final) == set(truth)
    exact = 0
    for k, true_n in truth.items():
        assert final[k] >= true_n  # CMS overestimates only
        if final[k] == true_n:
            exact += 1
    # most estimates exact at this cardinality (width 128, depth 4)
    assert exact / len(truth) > 0.5


def test_streaming_cms_equals_batch_cms(spark, sf_dir, reading_stream_dir, tmp_path):
    """Streaming-vs-batch sketch differential (ties T5 to X7): the
    streaming CMS state after replaying the whole stream must equal,
    BIT-EXACTLY, a batch recomputation of the same d×w sketch with
    the same seeded-md5 hash family — same counters, same min-over-
    rows point estimates. Proves the stateful path accumulates
    exactly what the declarative path computes, not merely something
    correlated with it."""
    from kafka_streams_pipeline_spark.streaming.stateful import (
        CMS_DEPTH,
        CMS_WIDTH,
        cms_sensor_counts,
    )

    batches = _run_stream(
        spark, reading_stream_dir, cms_sensor_counts, str(tmp_path / "ckpt2")
    )
    streaming_final = {}
    for batch in batches:
        for r in batch:
            streaming_final[(r["gh"], r["sensorId"])] = r["est_count"]

    readings = readings_from_events(load_table(spark, sf_dir, "events")).select(
        F.substring("geohash", 1, 6).alias("gh"), "sensorId"
    )
    # the streaming sketch's hash is md5("{d}:{sensor}")[:8] % width —
    # the repo's portable seeded-md5 family, so the batch twin is a
    # plain explode + groupBy over (gh, d, pos)
    pos = lambda d: (
        f"cast(conv(substring(md5(concat('{d}:', sensorId)), 1, 8), 16, 10) "
        f"as bigint) % {CMS_WIDTH}"
    )
    incr = readings.select(
        "gh",
        "sensorId",
        F.explode(
            F.expr(
                "array("
                + ", ".join(
                    f"struct({d} AS d, {pos(d)} AS pos)"
                    for d in range(CMS_DEPTH)
                )
                + ")"
            )
        ).alias("c"),
    )
    sketch = (
        incr.select("gh", "c.d", "c.pos")
        .groupBy("gh", "d", "pos")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    probes = (
        readings.distinct()
        .select(
            "gh",
            "sensorId",
            F.explode(
                F.expr(
                    "array("
                    + ", ".join(
                        f"struct({d} AS d, {pos(d)} AS pos)"
                        for d in range(CMS_DEPTH)
                    )
                    + ")"
                )
            ).alias("c"),
        )
        .select("gh", "sensorId", "c.d", "c.pos")
    )
    batch_final = {
        (r["gh"], r["sensorId"]): r["est"]
        for r in probes.join(sketch, ["gh", "d", "pos"])
        .groupBy("gh", "sensorId")
        .agg(F.min("cnt").alias("est"))
        .collect()
    }
    assert streaming_final == batch_final


def test_streaming_hll_equals_batch_hll(spark, sf_dir, reading_stream_dir, tmp_path):
    """Streaming-vs-batch sketch differential #2 (HLL this time):
    after replaying the stream, each cell's register summary must
    equal the batch hll_distinct register construction bit-for-bit —
    same md5 bucket/rho, merged by max. Register state is
    order-insensitive, so micro-batch boundaries cannot matter."""
    from kafka_streams_pipeline_spark.streaming.stateful import (
        hll_sensor_distinct,
    )

    batches = _run_stream(
        spark, reading_stream_dir, hll_sensor_distinct, str(tmp_path / "ckpt3")
    )
    streaming_final = {}
    for batch in batches:
        for r in batch:
            streaming_final[r["gh"]] = (
                r["n_registers_used"],
                r["register_checksum"],
            )

    from kafka_streams_pipeline_spark.operators.sketches import (
        hll_estimate_from_registers,
        hll_registers,
    )

    readings = readings_from_events(load_table(spark, sf_dir, "events")).select(
        F.substring("geohash", 1, 6).alias("gh"), "sensorId"
    )
    batch_final = {}
    for gh in [r["gh"] for r in readings.select("gh").distinct().collect()]:
        row = hll_estimate_from_registers(
            hll_registers(readings.where(F.col("gh") == gh), "sensorId")
        ).collect()[0]
        batch_final[gh] = (
            row["n_registers_used"],
            row["register_checksum"],
        )
    assert streaming_final == batch_final


def test_running_totals_survive_restart(spark, sf_dir, tmp_path):
    """Checkpoint-compat for the micros-integer state: process the
    first chunk, STOP, add the remaining chunks, restart from the
    same checkpoint — the final per-sensor totals must equal the
    batch aggregate over everything (state carried, nothing
    reprocessed or lost)."""
    from kafka_streams_pipeline_spark.streaming.stateful import (
        running_sensor_totals,
    )

    rows = sorted(
        readings_from_events(load_table(spark, sf_dir, "events")).collect(),
        key=lambda r: r["timestamp"],
    )
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    third = len(rows) // 3

    batches: list = []

    def run_once():
        def sink(df, _e):
            batches.append(df.collect())

        q = (
            running_sensor_totals(
                spark.readStream.schema(READING_SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .json(src)
                .withColumn("ts", F.timestamp_millis(F.col("timestamp")))
            )
            .writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        await_replay(q)

    _write_chunks(src, [rows[:third]])
    run_once()  # first incarnation: one chunk
    _write_chunks(src, [rows[third : 2 * third], rows[2 * third :]])
    run_once()  # restart: resumes from checkpoint, sees only new files

    final = _latest_per_key(batches, "sensorId")
    expected = {
        r["sensorId"]: r
        for r in readings_from_events(load_table(spark, sf_dir, "events"))
        .groupBy("sensorId")
        .agg(
            F.count(F.lit(1)).alias("count"),
            (
                F.sum(F.round(F.col("tempVal") * 1000000).cast("long"))
                / 1000000.0
            ).alias("sum"),
        )
        .collect()
    }
    assert set(final) == set(expected)
    for k, e in expected.items():
        assert final[k]["count"] == e["count"]
        assert final[k]["sum"] == e["sum"]


def test_cms_cell_state_final_is_batch_independent(
    spark, sf_dir, reading_stream_dir, tmp_path
):
    """cms_cell_state (the driver-certifiable CMS emission): the LAST
    emitted cell matrix per key must equal a direct single-pass
    Python recomputation over all input rows — i.e. the final state
    is independent of micro-batch boundaries, the property that makes
    q_streaming_cms hash-comparable against a batch oracle."""
    from kafka_streams_pipeline_spark.streaming.stateful import (
        CMS_DEPTH,
        CMS_WIDTH,
        _cms_rows,
        cms_cell_state,
    )

    batches = _run_stream(
        spark, reading_stream_dir, cms_cell_state, str(tmp_path / "ckpt3")
    )
    final = _latest_per_key(batches, "gh")

    expected: dict = {}
    import json as _json
    import os as _os

    for fname in sorted(_os.listdir(reading_stream_dir)):
        with open(_os.path.join(reading_stream_dir, fname)) as f:
            for line in f:
                rec = _json.loads(line)
                if rec.get("sensorId") is None:
                    continue
                gh = rec["geohash"][:6]
                cells = expected.setdefault(gh, [0] * (CMS_DEPTH * CMS_WIDTH))
                for d, r in enumerate(_cms_rows(rec["sensorId"])):
                    cells[d * CMS_WIDTH + r] += 1

    assert set(final) == set(expected)
    for gh, row in final.items():
        assert list(row["cells"]) == expected[gh], gh


def test_streaming_histogram_matches_batch_sketch(spark, sf_dir):
    """Batch/stream bit-tie for the histogram family: the streaming
    per-cell state after a chunked replay equals the batch
    histogram_sketch over the same rounded micros, cell for cell and
    bin-multiset for bin-multiset (via the weighted checksums)."""
    from pyspark.sql import functions as F

    from kafka_streams_pipeline_spark.operators.sketches import (
        histogram_sketch,
    )
    from kafka_streams_pipeline_spark.sources.readings import (
        readings_from_events,
    )
    from kafka_streams_pipeline_spark.sources.tables import load_table
    from kafka_streams_pipeline_spark.streaming.stateful import (
        HIST_HI,
        HIST_LO,
        HIST_NBINS,
        histogram_cell_state,
    )

    readings = readings_from_events(load_table(spark, sf_dir, "events"))
    # batch twin computed per cell from the same micro-rounding
    cells = {}
    micros = readings.where(F.col("tempVal").isNotNull()).select(
        F.substring("geohash", 1, 6).alias("gh"),
        F.round(F.col("tempVal") * 1000000).cast("long").alias("v"),
    )
    for gh in [r["gh"] for r in micros.select("gh").distinct().collect()]:
        state = histogram_sketch(
            micros.where(F.col("gh") == gh), "v", HIST_LO, HIST_HI,
            HIST_NBINS,
        ).collect()
        n = sum(r["cnt"] for r in state)
        chk1 = sum((r["bin"] + 2) * r["cnt"] for r in state)
        chk2 = sum((r["bin"] + 2) ** 2 * r["cnt"] for r in state)
        cells[gh] = (n, chk1, chk2)

    # applyInPandasWithState does not run in batch mode; replay
    # through a 3-chunk temp stream and take last emission per key
    import os
    import tempfile

    base = tempfile.mkdtemp(prefix="hist-tie-")
    src = os.path.join(base, "src")
    data = sorted(
        (r.asDict() for r in readings.select(
            "timestamp", "sensorId", "geohash", "tempVal", "tempUnit"
        ).collect()),
        key=lambda r: (r["timestamp"], r["sensorId"]),
    )
    third = max(1, len(data) // 3)
    _write_chunks(src, [
        data[i * third : (i + 1) * third if i < 2 else len(data)]
        for i in range(3)
    ])
    from kafka_streams_pipeline_spark.schema import READING_SCHEMA

    stream = (
        spark.readStream.schema(READING_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(src)
        .withColumn("ts", F.timestamp_millis(F.col("timestamp")))
    )
    batches = []
    q = (
        histogram_cell_state(stream)
        .writeStream.outputMode("update")
        .foreachBatch(lambda df, _e: batches.append(df.collect()))
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_replay(q)
    import shutil

    shutil.rmtree(base, ignore_errors=True)
    final = {}
    for b in batches:
        for r in b:
            final[r["gh"]] = (r["n_values"], r["chk1"], r["chk2"])
    assert final == cells


def test_streaming_ohlc_equals_batch_window(
    spark, sf_dir, reading_stream_dir, tmp_path
):
    """ohlc_cell_state's final per-key state must equal the batch
    window computation over the same rows regardless of the 3-way
    micro-batch split — the lattice-fold order-independence claim."""
    from pyspark.sql.window import Window

    from kafka_streams_pipeline_spark.streaming.stateful import (
        ohlc_cell_state,
    )

    batches = _run_stream(
        spark, reading_stream_dir, ohlc_cell_state, str(tmp_path / "ohlc-ckpt")
    )
    final = {}
    for batch in batches:
        for r in batch:
            final[(r["gh"], r["hour_ms"])] = r

    rows = sorted(
        readings_from_events(load_table(spark, sf_dir, "events")).collect(),
        key=lambda r: r["timestamp"],
    )[: 3 * 334]  # the chunks the fixture wrote
    b = spark.createDataFrame(rows, READING_SCHEMA).withColumn(
        "ts", F.timestamp_millis(F.col("timestamp"))
    )
    proj = b.select(
        F.substring("geohash", 1, 6).alias("gh"),
        F.unix_millis(F.date_trunc("hour", F.col("ts"))).alias("hour_ms"),
        F.col("timestamp").alias("t_ms"),
        F.col("sensorId").alias("sid"),
        F.round(F.col("tempVal") * 1000000).cast("long").alias("v_fp"),
    )
    w = Window.partitionBy("gh", "hour_ms").orderBy("t_ms", "sid", "v_fp")
    wp = Window.partitionBy("gh", "hour_ms")
    expected = {
        (r["gh"], r["hour_ms"]): r
        for r in proj.withColumn("rn", F.row_number().over(w))
        .withColumn("nrows", F.count(F.lit(1)).over(wp))
        .groupBy("gh", "hour_ms")
        .agg(
            F.count(F.lit(1)).alias("volume"),
            F.max(F.when(F.col("rn") == 1, F.col("v_fp"))).alias("open_fp"),
            F.max("v_fp").alias("high_fp"),
            F.min("v_fp").alias("low_fp"),
            F.max(
                F.when(F.col("rn") == F.col("nrows"), F.col("v_fp"))
            ).alias("close_fp"),
        )
        .collect()
    }
    assert set(final) == set(expected)
    for k, e in expected.items():
        got = final[k]
        for col in ("volume", "open_fp", "high_fp", "low_fp", "close_fp"):
            assert got[col] == e[col], (k, col, got[col], e[col])


def test_streaming_twa_settles_across_batch_boundary(
    spark, sf_dir, reading_stream_dir, tmp_path
):
    """twa_sensor_state must equal the batch lead()-window TWA over
    the replayed rows — in particular the LAST sample of each
    micro-batch only acquires weight when the NEXT batch's first
    sample for that sensor arrives (sequential state across the
    boundary)."""
    from pyspark.sql.window import Window

    from kafka_streams_pipeline_spark.streaming.stateful import (
        twa_sensor_state,
    )

    batches = _run_stream(
        spark, reading_stream_dir, twa_sensor_state, str(tmp_path / "twa-ckpt")
    )
    final = _latest_per_key(batches, "sensorId")

    rows = sorted(
        readings_from_events(load_table(spark, sf_dir, "events")).collect(),
        key=lambda r: r["timestamp"],
    )[: 3 * 334]
    b = spark.createDataFrame(rows, READING_SCHEMA)
    w = Window.partitionBy("sensorId").orderBy("t_ms")
    expected = {
        r["sensorId"]: r
        for r in b.select(
            "sensorId",
            F.col("timestamp").alias("t_ms"),
            F.round(F.col("tempVal") * 1000000).cast("long").alias("v_fp"),
        )
        .withColumn("nt", F.lead("t_ms").over(w))
        .groupBy("sensorId")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.sum(
                F.when(F.col("nt").isNotNull(), F.col("nt") - F.col("t_ms"))
            ).alias("span_ms"),
            F.sum(
                F.when(
                    F.col("nt").isNotNull(),
                    F.col("v_fp") * (F.col("nt") - F.col("t_ms")),
                )
            ).alias("wsum"),
        )
        .collect()
    }
    assert set(final) == set(expected)
    multi = 0
    for k, e in expected.items():
        got = final[k]
        assert got["n_samples"] == e["n_samples"]
        assert got["span_ms"] == (e["span_ms"] or 0)
        assert got["wsum"] == (e["wsum"] or 0)
        if e["n_samples"] > 1:
            multi += 1
    assert multi > 0  # the comparison actually exercised weighted spans


def test_funnel_state_matches_batch_across_boundaries(spark, tmp_path):
    """Streaming skip-gap CEP == batch event_pattern_funnel on a
    constructed sequence whose chains deliberately STRADDLE
    micro-batch boundaries (start in chunk 0, middle step in chunk 1,
    completion in chunk 2), plus an over-budget chain and an
    eviction-era start."""
    from pyspark.sql import functions as F

    from kafka_streams_pipeline_spark.operators.timeseries import (
        event_pattern_funnel,
    )
    from kafka_streams_pipeline_spark.streaming.stateful import (
        funnel_user_state,
    )

    MIN = 60_000_000
    rows = [
        # user 1: a(chunk0) → b(chunk1) → c(chunk2), within budget
        {"user_id": 1, "event_id": 1, "us": 0 * MIN, "event_type": "a"},
        {"user_id": 1, "event_id": 2, "us": 1 * MIN, "event_type": "x"},
        {"user_id": 1, "event_id": 3, "us": 4 * MIN, "event_type": "b"},
        {"user_id": 1, "event_id": 4, "us": 8 * MIN, "event_type": "c"},
        # user 2: completion exceeds the 10-minute budget (evicted
        # start — state must not keep it)
        {"user_id": 2, "event_id": 5, "us": 0 * MIN, "event_type": "a"},
        {"user_id": 2, "event_id": 6, "us": 5 * MIN, "event_type": "b"},
        {"user_id": 2, "event_id": 7, "us": 30 * MIN, "event_type": "c"},
        # user 3: two starts sharing one completion
        {"user_id": 3, "event_id": 8, "us": 0 * MIN, "event_type": "a"},
        {"user_id": 3, "event_id": 9, "us": 1 * MIN, "event_type": "a"},
        {"user_id": 3, "event_id": 10, "us": 2 * MIN, "event_type": "b"},
        {"user_id": 3, "event_id": 11, "us": 3 * MIN, "event_type": "c"},
    ]
    rows.sort(key=lambda r: (r["us"], r["event_id"]))
    src = str(tmp_path / "src")
    n_chunks = 3
    per = (len(rows) + n_chunks - 1) // n_chunks
    _write_chunks(src, [rows[c * per : (c + 1) * per] for c in range(n_chunks)])
    batches = []
    stream = (
        spark.readStream.schema(
            "user_id long, event_id long, us long, event_type string"
        )
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    q = (
        funnel_user_state(
            stream, pattern=("a", "b", "c"), within_minutes=10
        )
        .writeStream.outputMode("update")
        .foreachBatch(lambda df, _e: batches.append(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_replay(q)
    final = {}
    for b in batches:
        for r in b:
            final[r["user_id"]] = (r["n_matches"], r["first_match_event_id"])
    streaming = {u: v for u, v in final.items() if v[0] > 0}
    batch_df = spark.createDataFrame(
        [(r["event_id"], r["us"], r["user_id"], r["event_type"]) for r in rows],
        "event_id long, us long, user_id long, event_type string",
    ).select(
        "event_id",
        F.timestamp_micros("us").alias("ts"),
        "user_id",
        "event_type",
    )
    expected = {
        r["user_id"]: (r["n_matches"], r["first_match_event_id"])
        for r in event_pattern_funnel(
            batch_df, pattern=("a", "b", "c"), within_minutes=10
        ).collect()
    }
    assert streaming == expected == {1: (1, 1), 3: (2, 8)}


def test_gap_state_tiebreak_matches_batch(spark, tmp_path):
    """Two EQUAL max gaps arriving in time order with descending
    opening ids: the streaming census must pick the smallest opening
    id (the batch struct-min convention), not the first-processed."""
    from kafka_streams_pipeline_spark.streaming.stateful import (
        gap_user_state,
    )

    H = 3_600_000_000
    # user 1: events at 0h, 10h (gap 10h opened by id 50), 11h,
    # 21h (gap 10h opened by id 20) — equal max gaps, ids 50 then 20
    rows = [
        {"user_id": 1, "event_id": 50, "us": 0, "event_type": "x"},
        {"user_id": 1, "event_id": 51, "us": 10 * H, "event_type": "x"},
        {"user_id": 1, "event_id": 20, "us": 11 * H, "event_type": "x"},
        {"user_id": 1, "event_id": 21, "us": 21 * H, "event_type": "x"},
    ]
    src = str(tmp_path / "src")
    _write_chunks(src, [rows[:2], rows[2:]])
    batches = []
    q = (
        gap_user_state(
            spark.readStream.schema(
                "user_id long, event_id long, us long, event_type string"
            )
            .option("maxFilesPerTrigger", 1)
            .json(src),
            threshold_us=5 * H,
        )
        .writeStream.outputMode("update")
        .foreachBatch(lambda df, _e: batches.append(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_replay(q)
    final = {r["user_id"]: r for b in batches for r in b}
    r = final[1]
    assert r["n_gaps"] == 2
    assert r["max_gap_us"] == 10 * H
    assert r["longest_gap_opens_id"] == 20
    assert r["gap_us_total"] == 20 * H


def test_funnel_state_four_step_pattern(spark, tmp_path):
    """Generalized NFA: a 4-step pattern with a repeated type across
    levels (a,b,b,c) matches across chunk boundaries and the repeated
    'b' advances each chain exactly one level per event."""
    from pyspark.sql import functions as F

    from kafka_streams_pipeline_spark.operators.timeseries import (
        event_pattern_funnel,
    )
    from kafka_streams_pipeline_spark.streaming.stateful import (
        funnel_user_state,
    )

    MIN = 60_000_000
    rows = [
        {"user_id": 1, "event_id": 1, "us": 0 * MIN, "event_type": "a"},
        {"user_id": 1, "event_id": 2, "us": 1 * MIN, "event_type": "b"},
        {"user_id": 1, "event_id": 3, "us": 2 * MIN, "event_type": "b"},
        {"user_id": 1, "event_id": 4, "us": 3 * MIN, "event_type": "c"},
        # user 2: only one b — must NOT match (needs two)
        {"user_id": 2, "event_id": 5, "us": 0 * MIN, "event_type": "a"},
        {"user_id": 2, "event_id": 6, "us": 1 * MIN, "event_type": "b"},
        {"user_id": 2, "event_id": 7, "us": 2 * MIN, "event_type": "c"},
    ]
    src = str(tmp_path / "src")
    per = 3
    _write_chunks(src, [rows[c * per : (c + 1) * per] for c in range(3)])
    batches = []
    q = (
        funnel_user_state(
            spark.readStream.schema(
                "user_id long, event_id long, us long, event_type string"
            )
            .option("maxFilesPerTrigger", 1)
            .json(src),
            pattern=("a", "b", "b", "c"),
            within_minutes=10,
        )
        .writeStream.outputMode("update")
        .foreachBatch(lambda df, _e: batches.append(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_replay(q)
    final = {r["user_id"]: (r["n_matches"], r["first_match_event_id"])
             for b in batches for r in b}
    streaming = {u: v for u, v in final.items() if v[0] > 0}
    batch_df = spark.createDataFrame(
        [(r["event_id"], r["us"], r["user_id"], r["event_type"])
         for r in rows],
        "event_id long, us long, user_id long, event_type string",
    ).select(
        "event_id", F.timestamp_micros("us").alias("ts"),
        "user_id", "event_type",
    )
    expected = {
        r["user_id"]: (r["n_matches"], r["first_match_event_id"])
        for r in event_pattern_funnel(
            batch_df, pattern=("a", "b", "b", "c"), within_minutes=10
        ).collect()
    }
    assert streaming == expected == {1: (1, 1)}
