"""Opt-in transformWithStateInPandas parity for the gap census
(VERDICT r14 item 6).

Spark 4's transformWithState (SPARK-49564) is the successor to
applyInPandasWithState; ``streaming/stateful.gap_user_state_tws``
ports the gap census to it with the identical fold. This box cannot
RUN the new API: its Python driver worker
(pyspark/sql/streaming/transform_with_state_driver_worker.py) imports
``google.protobuf`` before any user code, the ``protobuf`` package is
not installed here, and installs are prohibited — so this module
self-skips on ``tws_available()`` (the test is SKIPPED, not absent —
it executes the moment a protobuf-capable environment exists, exactly
the S1 live-broker discipline):

    pip install protobuf   # on a real deployment
    python -m pytest tests/test_tws_parity.py -v

The parity claim it pins: the TWS port and the certified
applyInPandasWithState twin (q_streaming_gaps' operator) emit
BIT-IDENTICAL final censuses over the same multi-batch availableNow
replay — same state fold, same tie-breaks, same NULL semantics.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time

import pytest

from kafka_streams_pipeline_spark.streaming.stateful import tws_available

pytestmark = pytest.mark.skipif(
    not tws_available(),
    reason="transformWithState needs google.protobuf in the Python "
    "environment (driver worker import); not installed here and "
    "installs are prohibited — see NOTES_r15",
)


@pytest.fixture(scope="module")
def spark():
    from kafka_streams_pipeline_spark.session import get_spark

    s = get_spark(app_name="tws-parity-test")
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _replay(spark, op, rows, rocksdb: bool):
    """availableNow replay of ``rows`` (dicts with user_id, event_id,
    us) in 4 chunks through ``op``; returns the LAST update-mode
    emission per user."""
    from kafka_streams_pipeline_spark.streaming.pipeline import (
        ROCKSDB_PROVIDER,
        await_replay,
    )

    base = tempfile.mkdtemp(prefix="kspipeline-tws-")
    src = os.path.join(base, "src")
    os.makedirs(src)
    per = (len(rows) + 3) // 4
    t0 = time.time() - 86_400
    for c in range(4):
        path = os.path.join(src, f"chunk{c}.json")
        with open(path, "w") as f:
            for r in rows[c * per : (c + 1) * per]:
                f.write(json.dumps(r) + "\n")
        os.utime(path, (t0 + c, t0 + c))
    stream = (
        spark.readStream.schema("user_id long, event_id long, us long")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    batches = []

    def sink(df, _eid):
        batches.append(df.collect())

    key = "spark.sql.streaming.stateStore.providerClass"
    saved = spark.conf.get(key, None)
    if rocksdb:
        spark.conf.set(key, ROCKSDB_PROVIDER)
    try:
        q = (
            op(stream)
            .writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", os.path.join(base, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        await_replay(q, 300)
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)
        shutil.rmtree(base, ignore_errors=True)
    final = {}
    for b in batches:
        for r in b:
            final[r["user_id"]] = tuple(r)
    return final


def test_tws_gap_census_bit_exact_parity(spark):
    from kafka_streams_pipeline_spark.streaming.stateful import (
        gap_user_state,
        gap_user_state_tws,
    )

    hour = 3_600_000_000
    rows = []
    eid = 0
    # user 1: two gaps (one 40 h, one 50 h) straddling chunk cuts;
    # user 2: equal max gaps — the smaller opening id must win;
    # user 3: no gaps
    for us in [0, 10 * hour, 50 * hour, 60 * hour, 110 * hour]:
        rows.append({"user_id": 1, "event_id": eid, "us": us})
        eid += 1
    for us in [0, 40 * hour, 80 * hour]:
        rows.append({"user_id": 2, "event_id": eid, "us": us})
        eid += 1
    for us in [0, hour, 2 * hour]:
        rows.append({"user_id": 3, "event_id": eid, "us": us})
        eid += 1
    rows.sort(key=lambda r: (r["us"], r["event_id"]))

    legacy = _replay(spark, gap_user_state, rows, rocksdb=False)
    tws = _replay(spark, gap_user_state_tws, rows, rocksdb=True)
    assert tws == legacy
    # sanity on the fold itself, not just the equality
    assert legacy[1][2] == 2  # n_gaps
    assert legacy[3][2] == 0
