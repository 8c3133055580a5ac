"""Source-path semantics: PERMISSIVE JSON decode (S2), event-time
validity guard (P8), and stream-static dimension join enrichment.
"""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from kafka_streams_pipeline_spark.streaming.pipeline import await_replay
from kafka_streams_pipeline_spark.sources.readings import (
    decode_json_readings,
    with_event_time,
)


def test_permissive_json_decode(spark):
    """Malformed JSON → all-null struct; unknown fields ignored;
    missing fields null — the reference's lenient Jackson config
    (model/TemperatureReading.java:5)."""
    rows = [
        (json.dumps({"timestamp": 1000, "sensorId": "s1", "geohash": "u155mz82dv33",
                     "tempVal": 20.5, "tempUnit": "c", "EXTRA": "ignored"}),),
        (json.dumps({"timestamp": 2000, "sensorId": "s2"}),),  # missing fields
        ("{not valid json",),
        (None,),
    ]
    df = spark.createDataFrame(rows, "value string")
    out = decode_json_readings(df).collect()
    assert out[0]["tempVal"] == 20.5 and out[0]["sensorId"] == "s1"
    assert out[1]["sensorId"] == "s2" and out[1]["tempVal"] is None
    assert out[2]["timestamp"] is None  # malformed → nulls, no crash
    assert out[3]["timestamp"] is None


def test_event_time_guard_filters_invalid(spark):
    """Negative payload timestamps are filtered (engine policy for
    TSExtractor.java:15-17); null timestamp falls back when a
    transport column is given, else filtered."""
    df = spark.createDataFrame(
        [(1000, "a"), (-5, "b"), (None, "c")],
        "timestamp long, sensorId string",
    )
    kept = with_event_time(df).collect()
    assert [r["sensorId"] for r in kept] == ["a"]

    with_fallback = df.withColumn(
        "kafka_ts", F.lit("2024-01-01 00:00:00").cast("timestamp")
    )
    kept2 = with_event_time(with_fallback, fallback_col="kafka_ts").collect()
    assert sorted(r["sensorId"] for r in kept2) == ["a", "c"]
    by_id = {r["sensorId"]: r for r in kept2}
    assert by_id["c"]["ts"] is not None  # fallback applied


def test_decode_kafka_records_transport_fallback(spark):
    """The Kafka ingest transform chain (decode_kafka_records) over a
    batch frame with the exact Kafka source schema — key/value binary,
    record timestamp, partition/offset metadata. Certifies everything
    in kafka_reading_stream except the broker connection itself (no
    broker exists in CI; documented in the function docstring):
    payload decode, transport-timestamp fallback for null payload
    timestamps (querying/util/TSExtractor.java:20), negative-ts guard
    (:15-17), and that the payload field named `timestamp` does not
    shadow the record timestamp."""
    import datetime as dt

    from kafka_streams_pipeline_spark.sources.readings import (
        decode_kafka_records,
    )

    transport = dt.datetime(2024, 1, 2, 3, 4, 5)

    def rec(payload: dict | str, offset: int):
        value = payload if isinstance(payload, str) else json.dumps(payload)
        return (
            None,
            value.encode(),
            "temperature-readings",
            0,
            offset,
            transport,
            0,
        )

    rows = [
        rec({"timestamp": 1_700_000_000_000, "sensorId": "s1",
             "geohash": "u155mz82dv33", "tempVal": 20.5, "tempUnit": "c"}, 0),
        rec({"sensorId": "s2", "tempVal": 1.0}, 1),      # null payload ts
        rec({"timestamp": -4, "sensorId": "s3"}, 2),     # invalid
        rec("{not json", 3),                             # malformed
    ]
    kafka_shaped = spark.createDataFrame(
        rows,
        "key binary, value binary, topic string, partition int, "
        "offset long, timestamp timestamp, timestampType int",
    )
    out = {r["sensorId"]: r for r in decode_kafka_records(kafka_shaped).collect()}
    assert set(out) == {"s1", "s2"}
    assert out["s1"]["ts"] == dt.datetime(2023, 11, 14, 22, 13, 20)
    assert out["s2"]["ts"] == transport  # transport fallback, not payload
    assert "_transport_ts" not in decode_kafka_records(kafka_shaped).columns


def test_stream_static_dimension_join(spark, tmp_path_factory):
    """Streaming readings enriched with a static dimension (sensor →
    region) then aggregated per region — the stream-static join is
    broadcast per micro-batch, no stream state needed."""
    from kafka_streams_pipeline_spark.schema import READING_SCHEMA

    base = tmp_path_factory.mktemp("stream-static")
    src = str(base / "src")
    os.makedirs(src)
    with open(os.path.join(src, "a.json"), "w") as f:
        for i, (sensor, val) in enumerate(
            [("s1", 10.0), ("s1", 20.0), ("s2", 30.0), ("s3", 40.0)]
        ):
            f.write(
                json.dumps(
                    {
                        "timestamp": 1_700_000_000_000 + i,
                        "sensorId": sensor,
                        "geohash": "u155mz82dv33",
                        "tempVal": val,
                        "tempUnit": "c",
                    }
                )
                + "\n"
            )
    dim = spark.createDataFrame(
        [("s1", "north"), ("s2", "south"), ("s3", "south")],
        "sensorId string, region string",
    )
    raw = spark.readStream.schema(READING_SCHEMA).json(src)
    readings = raw.withColumn("ts", F.timestamp_millis("timestamp"))
    enriched = readings.join(F.broadcast(dim), "sensorId").groupBy("region").agg(
        F.count(F.lit(1)).alias("n"), F.sum("tempVal").alias("total")
    )
    q = (
        enriched.writeStream.outputMode("complete")
        .format("memory")
        .queryName("region_agg")
        .trigger(availableNow=True)
        .start()
    )
    await_replay(q)
    got = {
        r["region"]: (r["n"], r["total"])
        for r in spark.sql("SELECT * FROM region_agg").collect()
    }
    assert got == {"north": (2, 30.0), "south": (2, 70.0)}


def test_decode_survives_hostile_payloads(spark):
    """Foreign-input hardening for the ingest decode (the JSON
    sibling of the media walkers' fuzz pass): hostile record values —
    truncated JSON, control characters, deep nesting, huge numbers,
    wrong types, binary junk, duplicate keys — must never raise.
    Every record either decodes to a valid reading or is dropped by
    the corrupt-record / validity guards; well-formed readings in the
    same batch always survive."""
    from pyspark.sql import Row

    from kafka_streams_pipeline_spark.sources.readings import (
        decode_kafka_records,
    )

    good = (
        '{"timestamp": 1585054952527, "sensorId": "s000001", '
        '"geohash": "u155mz82dv33", "tempVal": 20.3, "tempUnit": "c"}'
    )
    hostile = [
        "",
        "{",
        '{"timestamp": ',
        "[1, 2, 3]",
        "null",
        "true",
        '"just a string"',
        '{"timestamp": "not_a_number", "sensorId": 42}',
        '{"timestamp": 1e400}',
        '{"timestamp": 99999999999999999999999999999}',
        '{"nested": ' * 50 + "{}" + "}" * 50,
        '{"sensorId": "' + "\x00\x01\x02" + '"}',
        '{"sensorId": "\\ud800"}',  # lone surrogate escape
        '{"timestamp": 1, "timestamp": 2}',  # duplicate key
        "\xff\xfe binary junk \x00",
        '{"tempVal": NaN}',
        '{"timestamp": -5, "sensorId": "s1"}',  # negative → guarded
    ]
    import datetime as dt

    base_ts = dt.datetime(2020, 3, 24, 12, 0, 0)
    rows = [
        Row(
            timestamp=base_ts + dt.timedelta(seconds=i),
            value=v.encode("utf-8", "ignore"),
        )
        for i, v in enumerate([good] + hostile)
    ]
    out = decode_kafka_records(spark.createDataFrame(rows)).collect()
    # no exception above is the main assertion; the good record
    # survives with its payload fields intact
    good_rows = [r for r in out if r["sensorId"] == "s000001"]
    assert len(good_rows) == 1
    assert good_rows[0]["tempVal"] == 20.3
    # nothing negative-timestamped leaks past the validity guard
    assert all(
        r["timestamp"] is None or r["timestamp"] >= 0 for r in out
    )


def test_versioned_corpus_time_travel(spark, sf_dir, tmp_path):
    """Append-only versioned store: v1 stays byte-identical after
    later commits (time travel), latest() follows the head, and a
    partially-written batch without a manifest is invisible."""
    import os

    from kafka_streams_pipeline_spark.sources.tables import load_table
    from kafka_streams_pipeline_spark.sources.versioned import (
        commit_corpus,
        latest_version,
        read_corpus,
    )

    docs = load_table(spark, sf_dir, "documents")
    store = str(tmp_path / "corpus")
    v1 = commit_corpus(docs.where(F.col("doc_id") < 100), store, "first")
    assert v1 == 1 and latest_version(store) == 1
    v1_ids = sorted(
        r["doc_id"] for r in read_corpus(spark, store, 1).collect()
    )
    v2 = commit_corpus(docs.where(F.col("doc_id") >= 100), store, "rest")
    assert v2 == 2 and latest_version(store) == 2
    # time travel: v1 unchanged after the second commit
    assert v1_ids == sorted(
        r["doc_id"] for r in read_corpus(spark, store, 1).collect()
    )
    # latest = union
    assert len(read_corpus(spark, store).collect()) == docs.count()
    # an orphan batch dir (crash between data write and manifest
    # rename) must be invisible to every reader
    os.makedirs(os.path.join(store, "data", "b000099"))
    assert latest_version(store) == 2
    assert len(read_corpus(spark, store).collect()) == docs.count()


def test_versioned_corpus_recovers_from_crashed_commit(spark, sf_dir, tmp_path):
    """A crash between batch write and manifest rename leaves an
    orphan data/b{N} dir at exactly the name the next commit of
    version N will use; commit_corpus must clear the debris and
    succeed rather than fail errorifexists forever (ADVICE r6 —
    previously the store wedged permanently)."""
    import os

    from kafka_streams_pipeline_spark.sources.tables import load_table
    from kafka_streams_pipeline_spark.sources.versioned import (
        commit_corpus,
        latest_version,
        read_corpus,
    )

    docs = load_table(spark, sf_dir, "documents")
    store = str(tmp_path / "corpus")
    commit_corpus(docs.where(F.col("doc_id") < 100), store, "first")
    # simulate the crashed v2: full batch dir written, no manifest
    docs.where(F.col("doc_id") >= 100).write.parquet(
        os.path.join(store, "data", "b000002")
    )
    # and a half-written temp dir from an even earlier attempt
    os.makedirs(os.path.join(store, "data", ".tmp-b000002"))
    v2 = commit_corpus(docs.where(F.col("doc_id") >= 100), store, "retry")
    assert v2 == 2 and latest_version(store) == 2
    assert len(read_corpus(spark, store).collect()) == docs.count()
    assert not os.path.exists(os.path.join(store, "data", ".tmp-b000002"))


def test_versioned_corpus_checkpoint(spark, sf_dir, tmp_path):
    """checkpoint_corpus consolidates the current corpus into one
    batch (manifest length 1) WITHOUT touching pinned old versions,
    and later commits chain from the short manifest."""
    import json
    import os

    from kafka_streams_pipeline_spark.sources.tables import load_table
    from kafka_streams_pipeline_spark.sources.versioned import (
        _manifest_path,
        checkpoint_corpus,
        commit_corpus,
        read_corpus,
    )

    docs = load_table(spark, sf_dir, "documents")
    store = str(tmp_path / "corpus")
    commit_corpus(docs.where(F.col("doc_id") % 2 == 0), store, "even")
    commit_corpus(docs.where(F.col("doc_id") % 2 != 0), store, "odd")
    before = sorted(r["doc_id"] for r in read_corpus(spark, store).collect())
    v3 = checkpoint_corpus(spark, store)
    assert v3 == 3
    with open(_manifest_path(store, 3)) as f:
        assert len(json.load(f)["batches"]) == 1
    after = sorted(r["doc_id"] for r in read_corpus(spark, store, 3).collect())
    assert after == before  # consolidation is invisible in the data
    # the pinned pre-checkpoint version is untouched
    v1_rows = read_corpus(spark, store, 1).count()
    assert v1_rows == docs.where(F.col("doc_id") % 2 == 0).count()
    # a post-checkpoint commit chains from the 1-entry manifest
    v4 = commit_corpus(docs.limit(0), store, "empty append")
    with open(_manifest_path(store, v4)) as f:
        assert len(json.load(f)["batches"]) == 2
    assert os.path.isdir(os.path.join(store, "data", "b000001"))


def test_versioned_corpus_vacuum(spark, sf_dir, tmp_path):
    """vacuum_corpus(keep_from) drops only pre-checkpoint history:
    retained versions stay bit-identical, older reads fail loudly
    (manifest gone, never a dangling read), and the reclaim counts
    are reported. A held commit lock refuses the vacuum."""
    import os

    import pytest

    from kafka_streams_pipeline_spark.sources.tables import load_table
    from kafka_streams_pipeline_spark.sources.versioned import (
        StoreLockedError,
        checkpoint_corpus,
        commit_corpus,
        read_corpus,
        vacuum_corpus,
    )

    docs = load_table(spark, sf_dir, "documents")
    store = str(tmp_path / "corpus")
    commit_corpus(docs.where(F.col("doc_id") % 2 == 0), store, "even")
    commit_corpus(docs.where(F.col("doc_id") % 2 != 0), store, "odd")
    v3 = checkpoint_corpus(spark, store)
    before = sorted(r["doc_id"] for r in read_corpus(spark, store, v3).collect())
    # lock held → refused
    lock = os.path.join(store, "_manifests", ".commit.lock")
    fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    os.close(fd)
    with pytest.raises(StoreLockedError):
        vacuum_corpus(store, v3)
    os.unlink(lock)
    stats = vacuum_corpus(store, v3)
    assert stats == {"batches_removed": 2, "manifests_removed": 2}
    after = sorted(r["doc_id"] for r in read_corpus(spark, store, v3).collect())
    assert after == before  # retained version bit-identical
    with pytest.raises(FileNotFoundError):
        read_corpus(spark, store, 1)  # vacuumed version fails loudly
    # idempotent: nothing further to reclaim
    assert vacuum_corpus(store, v3) == {
        "batches_removed": 0, "manifests_removed": 0,
    }


def test_versioned_corpus_schema_evolution(spark, sf_dir, tmp_path):
    """Additive schema evolution under time travel: a later batch
    adds a column; merge_schema=True reads union the schemas with
    NULL padding for old batches, while as-of the OLD version the
    added column never appears (manifest-pinned batches). Default
    merge_schema=False on the evolved store must NOT silently
    null-pad: it either fails loudly or returns a single footer's
    schema — never a merged one."""
    from kafka_streams_pipeline_spark.sources.tables import load_table
    from kafka_streams_pipeline_spark.sources.versioned import (
        commit_corpus,
        read_corpus,
    )

    docs = load_table(spark, sf_dir, "documents")
    store = str(tmp_path / "corpus")
    v1 = commit_corpus(
        docs.where(F.col("doc_id") < 100).select("doc_id", "n_chars"),
        store,
        "v1",
    )
    v2 = commit_corpus(
        docs.where(F.col("doc_id") >= 100).select(
            "doc_id", "n_chars", F.lit(7).cast("long").alias("extra")
        ),
        store,
        "v2 adds extra",
    )
    merged = read_corpus(spark, store, v2, merge_schema=True)
    assert set(merged.columns) == {"doc_id", "n_chars", "extra"}
    n_old = docs.where(F.col("doc_id") < 100).count()
    assert merged.where(F.col("extra").isNull()).count() == n_old
    assert merged.count() == docs.count()
    # time travel: v1 read AFTER the evolved commit — no leaked column
    old = read_corpus(spark, store, v1, merge_schema=True)
    assert set(old.columns) == {"doc_id", "n_chars"}
    assert old.count() == n_old


def test_versioned_corpus_concurrent_commit_fails_loudly(
    spark, sf_dir, tmp_path
):
    """Two concurrent committers must NOT race: the second one hits
    the exclusive commit lock and raises StoreLockedError naming the
    holder, instead of rmtree-ing the first one's
    completed-but-unmanifested batch as 'crash debris' (ADVICE r7).
    After the lock clears, the commit succeeds and no data was
    lost."""
    import os

    import pytest

    from kafka_streams_pipeline_spark.sources.tables import load_table
    from kafka_streams_pipeline_spark.sources.versioned import (
        StoreLockedError,
        commit_corpus,
        latest_version,
        read_corpus,
    )

    docs = load_table(spark, sf_dir, "documents")
    store = str(tmp_path / "corpus")
    commit_corpus(docs.where(F.col("doc_id") < 100), store, "first")
    # simulate a peer mid-commit: lock held, its batch fully written
    # but not yet manifested
    lock = os.path.join(store, "_manifests", ".commit.lock")
    fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    os.write(fd, b"pid=424242")
    os.close(fd)
    peer_batch = os.path.join(store, "data", "b000002")
    docs.where(F.col("doc_id") >= 100).write.parquet(peer_batch)
    with pytest.raises(StoreLockedError, match="424242"):
        commit_corpus(docs.limit(1), store, "loser")
    # the loser must not have touched the peer's batch
    assert os.path.isdir(peer_batch)
    assert latest_version(store) == 1
    # peer finishes (lock released after its manifest publish) —
    # here: release the lock and let a fresh commit reclaim b000002
    # as debris, the documented single-writer recovery path
    os.unlink(lock)
    v2 = commit_corpus(docs.where(F.col("doc_id") >= 100), store, "rest")
    assert v2 == 2
    assert len(read_corpus(spark, store).collect()) == docs.count()
    assert not os.path.exists(lock)


def test_versioned_corpus_stale_lock_reclaim(spark, sf_dir, tmp_path):
    """Lock-liveness semantics (VERDICT r8 / ADVICE r8): a lock left
    by a DEAD process on this host is crash debris and is reclaimed
    automatically; a lock held by a LIVE local pid, or one with no
    host claim (foreign/unknown origin), refuses loudly."""
    import os
    import socket

    import pytest

    from kafka_streams_pipeline_spark.sources.tables import load_table
    from kafka_streams_pipeline_spark.sources.versioned import (
        StoreLockedError,
        commit_corpus,
        read_corpus,
    )

    docs = load_table(spark, sf_dir, "documents")
    store = str(tmp_path / "corpus")
    commit_corpus(docs.where(F.col("doc_id") < 100), store, "first")
    lock = os.path.join(store, "_manifests", ".commit.lock")
    host = socket.gethostname()

    # a dead local pid: fork a child that exits immediately, so the
    # pid is real but guaranteed not alive (and reaped → ESRCH)
    pid = os.fork()
    if pid == 0:
        os._exit(0)
    os.waitpid(pid, 0)
    with open(lock, "w") as f:
        f.write(f"pid={pid} host={host} op=commit")
    v2 = commit_corpus(docs.where(F.col("doc_id") >= 100), store, "auto")
    assert v2 == 2
    assert len(read_corpus(spark, store).collect()) == docs.count()

    # a live local pid (our own): refuse
    with open(lock, "w") as f:
        f.write(f"pid={os.getpid()} host={host} op=commit")
    with pytest.raises(StoreLockedError, match=str(os.getpid())):
        commit_corpus(docs.limit(1), store, "blocked")
    os.unlink(lock)

    # a lock claiming another host: never auto-reclaimed
    with open(lock, "w") as f:
        f.write(f"pid={pid} host=not-{host} op=commit")
    with pytest.raises(StoreLockedError):
        commit_corpus(docs.limit(1), store, "blocked")
    os.unlink(lock)


def test_versioned_corpus_checkpoint_concurrent_commit(
    spark, sf_dir, tmp_path
):
    """ADVICE r8 checkpoint TOCTOU: a history-rewriting commit built
    from a pinned version must refuse to publish if a peer commit
    advanced the store in between — otherwise the peer's batch is
    silently dropped from all forward lineage. After the refusal the
    store is untouched and a fresh checkpoint sees both batches."""
    import pytest

    from kafka_streams_pipeline_spark.sources.tables import load_table
    from kafka_streams_pipeline_spark.sources.versioned import (
        ConcurrentCommitError,
        checkpoint_corpus,
        commit_corpus,
        latest_version,
        read_corpus,
    )

    docs = load_table(spark, sf_dir, "documents")
    store = str(tmp_path / "corpus")
    commit_corpus(docs.where(F.col("doc_id") < 100), store, "first")
    # checkpoint's read pins v1...
    pinned = latest_version(store)
    consolidated = read_corpus(spark, store, version=pinned)
    # ...then a peer commit lands before the checkpoint's commit
    commit_corpus(docs.where(F.col("doc_id") >= 100), store, "peer")
    with pytest.raises(ConcurrentCommitError, match="v2"):
        commit_corpus(
            consolidated, store, "stale checkpoint",
            replace_history=True, expect_latest=pinned,
        )
    assert latest_version(store) == 2  # refusal left no manifest
    v3 = checkpoint_corpus(spark, store)  # retry from current version
    assert v3 == 3
    assert len(read_corpus(spark, store, v3).collect()) == docs.count()


def test_versioned_corpus_vacuum_inflight_reader(spark, sf_dir, tmp_path):
    """VERDICT r8 reader contract: a Spark frame PLANNED over a
    pre-vacuum version before the vacuum runs has its file list fixed
    at plan time; materializing after the batches are reclaimed fails
    LOUDLY mid-job (the documented Delta-style in-flight-reader race)
    — never silent partial data. A frame over a RETAINED version
    planned before the vacuum still materializes bit-identically."""
    import pytest
    from py4j.protocol import Py4JJavaError

    from kafka_streams_pipeline_spark.sources.tables import load_table
    from kafka_streams_pipeline_spark.sources.versioned import (
        checkpoint_corpus,
        commit_corpus,
        read_corpus,
        vacuum_corpus,
    )

    docs = load_table(spark, sf_dir, "documents")
    store = str(tmp_path / "corpus")
    commit_corpus(docs.where(F.col("doc_id") % 2 == 0), store, "even")
    commit_corpus(docs.where(F.col("doc_id") % 2 != 0), store, "odd")
    v3 = checkpoint_corpus(spark, store)
    # both frames planned (manifests read, scan relations resolved)
    # BEFORE the vacuum
    doomed = read_corpus(spark, store, 1).select("doc_id")
    survivor = read_corpus(spark, store, v3).select("doc_id")
    expected = sorted(r["doc_id"] for r in survivor.collect())
    vacuum_corpus(store, v3)
    with pytest.raises((Py4JJavaError, Exception)) as exc:
        doomed.collect()
    assert "b000001" in str(exc.value) or "FileNotFound" in str(
        exc.value
    ) or "does not exist" in str(exc.value) or "PATH_NOT_FOUND" in str(
        exc.value
    )
    got = sorted(r["doc_id"] for r in survivor.collect())
    assert got == expected


def test_versioned_corpus_store_history(spark, sf_dir, tmp_path):
    """store_history is the DESCRIBE HISTORY analogue: one row per
    readable version with lineage length, batches added, and note.
    A checkpoint shows as n_batches resetting to 1 (still adding
    exactly one batch); a vacuum removes exactly the reclaimed
    versions' rows; an empty/new store yields an empty frame."""
    from kafka_streams_pipeline_spark.sources.tables import load_table
    from kafka_streams_pipeline_spark.sources.versioned import (
        checkpoint_corpus,
        commit_corpus,
        store_history,
        vacuum_corpus,
    )

    store = str(tmp_path / "corpus")
    assert store_history(spark, store).count() == 0  # new store

    docs = load_table(spark, sf_dir, "documents")
    commit_corpus(docs.where(F.col("doc_id") < 100), store, "first")
    commit_corpus(docs.where(F.col("doc_id") >= 100), store, "rest")
    v3 = checkpoint_corpus(spark, store)
    commit_corpus(docs.where(F.col("doc_id") % 7 == 0), store, "sevens")

    hist = {r["version"]: r for r in store_history(spark, store).collect()}
    assert sorted(hist) == [1, 2, 3, v3 + 1]
    assert [hist[v]["n_batches"] for v in (1, 2, 3, 4)] == [1, 2, 1, 2]
    # every version (append or checkpoint) adds exactly one batch
    assert all(hist[v]["batches_added"] == 1 for v in (1, 2, 3, 4))
    assert hist[1]["note"] == "first" and hist[3]["note"] == "checkpoint"

    vacuum_corpus(store, v3)
    post = {r["version"]: r for r in store_history(spark, store).collect()}
    assert sorted(post) == [3, 4]  # vacuumed versions absent
    # v3's predecessor is gone: its whole lineage counts as added
    assert post[3]["n_batches"] == 1 and post[3]["batches_added"] == 1
    assert post[4]["note"] == "sevens"


def test_versioned_corpus_upsert_latest_wins(spark, tmp_path):
    """Merge-on-read MERGE semantics: per key the newest batch's row
    wins, tombstoned keys vanish from the merged read, raw reads
    still see the whole log, and time travel merges exactly the
    batches each version pins (a pre-correction snapshot never sees
    a later retraction)."""
    from pyspark.sql import functions as F

    from kafka_streams_pipeline_spark.sources.versioned import (
        commit_corpus,
        read_corpus,
        read_corpus_latest,
        upsert_corpus,
    )

    store = str(tmp_path / "store")
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    commit_corpus(base, store, "base")
    upsert_corpus(
        spark.createDataFrame([(2, "B2"), (4, "d")], "k long, v string"),
        store,
        "k",
        "update 2, insert 4",
    )
    upsert_corpus(
        spark.createDataFrame(
            [(1, None, True), (2, "B3", False)],
            "k long, v string, _deleted boolean",
        ),
        store,
        "k",
        "delete 1, update 2 again",
    )
    merged = {
        r["k"]: r["v"]
        for r in read_corpus_latest(spark, store, "k").collect()
    }
    assert merged == {2: "B3", 3: "c", 4: "d"}
    # time travel: as-of v2 the deletion/re-update are invisible
    asof2 = {
        r["k"]: r["v"]
        for r in read_corpus_latest(spark, store, "k", version=2).collect()
    }
    assert asof2 == {1: "a", 2: "B2", 3: "c", 4: "d"}
    # the raw log still carries every row (merge-on-read, not rewrite)
    assert read_corpus(spark, store, merge_schema=True).count() == 7
    # merged frame never leaks plumbing columns
    assert set(read_corpus_latest(spark, store, "k").columns) == {"k", "v"}
    with pytest.raises(ValueError, match="key column"):
        upsert_corpus(base.select(F.col("k").alias("kk"), "v"), store, "k")


def test_versioned_corpus_changes_feed(spark, tmp_path):
    """CDC read: exactly the post-`from_version` batches, tombstones
    included (the retraction feed); empty when nothing changed; and
    a LOUD refusal across a history rewrite, where batch set
    difference would misreport the consolidated base as new data."""
    from kafka_streams_pipeline_spark.sources.versioned import (
        checkpoint_corpus,
        commit_corpus,
        read_corpus_changes,
        upsert_corpus,
    )

    store = str(tmp_path / "store")
    commit_corpus(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
        store,
        "base",
    )
    upsert_corpus(
        spark.createDataFrame(
            [(2, None, True), (3, "c", False)],
            "k long, v string, _deleted boolean",
        ),
        store,
        "k",
        "delta",
    )
    feed = read_corpus_changes(spark, store, 1).collect()
    assert {(r["k"], r["v"], r["_deleted"]) for r in feed} == {
        (2, None, True),
        (3, "c", False),
    }
    assert read_corpus_changes(spark, store, 2, 2).count() == 0
    checkpoint_corpus(spark, store)
    with pytest.raises(ValueError, match="rewrote history"):
        read_corpus_changes(spark, store, 1)
    # forward from the checkpoint the feed works again
    upsert_corpus(
        spark.createDataFrame([(5, "e")], "k long, v string"), store, "k"
    )
    assert [r["k"] for r in read_corpus_changes(spark, store, 3).collect()] == [5]


def test_versioned_corpus_compact_folds_deltas(spark, tmp_path):
    """compact_corpus = the MoR→CoW fold: merged content identical
    before/after, lineage collapses to one batch (merged reads
    become plain scans), tombstones are physically applied (gone
    from the raw log), and the optimistic-concurrency guard inherits
    from checkpoint machinery."""
    from kafka_streams_pipeline_spark.sources.versioned import (
        commit_corpus,
        compact_corpus,
        read_corpus,
        read_corpus_latest,
        store_history,
        upsert_corpus,
    )

    store = str(tmp_path / "store")
    commit_corpus(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(20)], "k long, v string"
        ),
        store,
        "base",
    )
    upsert_corpus(
        spark.createDataFrame(
            [(i, None, True) for i in range(0, 20, 4)]
            + [(i, f"u{i}", False) for i in range(1, 20, 4)],
            "k long, v string, _deleted boolean",
        ),
        store,
        "k",
        "mixed delta",
    )
    before = sorted(
        (r["k"], r["v"])
        for r in read_corpus_latest(spark, store, "k").collect()
    )
    v = compact_corpus(spark, store, "k")
    after = sorted(
        (r["k"], r["v"])
        for r in read_corpus_latest(spark, store, "k").collect()
    )
    assert before == after
    head = {
        r["version"]: r["n_batches"]
        for r in store_history(spark, store).collect()
    }
    assert head[v] == 1
    # tombstones and plumbing are physically gone from the new base
    raw = read_corpus(spark, store, version=v)
    assert set(raw.columns) == {"k", "v"}
    assert raw.count() == len(after) == 15


def test_store_bloom_index_lookup_and_incremental_build(spark, tmp_path):
    """Bloom index contract: no false negatives ever; absent probes
    prune to zero scanned batches (empty frame, schema intact);
    maintenance after a new commit indexes ONLY the new batch; an
    unindexed batch is always scanned (correctness over pruning);
    a modulus mismatch fails loudly instead of mis-pruning."""
    import json
    import os

    from kafka_streams_pipeline_spark.sources.bloom_index import (
        build_bloom_index,
        candidate_batches,
        lookup_corpus,
    )
    from kafka_streams_pipeline_spark.sources.versioned import commit_corpus

    store = str(tmp_path / "store")
    for lo in (0, 100, 200):
        commit_corpus(
            spark.range(lo, lo + 100).select(
                F.col("id").alias("k"), (F.col("id") * 3).alias("v")
            ),
            store,
            f"block {lo}",
        )
    assert build_bloom_index(spark, store, "k") == 3

    df, stats = lookup_corpus(spark, store, "k", [5, 205])
    assert sorted((r["k"], r["v"]) for r in df.collect()) == [
        (5, 15),
        (205, 615),
    ]
    assert stats["batches_total"] == 3
    assert stats["batches_scanned"] <= 3  # and never misses (above)

    # absent probes: zero candidates, empty result, schema preserved
    df0, stats0 = lookup_corpus(spark, store, "k", [777777])
    assert df0.count() == 0 and set(df0.columns) == {"k", "v"}
    assert stats0["batches_scanned"] == 0

    # a NEW commit: next build indexes exactly the one new batch;
    # before that build, the unindexed batch is always a candidate
    commit_corpus(
        spark.range(300, 400).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("v")
        ),
        store,
        "block 300",
    )
    cands, total = candidate_batches(store, "k", [777777])
    assert total == 4 and cands == ["b000004"]
    assert build_bloom_index(spark, store, "k") == 1
    assert candidate_batches(store, "k", [777777])[0] == []
    df1, _ = lookup_corpus(spark, store, "k", [305])
    assert [(r["k"], r["v"]) for r in df1.collect()] == [(305, 915)]

    # modulus mismatch: loud, never silent mis-pruning
    idx = os.path.join(store, "_indexes", "bloom_k", "b000001.json")
    rec = json.load(open(idx))
    rec["mbits"] = 4096
    os.unlink(idx)
    json.dump(rec, open(idx, "w"))
    with pytest.raises(ValueError, match="mbits"):
        candidate_batches(store, "k", [5])


def test_store_minmax_index_range_pruning(spark, tmp_path):
    """Range-index contract: intersecting batches only, boundary
    inclusivity both ends, un-indexed and all-NULL batches always
    scanned, empty predicate window → zero scans with schema
    intact."""
    from kafka_streams_pipeline_spark.sources.bloom_index import (
        build_minmax_index,
        range_scan_corpus,
    )
    from kafka_streams_pipeline_spark.sources.versioned import commit_corpus

    store = str(tmp_path / "store")
    for lo in (0, 100, 200):
        commit_corpus(
            spark.range(lo, lo + 100).select(F.col("id").alias("k")),
            store,
            f"block {lo}",
        )
    assert build_minmax_index(spark, store, "k") == 3

    df, stats = range_scan_corpus(spark, store, "k", 95, 105)
    assert sorted(r["k"] for r in df.collect()) == list(range(95, 106))
    assert stats == {"batches_scanned": 2, "batches_total": 3}

    # inclusive boundaries: hitting exactly a batch max scans it
    _, s2 = range_scan_corpus(spark, store, "k", 99, 99)
    assert s2["batches_scanned"] == 1

    # out-of-domain window: nothing scanned, empty frame, schema kept
    df0, s0 = range_scan_corpus(spark, store, "k", 1000, 2000)
    assert df0.count() == 0 and df0.columns == ["k"]
    assert s0["batches_scanned"] == 0

    # an all-NULL batch is never pruned (conservative)
    commit_corpus(
        spark.createDataFrame([(None,)], "k long"), store, "nulls"
    )
    assert build_minmax_index(spark, store, "k") == 1
    _, s3 = range_scan_corpus(spark, store, "k", 1000, 2000)
    assert s3 == {"batches_scanned": 1, "batches_total": 4}


def test_gated_commit_schema_enforcement(spark, tmp_path):
    """Schema enforcement on the governed commit path: identical
    schema passes; an extra column is rejected without evolve=True
    and accepted with it; a missing column or a changed type is
    always rejected; and a rejected commit mints no version."""
    from kafka_streams_pipeline_spark.sources.versioned import (
        CommitRejectedError,
        commit_corpus_checked,
        latest_version,
        read_corpus,
    )

    store = str(tmp_path / "store")
    base = spark.createDataFrame([(1, "a")], "k long, v string")
    assert commit_corpus_checked(base, store, [], "base") == 1

    extra = spark.createDataFrame([(2, "b", 9)], "k long, v string, q long")
    with pytest.raises(CommitRejectedError, match="extra"):
        commit_corpus_checked(extra, store, [], "drift")
    assert latest_version(store) == 1  # nothing minted
    assert commit_corpus_checked(extra, store, [], "evolved", evolve=True) == 2
    assert read_corpus(spark, store, merge_schema=True).count() == 2

    with pytest.raises(CommitRejectedError, match="missing"):
        commit_corpus_checked(
            spark.createDataFrame([(3,)], "k long"), store, []
        )
    with pytest.raises(CommitRejectedError, match="type_changed"):
        commit_corpus_checked(
            spark.createDataFrame([("x", "c")], "k string, v string"),
            store,
            [],
        )
    assert latest_version(store) == 2


def test_stale_lock_reclaim_race_single_winner(tmp_path):
    """ADVICE r9 reclaim TOCTOU: two same-host contenders that BOTH
    see the same dead-pid lock must not interleave the
    read-check-unlink-create sequence — the slower one would unlink
    the fresh lock the faster one just re-created, leaving two live
    'exclusive' holders. The flock'd guard serializes acquisition:
    exactly ONE contender wins, every loser raises StoreLockedError,
    and the lock file names the winner afterwards."""
    import json
    import multiprocessing as mp
    import os

    from kafka_streams_pipeline_spark.sources.versioned import (
        StoreLockedError,
        _acquire_lock,
    )

    def contender(store, barrier, out_path, idx):
        barrier.wait()
        try:
            _acquire_lock(store, f"race-{idx}")
            res = ("won", os.getpid())
        except StoreLockedError:
            res = ("lost", os.getpid())
        with open(out_path, "w") as f:
            json.dump(res, f)

    ctx = mp.get_context("fork")
    for it in range(5):
        store = str(tmp_path / f"store{it}")
        os.makedirs(os.path.join(store, "_manifests"))
        # a real-but-dead pid for the stale lock
        dead = os.fork()
        if dead == 0:
            os._exit(0)
        os.waitpid(dead, 0)
        lock = os.path.join(store, "_manifests", ".commit.lock")
        import socket

        with open(lock, "w") as f:
            f.write(f"pid={dead} host={socket.gethostname()} op=crash")

        n = 4
        barrier = ctx.Barrier(n)
        outs = [str(tmp_path / f"out{it}_{i}.json") for i in range(n)]
        procs = [
            ctx.Process(target=contender, args=(store, barrier, outs[i], i))
            for i in range(n)
        ]
        for p in procs:
            p.start()
        for p in procs:
            p.join(30)
        results = [json.load(open(o)) for o in outs]
        winners = [r for r in results if r[0] == "won"]
        assert len(winners) == 1, results
        with open(lock) as f:
            content = f.read()
        assert f"pid={winners[0][1]} " in content, (content, results)


def test_version_at_vacuumed_store_raises_valueerror(spark, tmp_path):
    """ADVICE r9: version_at on a vacuumed store must fall through to
    the documented ValueError for a ts predating the oldest RETAINED
    version — not surface a FileNotFoundError from a pruned
    manifest."""
    import json

    import pytest

    from kafka_streams_pipeline_spark.sources.versioned import (
        _manifest_path,
        commit_corpus,
        vacuum_corpus,
        version_at,
    )

    store = str(tmp_path / "store")
    for i in range(3):
        commit_corpus(
            spark.createDataFrame([(i,)], "k long"), store, f"v{i + 1}"
        )
    # pin distinct, known commit timestamps
    for v, ts in ((1, 1000.0), (2, 2000.0), (3, 3000.0)):
        mp_ = _manifest_path(store, v)
        with open(mp_) as f:
            m = json.load(f)
        m["ts"] = ts
        with open(mp_, "w") as f:
            json.dump(m, f)
    assert version_at(store, 1500.0) == 1
    vacuum_corpus(store, keep_from_version=2)
    assert version_at(store, 2500.0) == 2
    assert version_at(store, 9999.0) == 3
    with pytest.raises(ValueError, match="no version"):
        version_at(store, 1500.0)  # predates oldest retained


def test_store_tags_lifecycle(spark, sf_dir, tmp_path):
    """Tags: immutable named refs with retention safety — tag reads
    resolve bit-identically, retag refuses without force (moves with
    it), vacuum refuses while a tag pins a to-be-dropped version and
    proceeds once the tag is deleted, and reading a missing tag
    names the known ones."""
    import pytest

    from kafka_streams_pipeline_spark.sources.tables import load_table
    from kafka_streams_pipeline_spark.sources.versioned import (
        commit_corpus,
        delete_tag,
        list_tags,
        read_corpus,
        read_corpus_tag,
        tag_corpus,
        vacuum_corpus,
    )

    docs = load_table(spark, sf_dir, "documents")
    store = str(tmp_path / "store")
    commit_corpus(docs.where(F.col("doc_id") < 100), store, "first")
    assert tag_corpus(store, "baseline") == 1
    commit_corpus(docs.where(F.col("doc_id") >= 100), store, "rest")
    assert tag_corpus(store, "prod", version=2) == 2
    assert list_tags(store) == {"baseline": 1, "prod": 2}

    # resolution is exactly read_corpus at the pinned version
    assert (
        read_corpus_tag(spark, store, "baseline").count()
        == read_corpus(spark, store, 1).count()
    )
    # immutable without force; movable with it
    with pytest.raises(ValueError, match="already exists"):
        tag_corpus(store, "baseline", version=2)
    assert tag_corpus(store, "baseline", version=2, force=True) == 2
    assert tag_corpus(store, "baseline", version=1, force=True) == 1

    # invalid names and unreadable versions refuse
    with pytest.raises(ValueError, match="invalid tag name"):
        tag_corpus(store, "bad name!")
    with pytest.raises(ValueError, match="not a readable version"):
        tag_corpus(store, "future", version=9)

    # retention safety: vacuum refuses while 'baseline' pins v1
    with pytest.raises(ValueError, match="pinned by tags"):
        vacuum_corpus(store, keep_from_version=2)
    delete_tag(store, "baseline")
    stats = vacuum_corpus(store, keep_from_version=2)
    assert stats["manifests_removed"] == 1
    # surviving tag still resolves after the vacuum
    assert read_corpus_tag(spark, store, "prod").count() == docs.count()
    with pytest.raises(ValueError, match="does not exist"):
        read_corpus_tag(spark, store, "baseline")
    with pytest.raises(ValueError, match="does not exist"):
        delete_tag(store, "baseline")


def test_store_text_index_search_prune_and_guards(spark, tmp_path):
    """Inverted text index contract: conjunctive search returns
    exactly the docs containing every term; batch pruning scans only
    batches whose index holds all terms; terms are case-insensitive;
    absent terms prune to zero batches with an intact empty schema;
    a partial index fails loudly; incremental build after a new
    commit indexes only the new batch."""
    import pytest

    from kafka_streams_pipeline_spark.sources.text_index import (
        build_text_index,
        search_text_index,
    )
    from kafka_streams_pipeline_spark.sources.versioned import commit_corpus

    store = str(tmp_path / "store")
    b1 = [(1, "alpha beta gamma"), (2, "alpha delta")]
    b2 = [(3, "beta epsilon"), (4, "zeta alpha beta")]
    for i, rows in enumerate((b1, b2)):
        commit_corpus(
            spark.createDataFrame(rows, "doc_id long, text string"),
            store,
            f"batch {i}",
        )

    # searching before the index exists fails loudly
    with pytest.raises(ValueError, match="text index missing"):
        search_text_index(spark, store, ["alpha"])
    with pytest.raises(ValueError, match="empty term list"):
        search_text_index(spark, store, [])

    assert build_text_index(spark, store) == 2
    assert build_text_index(spark, store) == 0  # idempotent

    # AND semantics + case-insensitive terms: alpha AND beta
    found, stats = search_text_index(spark, store, ["Alpha", "BETA"])
    assert sorted(r["doc_id"] for r in found.collect()) == [1, 4]
    assert stats == {"batches_total": 2, "batches_scanned": 2}

    # gamma only lives in batch 1 → prune to 1 scanned batch
    found_g, stats_g = search_text_index(spark, store, ["gamma"])
    assert [r["doc_id"] for r in found_g.collect()] == [1]
    assert stats_g == {"batches_total": 2, "batches_scanned": 1}

    # a term in no batch → zero scanned, empty frame, schema intact
    found_n, stats_n = search_text_index(spark, store, ["nosuchterm"])
    assert found_n.count() == 0
    assert set(found_n.columns) >= {"doc_id", "text"}
    assert stats_n["batches_scanned"] == 0

    # terms co-resident in a batch but never in one doc: batch is a
    # candidate (necessary condition) yet no doc matches
    found_c, stats_c = search_text_index(spark, store, ["gamma", "delta"])
    assert found_c.count() == 0
    assert stats_c["batches_scanned"] == 1

    # incremental: a new commit indexes only the new batch
    commit_corpus(
        spark.createDataFrame([(5, "omega gamma")], "doc_id long, text string"),
        store,
        "batch 2",
    )
    assert build_text_index(spark, store) == 1
    found2, stats2 = search_text_index(spark, store, ["gamma"])
    assert sorted(r["doc_id"] for r in found2.collect()) == [1, 5]
    assert stats2 == {"batches_total": 3, "batches_scanned": 2}


def test_retention_rollup_aligned_idempotent_and_conserving(spark, tmp_path):
    """retention_rollup: chunk-aligned grain assignment (a sample
    just past an unaligned day cutoff must NOT land in an hour
    bucket starting before it), measure conservation (sum of n /
    sum_cents invariant), exact idempotence, and the replace-history
    commit enabling vacuum of the raw batches."""
    from kafka_streams_pipeline_spark.sources.versioned import (
        commit_corpus,
        read_corpus,
        retention_rollup,
        vacuum_corpus,
    )

    HOUR = 3_600_000_000
    DAY = 24 * HOUR
    base_us = 400 * DAY  # day-aligned epoch base
    # samples: 3 in day territory (two in the same day), 2 in hour
    # territory (same hour), 2 raw
    samples = [
        (1, base_us + 5 * HOUR, 100),
        (1, base_us + 6 * HOUR, 200),
        (1, base_us + DAY + 1 * HOUR, 300),
        (1, base_us + 10 * DAY + 30 * 60_000_000, 400),
        (1, base_us + 10 * DAY + 45 * 60_000_000, 500),
        (1, base_us + 20 * DAY, 600),
        (1, base_us + 20 * DAY + HOUR, 700),
    ]
    raw = spark.createDataFrame(
        [(u, us, "raw", 1, c, c, c) for (u, us, c) in samples],
        "user_id long, bucket_us long, grain string, n long, "
        "sum_cents long, min_cents long, max_cents long",
    )
    store = str(tmp_path / "sensor")
    commit_corpus(raw, store, "raw")
    # deliberately UNALIGNED cutoffs: +1 µs past the boundary
    day_cut = base_us + 2 * DAY + 1
    hour_cut = base_us + 11 * DAY + 1
    v2 = retention_rollup(spark, store, hour_cut, day_cut)
    got = {
        (r["grain"], r["bucket_us"]): (r["n"], r["sum_cents"],
                                       r["min_cents"], r["max_cents"])
        for r in read_corpus(spark, store, v2).collect()
    }
    assert got == {
        ("day", base_us): (2, 300, 100, 200),
        ("day", base_us + DAY): (1, 300, 300, 300),
        ("hour", base_us + 10 * DAY): (2, 900, 400, 500),
        ("raw", base_us + 20 * DAY): (1, 600, 600, 600),
        ("raw", base_us + 20 * DAY + HOUR): (1, 700, 700, 700),
    }
    # idempotence: second rollup with identical cutoffs is identity
    v3 = retention_rollup(spark, store, hour_cut, day_cut)
    a, b = read_corpus(spark, store, v2), read_corpus(spark, store, v3)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # replace-history lineage: vacuum reclaims the raw + first-rollup
    # batches, and the retained read is unchanged
    stats = vacuum_corpus(store, v3)
    assert stats == {"batches_removed": 2, "manifests_removed": 2}
    assert read_corpus(spark, store, v3).count() == 5


def test_retention_rollup_rejects_inverted_cutoffs(spark, tmp_path):
    import pytest

    from kafka_streams_pipeline_spark.sources.versioned import (
        commit_corpus,
        retention_rollup,
    )

    store = str(tmp_path / "s")
    commit_corpus(
        spark.createDataFrame(
            [(1, 0, "raw", 1, 1, 1, 1)],
            "user_id long, bucket_us long, grain string, n long, "
            "sum_cents long, min_cents long, max_cents long",
        ),
        store,
        "x",
    )
    with pytest.raises(ValueError):
        retention_rollup(spark, store, hour_cutoff_us=5, day_cutoff_us=9)
