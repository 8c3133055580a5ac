"""Reading-stream sources: Kafka / JSON decode / event-time assignment.

Reference ingest path (SURVEY.md §3.1):
Kafka consume (ingestion/KafkaStreamsAggregator.java:79-80) →
Jackson JSON decode (ingestion/util/serdes/JsonPOJODeserializer.java:43-56) →
event-time extraction with null fallback + negative guard
(querying/util/TSExtractor.java:11-22).

Spark shape: ``readStream.format("kafka")`` → ``from_json``
(PERMISSIVE — malformed rows become nulls, mirroring
@JsonIgnoreProperties lenience) → ``timestamp_millis`` event-time
column + validity filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_streams_pipeline_spark.schema import READING_SCHEMA

# Deterministic event_type → 12-char geohash lookup used to derive a
# sensor-shaped stream from the driver's `events` fixture
# (FIXTURES.md §2.4). First value is the README example reading
# (README.md:12-16); the rest are fixed cells in the same `u1` region
# chosen so precision-4/5/6 prefixes partially collide (exercises
# prefix-match snapshot semantics).
EVENT_TYPE_GEOHASH = {
    "click": "u155mz82dv33",
    "view": "u155mzkv7q2b",
    "purchase": "u155qxjf00zz",
    "signup": "u156e9c0zhgf",
    "error": "u2fu1rd5kfzs",
}


def decode_json_readings(raw: DataFrame) -> DataFrame:
    """bytes/string JSON → typed reading columns (S2).

    PERMISSIVE parse: malformed JSON or missing fields → nulls, like
    the reference's lenient Jackson config
    (model/TemperatureReading.java:5).
    """
    return (
        raw.select(
            F.from_json(F.col("value").cast("string"), READING_SCHEMA).alias("r")
        )
        .select("r.*")
    )


def with_event_time(readings: DataFrame, fallback_col: str | None = None) -> DataFrame:
    """Assign the event-time column ``ts`` from payload epoch-millis.

    Mirrors querying/util/TSExtractor.java:11-22: null payload
    timestamp falls back to the transport timestamp (``fallback_col``,
    e.g. the Kafka record timestamp); negative timestamps are invalid.
    Engine policy: invalid rows are FILTERED (not crash-the-job as the
    reference's extractor does) — SURVEY.md §2.2 P8.
    """
    ts = F.timestamp_millis(F.col("timestamp"))
    if fallback_col is not None:
        ts = F.coalesce(ts, F.col(fallback_col))
    out = readings.withColumn("ts", ts)
    return out.filter(
        F.col("ts").isNotNull() & (F.col("timestamp").isNull() | (F.col("timestamp") >= 0))
    )


def kafka_reading_stream(
    spark: SparkSession,
    topic: str = "temperature-readings",
    bootstrap_servers: str = "localhost:9092",
) -> DataFrame:
    """Streaming reading source (S1). Mirrors the reference's consumer
    config: subscribe + earliest reset
    (ingestion/KafkaStreamsAggregator.java:121,158-162).

    Requires the spark-sql-kafka package on the classpath and a
    broker; neither exists in this sandbox, so CI covers this path via
    :func:`decode_kafka_records` over a batch frame with the exact
    Kafka source schema (tests/test_sources.py) and the file-stream
    replay of the same transforms (streaming/pipeline.py). The
    ``format("kafka")`` connection itself is exercised by the opt-in
    integration test (tests/test_kafka_integration.py, gated on
    ``KAFKA_BOOTSTRAP``; broker via docker/kafka-compose.yml).
    """
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .load()
    )
    return decode_kafka_records(raw)


def decode_kafka_records(raw: DataFrame) -> DataFrame:
    """Kafka-source rows (key/value binary + record ``timestamp``) →
    validated readings with event time.

    The transport timestamp must survive the JSON decode so a null
    payload timestamp can fall back to it
    (querying/util/TSExtractor.java:20 — the Kafka record timestamp).
    The payload field is ALSO named ``timestamp``, so the record
    column is staged under a reserved name around the decode."""
    staged = raw.select(
        F.col("timestamp").alias("_transport_ts"), F.col("value")
    )
    from pyspark.sql.types import StringType, StructField, StructType

    # PERMISSIVE from_json maps malformed JSON to an ALL-NULL struct
    # (not a null struct), indistinguishable from a legitimately
    # empty payload — so capture parse failures in a corrupt-record
    # column and drop them BEFORE the transport-ts fallback, else an
    # unparseable record would survive as an all-null reading with a
    # borrowed event time (the reference deserializer nulls such
    # records out of the stream,
    # ingestion/util/serdes/JsonPOJODeserializer.java:50-55).
    # NOT READING_SCHEMA.add(...): StructType.add mutates the receiver
    # in place, which would grow the shared schema on every call.
    parse_schema = StructType(
        list(READING_SCHEMA.fields) + [StructField("_corrupt", StringType())]
    )
    decoded = (
        staged.select(
            "_transport_ts",
            F.from_json(
                F.col("value").cast("string"),
                parse_schema,
                {"columnNameOfCorruptRecord": "_corrupt"},
            ).alias("r"),
        )
        .where(F.col("r").isNotNull() & F.col("r._corrupt").isNull())
        .select("_transport_ts", "r.*")
        .drop("_corrupt")
    )
    return with_event_time(decoded, fallback_col="_transport_ts").drop(
        "_transport_ts"
    )


def readings_from_events(events: DataFrame) -> DataFrame:
    """Derive a TemperatureReading-shaped frame from the `events`
    fixture (FIXTURES.md §2.4): deterministic, no data generation.

    timestamp = unix_millis(ts), sensorId = 's' + lpad(user_id, 6, '0'),
    geohash = EVENT_TYPE_GEOHASH[event_type], tempVal = value,
    tempUnit = 'c'.
    """
    gh = F.lit(None).cast("string")
    for etype, cell in EVENT_TYPE_GEOHASH.items():
        gh = F.when(F.col("event_type") == etype, F.lit(cell)).otherwise(gh)
    return events.select(
        F.unix_millis(F.col("ts")).alias("timestamp"),
        F.concat(F.lit("s"), F.lpad(F.col("user_id").cast("string"), 6, "0")).alias(
            "sensorId"
        ),
        gh.alias("geohash"),
        F.col("value").alias("tempVal"),
        F.lit("c").alias("tempUnit"),
    )


def readings_from_events_sql() -> str:
    """ANSI-SQL twin of :func:`readings_from_events` for the DuckDB
    oracle (same column names, same CASE mapping)."""
    cases = " ".join(
        f"WHEN event_type = '{etype}' THEN '{cell}'"
        for etype, cell in EVENT_TYPE_GEOHASH.items()
    )
    return f"""
        SELECT
            CAST(epoch_ms(ts) AS BIGINT)                       AS timestamp,
            's' || lpad(CAST(user_id AS VARCHAR), 6, '0')      AS sensorId,
            CASE {cases} END                                   AS geohash,
            value                                              AS tempVal,
            'c'                                                AS tempUnit,
            ts
        FROM events
    """
