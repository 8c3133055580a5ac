"""Reference-derived queries (SURVEY.md §2.1–§2.8): scan/decode,
time-range + key predicates, the materialized hourly view and its
history/interval/snapshot/merge serving family, gap-fill, precision
re-agg, and the scalar function surface.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kafka_streams_pipeline_spark import geo
from kafka_streams_pipeline_spark.inventory._registry import register
from kafka_streams_pipeline_spark.inventory._shared import (
    VIEW_CTE,
    _served_view,
    _t,
)
from kafka_streams_pipeline_spark.operators.queries import (
    history,
    history_interval,
    merge_views,
    reaggregate_precision,
    snapshot,
)
from kafka_streams_pipeline_spark.operators.view import build_view
from kafka_streams_pipeline_spark.sources.readings import (
    EVENT_TYPE_GEOHASH,
    readings_from_events,
)
from kafka_streams_pipeline_spark.sources.tables import pushed_ts_range

# ---------------------------------------------------------------------------
# Reference-derived queries (SURVEY.md §2.1–§2.8)
# ---------------------------------------------------------------------------


@register(
    "q_scan_project",
    oracle="SELECT event_id, user_id, event_type, value FROM events",
)
def q_scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/P2: scan + column projection (pruned parquet read)."""
    return _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )


@register(
    "q_filter_time_range",
    oracle="""
        SELECT event_id, epoch_ms(ts) AS ts_ms, event_type, value
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
          AND ts <  TIMESTAMP '2024-01-12 00:00:00'
          AND event_type IN ('click', 'purchase')
    """,
)
def q_filter_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3/P4: time-range + key-membership predicates, both reaching
    the parquet scan. The time range goes through pushed_ts_range:
    the fixture's nanos-as-long storage means a predicate on the
    derived timestamp column cannot push through the conversion, so
    the equivalent raw-nanos range is what hits row-group stats."""
    import datetime as dt

    e = _t(spark, sf_dir, "events")
    return (
        pushed_ts_range(e, dt.datetime(2024, 1, 5), dt.datetime(2024, 1, 12))
        .where(F.col("event_type").isin("click", "purchase"))
        .select(
            "event_id",
            F.unix_millis("ts").alias("ts_ms"),
            "event_type",
            "value",
        )
    )


@register(
    "q_json_extract",
    oracle="""
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        FROM events
    """,
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/X6: JSON field extraction from the `props` payload column —
    the declarative stand-in for the reference's whole-record Jackson
    serde (JsonPOJODeserializer.java:43-56)."""
    return _t(spark, sf_dir, "events").select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )


@register(
    "q_event_time_valid",
    oracle=f"""
        WITH r AS (
            SELECT CASE WHEN event_id % 97 = 0
                        THEN -CAST(epoch_ms(ts) AS BIGINT)
                        ELSE CAST(epoch_ms(ts) AS BIGINT) END AS timestamp
            FROM events
        )
        SELECT count(*) AS kept,
               min(timestamp) AS min_ts_ms,
               max(timestamp) AS max_ts_ms
        FROM r WHERE timestamp IS NOT NULL AND timestamp >= 0
    """,
)
def q_event_time_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8: event-time validity guard (TSExtractor.java:15-17 rejects
    negative embedded timestamps; engine policy filters instead of
    crashing). Synthesizes invalid rows (every 97th) then filters."""
    e = _t(spark, sf_dir, "events")
    r = e.select(
        F.when(F.col("event_id") % 97 == 0, -F.unix_millis("ts"))
        .otherwise(F.unix_millis("ts"))
        .alias("timestamp")
    )
    kept = r.where(F.col("timestamp").isNotNull() & (F.col("timestamp") >= 0))
    return kept.agg(
        F.count(F.lit(1)).alias("kept"),
        F.min("timestamp").alias("min_ts_ms"),
        F.max("timestamp").alias("max_ts_ms"),
    )


@register(
    "q_hourly_view",
    oracle=VIEW_CTE
    + """
    SELECT gh,
           epoch_ms(window_start)  AS ws_ms,
           cnt                     AS cnt,
           round(s, 6)             AS sum_val,
           round(s / cnt, 6)       AS avg_val
    FROM v
    """,
    bench=True,
)
def q_hourly_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2: the materialized windowed view itself — per (geohash-6
    cell, 1-hour epoch-aligned tumbling window) {count, sum, avg}
    (ingestion/KafkaStreamsAggregator.java:98-105)."""
    v = build_view(readings_from_events(_t(spark, sf_dir, "events")))
    return v.select(
        "gh",
        F.unix_millis("window_start").alias("ws_ms"),
        F.col("count").alias("cnt"),
        F.round("sum", 6).alias("sum_val"),
        F.round("avg", 6).alias("avg_val"),
    )


_HIST_CELLS = [EVENT_TYPE_GEOHASH["click"][:6], EVENT_TYPE_GEOHASH["purchase"][:6]]


@register(
    "q_history",
    oracle=VIEW_CTE
    + f"""
    SELECT epoch_ms(window_start)        AS "timestamp",
           round(sum(CAST(round(s * 1000000) AS BIGINT)) / 1000000.0
                 / sum(cnt), 6)          AS avg
    FROM v
    WHERE gh IN ('{_HIST_CELLS[0]}', '{_HIST_CELLS[1]}')
      AND window_start >= TIMESTAMP '2024-01-05 00:00:00'
      AND window_start <= TIMESTAMP '2024-01-20 00:00:00'
    GROUP BY window_start
    """,
    bench=True,
    materializes=True,
)
def q_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/O1: history roll-up — time-series of `avg` over two cells
    in a time range (querying/QueryingController.java:45-60), served
    from the standing materialized store like the reference's
    interactive queries."""
    import datetime as dt

    v = _served_view(spark, sf_dir)
    out = history(
        v, "avg", _HIST_CELLS, dt.datetime(2024, 1, 5), dt.datetime(2024, 1, 20)
    )
    return out.withColumn("avg", F.round("avg", 6))


@register(
    "q_history_ordered",
    oracle=VIEW_CTE
    + f"""
    , h AS (
        SELECT epoch_ms(window_start)        AS "timestamp",
               round(sum(CAST(round(s * 1000000) AS BIGINT)) / 1000000.0
                     / sum(cnt), 6)          AS avg
        FROM v
        WHERE gh IN ('{_HIST_CELLS[0]}', '{_HIST_CELLS[1]}')
          AND window_start >= TIMESTAMP '2024-01-05 00:00:00'
          AND window_start <= TIMESTAMP '2024-01-20 00:00:00'
        GROUP BY window_start
    )
    SELECT CAST(row_number() OVER (ORDER BY "timestamp") AS BIGINT) AS seq,
           "timestamp", avg
    FROM h
    """,
    materializes=True,
)
def q_history_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O2 ordering certification: q_history plus an explicit
    ``seq`` column — row_number over the same window_start ordering
    the reference guarantees via its TreeMap result
    (querying/util/Aggregator.java:10,
    querying/QueryingController.java:45-60). The driver's value hash
    is order-insensitive, so a bare ORDER BY is invisible to it;
    binding each row to its rank makes any ordering error flip the
    hash. The rank rides the single already-sorted time axis (one
    tiny window over the serving result, not the raw data)."""
    import datetime as dt

    v = _served_view(spark, sf_dir)
    out = history(
        v, "avg", _HIST_CELLS, dt.datetime(2024, 1, 5), dt.datetime(2024, 1, 20)
    ).withColumn("avg", F.round("avg", 6))
    return out.select(
        F.row_number()
        .over(Window.orderBy("timestamp"))
        .cast("long")
        .alias("seq"),
        "timestamp",
        "avg",
    )


@register(
    "q_history_interval",
    oracle=VIEW_CTE
    + """
    , mx AS (SELECT max(window_start) AS m FROM v)
    SELECT epoch_ms(window_start) AS "timestamp",
           round(sum(CAST(round(s * 1000000) AS BIGINT)) / 1000000.0, 6)
                                  AS sum
    FROM v, mx
    WHERE gh LIKE 'u155%'
      AND window_start >= m - INTERVAL 7 DAY
      AND window_start <= m
    GROUP BY window_start
    """,
    materializes=True,
)
def q_history_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: spatio-temporal history, range = [to − 1week, to], `to`
    defaulting to the max event time (deterministic stand-in for the
    reference's wall-clock now, QueryingController.java:65)."""
    v = _served_view(spark, sf_dir)
    out = history_interval(v, "sum", ["u155"], "1week")
    return out.withColumn("sum", F.round("sum", 6))


# Snapshot: bbox of the 'u155' precision-4 cell; its adaptive cover is
# the single prefix 'u155' → startswith predicate.
_SNAP_BBOX_S, _SNAP_BBOX_W, _SNAP_BBOX_N, _SNAP_BBOX_E = geo.decode_bbox("u155")


@register(
    "q_snapshot",
    oracle=VIEW_CTE
    + """
    SELECT gh                         AS geohash,
           round(sum(CAST(round(s * 1000000) AS BIGINT)) / 1000000.0
                 / sum(cnt), 6)       AS avg
    FROM v
    WHERE window_start = TIMESTAMP '2024-01-07 10:00:00'
      AND gh LIKE 'u155%'
    GROUP BY gh
    """,
    bench=True,
    materializes=True,
)
def q_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/P5/P6/O2: snapshot — per-cell `avg` at the hour window
    containing ts, cells covering a lat/lon bbox
    (querying/QueryingController.java:81-96). ts is mid-hour to
    exercise the hour truncation (:82), served from the standing
    materialized store."""
    import datetime as dt

    v = _served_view(spark, sf_dir)
    out = snapshot(
        v,
        "avg",
        dt.datetime(2024, 1, 7, 10, 30),
        (_SNAP_BBOX_N, _SNAP_BBOX_W, _SNAP_BBOX_S, _SNAP_BBOX_E),
        precision=6,
    )
    return out.withColumn("avg", F.round("avg", 6))


@register(
    "q_reagg_merge",
    oracle=VIEW_CTE
    + """
    SELECT gh,
           epoch_ms(window_start) AS ws_ms,
           cnt                    AS cnt,
           round(s, 6)            AS sum_val,
           round(s / cnt, 6)      AS avg_val
    FROM v
    """,
)
def q_reagg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/A7: algebraic partial-aggregate merge — the view rebuilt by
    merging two disjoint partial views must equal the direct
    aggregate (Aggregator.java:17-30; the oracle IS the direct
    aggregate, so a hash match proves the identity)."""
    readings = readings_from_events(_t(spark, sf_dir, "events"))
    p1 = readings.where(F.col("timestamp") % 2 == 0)
    p2 = readings.where(F.col("timestamp") % 2 == 1)
    merged = merge_views(build_view(p1), build_view(p2))
    return merged.select(
        "gh",
        F.unix_millis("window_start").alias("ws_ms"),
        F.col("count").alias("cnt"),
        F.round("sum", 6).alias("sum_val"),
        F.round("avg", 6).alias("avg_val"),
    )


@register(
    "q_daily_rollup",
    oracle=VIEW_CTE
    + """
    SELECT gh,
           epoch_ms(date_trunc('day', window_start)) AS day_ms,
           CAST(sum(cnt) AS BIGINT)                  AS cnt,
           sum(CAST(round(s * 1000000) AS BIGINT)) / 1000000.0
                                                     AS sum_val,
           round(sum(CAST(round(s * 1000000) AS BIGINT)) / 1000000.0
                 / sum(cnt), 6)                      AS avg_val
    FROM v
    GROUP BY gh, date_trunc('day', window_start)
    """,
    materializes=True,
)
def q_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup cascade: the daily view derived from the HOURLY
    materialized view by the A3 algebraic merge (sum counts, sum
    sums, recompute avg) — never from raw readings. At 100 TB the
    input is cells × hours rows (~1/10^6 of raw), the classic TSDB
    continuous-aggregate downsample; the oracle aggregates the hourly
    CTE the same way, so the hash match certifies the cascade."""
    v = _served_view(spark, sf_dir)
    # hourly sums are exact micros multiples (build_view accumulates
    # micros-integers), so recovering the integer and re-summing as
    # longs keeps the cascade order-independent end-to-end
    sum_u = F.sum(F.round(F.col("sum") * 1000000).cast("long"))
    return (
        v.groupBy("gh", F.date_trunc("day", "window_start").alias("day"))
        .agg(
            F.sum("count").alias("cnt"),
            (sum_u / 1000000.0).alias("sum_val"),
            F.round(sum_u / 1000000.0 / F.sum("count"), 6).alias("avg_val"),
        )
        .select(
            "gh",
            F.unix_millis("day").alias("day_ms"),
            "cnt",
            "sum_val",
            "avg_val",
        )
    )


@register(
    "q_gapfill",
    oracle=VIEW_CTE
    + """
    , spine AS (
        SELECT unnest(generate_series(
            TIMESTAMP '2024-01-05 00:00:00',
            TIMESTAMP '2024-01-07 23:00:00',
            INTERVAL 1 HOUR)) AS hour_ts
    )
    SELECT epoch_ms(spine.hour_ts)        AS ts_ms,
           coalesce(v.cnt, 0)             AS cnt,
           round(coalesce(v.s, 0.0), 6)   AS sum_val
    FROM spine
    LEFT JOIN (SELECT * FROM v WHERE gh = 'u155mz') v
           ON v.window_start = spine.hour_ts
    """,
    materializes=True,
)
def q_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: dense hourly spine (sequence+explode,
    generated — no data scan) left-joined to the sparse view, missing
    hours as zero rows. The reference returns sparse TreeMaps
    (querying/QueryingController.java:45-60); densification is the
    standard TSDB resample step layered on top. The spine (preserved
    side) streams; the single-cell view slice — bounded by hour count
    at any scale — is the build side and is broadcast (a left join
    can only build right, so hinting the spine would be ignored)."""
    v = _served_view(spark, sf_dir).where(F.col("gh") == "u155mz")
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-05 00:00:00").cast("timestamp"),
                F.lit("2024-01-07 23:00:00").cast("timestamp"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("hour_ts")
    )
    return (
        spine
        .join(F.broadcast(v), v.window_start == spine.hour_ts, "left")
        .select(
            F.unix_millis("hour_ts").alias("ts_ms"),
            F.coalesce(F.col("count"), F.lit(0)).alias("cnt"),
            F.round(F.coalesce(F.col("sum"), F.lit(0.0)), 6).alias("sum_val"),
        )
    )


@register(
    "q_precision_reagg",
    oracle=VIEW_CTE
    + """
    SELECT substring(gh, 1, 4)    AS gh,
           epoch_ms(window_start) AS ws_ms,
           CAST(sum(cnt) AS BIGINT) AS cnt,
           round(sum(CAST(round(s * 1000000) AS BIGINT)) / 1000000.0, 6)
                                  AS sum_val,
           round(sum(CAST(round(s * 1000000) AS BIGINT)) / 1000000.0
                 / sum(cnt), 6)   AS avg_val
    FROM v
    GROUP BY 1, 2
    """,
    materializes=True,
)
def q_precision_reagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-time gh_precision re-aggregation: the precision-6 store
    re-keyed to the precision-4 grid via prefix truncation + A3 merge
    (querying/QueryingService.java:58-60 exposes gh_precision; the
    reference keeps one store per precision at
    ingestion/KafkaStreamsAggregator.java:39 — prefix nesting lets one
    fine store serve every coarser grid instead)."""
    v = reaggregate_precision(_served_view(spark, sf_dir), 4)
    return v.select(
        "gh",
        F.unix_millis("window_start").alias("ws_ms"),
        F.col("count").alias("cnt"),
        F.round("sum", 6).alias("sum_val"),
        F.round("avg", 6).alias("avg_val"),
    )


@register(
    "q_date_trunc_funcs",
    oracle="""
        SELECT event_id,
               epoch_ms(ts)                              AS ts_ms,
               epoch_ms(date_trunc('hour', ts))          AS hour_ms,
               epoch_ms(date_trunc('day', ts))           AS day_ms,
               epoch_ms(ts - INTERVAL 1 DAY)             AS minus_1d_ms,
               epoch_ms(ts - INTERVAL 7 DAY)             AS minus_7d_ms,
               epoch_ms(ts - INTERVAL 1 MONTH)           AS minus_1mo_ms
        FROM events
    """,
)
def q_date_trunc_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3/F4/F5: hour/day truncation (UTC), calendar interval
    arithmetic (QueryingController.java:220-249), epoch-ms conversion."""
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.unix_millis("ts").alias("ts_ms"),
        F.unix_millis(F.date_trunc("hour", "ts")).alias("hour_ms"),
        F.unix_millis(F.date_trunc("day", "ts")).alias("day_ms"),
        F.unix_millis(F.col("ts") - F.expr("INTERVAL 1 DAY")).alias("minus_1d_ms"),
        F.unix_millis(F.col("ts") - F.expr("INTERVAL 7 DAY")).alias("minus_7d_ms"),
        F.unix_millis(F.col("ts") - F.expr("INTERVAL 1 MONTH")).alias("minus_1mo_ms"),
    )


@register(
    "q_string_funcs",
    oracle="""
        SELECT doc_id,
               substring(text, 1, 12)                   AS prefix12,
               upper(lang)                              AS lang_u,
               lower(source)                            AS source_l,
               CAST(length(text) AS BIGINT)             AS text_len,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               concat(lang, '/', source)                AS lang_source,
               lpad(CAST(doc_id AS VARCHAR), 8, '0')    AS id_padded
        FROM documents
    """,
)
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2: substring/lower/upper/split/concat/lpad — the scalar
    string toolkit (KafkaStreamsAggregator.java:94,
    QueryingService.java:46,106)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.substring("text", 1, 12).alias("prefix12"),
        F.upper("lang").alias("lang_u"),
        F.lower("source").alias("source_l"),
        F.length("text").cast("long").alias("text_len"),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        F.concat_ws("/", "lang", "source").alias("lang_source"),
        F.lpad(F.col("doc_id").cast("string"), 8, "0").alias("id_padded"),
    )


@register(
    "q_math_funcs",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               round(sqrt(l_quantity), 6)            AS qty_sqrt,
               round(ln(l_extendedprice), 6)         AS price_ln,
               round(abs(l_discount - 0.05), 6)      AS disc_dev,
               CAST(ceil(l_tax * 100) AS BIGINT)     AS tax_pct_ceil,
               CAST(floor(l_quantity / 7) AS BIGINT) AS qty_div7,
               round(power(1.0 + l_discount, 2), 6)  AS disc_sq
        FROM lineitem
    """,
)
def q_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 + capability rounding: arithmetic/math scalar functions."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.sqrt("l_quantity"), 6).alias("qty_sqrt"),
        F.round(F.log(F.col("l_extendedprice")), 6).alias("price_ln"),
        F.round(F.abs(F.col("l_discount") - 0.05), 6).alias("disc_dev"),
        F.ceil(F.col("l_tax") * 100).cast("long").alias("tax_pct_ceil"),
        F.floor(F.col("l_quantity") / 7).cast("long").alias("qty_div7"),
        F.round(F.pow(F.lit(1.0) + F.col("l_discount"), 2), 6).alias("disc_sq"),
    )


