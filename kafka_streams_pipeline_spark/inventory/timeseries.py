"""Round-11 time-series serving + hybrid-retrieval registrations.

The reference's single materialized shape is an hourly sensor rollup
(ingestion/KafkaStreamsAggregator.java:103-105); these rows add the
TSDB serving family one layer above it (counter rates, time-weighted
averages, OHLC bars, robust outlier censuses) and the
retrieval-fusion / keyword layer over the curation corpus. All
engine-exact (integer cents / µs / ppm lattices — module docstrings
carry the proofs and the 100 TB plan shapes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_streams_pipeline_spark.inventory._registry import register
from kafka_streams_pipeline_spark.inventory._shared import (
    _readings_chunks,
    _readings_ts,
    _replay,
    _scratch,
    _t,
)
from kafka_streams_pipeline_spark.operators import similarity as _sim
from kafka_streams_pipeline_spark.operators import text as _text
from kafka_streams_pipeline_spark.operators import timeseries as _ts
from kafka_streams_pipeline_spark.schema import READING_SCHEMA


@register("q_counter_rate", oracle=_ts.counter_rate_oracle())
def q_counter_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12a (TSDB serving): PromQL-style reset-corrected counter
    increase per user series — running-sum counter with synthetic
    wrap resets, per-step delta fold that credits the post-reset
    value, integer cents end-to-end. One shuffle: the user_id window
    sort feeds both window passes and the same-key groupBy. See
    operators/timeseries.py counter_rate."""
    return _ts.counter_rate(_t(spark, sf_dir, "events"))


@register("q_time_weighted_avg", oracle=_ts.time_weighted_avg_oracle())
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12b (TSDB serving): LOCF time-weighted average per user series
    (irregular sampling — each value holds until the next sample, so
    its weight is the inter-sample duration in integer µs). BIGINT
    cents×µs weighted sums; the only floats are two final divisions
    in identical textual order. One shuffle on user_id. See
    operators/timeseries.py time_weighted_avg."""
    return _ts.time_weighted_avg(_t(spark, sf_dir, "events"))


@register("q_ohlc_bars", bench=True, oracle=_ts.ohlc_bars_oracle())
def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12c (TSDB serving): per (event_type × hour) OHLC candle —
    open/high/low/close/volume in integer cents, first/last picked by
    (ts, event_id) order with a single ascending sort (close = the
    rn = partition-count row). One hash partition on the bucket key;
    the groupBy reuses the window's Exchange. See
    operators/timeseries.py ohlc_bars."""
    return _ts.ohlc_bars(_t(spark, sf_dir, "events"))


@register("q_anomaly_mad", oracle=_ts.mad_outliers_oracle())
def q_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12d (TSDB quality): robust median/MAD outlier census per
    event_type — medians computed on an even-integer lattice so the
    0.5-interpolation is exact in both engines, and the
    |x−med| > 3·1.4826·MAD gate is the pure-integer cross-multiply
    20000·dev2 > 44478·mad4. Exact percentile is the certification
    twin of the documented approx_percentile 100 TB path. See
    operators/timeseries.py mad_outliers."""
    return _ts.mad_outliers(_t(spark, sf_dir, "events"))


@register("q_anomaly_mad_approx", oracle=_ts.mad_outliers_approx_oracle())
def q_anomaly_mad_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12n (VERDICT r11 item 2): certification of q_anomaly_mad's
    documented 100 TB branch — approx_percentile (accuracy 10000)
    runs NEXT TO the exact percentile in the same grouped passes, and
    the row certifies (a) the exact census columns value-for-value
    and (b) three invariant bits pinned TRUE by the oracle: the
    approx median's and approx MAD's EXACT ranks inside the
    algorithm's guaranteed ±n/accuracy band, and the approx-gated
    outlier census within 0.2%+5 of the exact census. A broken
    accuracy contract or diverging census flips a bit and
    hash-mismatches. See operators/timeseries.py
    mad_outliers_approx."""
    return _ts.mad_outliers_approx(_t(spark, sf_dir, "events"))


@register(
    "q_rrf_fusion",
    bench=True,
    oracle=_sim.rrf_fusion_oracle(),
    materializes=True,
)
def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3n (hybrid retrieval): reciprocal-rank fusion of the certified
    BM25 lexical top-50 and cosine dense top-50 (doc_id ≡ vec_id),
    RRF score as integer fixed-point 1000000 div (60+rank) sums —
    no float ordering. Fusion is constant-size (two ≤50-row lists);
    corpus work stays inside the two certified retrieval plans. See
    operators/similarity.py rrf_fusion."""
    return _sim.rrf_fusion(
        _t(spark, sf_dir, "documents"), _t(spark, sf_dir, "embeddings")
    )


@register("q_keyword_extract", oracle=_text.keyword_extract_oracle())
def q_keyword_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5aj (curation tagging): per-document top-3 keywords by the
    integer rarity weight tf·1000000 div df (no float log — monotone
    tf-idf surrogate), ties broken by term so the rowset is unique.
    One explode + two aggregates; the df side is vocab-sized (AQE
    broadcast); per-doc top-k is a doc-partitioned window. See
    operators/text.py keyword_extract."""
    return _text.keyword_extract(_t(spark, sf_dir, "documents"))


def _streaming_ohlc_oracle() -> str:
    from kafka_streams_pipeline_spark.sources.readings import (
        readings_from_events_sql,
    )

    return f"""
        WITH readings AS ({readings_from_events_sql()}),
        b AS (
            SELECT substring(geohash, 1, 6)              AS gh,
                   epoch_ms(date_trunc('hour', ts))      AS hour_ms,
                   timestamp                             AS t_ms,
                   sensorId                              AS sid,
                   CAST(round(tempVal * 1000000) AS BIGINT) AS v_fp
            FROM readings
        ),
        r AS (
            SELECT gh, hour_ms, v_fp,
                   row_number() OVER (
                       PARTITION BY gh, hour_ms
                       ORDER BY t_ms, sid, v_fp) AS rn,
                   count(*) OVER (PARTITION BY gh, hour_ms) AS nrows
            FROM b
        )
        SELECT gh, hour_ms,
               CAST(count(*) AS BIGINT)                          AS volume,
               CAST(max(CASE WHEN rn = 1 THEN v_fp END) AS BIGINT)
                                                                 AS open_fp,
               CAST(max(v_fp) AS BIGINT)                         AS high_fp,
               CAST(min(v_fp) AS BIGINT)                         AS low_fp,
               CAST(max(CASE WHEN rn = nrows THEN v_fp END) AS BIGINT)
                                                                 AS close_fp
        FROM r GROUP BY gh, hour_ms
    """


@register("q_streaming_ohlc", oracle=_streaming_ohlc_oracle(), materializes=True)
def q_streaming_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12e (streaming TSDB): per (geohash-6 cell × hour) OHLC candle
    maintained across micro-batches via applyInPandasWithState — the
    stateful streaming twin of q_ohlc_bars, replayed as a REAL
    availableNow file stream (one file per micro-batch,
    checkpointed). The state is a lattice fold (open/close carry the
    full (t_ms, sensorId, v_fp) ordering key and fold by
    lexicographic min/max), so the final emission per key is
    batch-boundary-independent and the batch window oracle
    recomputes it exactly. Duplicate injection OFF — candles count
    physical rows. See streaming/stateful.py ohlc_cell_state."""
    from kafka_streams_pipeline_spark.streaming.stateful import (
        ohlc_cell_state,
    )

    final: dict = {}
    with _scratch("replay") as base:
        _replay(
            spark, base, _readings_chunks(spark, sf_dir), READING_SCHEMA,
            lambda s: ohlc_cell_state(_readings_ts(s)),
            lambda df, _e: final.update(
                ((r["gh"], r["hour_ms"]), r) for r in df.collect()
            ),
            "update",
        )
    rows = [
        (
            r["gh"],
            r["hour_ms"],
            r["volume"],
            r["open_fp"],
            r["high_fp"],
            r["low_fp"],
            r["close_fp"],
        )
        for r in final.values()
    ]
    return spark.createDataFrame(
        rows,
        "gh string, hour_ms bigint, volume bigint, open_fp bigint, "
        "high_fp bigint, low_fp bigint, close_fp bigint",
    )


@register("q_cusum_alarms", bench=True, oracle=_ts.cusum_alarms_oracle())
def q_cusum_alarms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12f (TSDB anomaly): one-sided CUSUM changepoint alarms per
    user series (Page's test) — the clamped recurrence
    s_i = max(0, s_{i-1} + (x_i − k)) rewritten as the prefix-sum /
    running-min identity s_i = P_i − min(0, min_{j≤i} P_j), so the
    sequential detector becomes two unbounded-preceding window folds
    over ONE sort, integer cents throughout. One shuffle on user_id.
    See operators/timeseries.py cusum_alarms."""
    return _ts.cusum_alarms(_t(spark, sf_dir, "events"))


def _streaming_twa_oracle() -> str:
    from kafka_streams_pipeline_spark.sources.readings import (
        readings_from_events_sql,
    )

    return f"""
        WITH readings AS ({readings_from_events_sql()}),
        t AS (
            SELECT sensorId,
                   CAST(round(tempVal * 1000000) AS BIGINT) AS v_fp,
                   timestamp AS t_ms,
                   lead(timestamp) OVER (
                       PARTITION BY sensorId ORDER BY timestamp) AS nt
            FROM readings
        ),
        agg AS (
            SELECT sensorId AS sensor_id,
                   CAST(count(*) AS BIGINT) AS n_samples,
                   CAST(sum(nt - t_ms) FILTER (nt IS NOT NULL) AS BIGINT)
                       AS span_ms,
                   CAST(sum(v_fp * (nt - t_ms)) FILTER (nt IS NOT NULL)
                        AS BIGINT) AS wsum
            FROM t GROUP BY sensorId
        )
        SELECT sensor_id, n_samples, span_ms,
               round(CAST(wsum AS DOUBLE) / CAST(span_ms AS DOUBLE)
                     / 1000000.0, 6) AS twa
        FROM agg WHERE span_ms > 0
    """


@register("q_streaming_twa", oracle=_streaming_twa_oracle(), materializes=True)
def q_streaming_twa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12g (streaming TSDB): per-sensor LOCF time-weighted average
    maintained across micro-batches as SEQUENTIAL state (the held
    value's weight settles when the next sample arrives — including
    across batch boundaries), replayed availableNow. Emissions are
    integer-only (micro-units × ms); the final division + HALF_UP
    round happens HERE in the JVM plan, so the streaming result is
    bit-identical to the batch lead()-window oracle. Duplicate
    injection OFF. See streaming/stateful.py twa_sensor_state."""
    from pyspark.sql import functions as F

    from kafka_streams_pipeline_spark.streaming.stateful import (
        twa_sensor_state,
    )

    final: dict = {}
    with _scratch("replay") as base:
        _replay(
            spark, base, _readings_chunks(spark, sf_dir), READING_SCHEMA,
            lambda s: twa_sensor_state(_readings_ts(s)),
            lambda df, _e: final.update(
                (r["sensorId"], r) for r in df.collect()
            ),
            "update",
        )
    rows = [
        (r["sensorId"], r["n_samples"], r["span_ms"], r["wsum"])
        for r in final.values()
    ]
    return (
        spark.createDataFrame(
            rows,
            "sensor_id string, n_samples bigint, span_ms bigint, wsum bigint",
        )
        .where(F.col("span_ms") > 0)
        .select(
            "sensor_id",
            "n_samples",
            "span_ms",
            F.round(
                F.col("wsum").cast("double")
                / F.col("span_ms").cast("double")
                / F.lit(1000000.0),
                6,
            ).alias("twa"),
        )
    )


def _gapfill_locf_oracle() -> str:
    from kafka_streams_pipeline_spark.inventory._shared import VIEW_CTE

    return VIEW_CTE + """
    , spine AS (
        SELECT unnest(generate_series(
            TIMESTAMP '2024-01-05 00:00:00',
            TIMESTAMP '2024-01-07 23:00:00',
            INTERVAL 1 HOUR)) AS hour_ts
    ),
    j AS (
        SELECT spine.hour_ts, v.cnt, v.s
        FROM spine
        LEFT JOIN (SELECT * FROM v WHERE gh = 'u2fu1r') v
               ON v.window_start = spine.hour_ts
    )
    SELECT epoch_ms(hour_ts) AS ts_ms,
           CAST(coalesce(last_value(cnt IGNORE NULLS) OVER w, 0)
                AS BIGINT)                                     AS cnt,
           round(coalesce(last_value(s IGNORE NULLS) OVER w, 0.0), 6)
                                                               AS sum_val,
           CAST(CASE WHEN cnt IS NULL THEN 1 ELSE 0 END
                AS BIGINT)                                     AS filled
    FROM j
    WINDOW w AS (ORDER BY hour_ts ROWS UNBOUNDED PRECEDING)
    """


@register("q_gapfill_locf", oracle=_gapfill_locf_oracle(), materializes=True)
def q_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12h (TSDB serving): LOCF gap filling — the dense hourly spine
    left-joins the sparse materialized view (same shape as
    q_gapfill), but missing hours CARRY the last observation forward
    (TimescaleDB ``locf()``) instead of zero-filling, with a
    ``filled`` marker per synthesized row. The cell 'u2fu1r' is the
    sparsest fixture cell, so real gaps exist at the gate SF and the
    LOCF branch genuinely executes. The carry-forward is
    ``last(col, ignorenulls=True)`` over an unbounded-preceding row
    frame — the spine is bounded by the requested hour count (72
    rows), so the single-partition window is a constant-size tail,
    same cost class as q_gapfill's broadcast. See q_gapfill for the
    zero-fill twin and the spine/broadcast plan rationale."""
    from kafka_streams_pipeline_spark.inventory._shared import _served_view
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    v = _served_view(spark, sf_dir).where(F.col("gh") == "u2fu1r")
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-05 00:00:00").cast("timestamp"),
                F.lit("2024-01-07 23:00:00").cast("timestamp"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("hour_ts")
    )
    w = Window.orderBy("hour_ts").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        spine.join(F.broadcast(v), v.window_start == spine.hour_ts, "left")
        .select(
            "hour_ts",
            F.col("count").alias("cnt_raw"),
            F.col("sum").alias("sum_raw"),
        )
        .select(
            F.unix_millis("hour_ts").alias("ts_ms"),
            F.coalesce(
                F.last("cnt_raw", ignorenulls=True).over(w), F.lit(0)
            ).alias("cnt"),
            F.round(
                F.coalesce(
                    F.last("sum_raw", ignorenulls=True).over(w), F.lit(0.0)
                ),
                6,
            ).alias("sum_val"),
            F.when(F.col("cnt_raw").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("filled"),
        )
    )


def _streaming_cusum_oracle() -> str:
    from kafka_streams_pipeline_spark.sources.readings import (
        readings_from_events_sql,
    )
    from kafka_streams_pipeline_spark.streaming.stateful import (
        CUSUM_H_FP,
        CUSUM_K_FP,
    )

    return f"""
        WITH readings AS ({readings_from_events_sql()}),
        d AS (
            SELECT sensorId, timestamp AS t_ms,
                   CAST(round(tempVal * 1000000) AS BIGINT) - {CUSUM_K_FP}
                       AS d
            FROM readings
        ),
        p AS (
            SELECT sensorId, t_ms,
                   sum(d) OVER (
                       PARTITION BY sensorId ORDER BY t_ms
                       ROWS UNBOUNDED PRECEDING) AS P
            FROM d
        ),
        s AS (
            SELECT sensorId,
                   P - least(0, min(P) OVER (
                       PARTITION BY sensorId ORDER BY t_ms
                       ROWS UNBOUNDED PRECEDING)) AS cusum,
                   row_number() OVER (
                       PARTITION BY sensorId ORDER BY t_ms) AS rn,
                   count(*) OVER (PARTITION BY sensorId) AS n
            FROM p
        )
        SELECT sensorId AS sensor_id,
               CAST(count(*) AS BIGINT) AS n_samples,
               CAST(sum(CASE WHEN cusum > {CUSUM_H_FP} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_alarms,
               CAST(max(cusum) AS BIGINT) AS max_cusum,
               CAST(max(CASE WHEN rn = n
                             THEN CASE WHEN cusum > {CUSUM_H_FP}
                                       THEN 1 ELSE 0 END END)
                    AS BIGINT) AS in_alarm
        FROM s
        GROUP BY sensorId
    """


@register("q_streaming_cusum", oracle=_streaming_cusum_oracle(), materializes=True)
def q_streaming_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12i (streaming TSDB): per-sensor CUSUM changepoint state
    across micro-batches — the clamped recurrence runs NATIVELY in
    applyInPandasWithState (streaming deployment shape), certified
    bit-identical to the batch prefix-sum/running-min window identity
    the oracle computes (the same identity q_cusum_alarms certifies
    batch-side). Duplicate injection OFF. See streaming/stateful.py
    cusum_sensor_state."""
    from kafka_streams_pipeline_spark.streaming.stateful import (
        cusum_sensor_state,
    )

    final: dict = {}
    with _scratch("replay") as base:
        _replay(
            spark, base, _readings_chunks(spark, sf_dir), READING_SCHEMA,
            lambda s: cusum_sensor_state(_readings_ts(s)),
            lambda df, _e: final.update(
                (r["sensorId"], r) for r in df.collect()
            ),
            "update",
        )
    rows = [
        (
            r["sensorId"],
            r["n_samples"],
            r["n_alarms"],
            r["max_cusum"],
            r["in_alarm"],
        )
        for r in final.values()
    ]
    return spark.createDataFrame(
        rows,
        "sensor_id string, n_samples bigint, n_alarms bigint, "
        "max_cusum bigint, in_alarm bigint",
    )


@register(
    "q_sensor_scorecard", bench=True, oracle=_ts.sensor_scorecard_oracle()
)
def q_sensor_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12j (TSDB serving, fused): counter increase + LOCF TWA +
    CUSUM census for every series in ONE scan / ONE sort / ONE
    shuffle — the dashboard plan composing the three standalone
    operators would triple-scan and join. The oracle IS that
    three-way join of the standalone oracles, so the row certifies
    fusion ≡ composition. See operators/timeseries.py
    sensor_scorecard."""
    return _ts.sensor_scorecard(_t(spark, sf_dir, "events"))


@register(
    "q_store_phrase_search",
    oracle="""
        WITH aug AS (
            SELECT doc_id, n_chars,
                   CASE WHEN doc_id % 16 = 5
                        THEN lower(text) || ' retention notice'
                        WHEN doc_id % 16 = 1
                        THEN lower(text) || ' retention x notice'
                        ELSE lower(text) END AS ltext
            FROM documents
        ),
        tok AS (
            SELECT doc_id, n_chars, ltext,
                   string_split(ltext, ' ') AS toks
            FROM aug
        ),
        m AS (
            SELECT doc_id, n_chars FROM tok
            WHERE (' ' || ltext || ' ') LIKE '% retention notice %'
        ),
        candd AS (
            SELECT CAST(count(*) AS BIGINT) AS cd FROM tok
            WHERE list_contains(toks, 'retention')
              AND list_contains(toks, 'notice')
        ),
        prune AS (
            SELECT CAST(count(*) AS BIGINT) AS scanned FROM (
                SELECT doc_id % 8 AS b,
                       max(CASE WHEN list_contains(toks, 'retention')
                           THEN 1 ELSE 0 END) AS h1,
                       max(CASE WHEN list_contains(toks, 'notice')
                           THEN 1 ELSE 0 END) AS h2
                FROM tok GROUP BY 1
            ) WHERE h1 = 1 AND h2 = 1
        )
        SELECT 'row' AS phase, doc_id AS a, n_chars AS b FROM m
        UNION ALL
        SELECT 'prune', scanned, CAST(8 AS BIGINT) FROM prune
        UNION ALL
        SELECT 'verify', cd, (SELECT CAST(count(*) AS BIGINT) FROM m)
        FROM candd
    """,
    materializes=True,
)
def q_store_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5ak (store IR): exact PHRASE search through a positional
    inverted index over the versioned store — the adjacency upgrade
    of q_store_text_index's membership search. Construction makes
    every stage's work REAL and oracle-checked: batch 5 docs
    (doc_id % 16 = 5) carry the adjacent phrase 'retention notice',
    batch 1 docs (% 16 = 1) carry 'retention x notice' — both words,
    NOT adjacent — so (1) pruning must select exactly 2 of 8 batches
    (both terms present), (2) the conjunctive candidate set counts
    BOTH groups, (3) the positional semi-join chain (anchors on the
    first term, each next term at anchor_pos + i) must eliminate the
    non-adjacent group entirely, and (4) payloads come from the 2
    candidate batches only. The 'verify' row binds candidate vs
    matched counts into the hash — the adjacency filter's effect is
    certified, not asserted. Incremental build asserted. See
    sources/text_index.py build_positional_index/search_phrase."""
    import os

    from pyspark.sql import functions as F

    from kafka_streams_pipeline_spark.sources.text_index import (
        build_positional_index,
        search_phrase,
    )
    from kafka_streams_pipeline_spark.sources.versioned import commit_corpus

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.when(
            F.col("doc_id") % 16 == 5,
            F.concat(F.lower(F.col("text")), F.lit(" retention notice")),
        )
        .when(
            F.col("doc_id") % 16 == 1,
            F.concat(F.lower(F.col("text")), F.lit(" retention x notice")),
        )
        .otherwise(F.lower(F.col("text")))
        .alias("text"),
    )
    with _scratch("phraseidx") as base:
        store = os.path.join(base, "corpus")
        for i in range(8):
            commit_corpus(
                docs.where(F.col("doc_id") % 8 == i), store, f"residue {i}"
            )
        n_built = build_positional_index(spark, store)
        if n_built != 8 or build_positional_index(spark, store) != 0:
            raise AssertionError("positional build not incremental")
        found, stats = search_phrase(
            spark, store, ["retention", "notice"]
        )
        rows = [
            ("row", r["doc_id"], r["n_chars"])
            for r in found.select("doc_id", "n_chars").collect()
        ]
        rows.append(
            ("prune", stats["batches_scanned"], stats["batches_total"])
        )
        rows.append(
            ("verify", stats["candidate_docs"], stats["matched_docs"])
        )
    return spark.createDataFrame(rows, "phase string, a long, b long")


@register("q_winsorized_stats", oracle=_ts.winsorized_stats_oracle())
def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12k (robust stats): winsorized per-series statistics — clip
    to the [p05, p95] DISCRETE percentiles (inverted-CDF on both
    engines, so the cut points are actual BIGINT cents, never
    interpolated floats), count the clipped tails, sum clipped
    values exactly; the winsorized mean is one fixed-order division.
    Same plan shape and approx_percentile 100 TB posture as
    q_anomaly_mad. See operators/timeseries.py winsorized_stats."""
    return _ts.winsorized_stats(_t(spark, sf_dir, "events"))


@register("q_ann_filtered", oracle=_sim.filtered_topk_cosine_oracle())
def q_ann_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3o (filtered vector search): PRE-filtered exact top-k cosine
    — the metadata-constrained search every vector store serves
    (filter BEFORE ranking guarantees k results from the allowed
    set; post-filtering a global top-k can come up short). The label
    predicate reaches the parquet scan; query row broadcasts;
    TakeOrderedAndProject tail. See operators/similarity.py
    filtered_topk_cosine."""
    return _sim.filtered_topk_cosine(_t(spark, sf_dir, "embeddings"))


def _streaming_counter_oracle() -> str:
    from kafka_streams_pipeline_spark.sources.readings import (
        readings_from_events_sql,
    )
    from kafka_streams_pipeline_spark.streaming.stateful import (
        COUNTER_MOD_FP,
    )

    return f"""
        WITH readings AS ({readings_from_events_sql()}),
        run AS (
            SELECT sensorId, timestamp AS t_ms,
                   sum(CAST(round(tempVal * 1000000) AS BIGINT)) OVER (
                       PARTITION BY sensorId ORDER BY timestamp
                       ROWS UNBOUNDED PRECEDING
                   ) % {COUNTER_MOD_FP} AS counter
            FROM readings
        ),
        stepped AS (
            SELECT sensorId,
                   CASE WHEN prev IS NULL THEN 0
                        WHEN counter >= prev THEN counter - prev
                        ELSE counter END AS step,
                   CASE WHEN prev IS NOT NULL AND counter < prev
                        THEN 1 ELSE 0 END AS is_reset
            FROM (
                SELECT sensorId, counter,
                       lag(counter) OVER (
                           PARTITION BY sensorId ORDER BY t_ms
                       ) AS prev
                FROM run
            )
        )
        SELECT sensorId AS sensor_id,
               CAST(count(*) AS BIGINT)      AS n_samples,
               CAST(sum(is_reset) AS BIGINT) AS n_resets,
               CAST(sum(step) AS BIGINT)     AS increase_fp
        FROM stepped
        GROUP BY sensorId
    """


@register("q_streaming_counter", oracle=_streaming_counter_oracle(), materializes=True)
def q_streaming_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12l (streaming TSDB): per-sensor reset-corrected counter
    increase across micro-batches — the streaming twin of
    q_counter_rate, sequential state (running sum + previous counter
    carried across batch boundaries), certified bit-identical to the
    batch window oracle. Completes the streaming TSDB family
    (OHLC lattice fold, TWA and counter sequential folds, CUSUM
    recurrence). Duplicate injection OFF. See streaming/stateful.py
    counter_sensor_state."""
    from kafka_streams_pipeline_spark.streaming.stateful import (
        counter_sensor_state,
    )

    final: dict = {}
    with _scratch("replay") as base:
        _replay(
            spark, base, _readings_chunks(spark, sf_dir), READING_SCHEMA,
            lambda s: counter_sensor_state(_readings_ts(s)),
            lambda df, _e: final.update(
                (r["sensorId"], r) for r in df.collect()
            ),
            "update",
        )
    rows = [
        (r["sensorId"], r["n_samples"], r["n_resets"], r["increase_fp"])
        for r in final.values()
    ]
    return spark.createDataFrame(
        rows,
        "sensor_id string, n_samples bigint, n_resets bigint, "
        "increase_fp bigint",
    )


@register("q_event_pattern", oracle=_ts.event_pattern_matches_oracle())
def q_event_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12m (CEP): MATCH_RECOGNIZE-shaped sequence detection —
    consecutive click→click→purchase runs per user within 30
    minutes, as lead()-materialized per-row predicates over ONE
    user-partitioned sort (no state machine, no self-join,
    single-shuffle). See operators/timeseries.py
    event_pattern_matches."""
    return _ts.event_pattern_matches(_t(spark, sf_dir, "events"))


@register(
    "q_event_pattern_gaps",
    bench=True,
    oracle=_ts.event_pattern_funnel_oracle(),
)
def q_event_pattern_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12o (CEP, VERDICT r11 item 6): the skip-gap form the strict
    detector cannot express — click→click→purchase where steps may
    be separated by arbitrary other events, within the same budget
    (funnel/conversion semantics, MATCH_RECOGNIZE ``A ANY* B ANY*
    C``). Exists-a-chain reduces to the greedy earliest-next-step
    chain (minimal completion is monotone in step positions), so the
    detector is m−1 reverse running-min window folds sharing ONE
    per-user descending sort — still no state machine, no self-join,
    single shuffle. See operators/timeseries.py
    event_pattern_funnel."""
    return _ts.event_pattern_funnel(_t(spark, sf_dir, "events"))


@register(
    "q_store_partition_evolution",
    oracle="""
        WITH d AS (
            SELECT doc_id, n_chars, source, lang, doc_id % 8 AS b
            FROM documents
        ),
        m AS (
            SELECT doc_id, n_chars FROM d
            WHERE source = 'src1' AND lang = 'en'
        ),
        old_total AS (
            SELECT CAST(count(*) AS BIGINT) AS c FROM (
                SELECT DISTINCT b, source FROM d WHERE b < 4)
        ),
        new_total AS (
            SELECT CAST(count(*) AS BIGINT) AS c FROM (
                SELECT DISTINCT b, source, lang FROM d WHERE b >= 4)
        ),
        old_scan AS (
            SELECT CAST(count(*) AS BIGINT) AS c FROM (
                SELECT DISTINCT b FROM d WHERE b < 4 AND source = 'src1')
        ),
        new_scan AS (
            SELECT CAST(count(*) AS BIGINT) AS c FROM (
                SELECT DISTINCT b FROM d
                WHERE b >= 4 AND source = 'src1' AND lang = 'en')
        )
        SELECT 'row' AS phase, doc_id AS a, n_chars AS b FROM m
        UNION ALL
        SELECT 'prune', old_scan.c + new_scan.c,
               old_total.c + new_total.c
        FROM old_scan, new_scan, old_total, new_total
        UNION ALL
        SELECT 'spec', CAST(4 AS BIGINT), CAST(8 AS BIGINT)
    """,
    materializes=True,
)
def q_store_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5al (lake): Iceberg-style PARTITION-SPEC EVOLUTION — batches
    1-4 commit under spec (source), batches 5-8 under the evolved
    spec (source, lang); no batch is ever rewritten, and the read
    path prunes EACH batch under its own spec: a
    source=src1 ∧ lang=en read scans one src1 directory per old
    batch holding it (all langs inside — source is all the old spec
    can prune) and exactly the (src1, en) leaf per new batch holding
    it. The 'prune' row binds (dirs scanned, dirs total) into the
    hash and the oracle recomputes both from the data's distinct
    partition-value combinations — a wrong pruning decision OR a row
    lost to pruning flips the certified hash. See
    sources/versioned.py commit_corpus_partitioned /
    read_corpus_pruned."""
    import os

    from pyspark.sql import functions as F

    from kafka_streams_pipeline_spark.sources.versioned import (
        commit_corpus_partitioned,
        read_corpus_pruned,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    with _scratch("partevo") as base:
        store = os.path.join(base, "corpus")
        for i in range(8):
            spec = ["source"] if i < 4 else ["source", "lang"]
            commit_corpus_partitioned(
                docs.where(F.col("doc_id") % 8 == i),
                store,
                spec,
                f"residue {i}",
            )
        found, stats = read_corpus_pruned(
            spark, store, {"source": "src1", "lang": "en"}
        )
        rows = [
            ("row", r["doc_id"], r["n_chars"])
            for r in found.select("doc_id", "n_chars").collect()
        ]
        rows.append(("prune", stats["dirs_scanned"], stats["dirs_total"]))
        rows.append(("spec", 4, 8))
    return spark.createDataFrame(rows, "phase string, a long, b long")


@register(
    "q_store_retention",
    oracle="""
        WITH c AS (
            SELECT user_id, epoch_us(ts) AS us,
                   CAST(round(value * 100) AS BIGINT) AS cents
            FROM events
        ),
        b AS (
            SELECT ((min(us) + (max(us) - min(us)) // 3)
                    // 86400000000) * 86400000000           AS day_cut,
                   ((min(us) + (2 * (max(us) - min(us))) // 3)
                    // 3600000000) * 3600000000             AS hour_cut
            FROM c
        ),
        g AS (
            SELECT user_id, cents,
                   CASE WHEN us < day_cut THEN 'day'
                        WHEN us < hour_cut THEN 'hour'
                        ELSE 'raw' END AS grain,
                   CASE WHEN us < day_cut
                            THEN (us // 86400000000) * 86400000000
                        WHEN us < hour_cut
                            THEN (us // 3600000000) * 3600000000
                        ELSE us END AS bucket_us
            FROM c, b
        ),
        per_bucket AS (
            SELECT grain, user_id, bucket_us,
                   count(*) AS n, sum(cents) AS s
            FROM g GROUP BY 1, 2, 3
        )
        SELECT grain,
               CAST(count(*) AS BIGINT)  AS n_buckets,
               CAST(sum(n) AS BIGINT)    AS n_samples,
               CAST(sum(s) AS BIGINT)    AS cents_checksum,
               CAST(4 AS BIGINT)         AS batches_removed,
               CAST(4 AS BIGINT)         AS manifests_removed,
               TRUE                      AS vacuum_blocked,
               TRUE                      AS rollup_idempotent,
               (SELECT CAST(count(*) AS BIGINT) FROM c) AS tag_rows
        FROM per_bucket GROUP BY grain
    """,
    materializes=True,
)
def q_store_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12p (TSDB lifecycle, VERDICT r11 item 7): the TimescaleDB
    retention/downsampling policy over the versioned store — raw
    samples commit in three age batches; samples older than 2/3 of
    the time span roll to HOURLY aggregates, older than 1/3 to
    DAILY (sources/versioned.retention_rollup: one aggregation pass,
    algebraic measures, replace-history commit); a pinned tag at the
    pre-rollup version BLOCKS the raw-batch vacuum loudly and keeps
    the pre-rollup read bit-reproducible; deleting the tag lets
    vacuum reclaim all four pre-rollup/rolled-over batches. The
    certified row binds, per grain, the post-rollup bucket count /
    sample count / cents checksum (conservation: sums are invariant
    under rollup — the oracle recomputes them from raw events with
    the same cutoff arithmetic), plus the lifecycle facts: vacuum
    counts, the tag block, tag-read row count, and rollup IDEMPOTENCE
    (second rollup == first, checked exceptAll both ways before the
    vacuum). See sources/versioned.py retention_rollup /
    vacuum_corpus / tag_corpus."""
    import os

    from kafka_streams_pipeline_spark.sources.versioned import (
        commit_corpus,
        delete_tag,
        read_corpus,
        read_corpus_tag,
        retention_rollup,
        tag_corpus,
        vacuum_corpus,
    )

    c = _t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("bucket_us"),
        F.expr("cast(round(value * 100) as long)").alias("cents"),
    )
    tmin, tmax = c.agg(F.min("bucket_us"), F.max("bucket_us")).collect()[0]
    span = tmax - tmin
    day_cut = tmin + span // 3
    hour_cut = tmin + (2 * span) // 3
    raw = c.select(
        "user_id",
        "bucket_us",
        F.lit("raw").alias("grain"),
        F.lit(1).cast("long").alias("n"),
        F.col("cents").alias("sum_cents"),
        F.col("cents").alias("min_cents"),
        F.col("cents").alias("max_cents"),
    )
    with _scratch("retention") as base:
        store = os.path.join(base, "sensor")
        commit_corpus(
            raw.where(F.col("bucket_us") < day_cut), store, "oldest third"
        )
        commit_corpus(
            raw.where(
                (F.col("bucket_us") >= day_cut)
                & (F.col("bucket_us") < hour_cut)
            ),
            store,
            "middle third",
        )
        v3 = commit_corpus(
            raw.where(F.col("bucket_us") >= hour_cut), store, "newest third"
        )
        tag_corpus(store, "pre-rollup", v3)
        v4 = retention_rollup(spark, store, hour_cut, day_cut)
        v5 = retention_rollup(spark, store, hour_cut, day_cut)
        a, b = read_corpus(spark, store, v4), read_corpus(spark, store, v5)
        idempotent = (
            a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
        )
        blocked = False
        try:
            vacuum_corpus(store, v5)
        except ValueError:
            blocked = True
        tag_rows = read_corpus_tag(spark, store, "pre-rollup").count()
        delete_tag(store, "pre-rollup")
        stats = vacuum_corpus(store, v5)
        out = (
            read_corpus(spark, store, v5)
            .groupBy("grain")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_buckets"),
                F.sum("n").cast("long").alias("n_samples"),
                F.sum("sum_cents").cast("long").alias("cents_checksum"),
            )
            .select(
                "grain",
                "n_buckets",
                "n_samples",
                "cents_checksum",
                F.lit(stats["batches_removed"])
                .cast("long")
                .alias("batches_removed"),
                F.lit(stats["manifests_removed"])
                .cast("long")
                .alias("manifests_removed"),
                F.lit(blocked).alias("vacuum_blocked"),
                F.lit(idempotent).alias("rollup_idempotent"),
                F.lit(tag_rows).cast("long").alias("tag_rows"),
            )
        )
        rows, schema = out.collect(), out.schema
    return spark.createDataFrame(rows, schema)


_USER_EVENT_SCHEMA = "user_id long, event_id long, us long, event_type string"


def _user_event_chunks(spark: SparkSession, sf_dir: str) -> list:
    """The events table in (us, event_id) order as 5 replay chunks."""
    rows = sorted(
        _t(spark, sf_dir, "events")
        .select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("us"),
            "event_type",
        )
        .collect(),
        key=lambda r: (r["us"], r["event_id"]),
    )
    per = (len(rows) + 4) // 5
    return [rows[c * per : (c + 1) * per] for c in range(5)]


@register(
    "q_streaming_event_pattern",
    oracle=_ts.event_pattern_funnel_oracle(),
    materializes=True,
)
def q_streaming_event_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12q (streaming CEP): the skip-gap funnel run NATIVELY as a
    per-user NFA in applyInPandasWithState over a REAL availableNow
    replay (one file per micro-batch, pending chains crossing batch
    boundaries, event-time eviction bounding state to one budget
    window per user) — certified against the SAME oracle as the
    batch q_event_pattern_gaps: the NFA advance IS the greedy
    earliest-next-step chain the batch reverse-window identity
    computes, so the final emissions match the batch operator
    value-for-value. Completes the batch/streaming twin discipline
    for the CEP family (as view/streaming_view, cusum, counter,
    TWA, OHLC before it). See streaming/stateful.py
    funnel_user_state."""
    from kafka_streams_pipeline_spark.streaming.stateful import (
        funnel_user_state,
    )

    final: dict = {}
    with _scratch("evreplay") as base:
        _replay(
            spark, base, _user_event_chunks(spark, sf_dir),
            _USER_EVENT_SCHEMA, funnel_user_state,
            # the LAST update-mode emission per user is its final state
            lambda df, _e: final.update(
                (r["user_id"], r) for r in df.collect()
            ),
            "update",
        )
    out = [
        (r["user_id"], r["n_matches"], r["first_match_event_id"])
        for r in final.values()
        if r["n_matches"] > 0
    ]
    return spark.createDataFrame(
        out,
        "user_id long, n_matches bigint, first_match_event_id bigint",
    )


@register("q_streaming_gaps", oracle=_ts.sensor_gaps_oracle(), materializes=True)
def q_streaming_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12u (streaming TSDB, round 12 — deferred cert → r13 window):
    dead-man/heartbeat gap census maintained across micro-batches —
    the stateful twin of q_sensor_gaps with O(1) per-user state
    (last sample + running census), certified against the SAME batch
    oracle over a real availableNow replay. The equal-max-gap
    tie-break mirrors the batch lexicographic struct-min (smallest
    opening event id), not first-processed. See
    streaming/stateful.py gap_user_state."""
    from kafka_streams_pipeline_spark.streaming.stateful import (
        gap_user_state,
    )

    final: dict = {}
    with _scratch("evreplay") as base:
        _replay(
            spark, base, _user_event_chunks(spark, sf_dir),
            _USER_EVENT_SCHEMA, gap_user_state,
            # the LAST update-mode emission per user is its final state
            lambda df, _e: final.update(
                (r["user_id"], r) for r in df.collect()
            ),
            "update",
        )
    out = [
        (
            r["user_id"],
            r["n_samples"],
            r["n_gaps"],
            r["max_gap_us"],
            r["gap_us_total"],
            r["longest_gap_opens_id"],
        )
        for r in final.values()
        if r["n_gaps"] > 0
    ]
    return spark.createDataFrame(
        out,
        "user_id long, n_samples bigint, n_gaps bigint, "
        "max_gap_us bigint, gap_us_total bigint, "
        "longest_gap_opens_id bigint",
    )


@register("q_sensor_gaps", oracle=_ts.sensor_gaps_oracle())
def q_sensor_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12r (TSDB quality): dead-man / absent-data detection — per
    user series, every inter-sample gap beyond the 36 h heartbeat
    threshold, reported as a census (count, longest gap + the event
    id opening it, summed gap time). The audit complement of
    q_gapfill_locf's synthesis. One lag() over the per-user sort;
    the groupBy reuses the window exchange — single shuffle. See
    operators/timeseries.py sensor_gaps."""
    return _ts.sensor_gaps(_t(spark, sf_dir, "events"))


@register(
    "q_percentile_binned",
    bench=True,
    oracle=_ts.binned_percentiles_oracle(),
)
def q_percentile_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12s (TSDB serving): the MIRRORABLE approximate-percentile
    path — fixed-width histogram bins + float-free cumulative rank
    read (cum·100 ≥ q·n), p50/p95 per event_type with error bounded
    by the bin width BY CONSTRUCTION. Unlike the GK-sketch path
    (q_anomaly_mad_approx, certified by rank invariants), this
    deterministic form hash-matches the oracle value-for-value. At
    100 TB: one aggregate to (event_type × bin) — constant-size
    groups, no per-group sort, no full-width percentile buffer. See
    operators/timeseries.py binned_percentiles."""
    return _ts.binned_percentiles(_t(spark, sf_dir, "events"))


@register("q_lttb_downsample", oracle=_ts.lttb_downsample_oracle())
def q_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12t (TSDB serving, round 12 — deferred cert → r13 window):
    LTTB display downsampling (Steinarsson 2013) — per series keep
    first/last plus the largest-triangle point per bucket against
    the next bucket's centroid; selection is sequential across
    buckets, so the per-series fold runs in applyInPandas (the
    per-series-sequential contract of the streaming TSDB states;
    ONE shuffle). Exact integer cross-multiplied areas (Python ints
    Spark-side, HUGEINT oracle-side); the oracle unrolls the
    recursion as chained CTEs since the bucket count is a constant.
    See operators/timeseries.py lttb_downsample."""
    return _ts.lttb_downsample(_t(spark, sf_dir, "events"))


@register("q_lttb_prereduced", oracle=_ts.lttb_downsample_oracle())
def q_lttb_prereduced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12t-scale (round 13, VERDICT r12 item 5): LTTB with the
    per-bucket convex-hull candidate pre-reduction — the 100 TB form
    whose per-task memory is bounded by a constant chunk size instead
    of the series length, certified BIT-IDENTICAL against the same
    unrolled-CTE oracle as the plain fold. chunk_size=4 here so the
    gate-SF run genuinely exercises multi-chunk hull merging (the
    fixture's per-series counts would otherwise fit one chunk).
    See operators/timeseries.lttb_downsample_prereduced."""
    return _ts.lttb_downsample_prereduced(
        _t(spark, sf_dir, "events"), chunk_size=4
    )


@register("q_linear_attribution", oracle=_ts.linear_attribution_oracle())
def q_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12v (user journeys, round 12 — deferred cert → r13 window):
    linear multi-touch attribution — each purchase splits one unit
    of credit (10⁶ ppm) equally across the clicks in its preceding
    budget window, each click sums the units of the purchases in its
    following window; the windowed rewrite of the purchase×click
    interval join (two RANGE frames over ONE per-user sort, single
    shuffle). Complements last-touch q_asof_attribution.
    Conservation checksum Σ_p n_p·(10⁶ div n_p) oracle-recomputed.
    See operators/timeseries.py linear_attribution."""
    return _ts.linear_attribution(_t(spark, sf_dir, "events"))


@register("q_acf", oracle=_ts.acf_by_series_oracle())
def q_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12 (TSDB diagnostics, round 14): exact sample autocorrelation
    at lags 1-3 of each event_type's hourly value series — the
    Box-Jenkins periodicity/trend diagnostic. Float-free: hourly
    cents are mean-centered at scale n (d = n·c − S), lag products
    and Σd² run in DECIMAL(38,0), and the ratio is reported as
    sign-split truncating fixed-point micro units so Spark div and
    DuckDB // agree on negative numerators. One hourly pre-aggregate
    bounds each series to its hour count regardless of event volume;
    the series-keyed Exchange is reused by the lag windows, the den
    window and the final aggregate. See
    operators/timeseries.acf_by_series."""
    return _ts.acf_by_series(_t(spark, sf_dir, "events"))


@register("q_theil_sen", oracle=_ts.theil_sen_trend_oracle())
def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12aa (TSDB robustness, round 15): Theil-Sen robust trend per
    event_type hourly series — the median of all pairwise
    Δcents/Δhours slopes, tolerant of up to ~29% corrupted buckets
    where q_revenue_forecast's least-squares slope moves with one.
    Completes the robustness family beside the MAD anomaly gate and
    CUSUM. Each slope is ONE double division of exact integers
    (IEEE-identical in both engines), the median is rank-selected
    (even count: mean of the two middle slopes), rounded once at the
    end; the pair self-join is series-local on the hourly pre-agg —
    pair count is bounded by the TIME RANGE squared, never event
    volume. See operators/timeseries.theil_sen_trend."""
    return _ts.theil_sen_trend(_t(spark, sf_dir, "events"))


@register(
    "q_theil_sen_windowed",
    bench=True,
    oracle=_ts.theil_sen_trend_windowed_oracle(),
)
def q_theil_sen_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12ad (TSDB robustness, round 16): WINDOWED Theil-Sen trend —
    the median of pairwise slopes restricted to hour pairs ≤ 24h
    apart, the documented long-horizon valve for q_theil_sen
    (VERDICT r15 item 3): the full estimator's pair count grows with
    the time range SQUARED (~38M pairs/series on a year of hours);
    this one is hours × W, linear in the range. Pairs come from a
    map-side lag enumeration (sequence+transform, codegen) feeding
    ONE equi-join on (event_type, shifted hour) — the ccf_by_series
    shape, a hash join at any scale where the theta form
    (h_b BETWEEN …) degrades to broadcast-nested-loop. Median is the
    shared rank-selected theil_sen_median, so the convention cannot
    fork from the full estimator's. See
    operators/timeseries.theil_sen_trend_windowed."""
    return _ts.theil_sen_trend_windowed(_t(spark, sf_dir, "events"))


@register("q_ccf", oracle=_ts.ccf_by_series_oracle())
def q_ccf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12z (TSDB diagnostics, round 15): sample CROSS-correlation
    between every ordered pair of event_type hourly series at lags
    −3..+3 — the lead/lag detector completing the ACF family (q_acf
    measures a series against itself; this answers "does type A's
    hourly spend move k hours ahead of type B's?"). Co-occurring
    hour buckets pair via ONE equi-join on the lag-shifted hour key
    (x side explodes ×7 shifted hours map-side — no per-lag join);
    the five moments accumulate as exact DECIMAL(38,0) integers over
    hourly cents and Pearson r is a single deterministic double
    expression (the q_corr_stats discipline), NULL on zero variance
    via an explicit branch. Hourly pre-agg bounds the join to hour
    counts regardless of event volume. See
    operators/timeseries.ccf_by_series."""
    return _ts.ccf_by_series(_t(spark, sf_dir, "events"))


@register(
    "q_seasonal_decompose",
    bench=True,
    oracle=_ts.seasonal_decompose_oracle(),
)
def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12af (TSDB diagnostics, round 16): classical additive
    seasonal decomposition of each event_type's hourly series,
    period 24 — trend via the textbook 2x24 centered moving average,
    per-hour-of-day seasonal indices, and the remainder's mean
    square, all integer-exact (the acf_by_series lattice
    discipline: detrended values scaled x48, sign-split trunc
    division, remainder from the moment identity n*s2 - s1^2 so no
    second pass over the data). The reference materializes exactly
    this hourly window (KafkaStreamsAggregator.java:103-105);
    decomposition is the standard diagnostic one layer up — "is the
    daily cycle real, and how big is it per hour-of-day?". One
    hourly pre-agg + one series-keyed window partition + a 24-key
    groupBy per series; no self-join, no global sort. See
    operators/timeseries.seasonal_decompose."""
    return _ts.seasonal_decompose(_t(spark, sf_dir, "events"))


@register(
    "q_changepoint_amoc",
    oracle=_ts.changepoint_amoc_oracle(),
)
def q_changepoint_amoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12ah (TSDB diagnostics, round 16): offline at-most-one-
    changepoint detection per series — argmax of the absolute
    centered CUSUM (Page's statistic scaled by n to stay integral:
    stat_j = n*P_j − j*S), earliest-hour tie-break, with the exact
    before/after segment means riding in the hash so the detected
    shift's size and direction are certified, not just its
    location. The retrospective complement to q_cusum_alarms'
    online alarms. ACF plan shape: hourly pre-agg + ONE series-keyed
    Exchange reused by every window and the argmax; two shuffles,
    no join. See operators/timeseries.changepoint_amoc."""
    return _ts.changepoint_amoc(_t(spark, sf_dir, "events"))


@register(
    "q_ewma",
    oracle=_ts.ewma_by_series_oracle(),
)
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12ai (TSDB smoothing, round 16): exponentially weighted
    moving average per series — alpha = 1/2 truncated at W = 16
    dyadic terms (2^-16 is below the milli-cent output lattice, so
    truncation is the EXACTNESS valve: powers-of-two weights +
    difference-of-powers renormalization keep every quantity
    integral, where the untruncated recurrence needs unbounded
    denominators) and renormalized over the terms present, so the
    smoother is exact from the first row. ACF plan shape: hourly
    pre-agg + ONE series-keyed Exchange feeding all W lag windows;
    two shuffles, no join, W-term codegen dot product per row. See
    operators/timeseries.ewma_by_series."""
    return _ts.ewma_by_series(_t(spark, sf_dir, "events"))


@register(
    "q_seasonal_naive_backtest",
    oracle=_ts.seasonal_naive_backtest_oracle(),
)
def q_seasonal_naive_backtest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X12ak (TSDB forecasting, round 16): seasonal-naive forecast
    backtest — ŷ_t = y_{t−24} evaluated against the one-step naive
    baseline over a SHARED eval set, reported as exact integer MAEs
    plus the MASE-style ratio (Hyndman & Koehler 2006; < 1000 milli
    ⇒ the daily cycle is worth exploiting). The counts cancel
    because both MAEs share one eval set, so the only division is
    the final trunc; a zero naive error NULLs the ratio via an
    explicit branch (the acf den = 0 discipline). ACF plan shape:
    two shuffles, no join. See
    operators/timeseries.seasonal_naive_backtest."""
    return _ts.seasonal_naive_backtest(_t(spark, sf_dir, "events"))
