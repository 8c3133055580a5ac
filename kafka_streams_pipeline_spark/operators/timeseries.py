"""Time-series serving operators over the event stream: counter-rate
(reset-corrected increase), LOCF time-weighted average, OHLC bars,
and MAD-based anomaly flagging.

The reference pipeline is a sensor time-series aggregator — its one
materialized shape is the per-cell hourly count/sum/avg WindowStore
(ingestion/KafkaStreamsAggregator.java:103-105). These operators are
the standard TSDB serving family one layer up from that view:
monotone-counter rates (the PromQL ``increase`` semantic), duration-
weighted averages for irregularly-sampled gauges (the TimescaleDB
``time_weight`` semantic), per-bucket open/high/low/close rollups,
and robust median/MAD outlier counts. All are engine-exact: values
are summed as integer cents, durations as integer microseconds,
medians doubled into integer lattices so interpolation at 0.5 is
exact, and every comparison is integer-only — no cross-engine float
drift anywhere (SURVEY.md §5.1 hash-compare discipline).

Scale shape (100 TB): every operator is one hash-partitioned window
or aggregate keyed by the series key (user_id / event_type×hour) —
embarrassingly parallel across series, a single shuffle each, no
global sort, no driver loop. The exact per-group median in
``mad_outliers`` is the certification twin; the documented 100 TB
path swaps ``percentile`` for ``approx_percentile`` unchanged.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Synthetic monotone counter: running cents sum per user, wrapped at
# this modulus so the fixture exhibits genuine counter resets (the
# events table has no native counter column; both engines build the
# IDENTICAL counter, so the reset-correction logic is what is
# certified). 500.00 units in cents.
RESET_MOD_CENTS = 50_000

_CENTS = "cast(round(value * 100) as long)"
_CENTS_DUCK = "CAST(round(value * 100) AS BIGINT)"


def counter_rate(events: DataFrame) -> DataFrame:
    """PromQL-style reset-corrected counter ``increase`` per series.

    For consecutive samples of a monotone counter, the per-step
    increase is ``cur - prev``; a decrease means the counter reset
    (process restart) and the whole post-reset value ``cur`` counts
    as increase — exactly Prometheus' ``increase()`` fold. Output per
    user: sample count, reset count, total increase (cents).

    Plan: one hash partition on user_id, one per-partition sort
    feeding BOTH window passes (running sum + lag share the frame),
    then a groupBy on the same key — Spark reuses the window's
    Exchange, so the whole operator is a single shuffle. Integer
    arithmetic end-to-end."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = (
        events.select(
            "user_id", "event_id", "ts", F.expr(_CENTS).alias("c")
        )
        .withColumn(
            "counter",
            F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, 0))
            % RESET_MOD_CENTS,
        )
        .withColumn("prev", F.lag("counter").over(w))
    )
    stepped = run.select(
        "user_id",
        F.when(F.col("prev").isNull(), F.lit(0))
        .when(F.col("counter") >= F.col("prev"), F.col("counter") - F.col("prev"))
        .otherwise(F.col("counter"))
        .alias("step"),
        (
            F.col("prev").isNotNull() & (F.col("counter") < F.col("prev"))
        ).cast("long").alias("is_reset"),
    )
    return stepped.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.sum("is_reset").alias("n_resets"),
        F.sum("step").alias("increase_cents"),
    )


def counter_rate_oracle() -> str:
    return f"""
        WITH stepped AS (
            SELECT user_id,
                   CASE WHEN prev IS NULL THEN 0
                        WHEN counter >= prev THEN counter - prev
                        ELSE counter END AS step,
                   CASE WHEN prev IS NOT NULL AND counter < prev
                        THEN 1 ELSE 0 END AS is_reset
            FROM (
                SELECT user_id, counter,
                       lag(counter) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       ) AS prev
                FROM (
                    SELECT user_id, ts, event_id,
                           sum({_CENTS_DUCK}) OVER (
                               PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING
                           ) % {RESET_MOD_CENTS} AS counter
                    FROM events
                )
            )
        )
        SELECT user_id,
               CAST(count(*) AS BIGINT)        AS n_samples,
               CAST(sum(is_reset) AS BIGINT)   AS n_resets,
               CAST(sum(step) AS BIGINT)       AS increase_cents
        FROM stepped
        GROUP BY user_id
    """


def time_weighted_avg(events: DataFrame) -> DataFrame:
    """LOCF time-weighted average per series (TimescaleDB
    ``time_weight('LOCF', ...)`` semantic): each sample's value holds
    until the next sample, so its weight is the duration to that next
    sample; the final open-ended sample carries no weight. Output per
    user: weighted-sample count, covered span (µs), and the
    duration-weighted average.

    Exactness: cents × integer-µs durations summed as BIGINT; the
    only float ops are the two final divisions, written in identical
    textual order on both engines (IEEE division is deterministic).
    Plan: one shuffle on user_id (window sort + same-key groupBy)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    timed = events.select(
        "user_id",
        "event_id",
        "ts",
        F.unix_micros("ts").alias("us"),
        F.expr(_CENTS).alias("c"),
    ).withColumn("dur_us", F.lead("us").over(w) - F.col("us"))
    weighted = timed.where(F.col("dur_us").isNotNull())
    return (
        weighted.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_weighted"),
            F.sum("dur_us").alias("span_us"),
            F.sum(F.col("c") * F.col("dur_us")).alias("_wsum"),
        )
        .where(F.col("span_us") > 0)
        .select(
            "user_id",
            "n_weighted",
            "span_us",
            F.round(
                F.col("_wsum").cast("double")
                / F.col("span_us").cast("double")
                / F.lit(100.0),
                6,
            ).alias("twa"),
        )
    )


def time_weighted_avg_oracle() -> str:
    return f"""
        WITH timed AS (
            SELECT user_id,
                   {_CENTS_DUCK} AS c,
                   lead(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) - epoch_us(ts) AS dur_us
            FROM events
        ),
        agg AS (
            SELECT user_id,
                   CAST(count(*) AS BIGINT)          AS n_weighted,
                   CAST(sum(dur_us) AS BIGINT)       AS span_us,
                   CAST(sum(c * dur_us) AS BIGINT)   AS wsum
            FROM timed WHERE dur_us IS NOT NULL
            GROUP BY user_id
        )
        SELECT user_id, n_weighted, span_us,
               round(CAST(wsum AS DOUBLE) / CAST(span_us AS DOUBLE)
                     / 100.0, 6) AS twa
        FROM agg WHERE span_us > 0
    """


def ohlc_bars(events: DataFrame) -> DataFrame:
    """Per (event_type × hour) OHLC candle: open (first value in the
    bucket), high, low, close (last value), volume — the canonical
    downsampling shape for tick/metric series. First/last are picked
    by (ts, event_id) row order, made single-sort by pairing an
    ascending ``row_number`` with the partition row count (close =
    the rn = n row) instead of a second descending sort. Cents
    throughout — integer-exact.

    Plan: one hash partition on (event_type, hour), ONE sort serving
    both window columns, groupBy on the same key reuses the Exchange.
    Buckets are bounded (≤ types × hours) and each is independent —
    the shape is flat at any scale."""
    w = Window.partitionBy("event_type", "hour_ms").orderBy("ts", "event_id")
    wp = Window.partitionBy("event_type", "hour_ms")
    b = (
        events.select(
            "event_type",
            F.unix_millis(F.date_trunc("hour", F.col("ts"))).alias("hour_ms"),
            "ts",
            "event_id",
            F.expr(_CENTS).alias("c"),
        )
        .withColumn("rn", F.row_number().over(w))
        .withColumn("nrows", F.count(F.lit(1)).over(wp))
    )
    return b.groupBy("event_type", "hour_ms").agg(
        F.count(F.lit(1)).alias("volume"),
        F.max(F.when(F.col("rn") == 1, F.col("c"))).alias("open_cents"),
        F.max("c").alias("high_cents"),
        F.min("c").alias("low_cents"),
        F.max(F.when(F.col("rn") == F.col("nrows"), F.col("c"))).alias(
            "close_cents"
        ),
    )


def ohlc_bars_oracle() -> str:
    return f"""
        WITH b AS (
            SELECT event_type,
                   epoch_ms(date_trunc('hour', ts))  AS hour_ms,
                   {_CENTS_DUCK}                     AS c,
                   row_number() OVER (
                       PARTITION BY event_type, date_trunc('hour', ts)
                       ORDER BY ts, event_id
                   ) AS rn,
                   count(*) OVER (
                       PARTITION BY event_type, date_trunc('hour', ts)
                   ) AS nrows
            FROM events
        )
        SELECT event_type, hour_ms,
               CAST(count(*) AS BIGINT)                     AS volume,
               CAST(max(CASE WHEN rn = 1 THEN c END) AS BIGINT)
                                                            AS open_cents,
               CAST(max(c) AS BIGINT)                       AS high_cents,
               CAST(min(c) AS BIGINT)                       AS low_cents,
               CAST(max(CASE WHEN rn = nrows THEN c END) AS BIGINT)
                                                            AS close_cents
        FROM b
        GROUP BY event_type, hour_ms
    """


def mad_outliers(events: DataFrame) -> DataFrame:
    """Robust per-series outlier census: median + MAD (median absolute
    deviation), flagging samples with |x − med| > 3·1.4826·MAD — the
    standard robust z-score gate (1.4826 ≈ 1/Φ⁻¹(¾) makes MAD a
    consistent σ estimator; Hampel, public literature).

    Engine-exact medians on an integer lattice: the 0.5-interpolated
    percentile of EVEN integers is itself an integer, so the median
    of ``2·cents`` (``med2``) and of ``2·|2c − med2|`` (``mad4``, in
    quarter-cents) are exact BIGINTs in both engines. The outlier
    test dev > 3·1.4826·mad becomes the pure-integer cross-multiply
    20000·dev2 > 44478·mad4 — no float comparison anywhere.

    Plan: two grouped exact percentiles over event_type (5 groups)
    with broadcast joins back, then one counting aggregate. The exact
    per-group percentile sorts within each group — fine at fixture
    scale and the certification twin of the documented 100 TB path
    (``approx_percentile``, identical plan otherwise)."""
    c = events.select(
        "event_type", F.expr(_CENTS).alias("c")
    )
    med = c.groupBy("event_type").agg(
        F.expr("cast(round(percentile(2 * c, 0.5)) as long)").alias("med2")
    )
    dev = c.join(F.broadcast(med), "event_type").select(
        "event_type",
        "med2",
        F.abs(2 * F.col("c") - F.col("med2")).alias("dev2"),
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("cast(round(percentile(2 * dev2, 0.5)) as long)").alias("mad4")
    )
    flagged = dev.join(F.broadcast(mad), "event_type")
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("med2").alias("med2"),
        F.max("mad4").alias("mad4"),
        F.sum(
            (F.col("dev2") * 20000 > F.col("mad4") * 44478).cast("long")
        ).alias("n_outliers"),
    ).select(
        "event_type",
        "n",
        "med2",
        "mad4",
        "n_outliers",
        F.expr("n_outliers * 1000000 div n").alias("outlier_ppm"),
    )


def mad_outliers_oracle() -> str:
    return f"""
        WITH c AS (
            SELECT event_type, {_CENTS_DUCK} AS c FROM events
        ),
        med AS (
            SELECT event_type,
                   CAST(round(quantile_cont(2 * c, 0.5)) AS BIGINT) AS med2
            FROM c GROUP BY event_type
        ),
        dev AS (
            SELECT c.event_type, med2, abs(2 * c.c - med2) AS dev2
            FROM c JOIN med ON c.event_type = med.event_type
        ),
        mad AS (
            SELECT event_type,
                   CAST(round(quantile_cont(2 * dev2, 0.5)) AS BIGINT) AS mad4
            FROM dev GROUP BY event_type
        )
        SELECT dev.event_type,
               CAST(count(*) AS BIGINT)  AS n,
               CAST(max(med2) AS BIGINT) AS med2,
               CAST(max(mad4) AS BIGINT) AS mad4,
               CAST(sum(CASE WHEN dev2 * 20000 > mad4 * 44478
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
               CAST(sum(CASE WHEN dev2 * 20000 > mad4 * 44478
                             THEN 1 ELSE 0 END) * 1000000
                    // count(*) AS BIGINT) AS outlier_ppm
        FROM dev JOIN mad ON dev.event_type = mad.event_type
        GROUP BY dev.event_type
    """


# --- Approx-percentile MAD census (round 12) --------------------------------

# approx_percentile accuracy: guaranteed rank error ≤ n/accuracy
# (Greenwald-Khanna summaries; Spark's documented contract is
# relative rank error 1/accuracy).
MAD_APPROX_ACCURACY = 10_000
# Empirical-margin gate for the approx-gated outlier census: the
# rank-bounded medians move the 3·1.4826·MAD cutoff only marginally,
# so the flagged count shifts by at most a few boundary rows. The
# margin below (0.2% of the series + 5 rows) holds with ~100× slack
# at both certification SFs and is asserted deterministic-given-data
# (approx_percentile on a fixed local dataset; HLL-style sketches and
# GK summaries have no RNG).
MAD_CENSUS_MARGIN_PPM = 2_000


def mad_outliers_approx(events: DataFrame) -> DataFrame:
    """The 100 TB branch of :func:`mad_outliers`, certification form:
    runs the documented ``approx_percentile`` path NEXT TO the exact
    twin in the same scan and emits (a) the exact census columns —
    oracle-matched value-for-value — and (b) three invariant bits the
    oracle pins to TRUE:

    - ``med_rank_ok`` / ``mad_rank_ok``: the EXACT rank of each
      approx_percentile result lies within the algorithm's guaranteed
      band, rank(v) ∈ [n/2 − n/acc − 2, n/2 + n/acc + 2] (±2 absorbs
      the lattice interpolation the exact twin performs and the
      element-vs-midpoint convention). Checked float-free:
      2·acc·rank ≶ acc·n ± (2·n + 4·acc).
    - ``census_close``: the outlier census under the approx gates is
      within MAD_CENSUS_MARGIN_PPM of the exact census (+5 absolute).
      This one is an empirical-margin invariant, not an algorithmic
      guarantee — documented as such; it is what "the approx path
      actually flags the same bursts" means operationally.

    A failing implementation (wrong accuracy plumbing, a percentile
    off by more than its contract, a census that diverges) flips a
    bit to false and hash-mismatches the oracle. Plan: the same two
    grouped percentile passes as the exact twin, with the approx
    sketch riding the same aggregates — at 100 TB you drop the exact
    columns and keep the plan."""
    c = events.select("event_type", F.expr(_CENTS).alias("c"))
    g1 = c.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr("cast(round(percentile(2 * c, 0.5)) as long)").alias("med2"),
        F.expr(
            f"approx_percentile(2 * c, 0.5, {MAD_APPROX_ACCURACY})"
        ).cast("long").alias("med2_apx"),
    )
    dev = c.join(F.broadcast(g1), "event_type").select(
        "event_type",
        "n",
        "med2",
        "med2_apx",
        (2 * F.col("c")).alias("c2"),
        F.abs(2 * F.col("c") - F.col("med2")).alias("dev2"),
        F.abs(2 * F.col("c") - F.col("med2_apx")).alias("dev2_apx"),
    )
    g2 = dev.groupBy("event_type").agg(
        F.expr("cast(round(percentile(2 * dev2, 0.5)) as long)").alias(
            "mad4"
        ),
        F.expr(
            f"approx_percentile(2 * dev2_apx, 0.5, {MAD_APPROX_ACCURACY})"
        ).cast("long").alias("mad4_apx"),
        F.sum((F.col("c2") < F.col("med2_apx")).cast("long")).alias(
            "med_rank_lt"
        ),
        F.sum((F.col("c2") <= F.col("med2_apx")).cast("long")).alias(
            "med_rank_le"
        ),
    )
    j = dev.join(
        F.broadcast(g2.select(
            "event_type", "mad4", "mad4_apx", "med_rank_lt", "med_rank_le"
        )),
        "event_type",
    )
    acc = MAD_APPROX_ACCURACY
    out = j.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max("med2").alias("med2"),
        F.max("mad4").alias("mad4"),
        F.sum(
            (F.col("dev2") * 20000 > F.col("mad4") * 44478).cast("long")
        ).alias("n_outliers"),
        F.sum(
            (F.col("dev2_apx") * 20000 > F.col("mad4_apx") * 44478).cast(
                "long"
            )
        ).alias("n_outliers_apx"),
        F.sum((2 * F.col("dev2_apx") < F.col("mad4_apx")).cast("long")).alias(
            "mad_rank_lt"
        ),
        F.sum((2 * F.col("dev2_apx") <= F.col("mad4_apx")).cast("long")).alias(
            "mad_rank_le"
        ),
        F.max("med_rank_lt").alias("med_rank_lt"),
        F.max("med_rank_le").alias("med_rank_le"),
    )

    def _rank_ok(lt: str, le: str) -> Column:
        return (
            (
                2 * acc * F.col(lt)
                <= acc * F.col("n") + 2 * F.col("n") + 4 * acc
            )
            & (
                2 * acc * F.col(le)
                >= acc * F.col("n") - 2 * F.col("n") - 4 * acc
            )
        )

    return out.select(
        "event_type",
        "n",
        "med2",
        "mad4",
        "n_outliers",
        F.expr("n_outliers * 1000000 div n").alias("outlier_ppm"),
        _rank_ok("med_rank_lt", "med_rank_le").alias("med_rank_ok"),
        _rank_ok("mad_rank_lt", "mad_rank_le").alias("mad_rank_ok"),
        (
            F.abs(F.col("n_outliers_apx") - F.col("n_outliers")) * 1_000_000
            <= F.col("n") * MAD_CENSUS_MARGIN_PPM + 5 * 1_000_000
        ).alias("census_close"),
    )


def mad_outliers_approx_oracle() -> str:
    """The exact columns are :func:`mad_outliers_oracle`'s; the three
    invariant bits are pinned TRUE — the oracle certifies that the
    approx path's guarantees actually held in the Spark run."""
    return f"""
        WITH c AS (
            SELECT event_type, {_CENTS_DUCK} AS c FROM events
        ),
        med AS (
            SELECT event_type,
                   CAST(round(quantile_cont(2 * c, 0.5)) AS BIGINT) AS med2
            FROM c GROUP BY event_type
        ),
        dev AS (
            SELECT c.event_type, med2, abs(2 * c.c - med2) AS dev2
            FROM c JOIN med ON c.event_type = med.event_type
        ),
        mad AS (
            SELECT event_type,
                   CAST(round(quantile_cont(2 * dev2, 0.5)) AS BIGINT) AS mad4
            FROM dev GROUP BY event_type
        )
        SELECT dev.event_type,
               CAST(count(*) AS BIGINT)  AS n,
               CAST(max(med2) AS BIGINT) AS med2,
               CAST(max(mad4) AS BIGINT) AS mad4,
               CAST(sum(CASE WHEN dev2 * 20000 > mad4 * 44478
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
               CAST(sum(CASE WHEN dev2 * 20000 > mad4 * 44478
                             THEN 1 ELSE 0 END) * 1000000
                    // count(*) AS BIGINT) AS outlier_ppm,
               TRUE AS med_rank_ok,
               TRUE AS mad_rank_ok,
               TRUE AS census_close
        FROM dev JOIN mad ON dev.event_type = mad.event_type
        GROUP BY dev.event_type
    """


# --- CUSUM changepoint alarms (round 11) ------------------------------------

# Allowance above which deviations accumulate (cents) and the alarm
# threshold. k sits ABOVE the fixture's mean value (~4963 cents) so
# the statistic decays under normal traffic and accumulates only
# through genuine high-value bursts; h is ~4 high samples' worth of
# excess.
CUSUM_K_CENTS = 7_000
CUSUM_H_CENTS = 20_000


def cusum_alarms(
    events: DataFrame,
    k_cents: int = CUSUM_K_CENTS,
    h_cents: int = CUSUM_H_CENTS,
) -> DataFrame:
    """One-sided upper CUSUM changepoint detection per series (Page
    1954, public literature): s_i = max(0, s_{i-1} + (x_i − k)),
    alarm while s_i > h — the sequential drift detector behind
    data-quality burst monitoring.

    The clamped recurrence LOOKS inherently sequential, but the
    classic identity s_i = P_i − min(0, min_{j≤i} P_j) (P = running
    sum of deviations) turns it into two unbounded-preceding window
    folds over the SAME sort — so the whole detector is one
    hash-partitioned window pass, embarrassingly parallel across
    series, integer cents throughout. Output per user: sample count,
    alarm-row count, users' max excursion, and whether the series
    ends in alarm state.

    Plan: single shuffle — user_id window sort feeds the running
    sum, the running min, and the same-key groupBy."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame = w.rowsBetween(Window.unboundedPreceding, 0)
    p = events.select(
        "user_id",
        "ts",
        "event_id",
        (F.expr(_CENTS) - F.lit(k_cents)).alias("d"),
    ).withColumn("P", F.sum("d").over(frame))
    s = (
        p.withColumn(
            "cusum", F.col("P") - F.least(F.lit(0), F.min("P").over(frame))
        )
        .withColumn("rn_last", F.row_number().over(w))
        .withColumn(
            "n_part", F.count(F.lit(1)).over(Window.partitionBy("user_id"))
        )
    )
    return s.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.sum((F.col("cusum") > h_cents).cast("long")).alias("n_alarms"),
        F.max("cusum").alias("max_cusum"),
        F.max(
            F.when(
                F.col("rn_last") == F.col("n_part"),
                (F.col("cusum") > h_cents).cast("long"),
            )
        ).alias("ends_in_alarm"),
    )


def cusum_alarms_oracle() -> str:
    return f"""
        WITH d AS (
            SELECT user_id, ts, event_id,
                   {_CENTS_DUCK} - {CUSUM_K_CENTS} AS d
            FROM events
        ),
        p AS (
            SELECT user_id, ts, event_id,
                   sum(d) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS P
            FROM d
        ),
        s AS (
            SELECT user_id,
                   P - least(0, min(P) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING)) AS cusum,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS rn,
                   count(*) OVER (PARTITION BY user_id) AS n
            FROM p
        )
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_samples,
               CAST(sum(CASE WHEN cusum > {CUSUM_H_CENTS} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_alarms,
               CAST(max(cusum) AS BIGINT) AS max_cusum,
               CAST(max(CASE WHEN rn = n
                             THEN CASE WHEN cusum > {CUSUM_H_CENTS}
                                       THEN 1 ELSE 0 END
                        END) AS BIGINT) AS ends_in_alarm
        FROM s
        GROUP BY user_id
    """


# --- Fused per-series scorecard (round 11) ----------------------------------


def sensor_scorecard(events: DataFrame) -> DataFrame:
    """The serving-dashboard form: counter increase, LOCF
    time-weighted average, and CUSUM alarm census for every series in
    ONE pass. Composing the three standalone operators would scan and
    shuffle the events three times and join; at 100 TB the right plan
    is one scan, one hash partition, ONE sort feeding every window
    column (running sum, modular counter + lag, lead-duration,
    deviation prefix sum + running min), then a single same-key
    groupBy computing all aggregates — this operator builds exactly
    that plan (plan-contract-pinned: 1 hash exchange, 1 sort).

    Output per user (series with ≥2 samples, matching the inner join
    of the standalone operators): sample/reset counts, total
    increase, covered span + time-weighted average, alarm-row count
    and max CUSUM excursion. The registry oracle is the JOIN of the
    three standalone oracles — certifying the fusion is semantically
    exactly the composition."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame = w.rowsBetween(Window.unboundedPreceding, 0)
    base = events.select(
        "user_id",
        "ts",
        "event_id",
        F.expr(_CENTS).alias("c"),
        F.unix_micros("ts").alias("us"),
    )
    cols = (
        base.withColumn(
            "counter", F.sum("c").over(frame) % RESET_MOD_CENTS
        )
        .withColumn("prev", F.lag("counter").over(w))
        .withColumn("dur_us", F.lead("us").over(w) - F.col("us"))
        .withColumn("P", F.sum(F.col("c") - CUSUM_K_CENTS).over(frame))
        .withColumn(
            "cusum", F.col("P") - F.least(F.lit(0), F.min("P").over(frame))
        )
    )
    agg = cols.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.sum(
            (
                F.col("prev").isNotNull()
                & (F.col("counter") < F.col("prev"))
            ).cast("long")
        ).alias("n_resets"),
        F.sum(
            F.when(F.col("prev").isNull(), F.lit(0))
            .when(
                F.col("counter") >= F.col("prev"),
                F.col("counter") - F.col("prev"),
            )
            .otherwise(F.col("counter"))
        ).alias("increase_cents"),
        F.sum("dur_us").alias("span_us"),
        F.sum(F.col("c") * F.col("dur_us")).alias("_wsum"),
        F.sum((F.col("cusum") > CUSUM_H_CENTS).cast("long")).alias("n_alarms"),
        F.max("cusum").alias("max_cusum"),
    )
    return agg.where(F.col("span_us") > 0).select(
        "user_id",
        "n_samples",
        "n_resets",
        "increase_cents",
        "span_us",
        F.round(
            F.col("_wsum").cast("double")
            / F.col("span_us").cast("double")
            / F.lit(100.0),
            6,
        ).alias("twa"),
        "n_alarms",
        "max_cusum",
    )


def sensor_scorecard_oracle() -> str:
    return f"""
        WITH a AS ({counter_rate_oracle()}),
        b AS ({time_weighted_avg_oracle()}),
        c AS ({cusum_alarms_oracle()})
        SELECT a.user_id, a.n_samples, a.n_resets, a.increase_cents,
               b.span_us, b.twa, c.n_alarms, c.max_cusum
        FROM a
        JOIN b ON a.user_id = b.user_id
        JOIN c ON c.user_id = a.user_id
    """


# --- Winsorized robust stats (round 11) -------------------------------------


def winsorized_stats(events: DataFrame) -> DataFrame:
    """Winsorized per-series statistics: clip values to the
    [p_lo, p_hi] DISCRETE percentiles (inverted-CDF — both engines
    pick the smallest actual value whose cumulative fraction ≥ q, so
    the cut points are BIGINT cents, not interpolated floats), then
    count the clipped tails and sum the clipped values exactly. The
    robust-mean companion of mad_outliers: MAD flags tails,
    winsorization bounds their influence.

    Integer-exact end to end: discrete percentiles of integer cents
    ARE integer cents; the winsorized mean is the single fixed-order
    double division at the end. One percentile pass + broadcast join
    back + one counting aggregate (same shape and 100 TB posture as
    mad_outliers: approx_percentile is the documented scale path)."""
    c = events.select("event_type", F.expr(_CENTS).alias("c"))
    cuts = c.groupBy("event_type").agg(
        F.expr(
            "cast(percentile_disc(0.05) within group (order by c) "
            "as long)"
        ).alias("p_lo"),
        F.expr(
            "cast(percentile_disc(0.95) within group (order by c) "
            "as long)"
        ).alias("p_hi"),
    )
    clipped = c.join(F.broadcast(cuts), "event_type").select(
        "event_type",
        "p_lo",
        "p_hi",
        F.least(F.greatest(F.col("c"), F.col("p_lo")), F.col("p_hi")).alias(
            "w"
        ),
        (F.col("c") < F.col("p_lo")).cast("long").alias("is_lo"),
        (F.col("c") > F.col("p_hi")).cast("long").alias("is_hi"),
    )
    return clipped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("p_lo").alias("p_lo_cents"),
        F.max("p_hi").alias("p_hi_cents"),
        F.sum("is_lo").alias("n_clipped_low"),
        F.sum("is_hi").alias("n_clipped_high"),
        F.sum("w").alias("wsum_cents"),
    ).select(
        "event_type",
        "n",
        "p_lo_cents",
        "p_hi_cents",
        "n_clipped_low",
        "n_clipped_high",
        "wsum_cents",
        F.round(
            F.col("wsum_cents").cast("double")
            / F.col("n").cast("double")
            / F.lit(100.0),
            6,
        ).alias("winsorized_mean"),
    )


def winsorized_stats_oracle() -> str:
    return f"""
        WITH c AS (
            SELECT event_type, {_CENTS_DUCK} AS c FROM events
        ),
        cuts AS (
            SELECT event_type,
                   CAST(quantile_disc(c, 0.05) AS BIGINT) AS p_lo,
                   CAST(quantile_disc(c, 0.95) AS BIGINT) AS p_hi
            FROM c GROUP BY event_type
        ),
        clipped AS (
            SELECT c.event_type, p_lo, p_hi,
                   least(greatest(c.c, p_lo), p_hi) AS w,
                   CASE WHEN c.c < p_lo THEN 1 ELSE 0 END AS is_lo,
                   CASE WHEN c.c > p_hi THEN 1 ELSE 0 END AS is_hi
            FROM c JOIN cuts ON c.event_type = cuts.event_type
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT)        AS n,
               CAST(max(p_lo) AS BIGINT)       AS p_lo_cents,
               CAST(max(p_hi) AS BIGINT)       AS p_hi_cents,
               CAST(sum(is_lo) AS BIGINT)      AS n_clipped_low,
               CAST(sum(is_hi) AS BIGINT)      AS n_clipped_high,
               CAST(sum(w) AS BIGINT)          AS wsum_cents,
               round(CAST(sum(w) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                     / 100.0, 6)               AS winsorized_mean
        FROM clipped
        GROUP BY event_type
    """


# --- Event-pattern matching (round 11) --------------------------------------

# The fixture's per-user cadence is ~2 events/day, so the "within"
# budget is scaled to 10 days — 76 matches across 64 users at
# sf0.01, a non-trivial certified rowset (a 30-minute window, the
# production default for clickstream cadence, matches zero rows
# here and would certify nothing).
PATTERN_WINDOW_MIN = 14_400
PATTERN = ("click", "click", "purchase")


def event_pattern_matches(events: DataFrame) -> DataFrame:
    """CEP-style sequence detection (the MATCH_RECOGNIZE shape): per
    user, find every CONSECUTIVE run of events matching ``PATTERN``
    whose span fits ``PATTERN_WINDOW_MIN`` minutes — "two clicks then
    a purchase within the budget", the canonical conversion-pattern query.
    Consecutive means adjacent in the user's event sequence (no
    events in between), the strict MATCH_RECOGNIZE default.

    Window-native plan: the per-user sort materializes each event's
    next ``len(PATTERN)−1`` types and the span to the last of them
    via lead() — the pattern test is then a per-row predicate, and
    matches aggregate per user. ONE hash partition + ONE sort, the
    same single-shuffle contract as the rest of this module; at
    100 TB this is embarrassingly parallel across users with no
    state machine and no self-join. Output per user with ≥1 match:
    match count and the first match's start event id.

    Engine-exact: types are strings, spans integer µs."""
    m = len(PATTERN)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cols = events.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.unix_micros("ts").alias("us"),
    )
    for i in range(1, m):
        cols = cols.withColumn(
            f"t{i}", F.lead("event_type", i).over(w)
        )
    cols = cols.withColumn(
        "span_us", F.lead("us", m - 1).over(w) - F.col("us")
    )
    cond = F.col("event_type") == PATTERN[0]
    for i in range(1, m):
        cond = cond & (F.col(f"t{i}") == PATTERN[i])
    cond = cond & (F.col("span_us") <= PATTERN_WINDOW_MIN * 60_000_000)
    matches = cols.where(cond)
    return matches.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.min("event_id").alias("first_match_event_id"),
    )


def event_pattern_matches_oracle() -> str:
    m = len(PATTERN)
    lead_cols = ",\n                   ".join(
        f"lead(event_type, {i}) OVER w AS t{i}" for i in range(1, m)
    )
    conds = " AND ".join(
        [f"event_type = '{PATTERN[0]}'"]
        + [f"t{i} = '{PATTERN[i]}'" for i in range(1, m)]
        + [f"span_us <= {PATTERN_WINDOW_MIN * 60_000_000}"]
    )
    return f"""
        WITH seq AS (
            SELECT user_id, event_id, event_type,
                   {lead_cols},
                   lead(epoch_us(ts), {m - 1}) OVER w - epoch_us(ts)
                       AS span_us
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_matches,
               CAST(min(event_id) AS BIGINT) AS first_match_event_id
        FROM seq WHERE {conds}
        GROUP BY user_id
    """


# --- Skip-gap event patterns (round 12) --------------------------------------
# The strict-consecutive detector above is the MATCH_RECOGNIZE
# default; real funnel/conversion analytics need the "eventually
# follows within budget" form — pattern elements separated by
# arbitrary non-matching events (VERDICT r11 item 6).


def event_pattern_funnel(
    events: DataFrame,
    pattern: tuple[str, ...] = PATTERN,
    within_minutes: int = PATTERN_WINDOW_MIN,
) -> DataFrame:
    """Skip-gap CEP: per user, count the start events from which the
    pattern EVENTUALLY completes within the budget — steps must
    appear in order but arbitrary other events may sit between them
    (the SQL MATCH_RECOGNIZE ``A ANY* B ANY* C`` / funnel-analytics
    form the strict detector cannot express).

    No state machine and no self-join: "∃ a chain completing within
    the budget" ⟺ "the GREEDY earliest-next-step chain completes
    within the budget", because the minimal completion time is
    monotone in each step's position (from an earlier step-k event,
    every suffix available to a later one is still available — the
    standard exchange argument). So compute, right-to-left over one
    per-user DESCENDING sort, comp_k(row) = earliest completion of
    the remaining pattern strictly after this row: a reverse
    running-min window per pattern step
    (min over rows AFTER the current of comp_{k+1}, restricted to
    type p_{k+1}). All m−1 window folds share the ONE sort; the
    final match test is a per-row predicate. Single shuffle, single
    sort — same contract as the strict twin; embarrassingly parallel
    across users at 100 TB.

    Output per user with ≥1 matching start: match count + first
    matching start's event id (same shape as the strict twin, so the
    two certify side by side). Engine-exact: integer µs spans."""
    m = len(pattern)
    w_desc = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cols = events.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.unix_micros("ts").alias("us"),
    )
    # comp_{m-1}: a last-step event completes at its own timestamp
    cols = cols.withColumn(
        f"comp{m - 1}",
        F.when(F.col("event_type") == pattern[m - 1], F.col("us")),
    )
    for k in range(m - 2, -1, -1):
        # earliest completion of steps k+1.. strictly after this row;
        # comp{k+1} is null on non-p_{k+1} rows, so the min already
        # ranges over exactly the candidate next-step events
        cols = cols.withColumn(
            f"comp{k}",
            F.when(
                F.col("event_type") == pattern[k],
                F.min(F.col(f"comp{k + 1}")).over(w_desc),
            ),
        )
    matches = cols.where(
        F.col("comp0").isNotNull()
        & (F.col("comp0") - F.col("us") <= within_minutes * 60_000_000)
    )
    return matches.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.min("event_id").alias("first_match_event_id"),
    )


def event_pattern_funnel_oracle() -> str:
    """The identical right-to-left reverse-window recursion in DuckDB
    (chained CTEs — one per pattern step, same window text)."""
    m = len(PATTERN)
    ctes = [
        f"""
        s{m - 1} AS (
            SELECT user_id, event_id, ts, event_type,
                   epoch_us(ts) AS us,
                   CASE WHEN event_type = '{PATTERN[m - 1]}'
                        THEN epoch_us(ts) END AS comp{m - 1}
            FROM events
        )"""
    ]
    for k in range(m - 2, -1, -1):
        ctes.append(f"""
        s{k} AS (
            SELECT user_id, event_id, ts, event_type, us,
                   CASE WHEN event_type = '{PATTERN[k]}'
                        THEN min(comp{k + 1}) OVER (
                            PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING)
                   END AS comp{k}
            FROM s{k + 1}
        )""")
    return f"""
        WITH {", ".join(ctes)}
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_matches,
               CAST(min(event_id) AS BIGINT) AS first_match_event_id
        FROM s0
        WHERE comp0 IS NOT NULL
          AND comp0 - us <= {PATTERN_WINDOW_MIN * 60_000_000}
        GROUP BY user_id
    """


# --- Sensor gap detection (round 12) -----------------------------------------

# Heartbeat threshold: the fixture's per-user cadence is ~2 events/
# day, so 36 h marks genuine dead-air stretches while keeping the
# flagged set non-trivial at the certification SFs.
GAP_THRESHOLD_US = 36 * 3_600_000_000


def sensor_gaps(
    events: DataFrame, threshold_us: int = GAP_THRESHOLD_US
) -> DataFrame:
    """Dead-man / absent-data detection per series (the Prometheus
    ``absent()`` / TSDB heartbeat question): flag every inter-sample
    gap longer than ``threshold_us`` and report, per user, the gap
    census — count, the longest gap, the summed gap time, and the
    event id OPENING the longest gap (ties to the earliest). The
    complement of q_gapfill_locf: that row synthesizes values into
    gaps, this one audits where the gaps are.

    Plan: one lag() over the per-user sort, then the same-key
    groupBy reuses the window's exchange — ONE shuffle, ONE sort,
    the module contract. Engine-exact integer µs."""
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    g = events.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
    ).select(
        "user_id",
        (F.col("us") - F.lag("us").over(w)).alias("gap_us"),
        F.lag("event_id").over(w).alias("opens_id"),
    )
    return (
        g.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_samples"),
            F.sum((F.col("gap_us") > threshold_us).cast("long"))
            .alias("n_gaps"),
            F.max(
                F.when(F.col("gap_us") > threshold_us, F.col("gap_us"))
            ).alias("max_gap_us"),
            F.sum(
                F.when(F.col("gap_us") > threshold_us, F.col("gap_us"))
                .otherwise(0)
            ).cast("long").alias("gap_us_total"),
            # longest gap's opening event id, ties to the earliest:
            # lexicographic struct-min over (−gap, opens_id)
            F.min(
                F.when(
                    F.col("gap_us") > threshold_us,
                    F.struct(
                        (-F.col("gap_us")).alias("ng"),
                        F.col("opens_id").alias("oid"),
                    ),
                )
            ).getField("oid").alias("longest_gap_opens_id"),
        )
        .where(F.col("n_gaps") > 0)
        .select(
            "user_id",
            "n_samples",
            "n_gaps",
            F.col("max_gap_us").cast("long").alias("max_gap_us"),
            "gap_us_total",
            F.col("longest_gap_opens_id").cast("long")
            .alias("longest_gap_opens_id"),
        )
    )


def sensor_gaps_oracle() -> str:
    return f"""
        WITH g AS (
            SELECT user_id,
                   epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us,
                   lag(event_id) OVER w AS opens_id
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        a AS (
            SELECT user_id,
                   CAST(count(*) AS BIGINT) AS n_samples,
                   CAST(sum(CASE WHEN gap_us > {GAP_THRESHOLD_US}
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
                   CAST(max(CASE WHEN gap_us > {GAP_THRESHOLD_US}
                                 THEN gap_us END) AS BIGINT) AS max_gap_us,
                   CAST(sum(CASE WHEN gap_us > {GAP_THRESHOLD_US}
                                 THEN gap_us ELSE 0 END) AS BIGINT)
                       AS gap_us_total
            FROM g GROUP BY user_id
        )
        SELECT a.user_id, n_samples, n_gaps, max_gap_us, gap_us_total,
               CAST((SELECT min(opens_id) FROM g
                     WHERE g.user_id = a.user_id
                       AND g.gap_us = a.max_gap_us) AS BIGINT)
                   AS longest_gap_opens_id
        FROM a WHERE n_gaps > 0
    """


# --- Deterministic binned percentile (round 12) -------------------------------

PCTL_BIN_CENTS = 50


def binned_percentiles(events: DataFrame) -> DataFrame:
    """The MIRRORABLE approximate-percentile path: fixed-width
    histogram binning with a float-free cumulative rank read — the
    production pattern when the approx path itself must be
    deterministic and engine-portable (unlike GK/KLL sketches, whose
    merge order is engine-internal; q_anomaly_mad_approx certifies
    that family by rank invariants instead). Error is bounded by the
    bin width BY CONSTRUCTION, and both engines compute bit-identical
    results, so the certification is a full value hash-match, not a
    pinned invariant.

    Per event_type: n, and the p50/p95 bin lower bounds (cents),
    where pXX_bin = the smallest bin whose cumulative count reaches
    the target rank — ``cum·100 ≥ q·n`` in pure integers (the
    float-free rank read; VERDICT r9 learning).

    Plan at 100 TB: ONE aggregate to (event_type × bin) — thousands
    of constant-size groups, no per-group sort, no full-width
    percentile buffer — then a bin-count-sized window. The exact
    percentile needs the values; this needs the histogram."""
    b = events.select(
        "event_type",
        F.expr(f"({_CENTS} div {PCTL_BIN_CENTS}) * {PCTL_BIN_CENTS}").alias("bin"),
    )
    hist = b.groupBy("event_type", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.select(
        "event_type",
        "bin",
        F.sum("c").over(w).alias("cum"),
        F.sum("c").over(
            Window.partitionBy("event_type").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    return (
        cum.groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            F.min(
                F.when(F.col("cum") * 100 >= 50 * F.col("n"), F.col("bin"))
            ).cast("long").alias("p50_bin_cents"),
            F.min(
                F.when(F.col("cum") * 100 >= 95 * F.col("n"), F.col("bin"))
            ).cast("long").alias("p95_bin_cents"),
        )
        .select("event_type", "n", "p50_bin_cents", "p95_bin_cents")
    )


def binned_percentiles_oracle() -> str:
    return f"""
        WITH b AS (
            SELECT event_type,
                   ({_CENTS_DUCK} // {PCTL_BIN_CENTS}) * {PCTL_BIN_CENTS} AS bin
            FROM events
        ),
        hist AS (
            SELECT event_type, bin, count(*) AS c
            FROM b GROUP BY 1, 2
        ),
        cum AS (
            SELECT event_type, bin,
                   sum(c) OVER (PARTITION BY event_type ORDER BY bin
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS cum,
                   sum(c) OVER (PARTITION BY event_type) AS n
            FROM hist
        )
        SELECT event_type,
               CAST(max(n) AS BIGINT) AS n,
               CAST(min(CASE WHEN cum * 100 >= 50 * n THEN bin END)
                    AS BIGINT) AS p50_bin_cents,
               CAST(min(CASE WHEN cum * 100 >= 95 * n THEN bin END)
                    AS BIGINT) AS p95_bin_cents
        FROM cum GROUP BY event_type
    """


# --- LTTB display downsampling (round 12) -------------------------------------

LTTB_BUCKETS = 12
# Per-series point ceiling for the applyInPandas fold: one series is
# one pandas frame in one task, so points-per-series IS the task's
# memory bound (~100 B/point across the Arrow batch + Python int
# lists → 4M ≈ 400 MB, inside a 1-2 GB task budget at 100 TB executor
# shapes). Beyond it the guard fails LOUDLY in the JVM stage before
# the batch ships to Python (VERDICT r12 item 5: a billion-point
# series would otherwise OOM the task with no actionable error).
LTTB_MAX_POINTS_PER_SERIES = 4_000_000


def lttb_downsample(
    events: DataFrame,
    n_out: int = LTTB_BUCKETS,
    max_points_per_series: int = LTTB_MAX_POINTS_PER_SERIES,
) -> DataFrame:
    """Largest-Triangle-Three-Buckets display downsampling
    (Steinarsson 2013, public literature — the Grafana/TSDB
    "downsample for plotting" default): per series keep the first
    and last points plus, per middle bucket, the point forming the
    largest triangle with the PREVIOUSLY SELECTED point and the NEXT
    bucket's centroid — the visually-dominant extremes survive where
    naive striding drops them.

    Selection is sequential ACROSS buckets (bucket k's pick depends
    on bucket k−1's), so the per-series fold runs in applyInPandas —
    the same per-series-sequential contract as the streaming TSDB
    states; series are the parallel unit at 100 TB and each holds
    bounded points. ONE shuffle (the groupBy key).

    Engine-exact: areas compare as the cross-multiplied integer
    |2·A·cnt_next| = |(x_a·cnt − Σx_next)·(y_b − y_a) −
    (x_a − x_b)·(y_a·cnt − Σy_next)| over µs-recentred x (x = us −
    series tmin) and integer cents y — Python ints Spark-side
    (arbitrary precision), HUGEINT casts oracle-side; ties break to
    the earlier point. Series with ≤ n_out points pass through
    unchanged. Output: (user_id, sel_order, us, cents)."""
    pts = events.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        F.expr(_CENTS).alias("y"),
    )
    # Loud per-series size guard, evaluated JVM-side: the count window
    # shares the user_id exchange the applyInPandas groupBy needs, and
    # the assert is folded into the value column (coalesce forces
    # evaluation; assert_true yields NULL on pass) so it fires in the
    # window stage — BEFORE the oversized Arrow batch is built, which
    # an in-function check could only do after the memory is spent.
    n_w = Window.partitionBy("user_id")
    pts = pts.withColumn(
        "y",
        F.coalesce(
            F.assert_true(
                F.count(F.lit(1)).over(n_w) <= F.lit(max_points_per_series),
                F.concat(
                    F.lit("lttb_downsample: series user_id="),
                    F.col("user_id").cast("string"),
                    F.lit(" exceeds max_points_per_series="),
                    F.lit(str(max_points_per_series)),
                    F.lit(
                        " — one series is one task; pre-aggregate the"
                        " series (e.g. per-bucket rollup) or raise the"
                        " ceiling explicitly"
                    ),
                ),
            ).cast("long"),
            F.col("y"),
        ),
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["us", "event_id"]).reset_index(drop=True)
        uid = int(pdf["user_id"].iloc[0])
        xs_abs = [int(v) for v in pdf["us"]]
        ys = [int(v) for v in pdf["y"]]
        n = len(pdf)
        if n <= n_out:
            return pd.DataFrame(
                {
                    "user_id": [uid] * n,
                    "sel_order": list(range(n)),
                    "us": xs_abs,
                    "cents": ys,
                }
            )
        tmin = xs_abs[0]
        xs = [v - tmin for v in xs_abs]
        B = n_out - 2
        m = n - 2
        # bucket k (1..B) holds 1-based idx 2..n-1; bucket B+1 is the
        # final point — the uniform "next" target for bucket B
        buckets: dict[int, list[int]] = {k: [] for k in range(1, B + 2)}
        for idx in range(2, n):  # 1-based middle indices
            buckets[((idx - 2) * B) // m + 1].append(idx - 1)
        buckets[B + 1] = [n - 1]
        sel = [0]  # python indices; first point always kept
        for k in range(1, B + 1):
            nxt = buckets[k + 1]
            cnt = len(nxt)
            sx = sum(xs[j] for j in nxt)
            sy = sum(ys[j] for j in nxt)
            a = sel[-1]
            best, best_area = None, -1
            for j in buckets[k]:
                area = abs(
                    (xs[a] * cnt - sx) * (ys[j] - ys[a])
                    - (xs[a] - xs[j]) * (ys[a] * cnt - sy)
                )
                if area > best_area:
                    best, best_area = j, area
            sel.append(best)
        sel.append(n - 1)
        return pd.DataFrame(
            {
                "user_id": [uid] * len(sel),
                "sel_order": list(range(len(sel))),
                "us": [xs_abs[j] for j in sel],
                "cents": [ys[j] for j in sel],
            }
        )

    return pts.groupBy("user_id").applyInPandas(
        fn, "user_id long, sel_order long, us long, cents long"
    )


def _hull_reduce_rows(rows: list) -> list:
    """EXACT candidate reduction for one (series, bucket[, chunk])
    slice, rows = [(x, y, idx, us)]: LTTB's per-bucket selection
    maximizes |L(x, y)| for a linear functional L whose coefficients
    depend on the previous pick and the next bucket's centroid —
    unknown at reduction time, but for EVERY linear functional the
    maximizer lies on the convex hull boundary. Keep: all
    hull-boundary locations INCLUDING collinear edge points (ties
    along an edge are real maxima), each location deduped to its min
    row index (the fold's tie-break), plus the slice's min-index
    point (the degenerate L ≡ 0 case, where the fold keeps the first
    point scanned). Strictly-interior points can only tie in that
    degenerate case, so dropping them is lossless. Composable:
    hull(union) boundary ⊆ union of slice-hull boundaries (a point
    interior to its slice hull is interior to the union hull), so
    chunk-level then bucket-level application is exact."""
    # dedup identical (x, y) locations keeping the smallest idx
    best: dict = {}
    for x, y, i, u in rows:
        k = (x, y)
        if k not in best or i < best[k][0]:
            best[k] = (i, u)
    locs = sorted(best)
    if len(locs) <= 2:
        keep = set(locs)
    else:
        def chain(pts: list) -> list:
            res: list = []
            for p in pts:
                # pop ONLY on a strictly-wrong turn: collinear
                # (cross == 0) boundary points must survive
                while len(res) >= 2 and (
                    (res[-1][0] - res[-2][0]) * (p[1] - res[-2][1])
                    - (res[-1][1] - res[-2][1]) * (p[0] - res[-2][0])
                ) < 0:
                    res.pop()
                res.append(p)
            return res

        keep = set(chain(locs)) | set(chain(locs[::-1]))
    keep.add(min(locs, key=lambda k: best[k][0]))
    return [
        (k[0], k[1], best[k][0], best[k][1])
        for k in sorted(keep, key=lambda k: best[k][0])
    ]


def _hull_groups_map(n_key: int):
    """mapInPandas pass applying _hull_reduce_rows to each CONTIGUOUS
    group run in the partition's Arrow-batch stream; the group key is
    the first ``n_key`` of (user_id, b[, chunk]). The final run of
    every batch may continue in the next batch, so its rows are
    carried forward and reduced only when the key changes or the
    stream ends. One output frame per input batch — per-group
    DataFrame construction at series×bucket cardinality costs more
    than the reduction itself. Requires groups contiguous within the
    partition (repartition on the leading key + sortWithinPartitions)."""

    def fn(it):
        carry_key, carry_rows = None, []

        def emit(out_rows: list) -> pd.DataFrame:
            return pd.DataFrame(
                out_rows,
                columns=["user_id", "b", "x", "y", "idx", "us"],
            )

        for pdf in it:
            if not len(pdf):
                continue
            out: list = []
            cols = zip(
                (int(v) for v in pdf["user_id"]),
                (int(v) for v in pdf["b"]),
                (int(v) for v in pdf["chunk"]) if "chunk" in pdf
                else (0 for _ in range(len(pdf))),
                (int(v) for v in pdf["x"]),
                (int(v) for v in pdf["y"]),
                (int(v) for v in pdf["idx"]),
                (int(v) for v in pdf["us"]),
            )
            for uid, b, ch, x, y, i, u in cols:
                key = (uid, b, ch)[:n_key]
                if key != carry_key:
                    if carry_rows:
                        ck = carry_key
                        out.extend(
                            (ck[0], ck[1], rx, ry, ri, ru)
                            for rx, ry, ri, ru in _hull_reduce_rows(
                                carry_rows
                            )
                        )
                    carry_key, carry_rows = key, []
                carry_rows.append((x, y, i, u))
            if out:
                yield emit(out)
        if carry_rows:
            ck = carry_key
            yield emit(
                [
                    (ck[0], ck[1], rx, ry, ri, ru)
                    for rx, ry, ri, ru in _hull_reduce_rows(carry_rows)
                ]
            )

    return fn


def lttb_downsample_prereduced(
    events: DataFrame,
    n_out: int = LTTB_BUCKETS,
    chunk_size: int = 65_536,
) -> DataFrame:
    """LTTB with per-bucket convex-hull pre-reduction (VERDICT r12
    item 5's scale path): output BIT-IDENTICAL to lttb_downsample,
    but no task ever holds a whole series. Stages:

    1. JVM: per-series idx/n/tmin windows (one shuffle+sort), bucket
       assignment as an expression, and EXACT full-bucket (cnt, Σx,
       Σy) aggregates — decimal(38,0) sums, since Σ of µs-recentred
       x over a multi-million-point bucket overflows BIGINT.
    2. applyInPandas per (series, bucket, idx-chunk of ``chunk_size``
       rows): hull-boundary candidate reduction (_hull_reduce) —
       per-task memory is bounded by the CONSTANT chunk size.
    3. Same reduction per (series, bucket) over the surviving chunk
       candidates (hull-of-hulls is exact), then the sequential
       cross-bucket fold runs per series over candidates only,
       cogrouped with the exact bucket aggregates.

    The one data shape the reduction cannot compress is a bucket
    whose points are all hull-extreme (a perfect convex arc) — no
    exact method can, since every point is some functional's argmax —
    so the per-series guard stays armed on the candidate set. Series
    with ≤ n_out points short-circuit JVM-side (no pandas at all)."""
    B = n_out - 2
    w_series = Window.partitionBy("user_id")
    w_order = Window.partitionBy("user_id").orderBy("us", "event_id")
    base = (
        events.select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("us"),
            F.expr(_CENTS).alias("y"),
        )
        .withColumn("idx", F.row_number().over(w_order))
        .withColumn("n", F.count(F.lit(1)).over(w_series))
        .withColumn("tmin", F.min("us").over(w_series))
    )
    small = base.where(F.col("n") <= n_out).select(
        "user_id",
        (F.col("idx") - 1).cast("long").alias("sel_order"),
        "us",
        F.col("y").cast("long").alias("cents"),
    )
    big = (
        base.where(F.col("n") > n_out)
        .withColumn("x", F.col("us") - F.col("tmin"))
        .withColumn(
            "b",
            F.expr(
                f"CASE WHEN idx = 1 THEN 0 WHEN idx = n THEN {B + 1} "
                f"ELSE ((idx - 2) * {B}) div (n - 2) + 1 END"
            ),
        )
    )
    stats = big.groupBy("user_id", "b").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.max("n").cast("long").alias("n"),
    )
    cand_schema = "user_id long, b long, x long, y long, idx long, us long"
    # Both hull levels run as mapInPandas over ONE partition-sorted
    # pass, not applyInPandas per group: (user_id, b, chunk) groups
    # number series×buckets×chunks, and per-group Arrow conversion at
    # that cardinality costs ~1.5 ms each (measured 20× the total JVM
    # work at sf0.1). After repartition(user_id) + sortWithinPartitions
    # every group is CONTIGUOUS inside its partition, so a single
    # python pass per partition reduces group after group, carrying
    # the last (possibly batch-straddling) group into the next Arrow
    # batch. Level 2's input inherits that contiguity from level 1.
    chunked = (
        big.withColumn("chunk", F.expr(f"idx div {int(chunk_size)}"))
        .repartition("user_id")
        .sortWithinPartitions("user_id", "idx")
    )
    cand = chunked.mapInPandas(
        _hull_groups_map(3), cand_schema
    ).mapInPandas(_hull_groups_map(2), cand_schema)
    # guard on the REDUCED candidate set (the convex-arc worst case)
    cand = cand.withColumn(
        "y",
        F.coalesce(
            F.assert_true(
                F.count(F.lit(1)).over(w_series)
                <= F.lit(LTTB_MAX_POINTS_PER_SERIES),
                F.lit(
                    "lttb_downsample_prereduced: hull candidates exceed "
                    f"max_points_per_series={LTTB_MAX_POINTS_PER_SERIES} — "
                    "the series is hull-degenerate (convex arc); raise "
                    "the ceiling or coarsen upstream"
                ),
            ).cast("long"),
            F.col("y"),
        ),
    )

    def fold(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        uid = int(lpdf["user_id"].iloc[0])
        by_bucket: dict = {}
        for x, y, i, u, b in zip(
            (int(v) for v in lpdf["x"]),
            (int(v) for v in lpdf["y"]),
            (int(v) for v in lpdf["idx"]),
            (int(v) for v in lpdf["us"]),
            (int(v) for v in lpdf["b"]),
        ):
            by_bucket.setdefault(b, []).append((i, x, y, u))
        for v in by_bucket.values():
            v.sort()  # fold scans candidates in ascending idx order
        st = {
            int(r["b"]): (int(r["cnt"]), int(r["sx"]), int(r["sy"]))
            for _, r in rpdf.iterrows()
        }
        sel = [by_bucket[0][0]]  # idx = 1: the first point
        for k in range(1, B + 1):
            cnt, sx, sy = st[k + 1]
            _, x_a, y_a, _ = sel[-1]
            best, best_area = None, -1
            for cand_row in by_bucket[k]:
                _, x_j, y_j, _ = cand_row
                area = abs(
                    (x_a * cnt - sx) * (y_j - y_a)
                    - (x_a - x_j) * (y_a * cnt - sy)
                )
                if area > best_area:
                    best, best_area = cand_row, area
            sel.append(best)
        sel.append(by_bucket[B + 1][0])  # idx = n: the last point
        return pd.DataFrame(
            {
                "user_id": [uid] * len(sel),
                "sel_order": list(range(len(sel))),
                "us": [s[3] for s in sel],
                "cents": [s[2] for s in sel],
            }
        )

    folded = (
        cand.groupBy("user_id")
        .cogroup(stats.groupBy("user_id"))
        .applyInPandas(
            fold, "user_id long, sel_order long, us long, cents long"
        )
    )
    return small.unionByName(folded)


def lttb_downsample_oracle() -> str:
    """The identical selection unrolled as chained CTEs (one per
    middle bucket — ``LTTB_BUCKETS`` is a constant, so the sequential recursion
    needs no WITH RECURSIVE): each step picks argmax area against
    the previous selection via QUALIFY row_number, HUGEINT casts
    keep the cross-multiply exact."""
    B = LTTB_BUCKETS - 2
    ctes = [f"""
        pts AS (
            SELECT user_id, epoch_us(ts) AS us0,
                   CAST(round(value * 100) AS BIGINT) AS y,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS idx,
                   count(*) OVER (PARTITION BY user_id) AS n,
                   min(epoch_us(ts)) OVER (PARTITION BY user_id) AS tmin
            FROM events
        ),
        p AS (
            SELECT user_id, idx, n, us0, us0 - tmin AS x, y FROM pts
        ),
        small AS (
            SELECT user_id, CAST(idx - 1 AS BIGINT) AS sel_order,
                   us0, y
            FROM p WHERE n <= {LTTB_BUCKETS}
        ),
        big AS (
            SELECT *, CASE WHEN idx = 1 THEN 0
                           WHEN idx = n THEN {B + 1}
                           ELSE ((idx - 2) * {B}) // (n - 2) + 1
                      END AS b
            FROM p WHERE n > {LTTB_BUCKETS}
        ),
        agg AS (
            SELECT user_id, b, count(*) AS cnt,
                   sum(x) AS sx, sum(y) AS sy
            FROM big GROUP BY 1, 2
        ),
        sel0 AS (
            SELECT user_id, idx, us0, x, y FROM big WHERE b = 0
        )"""]
    for k in range(1, B + 1):
        ctes.append(f"""
        sel{k} AS (
            SELECT s.user_id, c.idx, c.us0, c.x, c.y
            FROM sel{k - 1} s
            JOIN big c ON c.user_id = s.user_id AND c.b = {k}
            JOIN agg t ON t.user_id = s.user_id AND t.b = {k + 1}
            QUALIFY row_number() OVER (
                PARTITION BY s.user_id
                ORDER BY abs(CAST(s.x * t.cnt - t.sx AS HUGEINT)
                               * CAST(c.y - s.y AS HUGEINT)
                             - CAST(s.x - c.x AS HUGEINT)
                               * CAST(s.y * t.cnt - t.sy AS HUGEINT))
                         DESC, c.idx) = 1
        )""")
    sel_union = "\n            UNION ALL\n".join(
        f"            SELECT user_id, {k} AS sel_order, us0, y FROM sel{k}"
        for k in range(B + 1)
    )
    return f"""
        WITH {", ".join(ctes)},
        selected AS (
{sel_union}
            UNION ALL
            SELECT user_id, {B + 1} AS sel_order, us0, y
            FROM big WHERE b = {B + 1}
        )
        SELECT user_id, CAST(sel_order AS BIGINT) AS sel_order,
               CAST(us0 AS BIGINT) AS us, CAST(y AS BIGINT) AS cents
        FROM selected
        UNION ALL
        SELECT user_id, sel_order, CAST(us0 AS BIGINT), CAST(y AS BIGINT)
        FROM small
    """


# --- Multi-touch attribution (round 12) ----------------------------------------

ATTRIB_WINDOW_MIN = PATTERN_WINDOW_MIN


def linear_attribution(
    events: DataFrame, within_minutes: int = ATTRIB_WINDOW_MIN
) -> DataFrame:
    """Linear multi-touch attribution: every purchase distributes one
    unit of credit (1,000,000 ppm) EQUALLY across the clicks in its
    preceding budget window; every click accumulates credit from the
    purchases in its following window — the marketing-analytics
    complement of last-touch q_asof_attribution. Per user:
    conversions that had ≥1 touch, credited clicks, and the summed
    click credit (= Σ_p n_p·(10⁶ div n_p) — conservation up to the
    integer-division remainder, recomputed identically by the
    oracle).

    Plan: TWO RANGE-frame window passes sharing ONE per-user sort on
    the µs column (count preceding clicks per purchase; sum following
    per-purchase credit units per click) — single shuffle, no
    self-join, no explode; the classic windowed rewrite of the
    purchase×click interval join. Integer ppm end-to-end."""
    budget_us = within_minutes * 60_000_000
    e = events.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-budget_us, -1)
    )
    w_next = (
        Window.partitionBy("user_id").orderBy("us").rangeBetween(1, budget_us)
    )
    staged = e.withColumn(
        "n_touch",
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).over(w_prev),
    ).withColumn(
        "unit",
        F.when(
            (F.col("event_type") == "purchase") & (F.col("n_touch") > 0),
            F.expr("1000000 div n_touch"),
        ).otherwise(F.lit(0)),
    )
    credited = staged.withColumn(
        "click_credit",
        F.when(
            F.col("event_type") == "click", F.sum("unit").over(w_next)
        ).otherwise(F.lit(0)),
    )
    return (
        credited.groupBy("user_id")
        .agg(
            F.sum((F.col("unit") > 0).cast("long")).alias("n_conversions"),
            F.sum(
                (
                    (F.col("event_type") == "click")
                    & (F.col("click_credit") > 0)
                ).cast("long")
            ).alias("n_touches"),
            F.sum("click_credit").cast("long").alias("credit_ppm_total"),
        )
        .where(F.col("n_conversions") > 0)
        .select("user_id", "n_conversions", "n_touches", "credit_ppm_total")
    )


def linear_attribution_oracle() -> str:
    budget_us = ATTRIB_WINDOW_MIN * 60_000_000
    return f"""
        WITH e AS (
            SELECT user_id, event_id, event_type, epoch_us(ts) AS us
            FROM events
        ),
        staged AS (
            SELECT *,
                   CASE WHEN event_type = 'purchase' AND n_touch > 0
                        THEN 1000000 // n_touch ELSE 0 END AS unit
            FROM (
                SELECT *,
                       sum(CASE WHEN event_type = 'click'
                                THEN 1 ELSE 0 END) OVER (
                           PARTITION BY user_id ORDER BY us
                           RANGE BETWEEN {budget_us} PRECEDING
                                     AND 1 PRECEDING) AS n_touch
                FROM e
            )
        ),
        credited AS (
            SELECT *,
                   CASE WHEN event_type = 'click'
                        THEN sum(unit) OVER (
                            PARTITION BY user_id ORDER BY us
                            RANGE BETWEEN 1 FOLLOWING
                                      AND {budget_us} FOLLOWING)
                        ELSE 0 END AS click_credit
            FROM staged
        )
        SELECT user_id,
               CAST(sum(CASE WHEN unit > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_conversions,
               CAST(sum(CASE WHEN event_type = 'click'
                              AND click_credit > 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_touches,
               CAST(sum(click_credit) AS BIGINT) AS credit_ppm_total
        FROM credited
        GROUP BY user_id
        HAVING sum(CASE WHEN unit > 0 THEN 1 ELSE 0 END) > 0
    """


# ---------------------------------------------------------------------------
# Autocorrelation function (ACF) per series — the classic Box-Jenkins
# diagnostic (is this series periodic / mean-reverting / trending?),
# computed EXACTLY in integer arithmetic so the oracle hash-matches.
# ---------------------------------------------------------------------------

ACF_MAX_LAG = 3


def hourly_cents_series(events: DataFrame) -> DataFrame:
    """(event_type, h_ms, c): each event_type's hourly value series
    in exact integer cents (epoch-ms hour buckets) — the ONE
    definition shared by the batch ACF, its oracle convention, and
    the streaming sufficient-statistics twin, so a change to the
    scale/rounding/bucket rule cannot silently fork them (r14
    review)."""
    return (
        events.select(
            "event_type",
            F.expr("unix_millis(date_trunc('hour', ts))").alias("h_ms"),
            F.expr(
                "CAST(round(value * 100) AS DECIMAL(38,0))"
            ).alias("c"),
        )
        .groupBy("event_type", "h_ms")
        .agg(F.sum("c").alias("c"))
    )


def acf_by_series(events: DataFrame, max_lag: int = ACF_MAX_LAG) -> DataFrame:
    """Sample autocorrelation at lags 1..max_lag of each event_type's
    hourly value series (hour buckets that OCCUR, ordered — the
    observed-sequence convention; both engines apply it identically).

    Float-free construction: with hourly cents c_i, n = series
    length, S = Σc, the mean-centered terms scale by n to stay
    integral: d_i = n·c_i − S. Then

        num_k = Σ d_i·d_{i−k}   (pairs via window lag)
        den   = Σ d_i²          (same partition, constant per series)

    and acf = num_k/den exactly; reported as acf_micro =
    trunc(num·10⁶/den) with an explicit sign-split so Spark's
    truncating `div` and DuckDB's flooring `//` agree on negative
    numerators. |num_k| ≤ den by Cauchy-Schwarz, so acf_micro fits
    comfortably in BIGINT; the d products run in DECIMAL(38,0)
    (n·c ≈ 10⁵·10⁷ → d² ≈ 10²⁴). A zero-variance series has
    num = den = 0 and acf_micro = NULL via an EXPLICIT den = 0
    branch — the conventional "ACF undefined" answer (explicit
    because Spark 4's ANSI mode makes bare 0 div 0 THROW while
    DuckDB's // returns NULL; relying on the engine default would be
    both non-portable and session-config-dependent).

    Plan: one hourly pre-aggregate (map-side partials) bounds the
    series to its hour count regardless of event volume, then ONE
    hash partition per event_type feeds the window lags, the den
    window and the final groupBy — Spark reuses the Exchange, so the
    whole operator is two shuffles (hour agg + series key) at any
    scale. Lags unpivot per-row (stack), never a self-join."""
    hourly = hourly_cents_series(events)
    wp = Window.partitionBy("event_type")
    wo = wp.orderBy("h_ms")
    d = (
        hourly.withColumn("n", F.count(F.lit(1)).over(wp))
        .withColumn("s", F.sum("c").over(wp))
        .withColumn("d", F.col("n") * F.col("c") - F.col("s"))
        .withColumn("den", F.sum(F.col("d") * F.col("d")).over(wp))
    )
    lagged = d.select(
        "event_type",
        "d",
        "den",
        *[
            F.lag("d", k).over(wo).alias(f"d_lag{k}")
            for k in range(1, max_lag + 1)
        ],
    )
    stacked = lagged.select(
        "event_type",
        "den",
        F.expr(
            "stack("
            + str(max_lag)
            + ", "
            + ", ".join(
                f"{k}L, d * d_lag{k}" for k in range(1, max_lag + 1)
            )
            + ") AS (lag, prod)"
        ),
    )
    agg = stacked.groupBy("event_type", "lag").agg(
        F.sum("prod").alias("num"),
        F.count("prod").cast("long").alias("n_pairs"),
        F.max("den").alias("den"),
    )
    # trunc-toward-zero division, identical in both engines: the
    # sign splits off, the magnitudes are non-negative so div == //
    return agg.select(
        "event_type",
        "lag",
        "n_pairs",
        F.expr(
            "CAST(CASE WHEN den = 0 THEN NULL "
            "WHEN num >= 0 THEN (num * 1000000) div den "
            "ELSE -((-num * 1000000) div den) END AS BIGINT)"
        ).alias("acf_micro"),
    )


def acf_by_series_oracle() -> str:
    lag_exprs = ", ".join(
        f"lag(d, {k}) OVER (PARTITION BY event_type ORDER BY h_ms)"
        f" AS d_lag{k}"
        for k in range(1, ACF_MAX_LAG + 1)
    )
    unions = " UNION ALL ".join(
        f"SELECT event_type, den, CAST({k} AS BIGINT) AS lag,"
        f" d * d_lag{k} AS prod FROM lagged"
        for k in range(1, ACF_MAX_LAG + 1)
    )
    return f"""
        WITH hourly AS (
            SELECT event_type,
                   epoch_ms(date_trunc('hour', ts)) AS h_ms,
                   sum(CAST(round(value * 100) AS HUGEINT)) AS c
            FROM events GROUP BY 1, 2
        ),
        centered AS (
            SELECT event_type, h_ms,
                   count(*) OVER (PARTITION BY event_type) * c
                   - sum(c) OVER (PARTITION BY event_type) AS d
            FROM hourly
        ),
        withden AS (
            SELECT event_type, h_ms, d,
                   sum(d * d) OVER (PARTITION BY event_type) AS den
            FROM centered
        ),
        lagged AS (
            SELECT event_type, h_ms, d, den, {lag_exprs}
            FROM withden
        ),
        stacked AS ({unions})
        SELECT event_type, lag,
               CAST(count(prod) AS BIGINT) AS n_pairs,
               CAST(CASE WHEN max(den) = 0 THEN NULL
                         WHEN sum(prod) >= 0
                         THEN (sum(prod) * 1000000) // max(den)
                         ELSE -((-sum(prod) * 1000000) // max(den))
                    END AS BIGINT) AS acf_micro
        FROM stacked
        GROUP BY 1, 2
    """


CCF_MAX_LAG = 3
HOUR_MS = 3_600_000


def ccf_by_series(events: DataFrame) -> DataFrame:
    """Sample cross-correlation between every ordered pair of
    event_type hourly series at lags −``CCF_MAX_LAG``..``CCF_MAX_LAG`` — the
    lead/lag detector completing the ACF family (X12x measures a
    series against itself; this measures series against each other:
    "does type A's spend move 2 hours ahead of type B's?").

    At lag k the pairing is x_t with y_{t−k} over the hours where
    BOTH buckets occur (the co-occurring-buckets convention — the
    cross-series analogue of ACF's observed-sequence convention;
    both engines apply it identically via the same equi-join).
    Positive k pairs x's present with y's PAST (y leads x); negative
    k pairs x's present with y's future (x leads y) — pinned by the
    shifted-copy pytest.

    Exactness follows the q_corr_stats discipline: the five moments
    (n, Σx, Σy, Σxy, Σx², Σy²) accumulate as exact DECIMAL(38,0)
    integers over hourly cents (order-independent — c ≈ 10⁹ cents
    per bucket keeps n·Σxy ≈ 10⁴·10²² well inside 38 digits), and
    Pearson r is ONE deterministic double expression at the end:
    num and the two variance terms are computed EXACTLY in decimal,
    cast to double once (a single IEEE rounding, identical for
    Spark DECIMAL and DuckDB HUGEINT), then divided and rounded to
    6. Zero variance on either side → NULL via an explicit branch
    (portable; double x/0 is Inf/NaN in both engines, never NULL).

    Plan: the shared hourly pre-aggregate (map-side partials) bounds
    each series to its HOUR count regardless of event volume; the x
    side explodes ×(2·CCF_MAX_LAG+1) shifted hours (array transform, no
    shuffle), then ONE equi-join on the shifted hour key against the
    y side (hour keys are dense and bounded — never skewed), and one
    (et_x, et_y, lag) aggregate. No per-lag join, no window over a
    global sort."""
    hourly = hourly_cents_series(events)
    lags = list(range(-CCF_MAX_LAG, CCF_MAX_LAG + 1))
    x = hourly.select(
        F.col("event_type").alias("et_x"),
        F.col("c").alias("cx"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("long").alias("lag"),
                        (F.col("h_ms") - F.lit(k * HOUR_MS)).alias(
                            "h_y"
                        ),
                    )
                    for k in lags
                ]
            )
        ).alias("kk"),
    ).select("et_x", "cx", F.col("kk.lag").alias("lag"), F.col("kk.h_y").alias("h_y"))
    y = hourly.select(
        F.col("event_type").alias("et_y"),
        F.col("h_ms").alias("h_y"),
        F.col("c").alias("cy"),
    )
    m = (
        x.join(y, "h_y")
        .where(F.col("et_x") < F.col("et_y"))
        .groupBy("et_x", "et_y", "lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("cx").alias("sx"),
            F.sum("cy").alias("sy"),
            F.sum(F.col("cx") * F.col("cy")).alias("sxy"),
            F.sum(F.col("cx") * F.col("cx")).alias("sxx"),
            F.sum(F.col("cy") * F.col("cy")).alias("syy"),
        )
    )
    return m.select(
        "et_x",
        "et_y",
        "lag",
        "n_pairs",
        F.expr(
            "CASE WHEN n_pairs * sxx - sx * sx = 0"
            "       OR n_pairs * syy - sy * sy = 0 THEN NULL"
            " ELSE round("
            "   CAST(n_pairs * sxy - sx * sy AS DOUBLE) /"
            "   (sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)) *"
            "    sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE))), 6)"
            " END"
        ).alias("ccf_r"),
    )


def ccf_by_series_oracle() -> str:
    return f"""
        WITH hourly AS (
            SELECT event_type,
                   epoch_ms(date_trunc('hour', ts)) AS h_ms,
                   sum(CAST(round(value * 100) AS HUGEINT)) AS c
            FROM events GROUP BY 1, 2
        ),
        lags AS (
            SELECT CAST(k AS BIGINT) AS lag
            FROM UNNEST(range(-{CCF_MAX_LAG}, {CCF_MAX_LAG + 1})) AS t(k)
        ),
        x AS (
            SELECT event_type AS et_x, c AS cx, lag,
                   h_ms - lag * {HOUR_MS} AS h_y
            FROM hourly CROSS JOIN lags
        ),
        m AS (
            SELECT et_x, y.event_type AS et_y, lag,
                   count(*) AS n_pairs,
                   sum(cx) AS sx, sum(y.c) AS sy,
                   sum(cx * y.c) AS sxy,
                   sum(cx * cx) AS sxx, sum(y.c * y.c) AS syy
            FROM x JOIN hourly y ON x.h_y = y.h_ms
            WHERE et_x < y.event_type
            GROUP BY 1, 2, 3
        )
        SELECT et_x, et_y, lag, CAST(n_pairs AS BIGINT) AS n_pairs,
               CASE WHEN n_pairs * sxx - sx * sx = 0
                      OR n_pairs * syy - sy * sy = 0 THEN NULL
                    ELSE round(
                      CAST(n_pairs * sxy - sx * sy AS DOUBLE) /
                      (sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)) *
                       sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE))), 6)
               END AS ccf_r
        FROM m
    """


def theil_sen_trend(events: DataFrame) -> DataFrame:
    """Theil-Sen robust trend per event_type hourly series: the
    MEDIAN of all pairwise slopes (Δcents/Δhours over every hour
    pair i<j) — the classic outlier-robust alternative to
    least-squares trend (up to ~29% contamination tolerance),
    completing the TSDB robustness family beside the MAD anomaly
    gate and CUSUM: q_revenue_forecast's least-squares slope moves
    with one corrupted bucket, this doesn't.

    Determinism follows the q_corr_stats discipline: Δc and Δt are
    exact integers (hourly cents; hour-truncated epoch-ms divide
    exactly by 3,600,000), each slope is ONE double division of
    exactly-representable integers (IEEE correctly rounded —
    bit-identical in both engines), the median picks the middle
    element(s) by rank (even count: mean of the two middle doubles,
    again one deterministic expression), rounded to 6 at the end.

    Plan: the shared hourly pre-aggregate bounds each series to its
    HOUR count; the pair self-join is an equi-join on event_type
    (series-local pairs — the join exchange is reused by the rank
    window and the final filter, so the operator is two shuffles).
    Pair count is hours²/2 per series — bounded by the TIME RANGE,
    never by event volume (a year of hours is 8.8k → 38M pairs per
    series, a shuffle not a wall); for longer horizons the
    documented production valve is windowed Theil-Sen (trend per
    retention window), not a silent subsample."""
    hourly = hourly_cents_series(events)
    a = hourly.select(
        "event_type",
        F.col("h_ms").alias("h_a"),
        F.col("c").alias("c_a"),
    )
    b = hourly.select(
        "event_type",
        F.col("h_ms").alias("h_b"),
        F.col("c").alias("c_b"),
    )
    pairs = (
        a.join(b, "event_type")
        .where(F.col("h_a") < F.col("h_b"))
        .select(
            "event_type",
            "h_a",
            "h_b",
            F.expr(
                "CAST(c_b - c_a AS DOUBLE) /"
                " CAST((h_b - h_a) div 3600000 AS DOUBLE)"
            ).alias("slope"),
        )
    )
    return theil_sen_median(pairs)


def theil_sen_median(pairs: DataFrame) -> DataFrame:
    """Rank-selected per-series median over a
    (event_type, h_a, h_b, slope) pair frame — shared by the batch
    operator and the streaming twin's append-only pair store so the
    median convention (deterministic (slope, h_a, h_b) order; even
    count: mean of the two middle doubles; one end round) can never
    fork between them."""
    wp = Window.partitionBy("event_type")
    wo = wp.orderBy("slope", "h_a", "h_b")
    ranked = pairs.withColumn("n", F.count(F.lit(1)).over(wp)).withColumn(
        "rn", F.row_number().over(wo)
    )
    # odd n: the (n+1)/2-th slope; even n: mean of the n/2-th and
    # (n/2+1)-th — one filter + avg so both parities share the
    # aggregate (avg of ONE element is that element)
    mid = ranked.where(
        F.expr(
            "IF(n % 2 = 1, rn * 2 = n + 1,"
            " rn * 2 = n OR rn * 2 = n + 2)"
        )
    )
    return (
        mid.groupBy("event_type")
        .agg(
            F.max("n").alias("n_pairs"),
            F.round(F.avg("slope"), 6).alias("slope_cents_per_hour"),
        )
        .select("event_type", "n_pairs", "slope_cents_per_hour")
    )


def theil_sen_trend_oracle() -> str:
    return """
        WITH hourly AS (
            SELECT event_type,
                   epoch_ms(date_trunc('hour', ts)) AS h_ms,
                   sum(CAST(round(value * 100) AS HUGEINT)) AS c
            FROM events GROUP BY 1, 2
        ),
        pairs AS (
            SELECT a.event_type, a.h_ms AS h_a, b.h_ms AS h_b,
                   CAST(b.c - a.c AS DOUBLE) /
                   CAST((b.h_ms - a.h_ms) // 3600000 AS DOUBLE)
                       AS slope
            FROM hourly a JOIN hourly b
              ON a.event_type = b.event_type AND a.h_ms < b.h_ms
        ),
        ranked AS (
            SELECT event_type, slope,
                   count(*) OVER (PARTITION BY event_type) AS n,
                   row_number() OVER (
                       PARTITION BY event_type
                       ORDER BY slope, h_a, h_b) AS rn
            FROM pairs
        )
        SELECT event_type, CAST(max(n) AS BIGINT) AS n_pairs,
               round(avg(slope), 6) AS slope_cents_per_hour
        FROM ranked
        WHERE CASE WHEN n % 2 = 1 THEN rn * 2 = n + 1
                   ELSE rn * 2 = n OR rn * 2 = n + 2 END
        GROUP BY event_type
    """


TS_WINDOW_HOURS = 24


def theil_sen_trend_windowed(
    events: DataFrame, window_hours: int = TS_WINDOW_HOURS
) -> DataFrame:
    """Windowed Theil-Sen trend per event_type hourly series: the
    median of pairwise slopes restricted to hour pairs at most
    `window_hours` apart — the standard long-horizon valve for the
    full estimator (VERDICT r15 item 3): q_theil_sen's all-pairs
    count grows with the TIME RANGE squared (~38M pairs/series on a
    year of hours), while the windowed form is hours × W — linear in
    the range, so a year at W=24 is ~210k pairs/series. Same
    robustness rationale (median of slopes), same determinism
    discipline as theil_sen_trend: each slope is one double division
    of exact integers, the median is rank-selected via the shared
    theil_sen_median.

    Plan shape mirrors ccf_by_series, NOT the h_a < h_b theta join:
    each bucket explodes its W candidate partner hours MAP-SIDE
    (sequence + transform — whole-stage codegen, no shuffle), then
    ONE equi-join on (event_type, h_b) keeps exactly the existing
    buckets within the window. A theta join (h_b BETWEEN h_a+1 AND
    h_a+W) would fall to a broadcast-nested-loop at scale; the
    enumeration keeps it a hash join whose build side is the hourly
    pre-agg — bounded by hour counts regardless of event volume."""
    hourly = hourly_cents_series(events)
    x = hourly.select(
        "event_type",
        F.col("h_ms").alias("h_a"),
        F.col("c").alias("c_a"),
        F.explode(
            F.expr(
                f"transform(sequence(1, {int(window_hours)}),"
                f" k -> h_ms + CAST(k AS BIGINT) * {HOUR_MS})"
            )
        ).alias("h_b"),
    )
    b = hourly.select(
        "event_type",
        F.col("h_ms").alias("h_b"),
        F.col("c").alias("c_b"),
    )
    pairs = x.join(b, ["event_type", "h_b"]).select(
        "event_type",
        "h_a",
        "h_b",
        F.expr(
            "CAST(c_b - c_a AS DOUBLE) /"
            " CAST((h_b - h_a) div 3600000 AS DOUBLE)"
        ).alias("slope"),
    )
    return theil_sen_median(pairs)


def theil_sen_trend_windowed_oracle() -> str:
    return f"""
        WITH hourly AS (
            SELECT event_type,
                   epoch_ms(date_trunc('hour', ts)) AS h_ms,
                   sum(CAST(round(value * 100) AS HUGEINT)) AS c
            FROM events GROUP BY 1, 2
        ),
        pairs AS (
            SELECT a.event_type, a.h_ms AS h_a, b.h_ms AS h_b,
                   CAST(b.c - a.c AS DOUBLE) /
                   CAST((b.h_ms - a.h_ms) // 3600000 AS DOUBLE)
                       AS slope
            FROM hourly a JOIN hourly b
              ON a.event_type = b.event_type
             AND b.h_ms > a.h_ms
             AND b.h_ms <= a.h_ms + {int(TS_WINDOW_HOURS)} * {HOUR_MS}
        ),
        ranked AS (
            SELECT event_type, slope,
                   count(*) OVER (PARTITION BY event_type) AS n,
                   row_number() OVER (
                       PARTITION BY event_type
                       ORDER BY slope, h_a, h_b) AS rn
            FROM pairs
        )
        SELECT event_type, CAST(max(n) AS BIGINT) AS n_pairs,
               round(avg(slope), 6) AS slope_cents_per_hour
        FROM ranked
        WHERE CASE WHEN n % 2 = 1 THEN rn * 2 = n + 1
                   ELSE rn * 2 = n OR rn * 2 = n + 2 END
        GROUP BY event_type
    """


def theil_sen_windowed_scaling_stats(events: DataFrame) -> dict:
    """Pair-count evidence for the windowed-vs-full claim (VERDICT
    r15 item 3's sweep row): per run, the hour-bucket count, the
    FULL estimator's pair count (Σ n_h·(n_h−1)/2 per series) and the
    WINDOWED pair count actually joined — the sweep shows the latter
    bounded by hours × W while the former grows quadratically."""
    hourly = hourly_cents_series(events)
    per = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours")
    )
    full_pairs = per.select(
        F.sum(
            (F.col("n_hours") * (F.col("n_hours") - 1) / 2).cast("long")
        ).alias("p")
    ).collect()[0]["p"]
    # n_pairs per series is already in the result
    windowed_pairs = theil_sen_trend_windowed(events)
    w = windowed_pairs.agg(F.sum("n_pairs").alias("p")).collect()[0]["p"]
    n_hours = hourly.count()
    return {
        "window_hours": int(TS_WINDOW_HOURS),
        "n_hour_buckets": int(n_hours),
        "full_pairs": int(full_pairs or 0),
        "windowed_pairs": int(w or 0),
    }


# Classical additive seasonal decomposition: period = 24 hourly
# buckets (the daily cycle of the reference's sensor domain —
# ingestion/KafkaStreamsAggregator.java:103-105 materializes hourly
# windows; decomposition is the standard diagnostic one layer up).
SEASONAL_PERIOD = 24


def seasonal_decompose(events: DataFrame) -> DataFrame:
    """Classical additive decomposition of each event_type's hourly
    cents series (Box-Jenkins "classical decomposition", period 24):
    trend via the standard 2x24 centered moving average, seasonal
    index per hour-of-day as the mean of the detrended values, and
    the remainder's mean square — all on the integer lattice.

    Float-free construction (the acf_by_series discipline): with
    hourly cents c_j over the observed-sequence rows of a series,
    the 2xm MA at center j scales by 2m to stay integral:

        trend48_j = c_{j-12} + c_{j+12} + 2*sum(c_{j-11}..c_{j+11})
        dt_j      = 48*c_j - trend48_j          (detrended, x48)

    defined only on FULL 25-row windows (count == 2m+1), exactly as
    the textbook estimator drops m edge points per side. Hour-of-day
    is (h_ms div 3600000) % 24 — pure epoch integer arithmetic,
    timezone-free in both engines. Per (series, hod) the additive
    moments (n, s1 = sum dt, s2 = sum dt^2) determine both outputs:

        seasonal_milli = trunc(s1*1000 / (n*48))   (milli-cents,
                         sign-split so div == // on negatives)
        msr_cents2     = (n*s2 - s1^2) div (2304*n^2)
                         (mean-square remainder about the hod mean,
                         cents^2; non-negative by Cauchy-Schwarz so
                         trunc == floor)

    The seasonal indices are the per-hod detrended means, reported
    uncentered (grand-mean centering is a presentation-time constant
    shift; both engines apply the identical definition). The moment
    identity n^2*sum((dt - s1/n)^2) = n^2*s2 - n*s1^2 is what makes
    the remainder leg derivable from (n, s1, s2) alone — the same
    sufficient statistics the streaming twin maintains additively.

    Plan: one hourly pre-aggregate (map-side partials) bounds the
    series to its hour count regardless of event volume, then ONE
    hash partition per event_type feeds the count guard, the MA
    windows and the lag/lead — Spark reuses the Exchange — and the
    final (event_type, hod) groupBy is a partial-aggregated shuffle
    on 24 keys per series. No self-join, no global sort; the d
    products run in DECIMAL(38,0) (dt ~ 48*c ~ 1e10 at sf0.1,
    dt^2*rows ~ 1e23 << 1e38)."""
    half = SEASONAL_PERIOD // 2  # 12
    full = SEASONAL_PERIOD + 1  # 25-row full window
    hourly = hourly_cents_series(events)
    wo = Window.partitionBy("event_type").orderBy("h_ms")
    w_inner = wo.rowsBetween(-(half - 1), half - 1)
    w_full = wo.rowsBetween(-half, half)
    win = (
        hourly.withColumn("cnt", F.count(F.lit(1)).over(w_full))
        .withColumn(
            "trend48",
            F.lag("c", half).over(wo)
            + F.lead("c", half).over(wo)
            + F.lit(2) * F.sum("c").over(w_inner),
        )
        .where(F.col("cnt") == full)
    )
    dt = win.select(
        "event_type",
        F.expr(
            "CAST((h_ms div 3600000) % 24 AS BIGINT)"
        ).alias("hod"),
        (F.lit(2 * SEASONAL_PERIOD) * F.col("c") - F.col("trend48")).alias("dt"),
    )
    agg = dt.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("dt").alias("s1"),
        F.sum(F.col("dt") * F.col("dt")).alias("s2"),
    )
    scale = 2 * SEASONAL_PERIOD  # 48
    sq = scale * scale  # 2304
    return agg.select(
        "event_type",
        "hod",
        F.col("n").alias("n_obs"),
        F.expr(
            "CAST(CASE WHEN s1 >= 0 THEN (s1 * 1000) div (n * "
            f"{scale}) ELSE -((-s1 * 1000) div (n * {scale})) END "
            "AS BIGINT)"
        ).alias("seasonal_milli"),
        F.expr(
            f"CAST((n * s2 - s1 * s1) div ({sq} * n * n) AS BIGINT)"
        ).alias("msr_cents2"),
    )


def seasonal_decompose_oracle() -> str:
    half = SEASONAL_PERIOD // 2
    full = SEASONAL_PERIOD + 1
    scale = 2 * SEASONAL_PERIOD
    sq = scale * scale
    return f"""
        WITH hourly AS (
            SELECT event_type,
                   epoch_ms(date_trunc('hour', ts)) AS h_ms,
                   sum(CAST(round(value * 100) AS HUGEINT)) AS c
            FROM events GROUP BY 1, 2
        ),
        win AS (
            SELECT event_type, h_ms, c,
                   count(*) OVER w_full AS cnt,
                   lag(c, {half}) OVER wo + lead(c, {half}) OVER wo
                     + 2 * sum(c) OVER w_inner AS trend48
            FROM hourly
            WINDOW wo AS (PARTITION BY event_type ORDER BY h_ms),
                   w_inner AS (PARTITION BY event_type ORDER BY h_ms
                       ROWS BETWEEN {half - 1} PRECEDING
                                AND {half - 1} FOLLOWING),
                   w_full AS (PARTITION BY event_type ORDER BY h_ms
                       ROWS BETWEEN {half} PRECEDING
                                AND {half} FOLLOWING)
        ),
        dt AS (
            SELECT event_type,
                   CAST((h_ms // 3600000) % 24 AS BIGINT) AS hod,
                   {scale} * c - trend48 AS dt
            FROM win WHERE cnt = {full}
        ),
        agg AS (
            SELECT event_type, hod, count(*) AS n,
                   sum(dt) AS s1, sum(dt * dt) AS s2
            FROM dt GROUP BY 1, 2
        )
        SELECT event_type, hod, CAST(n AS BIGINT) AS n_obs,
               CAST(CASE WHEN s1 >= 0 THEN (s1 * 1000) // (n * {scale})
                         ELSE -((-s1 * 1000) // (n * {scale}))
                    END AS BIGINT) AS seasonal_milli,
               CAST((n * s2 - s1 * s1) // ({sq} * n * n)
                    AS BIGINT) AS msr_cents2
        FROM agg
    """


def changepoint_amoc(events: DataFrame) -> DataFrame:
    """At-most-one-changepoint (AMOC) detection per event_type
    hourly series: the classic offline CUSUM estimator — the split
    point maximizing the absolute centered cumulative sum (Page's
    statistic; binary segmentation's first step). Complements the
    STREAMING CUSUM alarms (cusum_alarms): that one answers "did the
    level just shift?", this one answers "where in the history did
    the level shift, and by how much?".

    Float-free: with n rows, total S and prefix sums P_j, the
    centered cusum scales by n to stay integral:

        stat_j = n*P_j - j*S     (j = 1..n-1; stat_n == 0 trivially)

    The changepoint is argmax |stat_j| with the EARLIEST hour as the
    deterministic tie-break. Reported alongside: the exact segment
    means as sign-split trunc milli-cents (before = P_j/j, after =
    (S-P_j)/(n-j)) so the detected shift's direction and size ride
    in the certified hash, not just the location. Products run in
    DECIMAL(38,0) (n*P ~ 1e13 at sf0.1), outputs cast BIGINT.

    Plan: hourly pre-agg (map-side partials) then ONE series-keyed
    Exchange reused by the count/total windows, the ordered prefix
    window, and the argmax row_number — the acf_by_series shape:
    two shuffles total, no join, no Python, series-parallel at any
    scale."""
    hourly = hourly_cents_series(events)
    wp = Window.partitionBy("event_type")
    wo = wp.orderBy("h_ms")
    wcum = wo.rowsBetween(Window.unboundedPreceding, 0)
    scored = (
        hourly.withColumn("n", F.count(F.lit(1)).over(wp))
        .withColumn("s", F.sum("c").over(wp))
        .withColumn("j", F.row_number().over(wo))
        .withColumn("p", F.sum("c").over(wcum))
        .where(F.col("j") < F.col("n"))
        .withColumn(
            "stat", F.col("n") * F.col("p") - F.col("j") * F.col("s")
        )
    )
    ranked = scored.withColumn(
        "rn",
        F.row_number().over(
            wp.orderBy(F.abs(F.col("stat")).desc(), F.col("h_ms"))
        ),
    ).where(F.col("rn") == 1)
    return ranked.select(
        "event_type",
        F.col("h_ms").alias("cp_h_ms"),
        F.col("n").cast("long").alias("n_hours"),
        F.abs(F.col("stat")).cast("long").alias("cusum_abs"),
        F.expr(
            "CAST(CASE WHEN p >= 0 THEN (p * 1000) div j "
            "ELSE -((-p * 1000) div j) END AS BIGINT)"
        ).alias("mean_before_milli"),
        F.expr(
            "CAST(CASE WHEN s - p >= 0 THEN ((s - p) * 1000) div (n - j) "
            "ELSE -((-(s - p) * 1000) div (n - j)) END AS BIGINT)"
        ).alias("mean_after_milli"),
    )


def changepoint_amoc_oracle() -> str:
    return """
        WITH hourly AS (
            SELECT event_type,
                   epoch_ms(date_trunc('hour', ts)) AS h_ms,
                   sum(CAST(round(value * 100) AS HUGEINT)) AS c
            FROM events GROUP BY 1, 2
        ),
        scored AS (
            SELECT event_type, h_ms,
                   count(*) OVER wp AS n,
                   sum(c) OVER wp AS s,
                   row_number() OVER wo AS j,
                   sum(c) OVER wcum AS p
            FROM hourly
            WINDOW wp AS (PARTITION BY event_type),
                   wo AS (PARTITION BY event_type ORDER BY h_ms),
                   wcum AS (PARTITION BY event_type ORDER BY h_ms
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW)
        ),
        stats AS (
            SELECT event_type, h_ms, n, s, j, p,
                   n * p - j * s AS stat
            FROM scored WHERE j < n
        ),
        ranked AS (
            SELECT *, row_number() OVER (
                       PARTITION BY event_type
                       ORDER BY abs(stat) DESC, h_ms) AS rn
            FROM stats
        )
        SELECT event_type, h_ms AS cp_h_ms,
               CAST(n AS BIGINT) AS n_hours,
               CAST(abs(stat) AS BIGINT) AS cusum_abs,
               CAST(CASE WHEN p >= 0 THEN (p * 1000) // j
                         ELSE -((-p * 1000) // j)
                    END AS BIGINT) AS mean_before_milli,
               CAST(CASE WHEN s - p >= 0
                         THEN ((s - p) * 1000) // (n - j)
                         ELSE -((-(s - p) * 1000) // (n - j))
                    END AS BIGINT) AS mean_after_milli
        FROM ranked WHERE rn = 1
    """


# Truncated dyadic EWMA: alpha = 1/2, window W = 16 terms. At k = 16
# the dyadic weight is 2^-16 ~ 1.5e-5 — below the milli-cent output
# lattice for any realistic cents magnitude, so the truncation is the
# documented exactness valve, not an approximation knob: it is what
# makes the smoother EXACT on an integer lattice (the untruncated
# recurrence needs unbounded denominators 2^j).
EWMA_W = 16


def ewma_by_series(events: DataFrame) -> DataFrame:
    """Exponentially weighted moving average of each event_type's
    hourly cents series — alpha = 1/2, truncated at W = 16 dyadic
    terms and renormalized over the terms PRESENT, so the smoother
    is exact from the series' very first row (no spin-up NULLs, no
    biased zero-padding):

        m_j   = min(j, W)                     (terms available)
        num_j = sum_{k=0..m-1} c_{j-k} * 2^(W-1-k)
        den_j = 2^W - 2^(W-m)                 (= sum of the weights)
        ewma_milli_j = trunc(1000 * num_j / den_j)   (sign-split)

    Every quantity is integral: the weights are powers of two, the
    renormalizing denominator is a difference of powers of two, and
    the single division is the sign-split trunc the whole timeseries
    family uses (div == // on the magnitudes). The W lag terms
    unpivot per-row exactly like acf_by_series' lags — missing lags
    at the series head are simply absent terms (coalesce 0), which
    the shrinking den_j accounts for exactly.

    Plan: hourly pre-agg then ONE series-keyed Exchange feeding all
    W lag windows and the row_number — the ACF shape: two shuffles,
    no join, no Python; per-row work is a W-term integer dot product
    in whole-stage codegen."""
    hourly = hourly_cents_series(events)
    wo = Window.partitionBy("event_type").orderBy("h_ms")
    lagged = hourly.withColumn("j", F.row_number().over(wo))
    num = F.col("c").cast("decimal(38,0)") * F.lit(1 << (EWMA_W - 1))
    for k in range(1, EWMA_W):
        lagged = lagged.withColumn(
            f"l{k}", F.lag("c", k).over(wo)
        )
        num = num + F.coalesce(
            F.col(f"l{k}").cast("decimal(38,0)"), F.lit(0)
        ) * F.lit(1 << (EWMA_W - 1 - k))
    out = (
        lagged.withColumn("num", num)
        .withColumn(
            "den",
            F.expr(
                f"{1 << EWMA_W} - shiftleft(1L, {EWMA_W} - least(j, {EWMA_W}))"
            ),
        )
        .select(
            "event_type",
            "h_ms",
            F.expr(
                "CAST(CASE WHEN num >= 0 THEN (num * 1000) div den "
                "ELSE -((-num * 1000) div den) END AS BIGINT)"
            ).alias("ewma_milli"),
        )
    )
    return out


def ewma_by_series_oracle() -> str:
    terms = [f"c * {1 << (EWMA_W - 1)}"]
    for k in range(1, EWMA_W):
        terms.append(
            f"COALESCE(lag(c, {k}) OVER wo, 0) * {1 << (EWMA_W - 1 - k)}"
        )
    num = " + ".join(terms)
    return f"""
        WITH hourly AS (
            SELECT event_type,
                   epoch_ms(date_trunc('hour', ts)) AS h_ms,
                   sum(CAST(round(value * 100) AS HUGEINT)) AS c
            FROM events GROUP BY 1, 2
        ),
        lagged AS (
            SELECT event_type, h_ms,
                   {num} AS num,
                   {1 << EWMA_W} - (1 << ({EWMA_W} - least(
                       row_number() OVER wo, {EWMA_W}))) AS den
            FROM hourly
            WINDOW wo AS (PARTITION BY event_type ORDER BY h_ms)
        )
        SELECT event_type, h_ms,
               CAST(CASE WHEN num >= 0 THEN (num * 1000) // den
                         ELSE -((-num * 1000) // den)
                    END AS BIGINT) AS ewma_milli
        FROM lagged
    """


def seasonal_naive_backtest(events: DataFrame) -> DataFrame:
    """Forecast backtest per event_type hourly series: the
    seasonal-naive forecaster (ŷ_t = y_{t−24}) evaluated against the
    one-step naive baseline (ŷ_t = y_{t−1}) over every row where
    BOTH lags exist (row position > ``SEASONAL_PERIOD``, observed-sequence
    convention), reported as exact integer MAEs and their
    MASE-style ratio (Hyndman & Koehler 2006 — the scale-free "is
    the daily cycle worth exploiting?" answer; ratio < 1000 milli
    means the seasonal forecaster beats the naive baseline):

        mae_seasonal_num = Σ |c_t − c_{t−24}|      (integer cents·n)
        mae_naive_num    = Σ |c_t − c_{t−1}|
        mase_milli       = (mae_seasonal_num · 1000)
                             div mae_naive_num     (NULL when the
                             naive error is 0 — a constant series
                             makes the ratio undefined, explicit
                             branch exactly as acf's den = 0)

    Both MAEs share ONE eval set, so the counts cancel and the
    ratio needs no division by n — everything stays integral; the
    only division is the final sign-free trunc (both numerators are
    non-negative, so div == //).

    Plan: hourly pre-agg + ONE series-keyed Exchange feeding both
    lag windows and the final per-series aggregate — the ACF shape;
    two shuffles, no join."""
    hourly = hourly_cents_series(events)
    wo = Window.partitionBy("event_type").orderBy("h_ms")
    lagged = (
        hourly.withColumn("l1", F.lag("c", 1).over(wo))
        .withColumn("lp", F.lag("c", SEASONAL_PERIOD).over(wo))
        .where(F.col("lp").isNotNull())
    )
    agg = lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_eval"),
        F.sum(F.abs(F.col("c") - F.col("lp"))).alias("mae_s"),
        F.sum(F.abs(F.col("c") - F.col("l1"))).alias("mae_n"),
    )
    return agg.select(
        "event_type",
        "n_eval",
        F.col("mae_s").cast("long").alias("mae_seasonal_num"),
        F.col("mae_n").cast("long").alias("mae_naive_num"),
        F.expr(
            "CAST(CASE WHEN mae_n = 0 THEN NULL "
            "ELSE (mae_s * 1000) div mae_n END AS BIGINT)"
        ).alias("mase_milli"),
    )


def seasonal_naive_backtest_oracle() -> str:
    return f"""
        WITH hourly AS (
            SELECT event_type,
                   epoch_ms(date_trunc('hour', ts)) AS h_ms,
                   sum(CAST(round(value * 100) AS HUGEINT)) AS c
            FROM events GROUP BY 1, 2
        ),
        lagged AS (
            SELECT event_type, c,
                   lag(c, 1) OVER wo AS l1,
                   lag(c, {SEASONAL_PERIOD}) OVER wo AS lp
            FROM hourly
            WINDOW wo AS (PARTITION BY event_type ORDER BY h_ms)
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_eval,
               CAST(sum(abs(c - lp)) AS BIGINT) AS mae_seasonal_num,
               CAST(sum(abs(c - l1)) AS BIGINT) AS mae_naive_num,
               CAST(CASE WHEN sum(abs(c - l1)) = 0 THEN NULL
                         ELSE (sum(abs(c - lp)) * 1000)
                              // sum(abs(c - l1))
                    END AS BIGINT) AS mase_milli
        FROM lagged WHERE lp IS NOT NULL
        GROUP BY event_type
    """
