"""Unit tests for the round-11 TSDB serving + retrieval-fusion batch:
constructed-frame semantics for counter_rate / time_weighted_avg /
ohlc_bars / mad_outliers, plus rrf_fusion and keyword_extract
ordering contracts.
"""

from __future__ import annotations

import datetime as dt

from kafka_streams_pipeline_spark.operators.text import keyword_extract
from kafka_streams_pipeline_spark.operators.similarity import rrf_fusion
from kafka_streams_pipeline_spark.operators.timeseries import (
    RESET_MOD_CENTS,
    counter_rate,
    mad_outliers,
    ohlc_bars,
    time_weighted_avg,
)


def _events(spark, rows):
    """rows: (event_id, user_id, iso_ts, value) → events-shaped frame."""
    return spark.createDataFrame(
        [
            (eid, dt.datetime.fromisoformat(ts), uid, "click", val, "{}")
            for (eid, uid, ts, val) in rows
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )


def test_counter_rate_reset_fold(spark):
    # One user; cents cumsum = 100, 300, 600 → all below the modulus,
    # counter == cumsum, steps are the raw deltas, no resets.
    e = _events(
        spark,
        [
            (1, 7, "2024-01-01T00:00:00", 1.00),
            (2, 7, "2024-01-01T00:01:00", 2.00),
            (3, 7, "2024-01-01T00:02:00", 3.00),
        ],
    )
    row = counter_rate(e).collect()[0]
    assert row.n_samples == 3 and row.n_resets == 0
    # steps: first sample contributes 0, then 200, 300
    assert row.increase_cents == 500


def test_counter_rate_wrap_counts_reset(spark):
    # Push the cumsum over RESET_MOD_CENTS so the counter wraps once:
    # the fold must count one reset and credit the post-reset value.
    big = (RESET_MOD_CENTS - 100) / 100.0  # cents = MOD-100
    e = _events(
        spark,
        [
            (1, 9, "2024-01-01T00:00:00", big),   # counter = MOD-100
            (2, 9, "2024-01-01T00:01:00", 5.00),  # cumsum = MOD+400 → 400
        ],
    )
    row = counter_rate(e).collect()[0]
    assert row.n_resets == 1
    # first sample 0, then reset → credit counter value 400
    assert row.increase_cents == 400


def test_time_weighted_avg_locf(spark):
    # value 1.00 holds 60 s, value 3.00 holds 30 s, last sample open:
    # twa = (100*60 + 300*30) / 90 / 100 = 1.666667
    e = _events(
        spark,
        [
            (1, 5, "2024-01-01T00:00:00", 1.00),
            (2, 5, "2024-01-01T00:01:00", 3.00),
            (3, 5, "2024-01-01T00:01:30", 9.00),
        ],
    )
    row = time_weighted_avg(e).collect()[0]
    assert row.n_weighted == 2
    assert row.span_us == 90_000_000
    assert row.twa == 1.666667


def test_time_weighted_avg_drops_single_sample_series(spark):
    e = _events(spark, [(1, 5, "2024-01-01T00:00:00", 1.00)])
    assert time_weighted_avg(e).count() == 0


def test_ohlc_open_close_by_time_order(spark):
    # Same hour, deliberately inserted out of event_id order relative
    # to time: open/close must follow (ts, event_id), not insert or
    # id order. high/low are independent of order.
    e = _events(
        spark,
        [
            (10, 1, "2024-01-01T05:50:00", 7.00),   # last → close
            (11, 1, "2024-01-01T05:10:00", 2.00),   # first → open
            (12, 1, "2024-01-01T05:30:00", 9.00),   # high
            (13, 1, "2024-01-01T05:40:00", 1.00),   # low
        ],
    )
    row = ohlc_bars(e).collect()[0]
    assert (row.open_cents, row.high_cents, row.low_cents, row.close_cents) == (
        200,
        900,
        100,
        700,
    )
    assert row.volume == 4


def test_ohlc_event_id_tiebreak_on_equal_ts(spark):
    # Two samples at the identical timestamp: event_id breaks the tie
    # for both open and close.
    e = _events(
        spark,
        [
            (2, 1, "2024-01-01T06:00:00", 5.00),
            (1, 1, "2024-01-01T06:00:00", 3.00),
        ],
    )
    row = ohlc_bars(e).collect()[0]
    assert row.open_cents == 300 and row.close_cents == 500


def test_mad_outliers_integer_gate(spark):
    # 9 inliers at 10.00 and one far point: med = 1000 cents,
    # MAD = 0 → ANY nonzero deviation is an outlier under the strict
    # inequality (20000·dev2 > 0).
    rows = [(i, 1, f"2024-01-01T00:0{i}:00", 10.00) for i in range(9)]
    rows.append((9, 1, "2024-01-01T00:09:30", 99.00))
    row = mad_outliers(_events(spark, rows)).collect()[0]
    assert row.n == 10
    assert row.med2 == 2 * 1000
    assert row.mad4 == 0
    assert row.n_outliers == 1
    assert row.outlier_ppm == 100_000


def test_mad_outliers_symmetric_spread_no_outliers(spark):
    # Uniform 1..5: med=3.00, MAD=1.00 → max dev 2.00 < 4.4478·1.00,
    # so nothing flags.
    rows = [
        (i, 1, f"2024-01-01T00:0{i}:00", float(v))
        for i, v in enumerate([1, 2, 3, 4, 5])
    ]
    row = mad_outliers(_events(spark, rows)).collect()[0]
    assert row.med2 == 600 and row.mad4 == 400
    assert row.n_outliers == 0


def test_rrf_fusion_both_lists_beat_single_list(spark, sf_dir):
    from kafka_streams_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    vecs = load_table(spark, sf_dir, "embeddings")
    out = rrf_fusion(docs, vecs).collect()
    assert len(out) == 10
    # rank is dense 1..10 and score_fp is non-increasing
    assert [r.rank for r in out] == list(range(1, 11))
    scores = [r.score_fp for r in out]
    assert scores == sorted(scores, reverse=True)
    # every fused score is the exact integer recomputation
    for r in out:
        expect = 0
        if r.bm25_rank > 0:
            expect += 1_000_000 // (60 + r.bm25_rank)
        if r.cos_rank > 0:
            expect += 1_000_000 // (60 + r.cos_rank)
        assert r.score_fp == expect
    # a doc present in both lists must outrank one with an equal
    # single-list rank only — verify the top row is double-listed if
    # any double-listed doc exists in the top 10
    if any(r.bm25_rank > 0 and r.cos_rank > 0 for r in out):
        top = out[0]
        assert top.score_fp >= max(
            r.score_fp for r in out if r.bm25_rank == 0 or r.cos_rank == 0
        ) if any(r.bm25_rank == 0 or r.cos_rank == 0 for r in out) else True


def test_keyword_extract_prefers_rare_terms(spark):
    # 3 docs; "rare" appears twice in doc 0 only; "common" appears in
    # all docs. rare: tf=2, df=1 → 2e6 ppm; common tf=3, df=3 → 1e6.
    docs = spark.createDataFrame(
        [
            (0, "rare rare common common common", "en", "s", 30),
            (20, "common x y", "en", "s", 10),
            (40, "common y z", "en", "s", 10),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {
        (r.doc_id, r.rank): (r.term, r.score_ppm)
        for r in keyword_extract(docs).collect()
    }
    assert out[(0, 1)] == ("rare", 2_000_000)
    assert out[(0, 2)] == ("common", 1_000_000)
    # ties broken by term ascending: doc 20 has common(333333), x, y
    # all distinct scores; doc 40's y/z tie at tf=1 df=... y df=2, z df=1
    assert out[(40, 1)][0] == "z"  # df=1 beats df=2 at equal tf


def test_cusum_identity_matches_sequential_fold(spark):
    """The prefix-sum/running-min identity must reproduce the clamped
    recurrence s_i = max(0, s_{i-1} + (x_i − k)) exactly — including
    repeated clamps at zero — on a hand-built series."""
    from kafka_streams_pipeline_spark.operators.timeseries import (
        cusum_alarms,
    )

    vals = [1.0, 9.0, 9.0, 0.5, 0.5, 12.0, 3.0, 0.5, 20.0]
    k_cents, h_cents = 500, 1000  # k=5.00, h=10.00
    rows = [
        (i, 3, f"2024-01-01T00:{i:02d}:00", v) for i, v in enumerate(vals)
    ]
    got = cusum_alarms(
        _events(spark, rows), k_cents=k_cents, h_cents=h_cents
    ).collect()[0]

    s, n_alarms, mx = 0, 0, 0
    for v in vals:
        s = max(0, s + int(round(v * 100)) - k_cents)
        mx = max(mx, s)
        if s > h_cents:
            n_alarms += 1
    assert got.n_samples == len(vals)
    assert got.max_cusum == mx
    assert got.n_alarms == n_alarms
    assert got.ends_in_alarm == (1 if s > h_cents else 0)


def test_cusum_plan_is_single_shuffle(spark, sf_dir):
    from kafka_streams_pipeline_spark.inventory import QUERIES

    df = QUERIES["q_cusum_alarms"](spark, sf_dir)
    je = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = je.explainString(mode)
    assert "Exchange SinglePartition" not in plan, plan
    assert plan.count("Arguments: hashpartitioning") == 1, plan


def test_mad_outliers_approx_invariants(spark, sf_dir):
    """Shipped gates all TRUE, and the exact columns agree with the
    exact twin row-for-row — the certification row is a strict
    superset of q_anomaly_mad plus the invariant bits."""
    from kafka_streams_pipeline_spark.operators.timeseries import (
        mad_outliers,
        mad_outliers_approx,
    )
    from kafka_streams_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    apx = {r["event_type"]: r for r in mad_outliers_approx(ev).collect()}
    exact = {r["event_type"]: r for r in mad_outliers(ev).collect()}
    assert set(apx) == set(exact)
    for et, r in apx.items():
        assert r["med_rank_ok"] and r["mad_rank_ok"] and r["census_close"]
        for col in ("n", "med2", "mad4", "n_outliers", "outlier_ppm"):
            assert r[col] == exact[et][col], (et, col)


def _typed_events(spark, rows):
    """rows: (event_id, user_id, iso_ts, event_type) → events frame."""
    return spark.createDataFrame(
        [
            (eid, dt.datetime.fromisoformat(ts), uid, et, 1.0, "{}")
            for (eid, uid, ts, et) in rows
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )


def test_event_pattern_funnel_gaps_budget_and_greedy(spark):
    from kafka_streams_pipeline_spark.operators.timeseries import (
        event_pattern_funnel,
    )

    # user 1: a x b x c — strict-consecutive fails, skip-gap matches
    # user 2: a b c but the completion exceeds the 10-minute budget
    # user 3: a, b@+1m (whose own c is far), b@+8m, c@+9m — the
    #         greedy chain through the EARLIEST b still completes at
    #         the same minimal time (monotone completion), match
    # user 4: c b a — order wrong, no match
    e = _typed_events(
        spark,
        [
            (10, 1, "2024-01-01T00:00:00", "a"),
            (11, 1, "2024-01-01T00:01:00", "x"),
            (12, 1, "2024-01-01T00:02:00", "b"),
            (13, 1, "2024-01-01T00:03:00", "x"),
            (14, 1, "2024-01-01T00:04:00", "c"),
            (20, 2, "2024-01-01T00:00:00", "a"),
            (21, 2, "2024-01-01T00:01:00", "b"),
            (22, 2, "2024-01-01T00:30:00", "c"),
            (30, 3, "2024-01-01T00:00:00", "a"),
            (31, 3, "2024-01-01T00:01:00", "b"),
            (32, 3, "2024-01-01T00:08:00", "b"),
            (33, 3, "2024-01-01T00:09:00", "c"),
            (40, 4, "2024-01-01T00:00:00", "c"),
            (41, 4, "2024-01-01T00:01:00", "b"),
            (42, 4, "2024-01-01T00:02:00", "a"),
        ],
    )
    got = {
        r["user_id"]: (r["n_matches"], r["first_match_event_id"])
        for r in event_pattern_funnel(
            e, pattern=("a", "b", "c"), within_minutes=10
        ).collect()
    }
    assert got == {1: (1, 10), 3: (1, 30)}


def test_event_pattern_funnel_counts_every_matching_start(spark):
    from kafka_streams_pipeline_spark.operators.timeseries import (
        event_pattern_funnel,
    )

    # two a's share the same b,c completion: both starts count
    # (same every-starting-row convention as the strict twin)
    e = _typed_events(
        spark,
        [
            (1, 7, "2024-01-01T00:00:00", "a"),
            (2, 7, "2024-01-01T00:01:00", "a"),
            (3, 7, "2024-01-01T00:02:00", "b"),
            (4, 7, "2024-01-01T00:03:00", "c"),
        ],
    )
    rows = event_pattern_funnel(
        e, pattern=("a", "b", "c"), within_minutes=10
    ).collect()
    assert len(rows) == 1
    assert (rows[0]["n_matches"], rows[0]["first_match_event_id"]) == (2, 1)


def test_sensor_gaps_census(spark):
    from kafka_streams_pipeline_spark.operators.timeseries import (
        sensor_gaps,
    )

    # user 1: gaps of 2h and 5h around a 1h threshold → 2 gaps,
    # longest 5h opened by event 12; user 2: dense, no gaps
    e = _events(
        spark,
        [
            (10, 1, "2024-01-01T00:00:00", 1.0),
            (11, 1, "2024-01-01T02:00:00", 1.0),
            (12, 1, "2024-01-01T02:30:00", 1.0),
            (13, 1, "2024-01-01T07:30:00", 1.0),
            (20, 2, "2024-01-01T00:00:00", 1.0),
            (21, 2, "2024-01-01T00:30:00", 1.0),
        ],
    )
    rows = {
        r["user_id"]: r
        for r in sensor_gaps(e, threshold_us=3_600_000_000).collect()
    }
    assert set(rows) == {1}
    r = rows[1]
    assert r["n_samples"] == 4 and r["n_gaps"] == 2
    assert r["max_gap_us"] == 5 * 3_600_000_000
    assert r["gap_us_total"] == 7 * 3_600_000_000
    assert r["longest_gap_opens_id"] == 12


def test_binned_percentiles_rank_read(spark):
    from kafka_streams_pipeline_spark.operators.timeseries import (
        binned_percentiles,
    )

    # 20 samples 0.50..10.00 step 0.50 (cents 50..1000); bin width 50
    # → each value its own bin start. p50: rank ceil(0.5*20)=10 →
    # cum*100 >= 50*20 first at the 10th bin = 500; p95: 19th = 950.
    e = _events(
        spark,
        [
            (i, 1, f"2024-01-01T{i // 60:02d}:{i % 60:02d}:00", 0.5 * (i + 1))
            for i in range(20)
        ],
    )
    row = binned_percentiles(e).collect()[0]
    assert row["n"] == 20
    assert row["p50_bin_cents"] == 500
    assert row["p95_bin_cents"] == 950


def test_lttb_keeps_extremes_and_endpoints(spark):
    from kafka_streams_pipeline_spark.operators.timeseries import (
        lttb_downsample,
    )

    # 30 flat samples with one huge spike mid-series: LTTB at 6
    # output points must keep first, last, and the spike (naive
    # striding at this rate would drop it)
    rows = []
    for i in range(30):
        v = 100.0 if i == 17 else 1.0
        rows.append((i, 1, f"2024-01-01T{i // 60:02d}:{i % 60:02d}:00", v))
    out = lttb_downsample(_events(spark, rows), n_out=6).collect()
    assert len(out) == 6
    cents = [r["cents"] for r in sorted(out, key=lambda r: r["sel_order"])]
    assert cents[0] == 100 and cents[-1] == 100  # endpoints
    assert 10000 in cents  # the spike survived
    # short series pass through unchanged
    short = lttb_downsample(
        _events(spark, rows[:4]), n_out=6
    ).collect()
    assert len(short) == 4


def test_lttb_prereduced_bit_identical(spark):
    """The convex-hull pre-reduction must reproduce the plain fold
    EXACTLY — exercised on an adversarial small integer lattice
    (duplicate locations, collinear runs, flat stretches: maximal tie
    pressure on the hull's collinear-retention and min-idx dedup)
    with chunk_size=4 so multi-chunk hull merging genuinely engages."""
    import random

    from kafka_streams_pipeline_spark.operators.timeseries import (
        lttb_downsample,
        lttb_downsample_prereduced,
    )

    rng = random.Random(13)
    rows = []
    eid = 0
    for uid in (1, 2, 3):
        n_pts = rng.choice([3, 25, 60])  # short-series path too
        for i in range(n_pts):
            # lattice values force duplicates/collinearity; repeated
            # timestamps within a second exercise the idx tie-break
            ts_min = i // 3
            rows.append(
                (eid, uid, f"2024-01-01T00:{ts_min:02d}:{(i % 3) * 7:02d}",
                 float(rng.randint(0, 4)))
            )
            eid += 1
    e = _events(spark, rows)
    plain = sorted(
        tuple(r) for r in lttb_downsample(e, n_out=8).collect()
    )
    reduced = sorted(
        tuple(r)
        for r in lttb_downsample_prereduced(e, n_out=8, chunk_size=4).collect()
    )
    assert plain == reduced


def test_lttb_oversized_series_guard_fires(spark):
    """VERDICT r12 item 5: one series is one applyInPandas task, so a
    series above max_points_per_series must fail LOUDLY in the JVM
    stage (assert_true in the count window) instead of OOMing the
    task — and the error must name the operator and the ceiling."""
    import pytest

    from kafka_streams_pipeline_spark.operators.timeseries import (
        lttb_downsample,
    )

    rows = [
        (i, 1, f"2024-01-01T{i // 60:02d}:{i % 60:02d}:00", float(i))
        for i in range(30)
    ]
    with pytest.raises(Exception, match="max_points_per_series"):
        lttb_downsample(
            _events(spark, rows), n_out=6, max_points_per_series=10
        ).collect()
    # at exactly the ceiling the guard stays quiet and the fold output
    # is the normal selection
    ok = lttb_downsample(
        _events(spark, rows), n_out=6, max_points_per_series=30
    ).collect()
    assert len(ok) == 6


def test_linear_attribution_splits_and_windows(spark):
    from kafka_streams_pipeline_spark.operators.timeseries import (
        linear_attribution,
    )

    # user 1: 2 clicks then purchase within 10 min → 500000 each;
    # user 2: click 20 min before purchase → outside budget, no row;
    # user 3: 3 clicks, one purchase → 333333 each (conservation
    # 999999, remainder lost to integer division)
    e = _typed_events(
        spark,
        [
            (1, 1, "2024-01-01T00:00:00", "click"),
            (2, 1, "2024-01-01T00:01:00", "click"),
            (3, 1, "2024-01-01T00:05:00", "purchase"),
            (4, 2, "2024-01-01T00:00:00", "click"),
            (5, 2, "2024-01-01T00:20:00", "purchase"),
            (6, 3, "2024-01-01T00:00:00", "click"),
            (7, 3, "2024-01-01T00:01:00", "click"),
            (8, 3, "2024-01-01T00:02:00", "click"),
            (9, 3, "2024-01-01T00:03:00", "purchase"),
        ],
    )
    got = {
        r["user_id"]: (r["n_conversions"], r["n_touches"],
                       r["credit_ppm_total"])
        for r in linear_attribution(e, within_minutes=10).collect()
    }
    assert got == {1: (1, 2, 1_000_000), 3: (1, 3, 999_999)}


def test_acf_known_series_and_zero_variance(spark):
    """Constructed hourly series pin the ACF algebra: a strictly
    alternating series has lag-1 ACF -> -1 and lag-2 ACF -> +1
    (boundary terms make it slightly off ±1e6); a constant series
    has zero variance and NULL acf (0 div 0 in both engines — the
    conventional 'undefined')."""
    import datetime as dt

    from kafka_streams_pipeline_spark.operators.timeseries import (
        acf_by_series,
    )

    rows = []
    base = dt.datetime(2024, 1, 1)
    n = 40
    for i in range(n):
        ts = base + dt.timedelta(hours=i)
        rows.append((i, ts, 1, "alt", 10.0 if i % 2 == 0 else -10.0, "{}"))
        rows.append((1000 + i, ts, 1, "flat", 5.0, "{}"))
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    got = {
        (r["event_type"], r["lag"]): (r["n_pairs"], r["acf_micro"])
        for r in acf_by_series(ev, max_lag=2).collect()
    }
    assert got[("flat", 1)][1] is None and got[("flat", 2)][1] is None
    assert got[("alt", 1)][0] == n - 1 and got[("alt", 2)][0] == n - 2
    # exact rational ACF of a centered alternating series of even
    # length: num_1 = -(n-1)·d², num_2 = (n-2)·d², den = n·d²
    assert got[("alt", 1)][1] == -((n - 1) * 10**6) // n
    assert got[("alt", 2)][1] == ((n - 2) * 10**6) // n
