"""View builder + history/snapshot semantics vs an independent DuckDB
computation (SURVEY.md §5.1/§5.3), plus the A3 algebraic-merge
property (§5.2).
"""

from __future__ import annotations

import datetime as dt

import duckdb
import pytest
from pyspark.sql import functions as F

from kafka_streams_pipeline_spark import geo
from kafka_streams_pipeline_spark.operators import (
    build_view,
    history,
    history_interval,
    merge_views,
    reaggregate_precision,
    snapshot,
)
from kafka_streams_pipeline_spark.plans import QueryValidationError, to_message
from kafka_streams_pipeline_spark.sources.tables import load_table
from kafka_streams_pipeline_spark.sources.readings import (
    EVENT_TYPE_GEOHASH,
    readings_from_events,
    readings_from_events_sql,
)


@pytest.fixture(scope="module")
def view(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    v = build_view(readings_from_events(events)).cache()
    v.count()
    return v


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')"
    )
    con.execute(
        f"""CREATE VIEW v AS
        SELECT substring(geohash, 1, 6) AS gh,
               date_trunc('hour', ts)   AS window_start,
               count(*)                 AS cnt,
               sum(tempVal)             AS s
        FROM ({readings_from_events_sql()})
        GROUP BY 1, 2"""
    )
    return con


def test_view_matches_duckdb(view, duck):
    expected = {
        (gh, ws.replace(tzinfo=None)): (cnt, s)
        for gh, ws, cnt, s in duck.execute("SELECT * FROM v").fetchall()
    }
    got = view.collect()
    assert len(got) == len(expected)
    for r in got:
        key = (r["gh"], r["window_start"])
        assert key in expected
        cnt, s = expected[key]
        assert r["count"] == cnt
        assert r["sum"] == pytest.approx(s, rel=1e-12)
        assert r["avg"] == pytest.approx(s / cnt, rel=1e-12)


def test_merge_property(spark, sf_dir):
    """merge(agg(P1), agg(P2)) == agg(P1 ∪ P2) — Aggregator.java:17-30."""
    events = load_table(spark, sf_dir, "events")
    readings = readings_from_events(events)
    p1 = readings.where(F.col("timestamp") % 2 == 0)
    p2 = readings.where(F.col("timestamp") % 2 == 1)
    merged = merge_views(build_view(p1), build_view(p2))
    direct = build_view(readings)
    a = {(r["gh"], r["window_start"]): (r["count"], r["sum"], r["avg"]) for r in merged.collect()}
    b = {(r["gh"], r["window_start"]): (r["count"], r["sum"], r["avg"]) for r in direct.collect()}
    assert set(a) == set(b)
    for k in a:
        assert a[k][0] == b[k][0]
        assert a[k][1] == pytest.approx(b[k][1], rel=1e-9)
        assert a[k][2] == pytest.approx(b[k][2], rel=1e-9)


def test_precision_reagg_nesting(spark, sf_dir, view):
    """Prefix nesting: re-aggregating the p6 view to p4 equals the
    view built directly at p4 (the store-per-precision identity that
    lets one fine store serve every coarser gh_precision)."""
    events = load_table(spark, sf_dir, "events")
    direct = build_view(readings_from_events(events), precision=4)
    reagg = reaggregate_precision(view, 4)
    a = {(r["gh"], r["window_start"]): (r["count"], r["sum"]) for r in reagg.collect()}
    b = {(r["gh"], r["window_start"]): (r["count"], r["sum"]) for r in direct.collect()}
    assert a == b  # exact: both sides are micros-integer sums
    with pytest.raises(ValueError):
        reaggregate_precision(view, 0)


def test_history_rollup(view, duck):
    cells = [EVENT_TYPE_GEOHASH["click"][:6], EVENT_TYPE_GEOHASH["view"][:6]]
    from_ts = dt.datetime(2024, 1, 5)
    to_ts = dt.datetime(2024, 1, 10)
    got = history(view, "avg", cells, from_ts, to_ts).collect()
    exp = duck.execute(
        """SELECT epoch_ms(window_start) AS t, sum(s)/sum(cnt) AS avg
           FROM v WHERE gh IN (?, ?) AND window_start >= ? AND window_start <= ?
           GROUP BY 1 ORDER BY 1""",
        [cells[0], cells[1], from_ts, to_ts],
    ).fetchall()
    assert [r["timestamp"] for r in got] == [e[0] for e in exp]
    for r, e in zip(got, exp):
        assert r["avg"] == pytest.approx(e[1], rel=1e-12)
    # ascending order (O1)
    ts = [r["timestamp"] for r in got]
    assert ts == sorted(ts)


def test_history_prefix_generalization(view):
    """A 4-char prefix matches all stored 6-char completions (P4 note)."""
    full = history(view, "count", ["u155"], None, None).collect()
    parts = [
        cell for cell in EVENT_TYPE_GEOHASH.values() if cell.startswith("u155")
    ]
    direct = history(view, "count", [c[:6] for c in parts], None, None).collect()
    assert {r["timestamp"]: r["count"] for r in full} == {
        r["timestamp"]: r["count"] for r in direct
    }


def test_history_interval_over_an_empty_store(spark, tmp_path):
    """A store with no partition directory, as a reader sees the live
    store while an upsert has deleted its only partition and not yet
    renamed the rewritten one in: the read has no rows and no max
    event time, and the default-``to`` history is empty, not an
    error."""
    from kafka_streams_pipeline_spark.sources.sinks import read_view

    store = tmp_path / "view"
    store.mkdir()
    empty = read_view(spark, str(store))
    assert history_interval(empty, "avg", ["u155"], "1week").collect() == []


def _assert_week_to_max_ts(got, duck):
    """``got`` is history_interval(..., "sum", ["u155"], "1week") with
    no ``to``: the week up to the view's max event time."""
    exp = duck.execute(
        """WITH mx AS (SELECT max(window_start) AS m FROM v)
           SELECT epoch_ms(window_start) AS t, sum(s) AS total
           FROM v, mx
           WHERE gh LIKE 'u155%'
             AND window_start >= m - INTERVAL 7 DAY AND window_start <= m
           GROUP BY 1 ORDER BY 1"""
    ).fetchall()
    assert [r["timestamp"] for r in got] == [e[0] for e in exp]
    for r, e in zip(got, exp):
        assert r["sum"] == pytest.approx(e[1], rel=1e-12)


def test_history_interval_defaults_to_max_ts(view, duck):
    _assert_week_to_max_ts(
        history_interval(view, "sum", ["u155"], "1week").collect(), duck
    )


def test_history_interval_default_to_scans_the_newest_partition(
    spark, view, duck, tmp_path, monkeypatch
):
    """Over a ws_date store, the max event time that stands in for a
    missing ``to`` is read from the newest partition of the listing
    the view holds: the build runs one job, whose scan reads one
    partition and one file, and the answer is the in-memory view's."""
    from pyspark.sql.classic.dataframe import DataFrame

    from kafka_streams_pipeline_spark.sources.sinks import read_view, write_view
    from tests.test_plan_contracts import _walk_executed

    write_view(view, str(tmp_path / "view"))
    stored = read_view(spark, str(tmp_path / "view"))
    collected = []
    collect = DataFrame.collect

    def recording_collect(df):
        collected.append(df)
        return collect(df)

    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    start = scheduler.nextJobId()
    with monkeypatch.context() as mp:
        mp.setattr(DataFrame, "collect", recording_collect)
        df = history_interval(stored, "sum", ["u155"], "1week")
    assert scheduler.nextJobId() - start == 1
    (max_frame,) = collected
    scans = [
        n
        for n in _walk_executed(max_frame._jdf.queryExecution().executedPlan(), [])
        if "FileSourceScan" in n.getClass().getName()
    ]
    assert len(scans) == 1
    metrics = scans[0].metrics()
    assert metrics.apply("numPartitions").value() == 1
    assert metrics.apply("numFiles").value() == 1
    assert stored.select("ws_date").distinct().count() > 1
    got = df.collect()
    _assert_week_to_max_ts(got, duck)
    assert got == history_interval(view, "sum", ["u155"], "1week").collect()


def test_snapshot_bbox(view, duck):
    """Snapshot selects the hour window containing ts, cells covering
    the bbox of the 'u155' region."""
    s, w, n, e = geo.decode_bbox("u155")
    ts = dt.datetime(2024, 1, 7, 10, 30)  # mid-hour: must truncate to 10:00
    got = snapshot(view, "count", ts, (n, w, s, e), precision=6).collect()
    exp = duck.execute(
        """SELECT gh AS geohash, sum(cnt) AS count FROM v
           WHERE window_start = TIMESTAMP '2024-01-07 10:00:00' AND gh LIKE 'u155%'
           GROUP BY 1 ORDER BY 1"""
    ).fetchall()
    assert [(r["geohash"], r["count"]) for r in got] == [(g, c) for g, c in exp]
    assert len(got) > 0
    ghs = [r["geohash"] for r in got]
    assert ghs == sorted(ghs)  # O2


def test_envelope_shape(view):
    full = history(view, "count", ["u155"], None, None).collect()
    msg = to_message(history(view, "count", ["u155"], None, None).limit(3))
    assert msg["columns"] == ["timestamp", "count"]
    assert all(len(row) == 2 for row in msg["data"])
    assert msg["metadata"] == {"metric": "temperature"}
    # limit over the one-partition sort keeps the smallest keys
    assert len(full) > 3
    assert msg["data"] == [list(r) for r in full[:3]]


def test_stored_view_queries_run_in_two_jobs(spark, view, tmp_path):
    """A history/snapshot request over a ws_date store is one job of
    one stage: the pruned scan is coalesced to one partition before
    the aggregate, so the merge needs no shuffle, and the result is
    ordered on that partition — no Exchange in the executed plan, no
    range-partition sampling job. A whole-store history (no from/to,
    every file in one task) still answers exactly as the in-memory
    view does."""
    from kafka_streams_pipeline_spark.sources.sinks import read_view, write_view

    write_view(view, str(tmp_path / "view"))
    stored = read_view(spark, str(tmp_path / "view"))
    cells = [EVENT_TYPE_GEOHASH["click"][:6], EVENT_TYPE_GEOHASH["view"][:6]]
    s, w, n, e = geo.decode_bbox("u155")
    to_ts = dt.datetime(2024, 1, 10)
    requests = {
        "history": history(stored, "avg", cells, dt.datetime(2024, 1, 5), to_ts),
        "history_interval": history_interval(
            stored, "sum", ["u155"], "1week", to_ts=to_ts
        ),
        "snapshot": snapshot(
            stored, "count", dt.datetime(2024, 1, 7, 10, 30), (n, w, s, e)
        ),
    }
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    for kind, df in requests.items():
        start = scheduler.nextJobId()
        msg = to_message(df)
        jobs = scheduler.nextJobId() - start
        assert jobs == 1, (kind, jobs)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, (kind, plan)
        keys = [row[0] for row in msg["data"]]  # timestamp or geohash
        assert keys, kind
        assert keys == sorted(keys), kind

    whole = history(stored, "avg", cells).collect()
    assert len(whole) > 1
    assert whole == history(view, "avg", cells).collect()


def test_validation_errors(view):
    with pytest.raises(QueryValidationError):
        history(view, "median", ["u155"], None, None)
    with pytest.raises(QueryValidationError):
        history(view, "avg", [], None, None)
    with pytest.raises(QueryValidationError):
        history(view, "avg", ["uAio"], None, None)  # invalid base32 chars
    with pytest.raises(QueryValidationError):
        history(
            view, "avg", ["u155"],
            dt.datetime(2024, 2, 1), dt.datetime(2024, 1, 1),
        )
    with pytest.raises(QueryValidationError):
        history_interval(view, "avg", ["u155"], "2weeks")
    for p in (0, -2, 13):
        with pytest.raises(QueryValidationError):
            history(view, "avg", ["u155"], None, None, precision=p)
        with pytest.raises(QueryValidationError):
            history_interval(view, "avg", ["u155"], "1week", precision=p)
        with pytest.raises(QueryValidationError):
            snapshot(view, "avg", dt.datetime(2024, 1, 7), (51.3, 4.2, 51.1, 4.5), p)
