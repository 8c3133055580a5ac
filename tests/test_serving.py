"""REST facade: envelope shape, param validation, reference-URL
compatibility (README.md:73-117 curl examples' query-string shape).
"""

from __future__ import annotations

import json
import urllib.request

import pytest

from kafka_streams_pipeline_spark.operators import build_view
from kafka_streams_pipeline_spark.serving import serve
from kafka_streams_pipeline_spark.sources.readings import readings_from_events
from kafka_streams_pipeline_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def api(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    view = build_view(readings_from_events(events)).cache()
    view.count()
    server = serve(view, host="127.0.0.1", port=17070)
    yield "http://127.0.0.1:17070"
    server.shutdown()


def _get(url):
    try:
        with urllib.request.urlopen(url) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_history_endpoint(api):
    code, msg = _get(
        f"{api}/api/temperature/aggregate/avg/history?geohashes=u155mz,u155qx"
        "&from=1704412800000&to=1705708800000"
    )
    assert code == 200
    assert msg["columns"] == ["timestamp", "avg"]
    assert msg["metadata"] == {"metric": "temperature"}
    assert len(msg["data"]) > 0
    ts = [row[0] for row in msg["data"]]
    assert ts == sorted(ts)


def test_history_interval_endpoint(api):
    code, msg = _get(
        f"{api}/api/temperature/aggregate/sum/history?geohashes=u155&interval=1week"
    )
    assert code == 200
    assert msg["columns"] == ["timestamp", "sum"]
    assert len(msg["data"]) > 0


def test_snapshot_endpoint(api):
    # bbox = the u155 cell bounds (N,W,S,E); ts mid-hour on Jan 7
    # 10:30 UTC → must resolve to the 10:00 window
    code, msg = _get(
        f"{api}/api/temperature/aggregate/count/snapshot"
        "?ts=1704623400000&bbox=51.328125,4.21875,51.15234375,4.5703125"
    )
    assert code == 200
    assert msg["columns"] == ["geohash", "count"]
    assert len(msg["data"]) > 0
    ghs = [row[0] for row in msg["data"]]
    assert ghs == sorted(ghs)


def test_snapshot_local_param_still_truncates(api):
    """Deliberate deviation pin (VERDICT r9 item 6, SURVEY §3.3):
    the reference truncates the snapshot timestamp to the hour for
    the GLOBAL branch but passes the UNTRUNCATED timestamp to the
    local-state lookup (querying/QueryingController.java:82 vs :86),
    so `local=true` point-reads a nonexistent mid-hour window key
    and returns nothing. This engine always truncates — a single
    distributed query IS the scatter-gather, `local` is
    accepted-and-ignored — so the same mid-hour ts must return the
    identical (non-empty) 10:00-window rows with and without
    local=true."""
    base = (
        f"{api}/api/temperature/aggregate/count/snapshot"
        "?ts=1704623400000&bbox=51.328125,4.21875,51.15234375,4.5703125"
    )
    code_g, msg_g = _get(base)
    code_l, msg_l = _get(base + "&local=true")
    assert code_g == code_l == 200
    assert msg_l == msg_g
    assert len(msg_l["data"]) > 0  # the reference's local branch: []


@pytest.mark.parametrize(
    "path",
    [
        "/api/temperature/aggregate/median/history?geohashes=u155",  # bad op
        "/api/temperature/aggregate/avg/history?geohashes=",  # empty cells
        "/api/temperature/aggregate/avg/history?geohashes=u155&interval=2weeks",
        "/api/temperature/aggregate/avg/snapshot?bbox=1,2,3,4",  # missing ts
        "/api/temperature/aggregate/avg/snapshot?ts=1704622200000",  # missing bbox
        "/api/temperature/aggregate/avg/snapshot?ts=1704622200000&bbox=91,0,92,1",
        # gh_precision outside [1, 12]
        "/api/temperature/aggregate/avg/history?geohashes=u155&gh_precision=0",
        "/api/temperature/aggregate/avg/history?geohashes=u155&gh_precision=-2",
        "/api/temperature/aggregate/avg/history?geohashes=u155&gh_precision=13",
        "/api/temperature/aggregate/avg/snapshot?ts=1704622200000"
        "&bbox=51.328125,4.21875,51.15234375,4.5703125&gh_precision=0",
    ],
)
def test_validation_400s(api, path):
    code, msg = _get(api + path)
    assert code == 400
    assert msg["errorCode"] == 400
    assert msg["errorMessage"]


def test_unknown_route_404(api):
    code, msg = _get(api + "/api/nope")
    assert code == 404


@pytest.fixture(scope="module")
def registry_api(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    view = build_view(readings_from_events(events)).cache()
    view.count()
    server = serve(
        view, host="127.0.0.1", port=17071, spark=spark, sf_dir=sf_dir
    )
    yield "http://127.0.0.1:17071"
    server.shutdown()


def test_registry_listing(registry_api):
    from kafka_streams_pipeline_spark import inventory

    code, msg = _get(f"{registry_api}/api/queries")
    assert code == 200
    assert "q_hourly_view" in msg["queries"]
    assert "q_dedup_ngram" in msg["queries"]
    assert len(msg["queries"]) == len(inventory.QUERIES) - len(
        inventory.MATERIALIZING
    )


def test_registry_excludes_materializing_by_default(registry_api):
    """ADVICE r5: a single unauthenticated GET must not run Spark
    jobs — queries registered with materializes=True (streaming
    replays, temp-store writes, eager checkpoints) are not listed and
    return 404."""
    from kafka_streams_pipeline_spark import inventory

    code, msg = _get(f"{registry_api}/api/queries")
    assert code == 200
    assert not set(msg["queries"]) & inventory.MATERIALIZING
    assert not {"q_kcore", "q_textrank"} & set(msg["queries"])
    code, _ = _get(f"{registry_api}/api/queries/q_streaming_view")
    assert code == 404


def test_registry_query_execution(registry_api):
    code, msg = _get(f"{registry_api}/api/queries/q_scan_project?limit=5")
    assert code == 200
    assert set(msg) == {"columns", "data", "metadata"}
    assert len(msg["data"]) == 5


def test_registry_unknown_and_bad_limit(registry_api):
    code, _ = _get(f"{registry_api}/api/queries/q_no_such")
    assert code == 404
    code, msg = _get(f"{registry_api}/api/queries/q_scan_project?limit=0")
    assert code == 400
    assert "limit" in msg["errorMessage"]


def test_registry_disabled_without_context(api):
    """The reference-parity server (no spark/sf_dir) must NOT expose
    the registry route."""
    code, _ = _get(f"{api}/api/queries")
    assert code == 404


def test_explain_route_returns_plan_without_executing(spark, sf_dir):
    """GET /api/queries/{name}/explain returns the physical plan for
    any servable query (pure plan compilation — no job), validates
    the mode, and 404s unknown or materializing names."""
    import json
    import urllib.request

    from kafka_streams_pipeline_spark.operators.view import build_view
    from kafka_streams_pipeline_spark.serving import serve
    from kafka_streams_pipeline_spark.sources.readings import (
        readings_from_events,
    )
    from kafka_streams_pipeline_spark.sources.tables import load_table

    view = build_view(readings_from_events(load_table(spark, sf_dir, "events")))
    server = serve(view, host="127.0.0.1", port=0, spark=spark, sf_dir=sf_dir)
    port = server.server_address[1]
    base = f"http://127.0.0.1:{port}"
    try:
        body = json.load(
            urllib.request.urlopen(f"{base}/api/queries/q_hourly_view/explain")
        )
        assert body["query"] == "q_hourly_view"
        assert "HashAggregate" in body["plan"] or "Aggregate" in body["plan"]

        body2 = json.load(
            urllib.request.urlopen(
                f"{base}/api/queries/q_join_inner/explain?mode=simple"
            )
        )
        assert "Physical Plan" in body2["plan"] or "Scan" in body2["plan"]

        for bad in (
            "/api/queries/q_nope/explain",
            # materializing: a streaming replay, and two builders whose
            # eager checkpoints run jobs one call deep
            "/api/queries/q_streaming_view/explain",
            "/api/queries/q_kcore/explain",
            "/api/queries/q_textrank/explain",
        ):
            try:
                urllib.request.urlopen(base + bad)
                raise AssertionError(f"{bad} should 404")
            except urllib.error.HTTPError as e:
                assert e.code == 404
        try:
            urllib.request.urlopen(
                f"{base}/api/queries/q_hourly_view/explain?mode=evil"
            )
            raise AssertionError("bad mode should 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        server.shutdown()


def test_every_buildtime_job_launcher_is_flagged(declared_builds):
    """A query is registered with ``materializes=True`` exactly when
    its builder launches Spark jobs while its DataFrame is being
    built. An unflagged launcher would let an unauthenticated GET on
    the REST registry run those jobs (ADVICE r5); a flag no
    measurement supports would hide a servable query. The jobs are
    measured during the shared build pass, so jobs started deep
    inside called operators, eager checkpoints and stream threads all
    count."""
    from kafka_streams_pipeline_spark import inventory

    launchers = {name: jobs for name, (_, jobs) in declared_builds.items() if jobs}
    unflagged = {
        name: jobs
        for name, jobs in launchers.items()
        if name not in inventory.MATERIALIZING
    }
    stale = sorted(inventory.MATERIALIZING - set(launchers))
    assert not unflagged and not stale, (
        "builders that launch Spark jobs at construction time but are "
        f"not registered with materializes=True (name: jobs): {unflagged}; "
        f"registered with materializes=True but launch no job: {stale}"
    )


def test_reference_requests_compile_nothing(spark, sf_dir, tmp_path):
    """``serve`` answers the reference endpoints from a session of its
    own with codegen off, so a request compiles no Java class, even
    when its timestamps were never sent before and its cells and
    prefixes vary (generated code inlines them). Compiles are Spark's
    own count, after a warm-up, over 24 requests of the three kinds. Each response equals
    the same query on the caller's session; the caller's codegen
    confs are left as they were, and the view ``serve`` registers is
    gone after shutdown. ``spark.sql.codegen.factoryMode`` is internal
    to Spark: an upgrade that drops it fails here."""
    from pyspark.sql import functions as F

    from kafka_streams_pipeline_spark import geo
    from kafka_streams_pipeline_spark.operators import (
        history,
        history_interval,
        snapshot,
    )
    from kafka_streams_pipeline_spark.plans import to_message
    from kafka_streams_pipeline_spark.serving import _ms_to_dt
    from kafka_streams_pipeline_spark.sources.sinks import read_view, write_view

    view = build_view(readings_from_events(load_table(spark, sf_dir, "events")))
    write_view(view, str(tmp_path / "view"))
    stored = read_view(spark, str(tmp_path / "view"))
    rows = sorted(
        (r["ms"], r["gh"])
        for r in stored.select(
            "gh", F.unix_millis("window_start").alias("ms")
        ).collect()
    )
    cells = sorted({gh for _, gh in rows})
    hour, day = 3_600_000, 86_400_000
    codegen_keys = (
        "spark.sql.codegen.wholeStage",
        "spark.sql.codegen.factoryMode",
    )
    confs = {k: spark.conf.get(k, None) for k in codegen_keys}
    db = spark.conf.get("spark.sql.globalTempDatabase")
    views = {t.name for t in spark.catalog.listTables(db)}

    def requests(i):
        """Request i of each kind: (path, the same query as a call)."""
        ms, gh = rows[(37 * i) % len(rows)]
        pick = [
            cells[(i + j) % len(cells)][: 4 + (i + j) % 3]
            for j in range(1 + i % len(cells))
        ]
        lo, hi, to = ms - i * 1_001, ms + (1 + i % 9) * day + i, ms + 7 * i + 3
        interval = ("1day", "1week")[i % 2]
        ts = ms + (i * 61_000) % hour
        s, w, n, e = geo.decode_bbox(gh[: 4 + i % 3])
        base = "/api/temperature/aggregate"
        return [
            (
                f"{base}/avg/history?geohashes={','.join(pick)}&from={lo}&to={hi}",
                lambda: history(stored, "avg", pick, _ms_to_dt(lo), _ms_to_dt(hi)),
            ),
            (
                f"{base}/sum/history?geohashes={','.join(pick)}"
                f"&interval={interval}&from={to}",
                lambda: history_interval(
                    stored, "sum", pick, interval, to_ts=_ms_to_dt(to)
                ),
            ),
            (
                f"{base}/count/snapshot?ts={ts}&bbox={n},{w},{s},{e}",
                lambda: snapshot(stored, "count", _ms_to_dt(ts), (n, w, s, e)),
            ),
        ]

    server = serve(stored, host="127.0.0.1", port=0)
    url = f"http://127.0.0.1:{server.server_address[1]}"
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    try:
        for i in range(3):
            for path, _ in requests(i):
                assert _get(url + path)[0] == 200
        assert _get(f"{url}/api/temperature/aggregate/avg/history"
                    f"?geohashes={cells[0]}&interval=1week")[0] == 200
        sent = [r for i in range(3, 11) for r in requests(i)]
        compiled = metrics.METRIC_COMPILATION_TIME().getCount()
        got = [_get(url + path) for path, _ in sent]
        compiled = metrics.METRIC_COMPILATION_TIME().getCount() - compiled
    finally:
        server.shutdown()
    assert len(sent) >= 20
    assert compiled / len(sent) <= 0.1, (compiled, len(sent))
    answered = 0
    for (path, query), (code, msg) in zip(sent, got):
        assert code == 200, (path, msg)
        assert msg == json.loads(json.dumps(to_message(query()))), path
        answered += bool(msg["data"])
    assert answered >= len(sent) // 2
    assert {k: spark.conf.get(k, None) for k in codegen_keys} == confs
    assert {t.name for t in spark.catalog.listTables(db)} == views
