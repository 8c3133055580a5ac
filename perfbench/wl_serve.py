"""serve_read: closed-loop REST clients against ``serving.serve`` over a
static, compacted store.

Set-up turns seeded raw lat/lon readings into the store through the
engine's ingest adapter (``functions.geo_udf.readings_from_latlon`` →
``operators.view.build_view`` → ``sources.sinks.write_view``), and
precomputes every request's answer in DuckDB from the same raw
readings. A fixed number of clients (half of ``nproc``) then send GETs
back to back; every response is compared with its answer.
"""

from __future__ import annotations

import http.client
import itertools
import json
import os
import shutil
import threading
import time

import gen
from common import median, summarize
from spans import NULL, phases_ms

REQUESTS = 100
# Latency keeps falling for the first ~100 requests of a fresh JVM while
# Catalyst and the JIT warm up (one client: p50 920, 550, 400, 350 ms
# over successive 5 s windows, then a plateau near 330 ms), so the
# clients warm the server for this long before the clock starts.
WARM_S = 15.0


def _op_sql(op: str) -> str:
    # same arithmetic as operators.queries._merged_aggs: exact micro-unit
    # integer sums, divided once in double precision
    return {
        "count": "CAST(sum(cnt) AS BIGINT)",
        "sum": "CAST(sum(su) AS DOUBLE) / 1e6",
        "avg": "CAST(sum(su) AS DOUBLE) / 1e6 / CAST(sum(cnt) AS DOUBLE)",
    }[op]


def expected_answers(inputs, requests) -> list[dict]:
    """Each request's response envelope, computed in DuckDB from the raw
    readings (the benchmark's own geohash, not the engine's)."""
    import duckdb
    import pandas as pd

    readings = pd.DataFrame(  # noqa: F841 - scanned by DuckDB
        {k: inputs.readings[k] for k in ("timestamp", "geohash", "tempVal")}
    )
    con = duckdb.connect()
    try:
        con.execute(
            f"""CREATE TABLE ch AS
            SELECT substr(geohash, 1, 6) AS gh,
                   timestamp - timestamp % {gen.HOUR_MS} AS ws,
                   count(*) AS cnt,
                   sum(CAST(round(tempVal * 1000000) AS BIGINT)) AS su
            FROM readings GROUP BY 1, 2"""
        )
        max_ws = con.execute("SELECT max(ws) FROM ch").fetchone()[0]
        out = []
        for r in requests:
            p = r.params
            agg = _op_sql(p["op"])
            if r.kind == "snapshot":
                south, west, north, east = p["block"]
                h, w = gen.cell_dims(p["precision"])
                rows = round((north - south) / h)
                cols = round((east - west) / w)
                lat = gen.np.repeat(south + (gen.np.arange(rows) + 0.5) * h, cols)
                lon = gen.np.tile(west + (gen.np.arange(cols) + 0.5) * w, rows)
                prefixes, _ = gen.geohash_encode(lat, lon, p["precision"])
                sql = (
                    f"SELECT gh, {agg} FROM ch WHERE ws = {p['hour']} "
                    f"AND substr(gh, 1, {p['precision']}) IN "
                    f"({','.join(repr(str(x)) for x in prefixes)}) GROUP BY gh ORDER BY gh"
                )
                cols_out = ["geohash", p["op"]]
            else:
                if r.kind == "history":
                    lo, hi = p["lo"], p["hi"]
                else:
                    hi = p["to"] if p["to"] is not None else max_ws
                    lo = hi - (1 if p["interval"] == "1day" else 7) * gen.DAY_MS
                cells = ",".join(repr(str(c)) for c in p["cells"])
                sql = (
                    f"SELECT ws, {agg} FROM ch WHERE gh IN ({cells}) "
                    f"AND ws >= {lo} AND ws <= {hi} GROUP BY ws ORDER BY ws"
                )
                cols_out = ["timestamp", p["op"]]
            out.append({"columns": cols_out, "data": [list(x) for x in con.execute(sql).fetchall()]})
        return out
    finally:
        con.close()


def make_inputs(seed: int, scale: float):
    """(raw readings, request mix, each request's expected response)."""
    inputs = gen.serve_readings(seed, scale)
    requests = gen.read_requests(
        seed,
        inputs.cells,
        gen.SERVE_T0,
        gen.SERVE_T0 + gen.SERVE_DAYS * gen.DAY_MS,
        REQUESTS,
        salt=3,
    )
    return inputs, requests, expected_answers(inputs, requests)


def _raw_frame(spark, inputs):
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(
            {k: inputs.readings[k] for k in ("lat", "lon", "timestamp", "tempVal", "sensorId")}
        )
    )


def build_store(spark, inputs, store_dir: str) -> None:
    from kafka_streams_pipeline_spark.functions import geo_udf
    from kafka_streams_pipeline_spark.operators import view
    from kafka_streams_pipeline_spark.sources import sinks

    shutil.rmtree(store_dir, ignore_errors=True)
    sinks.write_view(
        view.build_view(geo_udf.readings_from_latlon(_raw_frame(spark, inputs))), store_dir
    )


def encode_s(spark, inputs, reps: int = 3) -> float:
    """Wall time of the ingest adapter's geohash encode alone over the
    store's raw readings, cached in memory first (median of ``reps``)."""
    from kafka_streams_pipeline_spark.functions import geo_udf

    raw = _raw_frame(spark, inputs).cache()
    raw.count()
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        geo_udf.readings_from_latlon(raw).select("geohash").write.format("noop").mode(
            "overwrite"
        ).save()
        times.append(time.perf_counter() - t0)
    raw.unpersist()
    return median(times)


def generate(ctx) -> dict:
    """Generate inputs and precompute answers (ctx.setup_reps times; the
    median counts). Needs no Spark."""
    times = []
    for _ in range(ctx.setup_reps):
        t0 = time.perf_counter()
        inputs, requests, answers = make_inputs(ctx.seed, ctx.scale)
        times.append(time.perf_counter() - t0)
    return {
        "inputs": inputs,
        "requests": requests,
        "answers": answers,
        "store_dir": os.path.join(ctx.work, "serve-store"),
        "gen_s": median(times),
    }


def prepare(ctx, state) -> None:
    """Build the store, then warm the server."""
    t0 = time.perf_counter()
    build_store(ctx.spark, state["inputs"], state["store_dir"])
    warm = run_clients(ctx, state, NULL, seconds=WARM_S)
    state["prep_s"] = time.perf_counter() - t0
    state["warm_failed"] = warm["failed"]


def run_clients(ctx, state, tracer, seconds) -> dict:
    from kafka_streams_pipeline_spark import serving
    from kafka_streams_pipeline_spark.sources import sinks

    requests, answers = state["requests"], state["answers"]
    server = serving.serve(sinks.read_view(ctx.spark, state["store_dir"]), host="127.0.0.1", port=0)
    port = server.server_address[1]
    counter = itertools.count()
    lock = threading.Lock()
    samples: list[tuple] = []  # (rid, kind, ms, ok, mismatch)
    errors: list[str] = []
    deadline = time.perf_counter() + seconds

    def client() -> None:
        while True:
            with lock:
                i = next(counter)
            if time.perf_counter() >= deadline:
                return
            req, want = requests[i % len(requests)], answers[i % len(requests)]
            t0 = time.perf_counter()
            try:
                conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
                conn.request("GET", req.path, headers={"X-Bench-Rid": str(i)})
                resp = conn.getresponse()
                body = resp.read()
                conn.close()
                ms = (time.perf_counter() - t0) * 1000.0
                if resp.status != 200:
                    ok = "error"
                    errors.append(f"{req.path}: HTTP {resp.status} {body[:200]!r}")
                else:
                    got = json.loads(body)
                    ok = "ok" if {k: got.get(k) for k in want} == want else "mismatch"
                    if ok != "ok":
                        errors.append(f"{req.path}: response differs from the DuckDB answer")
            except (OSError, http.client.HTTPException, ValueError) as e:
                ms, ok = (time.perf_counter() - t0) * 1000.0, "error"
                errors.append(f"{req.path}: {e}")
            with lock:
                samples.append((i, req.kind, ms, ok == "ok", ok == "mismatch"))

    threads = [threading.Thread(target=client, daemon=True) for _ in range(ctx.clients)]
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wall = time.perf_counter() - t0
    server.shutdown()
    server.server_close()
    return {
        "samples": samples,
        "errors": errors,
        "clients": ctx.clients,
        "wall": wall,
        "attempted": len(samples),
        "failed": sum(1 for s in samples if not s[3]),
        "mismatches": sum(1 for s in samples if s[4]),
    }


def run_pass(ctx, state, tracer=NULL, label="run") -> dict:
    return run_clients(ctx, state, tracer, seconds=ctx.seconds)


def end_to_end(res: dict) -> dict:
    lat = [s[2] for s in res["samples"] if s[3]]
    return {
        "op": lat,
        "rate": sum(1 for s in res["samples"] if s[3]) / res["wall"],
    }


def report_lines(res: dict, e2e: dict) -> list[tuple]:
    a = summarize(e2e["op"])
    rows = [
        ("serve_qps", e2e["rate"], "req/s", f"clients={res.get('clients', '')}"),
        ("serve_p50_ms", a["p50"], "ms", f"n={a['n']}"),
        ("serve_p90_ms", a["p90"], "ms", f"n={a['n']} tail=p{a['tail_pct'] or 0:.1f}:{a['tail']}"),
    ]
    for kind in ("history", "history_interval", "snapshot"):
        k = summarize([s[2] for s in res["samples"] if s[3] and s[1] == kind])
        rows.append((f"serve_{kind}_p50_ms", k["p50"], "ms", f"n={k['n']}"))
    return rows


def install(tracer, ctx) -> None:
    from kafka_streams_pipeline_spark import serving

    for kind in ("history", "history_interval", "snapshot"):
        tracer.patch_span(
            serving, kind, f"operators.build.{kind}", on_result=lambda s, df: tracer.note_df(df)
        )
    tracer.patch_span(serving, "to_message", "plans.to_message")
    orig_get = serving.QueryHandler.do_GET

    def do_GET(handler):  # noqa: N802 - stdlib handler API
        rid = handler.headers.get("X-Bench-Rid")
        with tracer.request(rid, group=f"req-{rid}"):
            with tracer.span("serving.handler") as s:
                orig_get(handler)
            s["attrs"]["phases"] = [phases_ms(df) for df in tracer.take_dfs()]

    tracer.patch(serving.QueryHandler, "do_GET", do_GET)


def per_layer(ctx, state, res: dict, tracer) -> dict:
    by_rid: dict = {}
    for s in tracer.spans:
        if s["name"] in ("plans.to_message",) or s["name"].startswith("operators.build."):
            by_rid[s["rid"]] = by_rid.get(s["rid"], 0.0) + (s["end"] - s["start"]) * 1000.0
    http_ms = [ms - by_rid.get(str(rid), 0.0) for rid, _, ms, ok, _ in res["samples"] if ok]
    return {
        "serving.http_ms": median(http_ms),
        "functions.geohash_encode_s": encode_s(ctx.spark, state["inputs"]),
    }
