"""ingest_mixed: live ingest at a fixed rate while a reader queries the
store being written.

Open loop for ingest: a generator thread drops seeded JSON chunks into
the stream's source directory on a fixed schedule, and each chunk's lag
runs from its *due* time to the end of the micro-batch that committed
it, so a stall also charges the chunks queued behind it. Closed loop
for reads, beside the steady phase: one reader re-reads the store for
every request (``sources.sinks.read_view``), builds a history or
snapshot query and collects it through ``plans.envelope.to_message``.
Then the reader stops, and fixed backlogs are dropped at once and timed
until they drain, so the drain rate is the stream's alone.
"""

from __future__ import annotations

import bisect
import calendar
import datetime as dt
import glob
import json
import os
import shutil
import threading
import time

import gen
from common import log, median
from spans import NULL, phases_ms

# Steady input at about half of the 4-5k events/s this pipeline drains
# beside the reader on a 4-vCPU box (the capacity probe in NOTES.md), in
# 40 ms chunks: a 20 s run yields 500 lag samples from eight to ten
# micro-batches. The burst is one file: a multi-file drop can straddle a
# directory listing and split into two batches, which would make the
# drain time bimodal. Even at 150k events its one batch takes about as
# long as a 40k-event one (2-2.5 s), so the drain rate is mostly the
# batch's fixed cost (NOTES.md). Warm chunks each go through a
# micro-batch of their own before the clock starts: the first ten or so
# batches of a fresh JVM run up to 2x slow.
STEADY_RATE = 2000.0
CHUNK_INTERVAL_S = 0.04
STEADY_SHARE = 1.0
WARM_CHUNKS = 2
WARM_EVENTS = 4000
BURST_EVENTS = 150000
BURSTS = 1
READ_REQUESTS = 200
# A read whose file listing was replaced by a concurrent upsert fails
# with one of these, and one that lists the store while an upsert has
# emptied a partition cannot infer its schema (NOTES.md, stale-view
# defect). It is retried with a fresh read_view, as a client would, and
# each raced attempt counts in mixed.read_races; only a read that races
# on every attempt is a failed op, so the failed count does not depend
# on timing luck.
RACE_MARKERS = ("FileNotFound", "does not exist", "FAILED_READ_FILE", "UNABLE_TO_INFER_SCHEMA")
READ_ATTEMPTS = 10
DRAIN_TIMEOUT_S = 60.0


def make_inputs(seed: int, scale: float, seconds: float):
    return gen.ingest_inputs(
        seed,
        scale,
        steady_s=seconds * STEADY_SHARE,
        chunk_interval_s=CHUNK_INTERVAL_S,
        steady_rate=STEADY_RATE * scale,
        burst_events=max(200, int(BURST_EVENTS * scale)),
        bursts=BURSTS,
        warm_chunks=WARM_CHUNKS,
        warm_events=max(200, int(WARM_EVENTS * scale)),
    )


def read_requests(seed: int, inputs) -> list:
    cells = gen.np.unique(inputs.readings["geohash"].astype("U6"))
    return gen.read_requests(
        seed, cells, inputs.first_ts, inputs.last_ts, READ_REQUESTS, salt=5
    )


class Checkpoint:
    """Which source files each committed micro-batch took, read from the
    stream's own checkpoint (file-source log + commit log)."""

    def __init__(self, ckpt: str):
        self.ckpt = ckpt

    def commit_times(self) -> dict[int, float]:
        out = {}
        for p in glob.glob(os.path.join(self.ckpt, "commits", "[0-9]*")):
            name = os.path.basename(p)
            if name.isdigit():
                try:
                    out[int(name)] = os.stat(p).st_mtime
                except FileNotFoundError:
                    pass
        return out

    def file_batches(self) -> dict[str, int]:
        """Source file name → query batch id. The file-source log counts
        its own offsets (it skips no-data batches), so each file's log
        offset is mapped to the first batch whose offset covers it."""
        logged = {}
        for p in glob.glob(os.path.join(self.ckpt, "sources", "0", "[0-9]*")):
            for e in _json_lines(p):
                logged[os.path.basename(e["path"])] = int(e["batchId"])
        offsets = []
        for p in glob.glob(os.path.join(self.ckpt, "offsets", "[0-9]*")):
            name = os.path.basename(p)
            lines = _json_lines(p) if name.isdigit() else []
            if lines and "logOffset" in lines[-1]:
                offsets.append((int(lines[-1]["logOffset"]), int(name)))
        offsets.sort()
        out = {}
        for name, log_id in logged.items():
            i = bisect.bisect_left(offsets, (log_id, -1))
            if i < len(offsets):
                out[name] = offsets[i][1]
        return out

    def committed(self) -> dict[str, float]:
        """Source file name → commit time of the batch that took it."""
        commits = self.commit_times()
        return {
            name: commits[b] for name, b in self.file_batches().items() if b in commits
        }


class Writer:
    """Drops chunk files atomically into the source directory."""

    def __init__(self, src: str, staging: str):
        self.src, self.staging = src, staging
        os.makedirs(src, exist_ok=True)
        os.makedirs(staging, exist_ok=True)
        self.written: dict[str, float] = {}

    def write(self, idx: int, body: bytes) -> str:
        name = f"chunk{idx:06d}.json"
        tmp = os.path.join(self.staging, name)
        with open(tmp, "wb") as f:
            f.write(body)
        os.rename(tmp, os.path.join(self.src, name))
        self.written[name] = time.time()
        return name


def _json_lines(path: str) -> list[dict]:
    try:
        with open(path) as f:
            return [json.loads(x) for x in f.read().splitlines() if x.startswith("{")]
    except (FileNotFoundError, json.JSONDecodeError):  # mid-rename
        return []


def _wait_committed(ck: Checkpoint, names, timeout: float) -> dict[str, float]:
    deadline = time.time() + timeout
    names = set(names)
    while True:
        done = ck.committed()
        if names <= done.keys() or time.time() > deadline:
            return done
        # commit times are file mtimes, so the poll interval only costs
        # the CPU the stream would otherwise get
        time.sleep(0.1)


def _wait_quiet(ck: Checkpoint, quiet_s: float = 0.5, cap_s: float = 5.0) -> None:
    """Wait until no batch has committed for ``quiet_s`` (the no-data
    batch that follows a watermark advance included), at most ``cap_s``."""
    deadline = time.time() + cap_s
    last, since = len(ck.commit_times()), time.time()
    while time.time() < deadline:
        time.sleep(0.05)
        n = len(ck.commit_times())
        if n != last:
            last, since = n, time.time()
        elif time.time() - since >= quiet_s:
            return


def _ms_to_dt(ms: int) -> dt.datetime:
    return dt.datetime(1970, 1, 1) + dt.timedelta(milliseconds=ms)


def _progress(q) -> list[dict]:
    out = []
    for p in q.recentProgress:
        out.append(json.loads(p.json) if hasattr(p, "json") else dict(p))
    return out


def _iso_s(ts: str) -> float:
    base, _, frac = ts.rstrip("Z").partition(".")
    t = calendar.timegm(time.strptime(base, "%Y-%m-%dT%H:%M:%S"))
    return t + (float("0." + frac) if frac else 0.0)


class Reader(threading.Thread):
    """Closed-loop reader over the live store."""

    def __init__(self, spark, view_dir, requests, tracer, stop: threading.Event, limit=None):
        super().__init__(daemon=True)
        self.spark, self.view_dir, self.requests = spark, view_dir, requests
        self.tracer, self.stop_ev, self.limit = tracer, stop, limit
        self.latencies: list[float] = []
        self.errors: list[str] = []
        self.races = 0
        self.phases: list[dict] = []

    def run(self) -> None:
        from kafka_streams_pipeline_spark.operators import queries
        from kafka_streams_pipeline_spark.plans import envelope
        from kafka_streams_pipeline_spark.sources import sinks

        def attempt(req, rid):
            p = req.params
            with self.tracer.request(rid, group=rid):
                view = sinks.read_view(self.spark, self.view_dir)
                if req.kind == "history":
                    df = queries.history(
                        view, p["op"], p["cells"], _ms_to_dt(p["lo"]), _ms_to_dt(p["hi"])
                    )
                elif req.kind == "history_interval":
                    to = _ms_to_dt(p["to"]) if p["to"] is not None else None
                    df = queries.history_interval(
                        view, p["op"], p["cells"], p["interval"], to_ts=to
                    )
                else:
                    df = queries.snapshot(view, p["op"], _ms_to_dt(p["ts"]), p["bbox"])
                envelope.to_message(df)
            return df

        i = 0
        while not self.stop_ev.is_set() and (self.limit is None or i < self.limit):
            req = self.requests[i % len(self.requests)]
            t0 = time.perf_counter()
            for n in range(READ_ATTEMPTS):
                try:
                    df = attempt(req, f"read-{i}" if n == 0 else f"read-{i}.{n}")
                except Exception as e:  # noqa: BLE001 - a failed read is a counted op
                    msg = str(e)
                    if any(s in msg for s in RACE_MARKERS):
                        self.races += 1
                        if n + 1 < READ_ATTEMPTS:
                            continue
                        msg = "read race on every attempt: the store's files changed under it"
                    self.errors.append(msg.splitlines()[0][:300] if msg else type(e).__name__)
                else:
                    # a raced read's latency includes its failed attempts
                    self.latencies.append((time.perf_counter() - t0) * 1000.0)
                    if self.tracer.enabled:
                        self.phases.append(phases_ms(df))
                break
            i += 1


def generate(ctx) -> dict:
    """Generate inputs (ctx.setup_reps times; the median counts)."""
    times, inputs = [], None
    for _ in range(ctx.setup_reps):
        t0 = time.perf_counter()
        inputs = make_inputs(ctx.seed, ctx.scale, ctx.seconds)
        reqs = read_requests(ctx.seed, inputs)
        times.append(time.perf_counter() - t0)
    return {"inputs": inputs, "requests": reqs, "gen_s": median(times)}


def prepare(ctx, state) -> None:
    """Nothing: each pass warms its own stream (run_pass's warm_s)."""


def run_pass(ctx, state, tracer=NULL, label="run") -> dict:
    """One full pass: start the stream, warm it, steady phase, bursts,
    drain, check the store against DuckDB, stop."""
    from kafka_streams_pipeline_spark.streaming import pipeline

    spark, inputs = ctx.spark, state["inputs"]
    base = os.path.join(ctx.work, f"ingest-{label}")
    shutil.rmtree(base, ignore_errors=True)
    src, view_dir, ckpt = (os.path.join(base, d) for d in ("src", "view", "ckpt"))
    writer = Writer(src, os.path.join(base, "staging"))
    ck = Checkpoint(ckpt)
    chunks = inputs.chunks
    warm = [i for i, c in enumerate(chunks) if c.phase == "warm"]
    steady = [i for i, c in enumerate(chunks) if c.phase == "steady"]
    burst = [i for i, c in enumerate(chunks) if c.phase == "burst"]

    t_setup = time.perf_counter()
    q = pipeline.start_file_stream_pipeline(
        spark,
        src,
        view_dir,
        ckpt,
        rocksdb_state=True,
        available_now=False,
        processing_time="0 seconds",
    )
    res: dict = {"attempted": 0, "failed": 0, "errors": []}
    stop_reader, stop_warm = threading.Event(), threading.Event()
    reader = Reader(spark, view_dir, state["requests"], tracer, stop_reader)
    warm_reader = Reader(spark, view_dir, state["requests"][::-1], NULL, stop_warm)
    try:
        # warm-up: one micro-batch per warm chunk (the first compiles the
        # plan), with a reader running beside all but the first
        names = [writer.write(warm[0], chunks[warm[0]].body)]
        _wait_committed(ck, names, DRAIN_TIMEOUT_S)
        warm_reader.start()
        for i in warm[1:]:
            names.append(writer.write(i, chunks[i].body))
            _wait_committed(ck, names, DRAIN_TIMEOUT_S)
        stop_warm.set()
        warm_reader.join(timeout=60)
        res["warm_s"] = time.perf_counter() - t_setup
        log(f"perfbench: stream warm at {res['warm_s']:.1f} s")

        # steady phase: open-loop generator on this thread
        reader.start()
        t0 = time.time() + 0.05
        due, late = {}, []
        for i in steady:
            d = t0 + chunks[i].due
            now = time.time()
            if d > now:
                time.sleep(d - now)
            name = writer.write(i, chunks[i].body)
            due[name] = d
            late.append((writer.written[name] - d) * 1000.0)
        t_steady_end = time.time()
        done = _wait_committed(ck, due, DRAIN_TIMEOUT_S)
        lags = [(done[n] - d) * 1000.0 for n, d in due.items() if n in done]
        stop_reader.set()
        reader.join(timeout=60)
        log(f"perfbench: steady phase drained at {time.perf_counter() - t_setup:.1f} s")

        # bursts: a fixed backlog dropped at once, timed to drain
        rates = []
        for b in range(BURSTS):
            ids = [i for i in burst if chunks[i].due == b]
            _wait_quiet(ck)
            tb = time.time()
            bnames = [writer.write(i, chunks[i].body) for i in ids]
            done = _wait_committed(ck, bnames, DRAIN_TIMEOUT_S)
            if set(bnames) <= done.keys():
                drain = max(done[n] for n in bnames) - tb
                rates.append(sum(chunks[i].events for i in ids) / drain)
        log(f"perfbench: bursts drained at {time.perf_counter() - t_setup:.1f} s")

        all_names = set(writer.written)
        done = ck.committed()
        missing = len(all_names - done.keys())
        progress = _progress(q)
        mismatch = check_store(ctx, view_dir, inputs)
    finally:
        stop_reader.set()
        stop_warm.set()
        q.stop()
        reader.join(timeout=60)
        warm_reader.join(timeout=60)
    res.update(
        lags=lags,
        late_ms=late,
        reads=reader.latencies,
        read_races=warm_reader.races + reader.races,
        read_phases=reader.phases,
        burst_rates=rates,
        progress=progress,
        query_run_id=str(q.runId),
        steady_window=(t0, t_steady_end),
        written=dict(writer.written),
        committed=done,
        view_dir=view_dir,
    )
    read_errors = warm_reader.errors + reader.errors
    reads = len(warm_reader.latencies) + len(reader.latencies) + len(read_errors)
    res["attempted"] = len(chunks) + reads + 1
    res["failed"] = missing + len(read_errors) + (1 if mismatch else 0)
    res["mismatches"] = 1 if mismatch else 0
    res["errors"] = read_errors + ([f"store: {mismatch}"] if mismatch else [])
    return res


def expected_store(inputs) -> set:
    """view_oracle_sql over every generated reading, run in DuckDB:
    {(gh, window_start ms, count, sum, avg)}."""
    import duckdb
    import pandas as pd

    from kafka_streams_pipeline_spark.operators.view import view_oracle_sql

    con = duckdb.connect()
    try:
        readings = pd.DataFrame(inputs.readings)  # noqa: F841 - scanned by DuckDB
        con.execute("SET TimeZone = 'UTC'")
        sql = view_oracle_sql(
            "SELECT make_timestamp(timestamp * 1000) AS ts, geohash, tempVal FROM readings"
        )
        return {
            (r[0], int(r[1]), int(r[2]), float(r[3]), float(r[4]))
            for r in con.execute(
                f"SELECT gh, epoch_ms(window_start), count, sum, avg FROM ({sql})"
            ).fetchall()
        }
    finally:
        con.close()


def check_store(ctx, view_dir: str, inputs) -> str | None:
    """The drained store must equal expected_store exactly. Returns None
    or a description of the mismatch."""
    from pyspark.sql import functions as F

    from kafka_streams_pipeline_spark.sources import sinks

    got = {
        (r[0], r[1], r[2], r[3], r[4])
        for r in sinks.read_view(ctx.spark, view_dir)
        .select("gh", F.unix_millis("window_start"), "count", "sum", "avg")
        .collect()
    }
    want = expected_store(inputs)
    if got == want:
        return None
    return (
        f"store has {len(got)} rows, oracle {len(want)}; "
        f"{len(got - want)} store-only, {len(want - got)} oracle-only"
    )


def end_to_end(res: dict) -> dict:
    return {
        "op": res["lags"],
        "rate": median(res["burst_rates"]) if res["burst_rates"] else 0.0,
    }


def report_lines(res: dict, e2e: dict) -> list[tuple]:
    from common import summarize

    lag, rd = summarize(res["lags"]), summarize(res["reads"])
    return [
        ("ingest_lag_p50_ms", lag["p50"], "ms", f"n={lag['n']}"),
        ("ingest_lag_p90_ms", lag["p90"], "ms", f"n={lag['n']} tail=p{lag['tail_pct'] or 0:.1f}:{lag['tail']}"),
        ("ingest_burst_events_per_s", e2e["rate"], "events/s", f"bursts={len(res['burst_rates'])}"),
        ("mixed_read_p50_ms", rd["p50"], "ms", f"n={rd['n']}"),
        ("mixed_read_p90_ms", rd["p90"], "ms", f"n={rd['n']} tail=p{rd['tail_pct'] or 0:.1f}:{rd['tail']}"),
        ("mixed.read_races", res["read_races"], "count", ""),
    ]


def per_layer(ctx, state, res: dict, tracer) -> dict:
    """Layer metrics of a traced pass (streaming, sources, operators,
    geo, plans, generator)."""
    prog = [p for p in res["progress"] if p.get("numInputRows", 0) > 0]

    def dur(key):
        return median([p.get("durationMs", {}).get(key, 0) for p in prog])

    ops = [op for p in prog for op in (p.get("stateOperators") or [])[:1]]
    s0, s1 = res["steady_window"]
    busy = 0.0
    for p in prog:  # batch time inside the steady window
        b0 = _iso_s(p["timestamp"])
        b1 = b0 + p["durationMs"].get("triggerExecution", 0) / 1000.0
        busy += max(0.0, min(b1, s1) - max(b0, s0))
    # backlog: chunks written but not yet committed, sampled at every
    # write and commit instant
    events = sorted(
        [(t, 1) for t in res["written"].values()]
        + [(t, -1) for n, t in res["committed"].items() if n in res["written"]]
    )
    backlog = peak = 0
    for _, d in events:
        backlog += d
        peak = max(peak, backlog)
    store_files = len(glob.glob(os.path.join(res["view_dir"], "**", "*.parquet"), recursive=True))
    from kafka_streams_pipeline_spark.sources import sinks

    store_rows = sinks.read_view(ctx.spark, res["view_dir"]).count() if os.path.isdir(res["view_dir"]) else 0
    upsert = [(s["end"] - s["start"]) * 1000.0 for s in tracer.named("streaming.upsert")]
    return {
        "streaming.batch_ms": dur("triggerExecution"),
        "streaming.addBatch_ms": dur("addBatch"),
        "streaming.upsert_ms": median(upsert),
        "streaming.state_commit_ms": median([o.get("commitTimeMs", 0) for o in ops]),
        "streaming.walCommit_ms": dur("walCommit"),
        "streaming.commitOffsets_ms": dur("commitOffsets"),
        "streaming.queryPlanning_ms": dur("queryPlanning"),
        "streaming.latestOffset_ms": dur("latestOffset"),
        "streaming.busy_frac": busy / max(1e-9, s1 - s0),
        "streaming.backlog_chunks_max": peak,
        "generator.late_ms_max": max(res["late_ms"] or [0.0]),
        "streaming.rows_per_batch": median([p.get("numInputRows", 0) for p in prog]),
        "streaming.state_rows": ops[-1].get("numRowsTotal", 0) if ops else 0,
        "streaming.state_memory_bytes": max([o.get("memoryUsedBytes", 0) for o in ops] or [0]),
        "streaming.watermark_dropped_rows": sum(o.get("numRowsDroppedByWatermark", 0) for o in ops),
        "sources.read_view_ms": median(
            [
                (s["end"] - s["start"]) * 1000.0
                for s in tracer.named("sources.read_view")
                if s["rid"] is not None
            ]
        ),
        "sources.store_files": store_files,
        "sources.store_rows": store_rows,
        "mixed.read_races": res["read_races"],
        "_batches": len(prog),
    }


def install(tracer, ctx) -> None:
    """Wrap the ingest-side layer boundaries."""
    from kafka_streams_pipeline_spark.operators import queries
    from kafka_streams_pipeline_spark.plans import envelope
    from kafka_streams_pipeline_spark.sources import sinks
    from kafka_streams_pipeline_spark.streaming import pipeline

    orig_upsert = pipeline.upsert_view_batch

    def upsert_view_batch(view_dir):
        return tracer.wrap("streaming.upsert", orig_upsert(view_dir))

    tracer.patch(pipeline, "upsert_view_batch", upsert_view_batch)
    tracer.patch_span(sinks, "read_view", "sources.read_view")
    for kind in ("history", "history_interval", "snapshot"):
        tracer.patch_span(queries, kind, f"operators.build.{kind}")
    tracer.patch_span(envelope, "to_message", "plans.to_message")
