"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads: ingest_mixed, serve_read, batch_ops (or ``all``, which runs
the three in one session). Inputs come from ``--seed``; every output is
checked against DuckDB. Human-readable metric lines go to stdout, and
the last stdout line is one JSON object:

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json,
``--trace 1`` the per-layer metrics: it measures with timing spans
installed, prints the tracing overhead against the untraced record of
the same seed on this host (if ``.bench_out/`` holds one), and for
ingest_mixed adds a ``local[1]`` pass as the single-thread baseline. A
record of every run goes to ``.bench_out/``; see NOTES.md for what each
metric means.

Exit status: 0 when every checked output matched, 1 on a mismatch,
2 when the engine package or its dependencies are missing.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import types

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest_mixed", "serve_read", "batch_ops")
# one run must end within 180 s; the local[1] baseline gets what is left
RUN_LIMIT_S = 170.0


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=os.cpu_count())
    # input-size multiplier; test_bench.py's smoke runs use a small one
    ap.add_argument("--scale", type=float, default=1.0)
    return ap.parse_args(argv)


def _environment(work: str) -> None:
    """Point every scratch location into the checkout, and let Spark's
    Python workers import the engine package."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _modules():
    import wl_batch
    import wl_ingest
    import wl_serve

    return {"ingest_mixed": wl_ingest, "serve_read": wl_serve, "batch_ops": wl_batch}


# ----------------------------------------------------------- metrics


def end_to_end(ctx, mod, res: dict, setup_s: float) -> dict:
    """The gated metrics. Tails, mixed reads, rates and peak memory are
    in each workload's report lines: they swing too much from run to
    run on a shared 4-vCPU host to bound (NOTES.md)."""
    from common import percentile

    e = mod.end_to_end(res)
    return {
        "setup_s": setup_s,
        "op_p50_ms": percentile(e["op"], 50),
    }


def session_layer(ctx, tracer, phases: list[dict], n_ops: int, extra_groups=()) -> dict:
    from spans import group_stats

    totals: dict = {}
    for g in list(dict.fromkeys(tracer.groups)) + list(extra_groups):
        for k, v in group_stats(ctx.spark.sparkContext, g).items():
            totals[k] = totals.get(k, 0.0) + v
    n = max(1, n_ops)
    out = {f"session.{k}": v / n for k, v in totals.items()}
    for ph in ("analysis", "optimization", "planning"):
        vals = [p[ph] for p in phases]
        out[f"session.{ph}_ms"] = sum(vals) / len(vals) if vals else 0.0
    return out


def shared_layers(tracer) -> dict:
    """Operators, geo and plans: the same spans on ingest_mixed (reader)
    and serve_read (REST handlers)."""
    from common import median
    from spans import self_times

    st = self_times(tracer.spans)
    out = {}
    # only measured requests: warm-up calls carry no request id
    builds = [
        s for s in tracer.spans if s["name"].startswith("operators.build.") and s["rid"] is not None
    ]
    for kind in ("history", "history_interval", "snapshot"):
        out[f"operators.build_ms.{kind}"] = median(
            [st[s["id"]] * 1000.0 for s in builds if s["name"] == f"operators.build.{kind}"]
        )
    out["operators.build_jobs"] = (
        sum(s["attrs"]["jobs"] for s in builds) / len(builds) if builds else 0.0
    )
    cover = [s for s in tracer.named("geo.cover") if s["rid"] is not None]
    out["geo.cover_ms"] = median([(s["end"] - s["start"]) * 1000.0 for s in cover])
    out["geo.cover_prefixes"] = median([s["attrs"].get("prefixes", 0) for s in cover])
    out["plans.to_message_ms"] = median(
        [
            (s["end"] - s["start"]) * 1000.0
            for s in tracer.named("plans.to_message")
            if s["rid"] is not None
        ]
    )
    return out


def traced_pass(ctx, name: str, mod, state: dict) -> tuple[dict, dict, list]:
    """One pass with spans installed; returns (result, layers, spans)."""
    from kafka_streams_pipeline_spark import geo
    from spans import Tracer

    tracer = Tracer(ctx.spark.sparkContext)
    tracer.patch_span(
        geo,
        "cover_bbox_adaptive",
        "geo.cover",
        on_result=lambda s, out: s["attrs"].update(prefixes=len(out)),
    )
    mod.install(tracer, ctx)
    try:
        res = mod.run_pass(ctx, state, tracer, label="traced")
    finally:
        tracer.unpatch()
    layers = shared_layers(tracer)
    layers.update(mod.per_layer(ctx, state, res, tracer))
    if name == "ingest_mixed":
        phases = res["read_phases"]
        n_ops = len(res["reads"]) + layers.pop("_batches")
        extra = [res["query_run_id"]]
    elif name == "serve_read":
        phases = [p for s in tracer.named("serving.handler") for p in s["attrs"].get("phases", [])]
        n_ops, extra = len(res["samples"]), []
    else:
        phases = [q["phases"] for p in res["passes"] for q in p if "phases" in q]
        n_ops, extra = len(phases), []
    layers.update(session_layer(ctx, tracer, phases, n_ops, extra))
    return res, layers, tracer.dump()


def local1_baseline(args, timeout: float) -> dict:
    """ingest_mixed on local[1], in its own process (a session's core
    count is fixed when its JVM starts). On timeout the process group,
    its JVM included, is killed and waited for."""
    if timeout < 30:
        return {"error": "skipped: no time left in this run"}
    cmd = [
        sys.executable,
        os.path.abspath(__file__),
        "--workload",
        "ingest_mixed",
        "--seed",
        str(args.seed),
        "--seconds",
        str(args.seconds),
        "--trace",
        "0",
        "--cpus",
        "1",
        "--scale",
        str(args.scale),
    ]
    proc = subprocess.Popen(
        cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        start_new_session=True,
    )
    try:
        stdout, stderr = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        while True:  # the JVM is a grandchild: wait for the group to empty
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.1)
        return {"error": f"timed out after {timeout:.0f} s"}
    lines = stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])["metrics"]
    except (IndexError, ValueError, KeyError):
        return {"error": f"exit {proc.returncode}", "stderr": stderr[-2000:]}


# ----------------------------------------------------------- main


def run_workload(ctx, name: str, state: dict, trace: bool, session_s: float) -> dict:
    """set-up time = session start + generation (median of reps) +
    store build / warm-up, summed although generation overlaps the
    session start in wall time."""
    from common import log, peak_rss_mb

    mod = _modules()[name]
    t0 = time.perf_counter()
    mod.prepare(ctx, state)
    log(f"perfbench: {name} prepared in {time.perf_counter() - t0:.1f} s")
    if trace:
        res, layers, spans = traced_pass(ctx, name, mod, state)
    else:
        res = mod.run_pass(ctx, state)
    setup_s = session_s + state["gen_s"] + state.get("prep_s", 0.0) + res.get("warm_s", 0.0)
    log(f"perfbench: {name} pass done at {time.perf_counter() - t0:.1f} s")
    e2e = end_to_end(ctx, mod, res, setup_s)
    out = {
        "workload": name,
        "e2e": e2e,
        "report": mod.report_lines(res, mod.end_to_end(res))
        + [("peak_rss_mb", peak_rss_mb(ctx.jvm_pid), "MB", "Python + driver JVM")],
        "attempted": res["attempted"],
        "failed": res["failed"] + state.get("warm_failed", 0),
        "mismatches": res["mismatches"],
        "errors": res["errors"][:20],
        "wall_s": time.perf_counter() - t0,
    }
    if trace:
        out["layers"] = layers
        out["spans"] = spans
    return out


def untraced_twin(record: dict) -> tuple[str, dict] | None:
    """The latest untraced record in OUT_DIR of the same workload, seed,
    sizes and code on the same host: the reference for tracing overhead."""
    from common import OUT_DIR, same_host

    want = {k: v for k, v in record["args"].items() if k != "trace"}
    best = None
    for path in glob.glob(os.path.join(OUT_DIR, "*-trace0-*.json")):
        try:
            with open(path) as f:
                other = json.load(f)
        except (OSError, ValueError):
            continue
        args = {k: v for k, v in other.get("args", {}).items() if k != "trace"}
        stamp = other.get("stamp", {})
        if (
            args == want
            and same_host(stamp, record["stamp"])
            and stamp.get("revision") == record["stamp"]["revision"]
            and (best is None or stamp["started"] > best[1]["stamp"]["started"])
        ):
            best = (path, other)
    return best


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401

        sys.path.insert(0, ROOT)
        import kafka_streams_pipeline_spark  # noqa: F401
        from kafka_streams_pipeline_spark.session import get_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    spec = _spec()
    from common import OUT_DIR, log, stamp, start_spark, stop_spark
    from compare import compare

    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    record = {"stamp": stamp(args.seed), "args": vars(args)}
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    results = []
    ctx = types.SimpleNamespace(
        spark=None,
        jvm_pid=None,
        seed=args.seed,
        scale=args.scale,
        seconds=args.seconds,
        work=work,
        setup_reps=3,
        # half the cores: with a client per core the store queries queue
        # for CPU, and with one client the cores idle between the
        # request's many thread hand-offs, whose wake-ups then swing
        # with the load on the host (NOTES.md)
        clients=max(1, (os.cpu_count() or 2) // 2),
    )
    mods = _modules()
    try:
        # inputs are generated while the JVM starts
        with concurrent.futures.ThreadPoolExecutor(1) as pool:
            states = pool.submit(lambda: {n: mods[n].generate(ctx) for n in names})
            t0 = time.perf_counter()
            ctx.spark, ctx.jvm_pid = start_spark(work, args.cpus, bool(args.trace))
            session_s = time.perf_counter() - t0
            log(f"perfbench: session started in {session_s:.1f} s")
        try:
            states = states.result()
            record["stamp"]["spark"] = ctx.spark.version
            for name in names:
                log(f"perfbench: {name} seed={args.seed} seconds={args.seconds} trace={args.trace}")
                results.append(run_workload(ctx, name, states[name], bool(args.trace), session_s))
        finally:
            stop_spark(ctx.spark)
        if args.trace and "ingest_mixed" in names:
            log("perfbench: ingest_mixed on local[1]")
            left = RUN_LIMIT_S - (time.perf_counter() - t_start)
            results[names.index("ingest_mixed")]["local1"] = local1_baseline(args, left)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    record["results"] = [{k: v for k, v in r.items() if k != "spans"} for r in results]
    twin = untraced_twin(record) if args.trace else None
    e2e_spec = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer_spec = {m["name"]: m["unit"] for m in spec["per_layer"]}
    metrics: dict = {}
    for r in results:
        prefix = f"{r['workload']}." if len(results) > 1 else ""
        rate = r["failed"] / r["attempted"] if r["attempted"] else 0.0
        traced = " (traced)" if args.trace else ""
        print(f"== {r['workload']}{traced}  seed={args.seed}  attempted={r['attempted']}  failed={r['failed']}")
        for k, v in r["e2e"].items():
            print(f"  {k:<28} {v:14.4f} {e2e_spec[k]}")
        for k, v, unit, note in r["report"]:
            print(f"  {k:<28} {v:14.4f} {unit}  {note}")
        print(f"  {'ops_failed_frac':<28} {rate:14.4f} ratio")
        if args.trace:
            for k in layer_spec:
                print(f"  {k:<36} {r['layers'].get(k, 0.0):14.4f} {layer_spec[k]}")
            if twin is None:
                print("  trace overhead: no untraced record of this seed on this host; run --trace 0 first")
            for wl, k, base, traced_v, rel in compare(twin[1], record) if twin else ():
                if wl == r["workload"] and k != "setup_s":
                    print(f"  trace overhead {k:<21} {traced_v - base:+14.4f} ({rel:+.1%})")
            if "local1" in r:
                print(f"  local[1] baseline: {json.dumps(r['local1'])}")
        for e in r["errors"][:5]:
            print(f"  error: {e}")
        chosen = (
            {k: r["layers"].get(k, 0.0) for k in layer_spec}
            if args.trace
            else {k: r["e2e"][k] for k in e2e_spec}
        )
        units = layer_spec if args.trace else e2e_spec
        for k, v in chosen.items():
            metrics[prefix + k] = {"value": v, "unit": units[k]}

    if twin:
        print(f"  (overhead measured against {os.path.basename(twin[0])})")
    os.makedirs(OUT_DIR, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}"
    with open(os.path.join(OUT_DIR, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    if args.trace:
        with open(os.path.join(OUT_DIR, f"{tag}.spans.json"), "w") as f:
            json.dump({r["workload"]: r["spans"] for r in results}, f, default=str)

    mismatches = sum(r["mismatches"] for r in results)
    print(
        json.dumps(
            {
                "correct": mismatches == 0,
                "attempted": sum(r["attempted"] for r in results),
                "failed": sum(r["failed"] for r in results),
                "metrics": metrics,
            }
        )
    )
    return 0 if mismatches == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
