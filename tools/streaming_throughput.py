"""End-to-end ingest throughput of the full streaming topology.

The reference publishes no throughput numbers (BASELINE.md), so this
records OURS: events/second through the complete continuous pipeline
— file-source replay → PERMISSIVE decode shape → event-time + 24 h
watermark → 1-hour windowed count/sum/avg (update mode) →
foreachBatch partition-upsert into the parquet view store — the same
code path `q_streaming_view` hash-certifies against the batch
oracle. Two modes bracket the deployment envelope:

- ``bulk``: one availableNow micro-batch — raw sustained ingest
  rate, the backfill/replay number.
- ``micro``: N time-ordered chunks at maxFilesPerTrigger=1 — every
  event pays real micro-batch scheduling + checkpoint + per-batch
  view upsert, the steady-state analog of the reference's 10 s
  commit cadence (KafkaStreamsAggregator.java:120).

Usage:
    python tools/streaming_throughput.py [--chunks 20] \
        [--out .bench_out/streaming_throughput.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_streams_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _progress_breakdown(q) -> dict:
    """Mean per-batch durationMs attribution from the query's
    progress events: triggerExecution is the whole batch; addBatch is
    the data plan INCLUDING the foreachBatch upsert; the remainder
    (walCommit, stateCommit via stateOperators, getBatch/planning) is
    streaming-machinery fixed cost."""
    progs = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0
             or p.get("durationMs")]
    if not progs:
        return {}
    keys = set()
    for p in progs:
        keys.update((p.get("durationMs") or {}).keys())
    out = {
        f"mean_{k}_ms": round(
            sum((p.get("durationMs") or {}).get(k, 0) for p in progs)
            / len(progs)
        )
        for k in sorted(keys)
    }
    commit_ms = [
        op.get("allUpdatesTimeMs", 0) + op.get("commitTimeMs", 0)
        for p in progs
        for op in (p.get("stateOperators") or [])
    ]
    if commit_ms:
        out["mean_state_update_plus_commit_ms"] = round(
            sum(commit_ms) / len(progs)
        )
    out["n_batches"] = len(progs)
    return out


def run_mode(spark, rows: list, n_chunks: int, label: str, **knobs) -> dict:
    from kafka_streams_pipeline_spark.inventory._shared import (
        _scratch,
        _write_chunks,
    )
    from kafka_streams_pipeline_spark.streaming.pipeline import (
        await_replay,
        read_view,
        start_file_stream_pipeline,
    )

    per = -(-len(rows) // n_chunks)
    with _scratch(f"tput-{label}") as base:
        src = os.path.join(base, "src")
        view_dir = os.path.join(base, "view")
        _write_chunks(
            src, [rows[c * per : (c + 1) * per] for c in range(n_chunks)]
        )
        t0 = time.time()
        q = start_file_stream_pipeline(
            spark, src, view_dir, os.path.join(base, "ckpt"),
            available_now=True,
            max_files_per_trigger=1 if n_chunks > 1 else None,
            **knobs,
        )
        await_replay(q, 600)
        sec = time.time() - t0
        breakdown = _progress_breakdown(q)
        n_view = read_view(spark, view_dir).count()
    out = {
        "events": len(rows),
        "chunks": n_chunks,
        "sec": round(sec, 3),
        "events_per_sec": round(len(rows) / sec),
        "view_rows": n_view,
        **({"knobs": knobs} if knobs else {}),
        **({"breakdown": breakdown} if breakdown else {}),
    }
    print(f"  {label}: {out['events_per_sec']} events/s "
          f"({len(rows)} events, {n_chunks} micro-batches, "
          f"{out['sec']}s, view {n_view} rows) {breakdown}", flush=True)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--chunks", type=int, default=20)
    ap.add_argument("--out", default=".bench_out/streaming_throughput.json")
    args = ap.parse_args()

    spark = get_spark(app_name="kspipeline-stream-tput")
    spark.sparkContext.setLogLevel("ERROR")
    from kafka_streams_pipeline_spark.inventory._shared import (
        _sorted_replay_rows,
    )

    rows = _sorted_replay_rows(spark, SF_DIR)
    # warm-up: one small replay so JVM/codegen/stream-machinery
    # startup cost doesn't land in the recorded numbers
    run_mode(spark, rows[:2000], 2, "warmup")
    payload = {
        "sf_dir": SF_DIR,
        "bulk": run_mode(spark, rows, 1, "bulk"),
        # "micro" runs the DEFAULT knobs — which as of r14 derive the
        # state-partition count from the view topology's standing key
        # cardinality (default_state_partitions() = 8 for ~2,880
        # keys; VERDICT r13 item 5). The legacy-200 leg records what
        # the stock Spark shuffle default costs on the same replay.
        "micro": run_mode(spark, rows, args.chunks, "micro"),
        "micro_legacy200": run_mode(
            spark, rows, args.chunks, "micro_legacy200",
            state_partitions=200,
        ),
        "micro_rocksdb": run_mode(
            spark, rows, args.chunks, "micro_rocksdb",
            rocksdb_state=True,
        ),
        "note": (
            "full topology incl. checkpoint + per-batch parquet view "
            "upsert; reference publishes no comparable number "
            "(BASELINE.md)"
        ),
    }
    os.makedirs(os.path.dirname(args.out) or ".", exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(payload, f, indent=2)
    print(json.dumps({"wrote": args.out,
                      "bulk_eps": payload["bulk"]["events_per_sec"],
                      "micro_eps": payload["micro"]["events_per_sec"]}))


if __name__ == "__main__":
    main()
