"""Benchmark harness (driver contract).

Runs the headline declared queries at ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and
prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is executed with a result-materializing action (collect on
the final, already-aggregated frame — the driver does the same). A
warmup pass on sf0.001 triggers JVM/codegen warm paths so steady-state
throughput is measured, not JIT. Per-query numbers are the MEDIAN of
three timed runs. First runs and max-min spreads go to
``.bench_out/bench_detail.json``; cross-run comparison (host stamps,
A/B) is the job of ``perfbench/``.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from kafka_streams_pipeline_spark.inventory import BENCH_QUERIES, QUERIES
from kafka_streams_pipeline_spark.session import get_spark

DETAIL_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), ".bench_out", "bench_detail.json"
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    spark = get_spark(app_name="kspipeline-bench")
    spark.sparkContext.setLogLevel("ERROR")

    def release_blocks() -> None:
        """Drop cached/checkpointed blocks left by the previous query.

        Iterative operators persist/localCheckpoint intermediates
        whose lifetime is the query; in a single-JVM session the
        leftovers accumulate, evict each other, and force recomputes
        (a uniform ~1.5× drift across even unchanged queries). One
        JVM GC cycle lets the ContextCleaner reap the unreferenced
        blocks so every timed query starts from the same storage
        state."""
        import gc

        spark.catalog.clearCache()
        gc.collect()  # release py4j refs pinning JVM-side RDDs
        spark.sparkContext._jvm.System.gc()

    warm_dir = "/root/testdata/sf0.001"
    for name in BENCH_QUERIES:
        if os.path.isdir(warm_dir):
            QUERIES[name](spark, warm_dir).collect()
    release_blocks()

    timings: dict[str, float] = {}
    first_runs: dict[str, float] = {}
    spreads: dict[str, float] = {}
    for name in BENCH_QUERIES:
        # median of 3: rejects one outlier in either direction; the
        # recorded spread keeps the noise floor visible per query
        runs = []
        for _ in range(3):
            t0 = time.time()
            QUERIES[name](spark, sf_dir).collect()
            runs.append(time.time() - t0)
        first_runs[name] = round(runs[0], 3)
        timings[name] = round(sorted(runs)[1], 3)
        spreads[name] = round(max(runs) - min(runs), 3)
        release_blocks()

    total = round(sum(timings.values()), 3)
    # The driver keeps only the LAST 2000 chars of bench output, so
    # the final stdout line is a compact medians-only payload and
    # everything diagnostic goes to the detail file.
    payload = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
    }
    detail = {
        "first_run_total_sec": round(sum(first_runs.values()), 3),
        "first_runs": first_runs,
        "spread": spreads,
        "queries": timings,
        "runs_per_query": 3,
        "aggregation": "median",
        "total_sec": total,
        "sf": sf_val,
    }
    try:
        os.makedirs(os.path.dirname(DETAIL_PATH), exist_ok=True)
        with open(DETAIL_PATH, "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
    except OSError as exc:  # diagnostics must never fail the record
        print(f"BENCH WARNING: detail write failed: {exc}", file=sys.stderr)
    line = json.dumps(payload)
    if len(line) > 1900:  # hard driver-capture budget; medians only
        print(f"BENCH WARNING: summary line {len(line)} chars, "
              "driver captures last 2000 — trim BENCH_QUERIES",
              file=sys.stderr)
    print(line)


if __name__ == "__main__":
    main()
