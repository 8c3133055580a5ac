"""Higher-SF parallel-efficiency evidence (VERDICT r16 item 7).

The sf0.1 bench sits on the ~0.3–0.5 s per-query scheduling/collect
floor, so its c8-vs-c32 ratios cluster at ~1 and cannot demonstrate
parallel efficiency. This tool manufactures an sf1-equivalent
documents table (the scale_stress generator: 10× replication with
deterministic near-dup cliques and mutated filler) and times the
heaviest documents-only bench operators at BOTH core counts in
separate processes (one SparkContext per core count), with the noop
sink as the timed action (guide §1.4 — the driver-side collect of a
multi-million-row result is serial and would mask executor
parallelism, which is exactly what this artifact must measure).

Usage:
    python tools/scaling_c8_c32.py [--mult 10] [--runs 3]
        [--out .bench_out/scaling_c8_c32.json]
    python tools/scaling_c8_c32.py --child <dir> <cpus> <runs>  (internal)
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# documents-only operators behind the heaviest bench rows
QUERY_NAMES = [
    "q_dedup_hamming",
    "q_dedup_prefix_join",
    "q_boilerplate_scrub",
    "q_span_dedup",
    "q_repeated_ngrams_hashed",
]


def _child(gen_dir: str, cpus: int, runs: int) -> None:
    from kafka_streams_pipeline_spark.inventory import QUERIES
    from kafka_streams_pipeline_spark.session import get_spark

    spark = get_spark(app_name=f"kspipeline-scaling-c{cpus}", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    def release() -> None:
        import gc

        spark.catalog.clearCache()
        gc.collect()
        spark.sparkContext._jvm.System.gc()

    out: dict = {}
    for name in QUERY_NAMES:
        # warm codegen on the base fixture first
        QUERIES[name](spark, SF_BASE).write.format("noop").mode(
            "overwrite"
        ).save()
        release()
        ts = []
        for _ in range(runs):
            spark.sparkContext.setJobDescription(f"scaling {name} c{cpus}")
            t0 = time.time()
            QUERIES[name](spark, gen_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            ts.append(round(time.time() - t0, 3))
            release()
        out[name] = {"runs": ts, "median": sorted(ts)[len(ts) // 2]}
    print("CHILD_JSON:" + json.dumps(out))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=10)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--out", default=".bench_out/scaling_c8_c32.json")
    ap.add_argument("--child", nargs=3, metavar=("DIR", "CPUS", "RUNS"))
    args = ap.parse_args()
    if args.child:
        _child(args.child[0], int(args.child[1]), int(args.child[2]))
        return

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from scale_stress import generate

    base = tempfile.mkdtemp(prefix="kspipeline-scaling-sf1-")
    result: dict = {
        "mult": args.mult,
        "sf_base": SF_BASE,
        "timed_action": "noop",
        "runs_per_query": args.runs,
        "loadavg_at_start": list(os.getloadavg()),
    }
    try:
        generate(SF_BASE, base, args.mult)
        per_cpu: dict = {}
        for cpus in (32, 8):
            proc = subprocess.run(
                [
                    sys.executable,
                    os.path.abspath(__file__),
                    "--child",
                    base,
                    str(cpus),
                    str(args.runs),
                ],
                capture_output=True,
                text=True,
                timeout=3600,
            )
            line = [
                ln
                for ln in proc.stdout.splitlines()
                if ln.startswith("CHILD_JSON:")
            ]
            if not line:
                raise RuntimeError(
                    f"child c{cpus} failed:\n{proc.stdout[-2000:]}"
                    f"\n{proc.stderr[-2000:]}"
                )
            per_cpu[cpus] = json.loads(line[-1][len("CHILD_JSON:"):])
        result["per_query"] = {
            name: {
                "c32_sec": per_cpu[32][name]["median"],
                "c8_sec": per_cpu[8][name]["median"],
                "c32_runs": per_cpu[32][name]["runs"],
                "c8_runs": per_cpu[8][name]["runs"],
                "ratio_c8_over_c32": round(
                    per_cpu[8][name]["median"]
                    / max(per_cpu[32][name]["median"], 1e-9),
                    2,
                ),
            }
            for name in QUERY_NAMES
        }
    finally:
        shutil.rmtree(base, ignore_errors=True)
    os.makedirs(os.path.dirname(args.out) or ".", exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
