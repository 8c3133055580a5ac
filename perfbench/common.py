"""Shared plumbing: percentiles, run stamps, memory, the Spark session
and the DuckDB oracle's comparison helpers."""

from __future__ import annotations

import glob
import hashlib
import math
import os
import platform
import resource
import socket
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "kafka_streams_pipeline_spark"
OUT_DIR = os.path.join(ROOT, ".bench_out")


def median(xs) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    m = len(xs) // 2
    return float(xs[m]) if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2.0


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (no interpolation: every reported value
    is one that was measured)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = max(0, min(len(xs) - 1, math.ceil(q / 100.0 * len(xs)) - 1))
    return float(xs[k])


def tail_percentile(xs) -> dict | None:
    """The highest percentile that still has at least ten samples
    beyond it: with n samples that is the value with exactly ten
    larger-ranked samples, i.e. percentile 100·(n−10)/n (p90 at
    n = 100, p99 at n = 1000). None when n ≤ 10."""
    xs = sorted(xs)
    n = len(xs)
    if n <= 10:
        return None
    return {"pct": 100.0 * (n - 10) / n, "value": float(xs[n - 11]), "n": n}


def summarize(xs) -> dict:
    """Median, p90 and the tail rule's pick, with the sample count."""
    t = tail_percentile(xs)
    return {
        "n": len(xs),
        "p50": percentile(xs, 50),
        "p90": percentile(xs, 90),
        "tail_pct": t["pct"] if t else None,
        "tail": t["value"] if t else None,
    }


# ------------------------------------------------------------- stamps


def host_id() -> dict:
    cpu = ""
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    cpu = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    mem_kb = 0
    try:
        with open("/proc/meminfo") as f:
            mem_kb = int(f.readline().split()[1])
    except (OSError, ValueError, IndexError):
        pass
    return {
        "hostname": socket.gethostname(),
        "nproc": os.cpu_count(),
        "cpu": cpu,
        "mem_kb": mem_kb,
    }


def revision() -> str:
    """git HEAD when the checkout is a repository, else a digest of the
    engine's sources (an exported source tree carries no .git)."""
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=ROOT,
            capture_output=True,
            text=True,
            timeout=10,
        )
        if out.returncode == 0 and out.stdout.strip():
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    h = hashlib.sha1()
    for path in sorted(glob.glob(os.path.join(ROOT, PACKAGE, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return "tree-" + h.hexdigest()[:16]


def java_processes() -> int:
    n = 0
    for comm in glob.glob("/proc/[0-9]*/comm"):
        try:
            with open(comm) as f:
                if f.read().strip() == "java":
                    n += 1
        except OSError:
            pass
    return n


def stamp(seed: int) -> dict:
    """Taken before the JVM starts, so every java process counted is
    foreign to this run."""
    return {
        "seed": seed,
        "revision": revision(),
        "host": host_id(),
        "nproc": os.cpu_count(),
        "python": platform.python_version(),
        "loadavg": list(os.getloadavg()),
        "foreign_java": java_processes(),
        "started": time.time(),
    }


def same_host(a: dict, b: dict) -> bool:
    return a.get("host") == b.get("host")


# ------------------------------------------------------------- memory


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass
    return 0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident set of this Python process plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (py_kb + (_vm_hwm_kb(jvm_pid) if jvm_pid else 0)) / 1024.0


# ------------------------------------------------------------- spark


def start_spark(work: str, cpus: int, traced: bool):
    """The engine's own session profile (session.get_spark) with the
    scratch locations moved into the work dir and a driver heap small
    enough for a shared 4-vCPU box. Returns (spark, jvm_pid)."""
    from kafka_streams_pipeline_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    keep = "1000000" if traced else "1000"
    conf = {
        "spark.driver.memory": "1g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
        "spark.sql.streaming.minBatchesToRetain": "100000",
        "spark.ui.retainedJobs": keep,
        "spark.ui.retainedStages": keep,
        "spark.ui.retainedTasks": "1000",
        "spark.sql.ui.retainedExecutions": "1000",
    }
    spark = get_spark(app_name="perfbench", cpus=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    return spark, jvm_pid


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway exits on stdin EOF
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


# ------------------------------------------------------------- oracle


def canon(v) -> str:
    """tools/check_oracle.py's value canonicalisation."""
    if hasattr(v, "item"):
        v = v.item()
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == 0.0:
            v = 0.0
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def value_hash(rows) -> str:
    digests = sorted(
        hashlib.md5("|".join(canon(v) for v in row).encode()).hexdigest() for row in rows
    )
    return hashlib.md5("\n".join(digests).encode()).hexdigest()


def frame_hash(columns, rows) -> tuple:
    """(lower-cased column names, value hash over name-sorted columns)
    — the comparison tools/check_oracle.py applies."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    return (
        [c.lower() for c in columns],
        len(rows),
        value_hash([[r[i] for i in idx] for r in rows]),
    )


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)
