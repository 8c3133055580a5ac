"""Merge-on-read scaling measurement (round 9): the MoR read tax as
a function of DELTA-CHAIN LENGTH, and what compaction buys back.

The q_corpus_upsert row certifies correctness at fixture scale; this
tool measures the design's scale claim: ``read_corpus_latest`` costs
one key shuffle whose input grows with the delta chain, and
``compact_corpus`` folds the chain so the merged read degenerates to
a plain scan. Also measures the Z-order layout at the same row count:
rewrite cost and the second-dimension scan-skipping ratio from
runtime FileSourceScan metrics.

Usage:
    python tools/mor_scaling.py [--rows 2000000] [--out .bench_out/mor_scaling.json]

Synthetic (k, v) rows — nothing under /root/testdata is touched;
stores and layouts go to a temp dir.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from kafka_streams_pipeline_spark.session import get_spark  # noqa: E402
from kafka_streams_pipeline_spark.sources.versioned import (  # noqa: E402
    commit_corpus,
    compact_corpus,
    read_corpus_latest,
    upsert_corpus,
)

DELTA_ROWS = 20_000


def measure_read(spark, store: str) -> tuple[float, int, int]:
    t0 = time.time()
    row = (
        read_corpus_latest(spark, store, "k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("v").cast("long").alias("s"),
        )
        .collect()[0]
    )
    return round(time.time() - t0, 3), row["n"], row["s"]


def scan_rows_out(df) -> int:
    df.collect()

    def walk(node, out):
        out.append(node)
        cn = node.getClass().getName()
        if "AdaptiveSparkPlan" in cn:
            walk(node.executedPlan(), out)
        elif "QueryStage" in cn:
            walk(node.plan(), out)
        else:
            ch = node.children()
            for i in range(ch.size()):
                walk(ch.apply(i), out)
        return out

    for n in walk(df._jdf.queryExecution().executedPlan(), []):
        if "FileSourceScan" in n.getClass().getName():
            return int(n.metrics().apply("numOutputRows").value())
    raise AssertionError("no FileSourceScan")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=2_000_000)
    ap.add_argument("--out", default=".bench_out/mor_scaling.json")
    args = ap.parse_args()

    spark = get_spark(app_name="kspipeline-mor-scaling")
    spark.sparkContext.setLogLevel("ERROR")
    base = tempfile.mkdtemp(prefix="kspipeline-mor-")
    result: dict = {"rows": args.rows, "delta_rows": DELTA_ROWS}
    try:
        store = os.path.join(base, "store")
        commit_corpus(
            spark.range(args.rows).select(
                F.col("id").alias("k"), (F.col("id") % 997).alias("v")
            ),
            store,
            "base",
        )
        # warm the JVM/scan paths so delta-0 isn't a cold outlier
        measure_read(spark, store)

        chain = []
        committed = 0
        for target in (0, 8, 32, 64):
            while committed < target:
                lo = (committed * 37) % args.rows
                upsert_corpus(
                    spark.range(lo, lo + DELTA_ROWS).select(
                        (F.col("id") % args.rows).alias("k"),
                        (F.col("id") % 997 + 1_000_000).alias("v"),
                    ),
                    store,
                    "k",
                    f"delta {committed}",
                )
                committed += 1
            sec, n, s = measure_read(spark, store)
            chain.append(
                {"deltas": target, "sec": sec, "n": n, "vsum": s}
            )
        result["mor_read_by_chain_length"] = chain

        # Multi-read API composition (VERDICT r16 item 8): the
        # pre-compaction pattern q_corpus_upsert's fused one-pass
        # rewrite no longer exercises — three separate API reads
        # (merged head, merged AS OF mid-chain, CDC mid→head), each
        # resolving the same batch log through the public read
        # functions, aggregated in one action apiece. This is the
        # composition cost a real consumer of the three reads pays:
        # three scans + up to two key-window shuffles.
        from kafka_streams_pipeline_spark.sources.versioned import (
            latest_version,
            read_corpus_changes,
        )

        head_v = latest_version(store)
        mid_v = head_v // 2
        t0 = time.time()
        comp_rows = []
        for tag, df in (
            ("head", read_corpus_latest(spark, store, "k")),
            ("asof_mid", read_corpus_latest(spark, store, "k", mid_v)),
            ("changes_mid_head", read_corpus_changes(spark, store, mid_v)),
        ):
            r = df.agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("v").cast("long").alias("s"),
            ).collect()[0]
            comp_rows.append({"read": tag, "n": r["n"], "vsum": r["s"]})
        result["api_composition"] = {
            "head_version": head_v,
            "asof_version": mid_v,
            "three_read_sec": round(time.time() - t0, 3),
            "reads": comp_rows,
        }

        t0 = time.time()
        compact_corpus(spark, store, "k")
        compact_sec = round(time.time() - t0, 3)
        sec, n, s = measure_read(spark, store)
        result["compact"] = {
            "compact_sec": compact_sec,
            "post_compact_read_sec": sec,
            "n": n,
            "vsum": s,
        }
        post_must_match = chain[-1]
        if (n, s) != (post_must_match["n"], post_must_match["vsum"]):
            raise AssertionError(
                "compaction changed merged content: "
                f"{(n, s)} != {(post_must_match['n'], post_must_match['vsum'])}"
            )

        # Z-order at the same row count: rewrite cost + skipping ratio
        from kafka_streams_pipeline_spark.operators.layout import (
            zorder_write,
        )

        dim = 1 << 16
        data = spark.range(args.rows).select(
            F.col("id").alias("x"),
            ((F.col("id") * 2654435761) % dim).cast("long").alias("y"),
        )
        zdir = os.path.join(base, "z")
        ldir = os.path.join(base, "lin")
        t0 = time.time()
        zorder_write(data, zdir, "x", "y", n_files=64)
        z_write = round(time.time() - t0, 3)
        t0 = time.time()
        (
            data.repartitionByRange(64, "x")
            .sortWithinPartitions("x")
            .write.parquet(ldir)
        )
        lin_write = round(time.time() - t0, 3)
        pred = F.col("y") < dim // 16
        z_rows = scan_rows_out(spark.read.parquet(zdir).where(pred))
        lin_rows = scan_rows_out(spark.read.parquet(ldir).where(pred))
        result["zorder"] = {
            "rows": args.rows,
            "zorder_write_sec": z_write,
            "linear_write_sec": lin_write,
            "scan_rows_out_zorder": z_rows,
            "scan_rows_out_linear": lin_rows,
            "skip_ratio": round(lin_rows / max(1, z_rows), 2),
        }
    finally:
        shutil.rmtree(base, ignore_errors=True)
    os.makedirs(os.path.dirname(args.out) or ".", exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
