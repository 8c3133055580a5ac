"""Dump .explain("formatted") for bench queries to .bench_out/plans/.

Usage: python tools/dump_plans.py <suffix> [query ...]

Writes .bench_out/plans/<query>_<suffix>.txt for each named bench query
(default: all BENCH_QUERIES) at sf0.1 — the optimization round's
plan-shape evidence (guide §1: capture the plan before and after
every substantive change).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_streams_pipeline_spark.inventory import BENCH_QUERIES, QUERIES
from kafka_streams_pipeline_spark.session import get_spark


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:] or list(BENCH_QUERIES)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".bench_out",
        "plans",
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="kspipeline-plans")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")


if __name__ == "__main__":
    main()
