"""batch_ops: one caller building and collecting registered batch
queries over seeded fixture tables.

Each pass builds every query of ``QUERY_SET`` through
``inventory.QUERIES`` and fetches it the way callers of
``__spark_entry__`` do (``toPandas``); each result is hash-matched
against its ``inventory.ORACLES`` twin run in DuckDB, as
tools/check_oracle.py does.
"""

from __future__ import annotations

import os
import time

import gen
from common import frame_hash, median, summarize
from spans import NULL, phases_ms

# A fixed slice of inventory.BENCH_QUERIES: a full 52-query pass takes
# ~47 s warm at sf0.001 on 4 vCPUs, longer than one run may take. The
# slice keeps relational joins, a pricing aggregate, text tokenisation
# and vector top-k; two of them launch jobs while their DataFrame is
# built (q_join_inner, q_supplier_volume).
QUERY_SET = (
    "q_join_inner",
    "q_tpch_pricing",
    "q_supplier_volume",
    "q_text_wordcount",
    "q_sim_topk",
)


def oracle_hashes(fixture_dir: str) -> dict:
    import duckdb

    from kafka_streams_pipeline_spark import inventory
    from kafka_streams_pipeline_spark.schema import FIXTURE_TABLES

    con = duckdb.connect()
    try:
        for t in FIXTURE_TABLES:
            path = os.path.join(fixture_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for name in QUERY_SET:
            odf = con.execute(inventory.ORACLES[name]).df()
            out[name] = frame_hash(
                list(odf.columns), [tuple(r) for r in odf.itertuples(index=False, name=None)]
            )
        return out
    finally:
        con.close()


def generate(ctx) -> dict:
    """Write fixtures and hash the oracle answers (ctx.setup_reps times;
    the median counts). Needs no Spark."""
    times = []
    fixture_dir = os.path.join(ctx.work, "fixtures")
    for _ in range(ctx.setup_reps):
        t0 = time.perf_counter()
        rows = gen.write_fixtures(ctx.seed, ctx.scale, fixture_dir)
        want = oracle_hashes(fixture_dir)
        times.append(time.perf_counter() - t0)
    return {"fixture_dir": fixture_dir, "want": want, "rows": rows, "gen_s": median(times)}


def prepare(ctx, state) -> None:
    """One warm-up pass."""
    t0 = time.perf_counter()
    warm = one_pass(ctx, state, NULL, 0)
    state["prep_s"] = time.perf_counter() - t0
    state["warm_failed"] = sum(1 for q in warm if not q["ok"])


def one_pass(ctx, state, tracer, pass_no: int, deadline: float | None = None) -> list[dict]:
    """Each query of the slice once; stops before a query that would
    start after ``deadline``."""
    from kafka_streams_pipeline_spark import inventory

    out = []
    for name in QUERY_SET:
        if deadline is not None and time.perf_counter() >= deadline:
            break
        rid = f"p{pass_no}-{name}"
        rec = {"query": name, "ok": False}
        try:
            with tracer.request(rid, group=rid):
                t0 = time.perf_counter()
                df = inventory.QUERIES[name](ctx.spark, state["fixture_dir"])
                t1 = time.perf_counter()
                with tracer.span("inventory.exec", query=name):
                    pdf = df.toPandas()
                t2 = time.perf_counter()
            got = frame_hash(
                list(pdf.columns), [tuple(r) for r in pdf.itertuples(index=False, name=None)]
            )
            rec.update(build_s=t1 - t0, exec_s=t2 - t1, ok=got == state["want"][name])
            if not rec["ok"]:
                rec["error"] = f"hash mismatch: spark {got[:2]} oracle {state['want'][name][:2]}"
            if tracer.enabled:
                rec["phases"] = phases_ms(df)
        except Exception as e:  # noqa: BLE001 - a failed query is a counted op
            rec["error"] = str(e).splitlines()[0][:300] if str(e) else type(e).__name__
        out.append(rec)
    return out


def run_pass(ctx, state, tracer=NULL, label="run") -> dict:
    """Passes until ctx.seconds have elapsed. The first pass always
    completes; a later one stops at the deadline, and only complete
    passes count towards batch_pass_s."""
    deadline = time.perf_counter() + ctx.seconds
    passes = [one_pass(ctx, state, tracer, 1)]
    while time.perf_counter() < deadline:
        passes.append(one_pass(ctx, state, tracer, len(passes) + 1, deadline))
    recs = [q for p in passes for q in p]
    return {
        "passes": passes,
        "attempted": len(recs),
        "failed": sum(1 for q in recs if not q["ok"]),
        "mismatches": sum(1 for q in recs if q.get("error", "").startswith("hash mismatch")),
        "errors": [f"{q['query']}: {q['error']}" for q in recs if "error" in q],
    }


def _pass_s(p) -> float:
    return sum(q.get("build_s", 0.0) + q.get("exec_s", 0.0) for q in p)


def _complete(passes) -> list:
    return [p for p in passes if len(p) == len(QUERY_SET)]


def end_to_end(res: dict) -> dict:
    """rate is queries per second of the median pass, i.e. the inverse of
    batch_pass_s scaled by the slice size."""
    ok = [q for p in res["passes"] for q in p if q["ok"]]
    pass_s = median([_pass_s(p) for p in _complete(res["passes"])])
    return {
        "op": [(q["build_s"] + q["exec_s"]) * 1000.0 for q in ok],
        "rate": len(QUERY_SET) / pass_s if pass_s else 0.0,
    }


def report_lines(res: dict, e2e: dict) -> list[tuple]:
    a = summarize(e2e["op"])
    return [
        (
            "batch_pass_s",
            median([_pass_s(p) for p in _complete(res["passes"])]),
            "s",
            f"passes={len(_complete(res['passes']))} queries={len(QUERY_SET)}",
        ),
        ("batch_query_p50_ms", a["p50"], "ms", f"n={a['n']}"),
        ("batch_query_p90_ms", a["p90"], "ms", f"n={a['n']} tail=p{a['tail_pct'] or 0:.1f}:{a['tail']}"),
    ]


def install(tracer, ctx) -> None:
    from kafka_streams_pipeline_spark import inventory
    from kafka_streams_pipeline_spark.inventory import _shared

    tracer.patch_span(_shared, "load_table", "sources.load_table")
    for name in QUERY_SET:
        tracer.patch(inventory.QUERIES, name, tracer.wrap("inventory.build", inventory.QUERIES[name]))


def per_layer(ctx, state, res: dict, tracer) -> dict:
    from spans import self_times

    st = self_times(tracer.spans)
    per_pass: dict = {}
    for s in tracer.spans:
        rid = s["rid"] or ""
        p = per_pass.setdefault(rid.split("-", 1)[0], {})
        if s["name"] == "sources.load_table":
            p["load_s"] = p.get("load_s", 0.0) + (s["end"] - s["start"])
            p["load_jobs"] = p.get("load_jobs", 0) + s["attrs"]["jobs"]
        elif s["name"] == "inventory.build":
            child_jobs = sum(
                c["attrs"]["jobs"] for c in tracer.spans if c.get("parent") == s["id"]
            )
            p["build_s"] = p.get("build_s", 0.0) + st[s["id"]]
            p["build_jobs"] = p.get("build_jobs", 0) + s["attrs"]["jobs"] - child_jobs
        elif s["name"] == "inventory.exec":
            p["exec_s"] = p.get("exec_s", 0.0) + (s["end"] - s["start"])
            p["queries"] = p.get("queries", 0) + 1
    passes = [p for p in per_pass.values() if p.get("queries") == len(QUERY_SET)]
    return {
        "sources.load_table_s": median([p.get("load_s", 0.0) for p in passes]),
        "sources.load_table_jobs": median([p.get("load_jobs", 0) for p in passes]),
        "inventory.build_s": median([p.get("build_s", 0.0) for p in passes]),
        "inventory.build_jobs": median([p.get("build_jobs", 0) for p in passes]),
        "inventory.exec_s": median([p.get("exec_s", 0.0) for p in passes]),
    }
