"""Tests of the benchmark itself, not of the engine.

    python3 -m pytest perfbench -q -p no:cacheprovider

The smoke runs start a Spark session each and take about a minute
apiece; ``-k 'not smoke'`` leaves them out.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys

import pytest

import common
import compare
import gen
import spans
import wl_batch
import wl_ingest
import wl_serve

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SMALL = 0.05


# ------------------------------------------------------- seeded inputs


def _ingest(seed):
    inputs = wl_ingest.make_inputs(seed, SMALL, 2.0)
    return inputs, wl_ingest.read_requests(seed, inputs)


def test_ingest_inputs_follow_the_seed():
    (a, ra), (b, rb), (c, rc) = _ingest(1), _ingest(1), _ingest(2)
    assert [x.body for x in a.chunks] == [x.body for x in b.chunks]
    assert [r.path for r in ra] == [r.path for r in rb]
    assert wl_ingest.expected_store(a) == wl_ingest.expected_store(b)
    assert [x.body for x in a.chunks] != [x.body for x in c.chunks]
    assert [r.path for r in ra] != [r.path for r in rc]
    assert wl_ingest.expected_store(a) != wl_ingest.expected_store(c)


def test_ingest_inputs_have_late_events_across_midnight():
    a, _ = _ingest(3)
    ts = a.readings["timestamp"]
    assert a.out_of_order > 0
    assert len({int(t) // gen.DAY_MS for t in ts}) >= 2
    # every event is inside the 24 h grace of the latest event before it
    assert (ts - gen.np.maximum.accumulate(ts)).min() > -24 * gen.HOUR_MS


def test_serve_inputs_and_answers_follow_the_seed():
    a, b, c = (wl_serve.make_inputs(s, SMALL) for s in (1, 1, 2))
    assert [r.path for r in a[1]] == [r.path for r in b[1]]
    assert a[2] == b[2]
    assert [r.path for r in a[1]] != [r.path for r in c[1]]
    assert a[2] != c[2]
    assert {r.kind for r in a[1]} == {"history", "history_interval", "snapshot"}


def test_batch_fixtures_and_oracles_follow_the_seed(tmp_path):
    hashes = []
    for i, seed in enumerate((1, 1, 2)):
        d = str(tmp_path / f"fx{i}")
        rows = gen.write_fixtures(seed, SMALL, d)
        hashes.append((rows, wl_batch.oracle_hashes(d)))
    assert hashes[0] == hashes[1]
    assert hashes[0][1] != hashes[2][1]


# ------------------------------------------------------------ statistics


def test_tail_percentile_keeps_ten_samples_beyond_it():
    xs = list(range(1, 101))
    random.Random(0).shuffle(xs)
    t = common.tail_percentile(xs)
    assert t == {"pct": 90.0, "value": 90.0, "n": 100}
    assert sum(1 for x in xs if x > t["value"]) == 10

    t = common.tail_percentile(range(1000))
    assert (t["pct"], t["value"], t["n"]) == (99.0, 989.0, 1000)

    t = common.tail_percentile(range(40))
    assert (t["pct"], t["value"], t["n"]) == (75.0, 29.0, 40)

    assert common.tail_percentile(range(10)) is None


def test_summarize_reports_the_sample_count():
    s = common.summarize(range(1, 51))
    assert s["n"] == 50
    assert s["p50"] == 25.0 and s["p90"] == 45.0
    assert (s["tail_pct"], s["tail"]) == (80.0, 40.0)
    assert common.summarize([])["n"] == 0


# ------------------------------------------------------------------ spans


def _span(i, start, end, parent=None):
    return {"id": i, "name": f"s{i}", "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_the_union_of_children():
    tree = [
        _span(1, 0.0, 10.0),
        _span(2, 1.0, 3.0, parent=1),
        _span(3, 2.0, 5.0, parent=1),  # overlaps span 2: union is 1..5
        _span(4, 8.0, 12.0, parent=1),  # clipped to the parent: 8..10
        _span(5, 1.5, 2.5, parent=2),  # grandchild: only span 2 loses it
        _span(6, 20.0, 21.0),
    ]
    st = spans.self_times(tree)
    assert st[1] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st[2] == pytest.approx(1.0)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(4.0)
    assert st[5] == pytest.approx(1.0)
    assert st[6] == pytest.approx(1.0)


def test_tracer_links_nested_spans_to_their_parent_and_request():
    tr = spans.Tracer()
    with tr.request("r1"):
        with tr.span("outer"):
            with tr.span("inner"):
                pass
    outer, inner = tr.named("outer")[0], tr.named("inner")[0]
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert outer["rid"] == inner["rid"] == "r1"
    st = spans.self_times(tr.spans)
    whole = outer["end"] - outer["start"]
    assert st[outer["id"]] == pytest.approx(whole - (inner["end"] - inner["start"]))


def test_tracer_patch_is_undone():
    ns = type("ns", (), {"f": staticmethod(lambda x: x + 1)})
    reg = {"q": lambda: 7}
    tr = spans.Tracer()
    orig_f, orig_q = ns.f, reg["q"]
    tr.patch_span(ns, "f", "layer.f")
    tr.patch(reg, "q", tr.wrap("layer.q", reg["q"]))
    assert ns.f(1) == 2 and reg["q"]() == 7
    assert [s["name"] for s in tr.spans] == ["layer.f", "layer.q"]
    tr.unpatch()
    assert ns.f is orig_f and reg["q"] is orig_q


# ----------------------------------------------------------- run records


def _record(host, value):
    return {
        "stamp": {"host": host},
        "results": [{"workload": "serve_read", "e2e": {"op_p50_ms": value}}],
    }


def test_compare_refuses_records_from_different_hosts():
    a = {"hostname": "a", "nproc": 4, "cpu": "x", "mem_kb": 1}
    b = dict(a, hostname="b")
    rows = compare.compare(_record(a, 100.0), _record(dict(a), 110.0))
    assert rows == [("serve_read", "op_p50_ms", 100.0, 110.0, pytest.approx(0.1))]
    with pytest.raises(ValueError):
        compare.compare(_record(a, 100.0), _record(b, 110.0))


# ------------------------------------------------------------ smoke runs


@pytest.mark.parametrize("workload", ["ingest_mixed", "serve_read", "batch_ops"])
def test_smoke(workload):
    cmd = [
        sys.executable,
        os.path.join(HERE, "run.py"),
        "--workload", workload,
        "--seed", "1",
        "--seconds", "2",
        "--trace", "0",
        "--scale", str(SMALL),
    ]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] is True
    assert result["attempted"] >= 1
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = {m["name"] for m in json.load(f)["end_to_end"]}
    assert set(result["metrics"]) == names
    assert all(m["value"] > 0 for m in result["metrics"].values())
