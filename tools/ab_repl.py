"""Interactive A/B timing REPL for the optimization round.

Usage: python -i tools/ab_repl.py  (inside tmux). Gives:
  t('q_name', n=3, sf='/root/testdata/sf0.1')  -> prints runs + median
  ab(fa, fb, n=5)                              -> INTERLEAVED paired A/B
  rb()                                         -> release cached blocks
  ex('q_name')                                 -> explain('formatted')
Timing is bench-identical: QUERIES[name](spark, sf_dir).collect(),
release_blocks between timed runs.

VERDICT r16 item 3: back-to-back medians taken in separate windows
(or even separate minutes on this host-contended box) disagreed with
the full-bench confirmation runs twice in r16. ``ab`` interleaves the
two variants A,B,A,B,... inside ONE window so every pair shares its
contention, and reports the per-pair deltas — the accept evidence is
the SIGN CONSISTENCY of the pairs, not a cross-window median ratio.
"""

import gc
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_streams_pipeline_spark.inventory import QUERIES  # noqa: E402
from kafka_streams_pipeline_spark.session import get_spark  # noqa: E402

spark = get_spark(app_name="ab-repl")
spark.sparkContext.setLogLevel("ERROR")
SF = "/root/testdata/sf0.1"


def rb():
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def t(name, n=3, sf=SF):
    runs = []
    for _ in range(n):
        t0 = time.time()
        QUERIES[name](spark, sf).collect()
        runs.append(round(time.time() - t0, 3))
        rb()
    med = sorted(runs)[len(runs) // 2]
    print(f"{name}: runs={runs} median={med}")
    return med


def ab(fa, fb, n=5, warmups=1):
    """Interleaved paired A/B: run A then B back-to-back n times in
    one window (plus ``warmups`` untimed A+B pairs first), releasing
    blocks between every timed run. ``fa``/``fb`` are zero-arg
    callables that build AND materialize their frame (e.g.
    ``lambda: QUERIES['q_x'](spark, SF).collect()``) — or query
    names, timed bench-identically. Prints per-pair (a, b, b-a) and
    the medians; accept evidence is pair-sign consistency."""

    def _mk(f):
        if isinstance(f, str):
            return lambda: QUERIES[f](spark, SF).collect()
        return f

    fa, fb = _mk(fa), _mk(fb)
    for _ in range(warmups):
        fa()
        rb()
        fb()
        rb()
    pairs = []
    for i in range(n):
        t0 = time.time()
        fa()
        a = round(time.time() - t0, 3)
        rb()
        t0 = time.time()
        fb()
        b = round(time.time() - t0, 3)
        rb()
        pairs.append((a, b))
        print(f"  pair {i + 1}: A={a} B={b} B-A={round(b - a, 3):+}")
    med = lambda xs: sorted(xs)[len(xs) // 2]  # noqa: E731
    ma, mb = med([p[0] for p in pairs]), med([p[1] for p in pairs])
    wins = sum(1 for a, b in pairs if b < a)
    print(
        f"A median={ma}  B median={mb}  B faster in {wins}/{n} pairs"
    )
    return pairs


def ex(name, sf=SF):
    QUERIES[name](spark, sf).explain("formatted")


def warm():
    for nm in list(QUERIES):
        try:
            QUERIES[nm](spark, "/root/testdata/sf0.001").collect()
        except Exception as e:  # noqa: BLE001
            print("warm fail", nm, e)
    rb()


print("ab_repl ready: t(name), rb(), ex(name), warm()")
