"""Physical-plan shape assertions: the properties the 100 TB design
relies on must be visible in the executed plan, not just claimed
(README §Design for 100 TB). Guards against regressions that stay
correct but silently lose pushdown / broadcast / partial aggregation.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest

from kafka_streams_pipeline_spark.inventory import QUERIES


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def sf(sf_dir):
    return sf_dir


def test_filter_and_projection_pushdown(spark, sf):
    plan = plan_of(QUERIES["q_filter_time_range"](spark, sf))
    # time-range (on the raw nanos twin) + IN predicates reach the
    # parquet scan
    assert "PushedFilters" in plan
    pushed = plan[plan.index("PushedFilters") :].splitlines()[0]
    assert "GreaterThanOrEqual(ts," in pushed and "In(event_type" in pushed
    # column pruning: props (the widest column) is not read
    read = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "props" not in read


def test_dimension_joins_broadcast(spark, sf):
    for q in ["q_join_inner", "q_join_broadcast", "q_supplier_volume"]:
        plan = plan_of(QUERIES[q](spark, sf))
        assert "BroadcastHashJoin" in plan, q
        assert "SortMergeJoin" not in plan, q


def test_pricing_is_single_pass_partial_agg(spark, sf):
    plan = plan_of(QUERIES["q_tpch_pricing"](spark, sf))
    # one scan, partial+final hash agg, exactly one exchange
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert plan.count("(Exchange") + plan.count("- Exchange") == 1
    # map-side combine before the exchange
    assert "partial_sum" in plan


def test_topk_avoids_global_sort(spark, sf):
    plan = plan_of(QUERIES["q_topk_limit"](spark, sf))
    assert "TakeOrderedAndProject" in plan


def test_declared_queries_stay_jvm_side(declared_plans):
    """No Python evaluation in any declared query plan: UDF-free by
    design (geohash work is driver-side; kernels are higher-order
    SQL). Row-based (BatchEvalPython) and scalar-Arrow
    (ArrowEvalPython) UDF nodes may appear nowhere. mapInPandas is
    sanctioned only where the work cannot be a JVM expression: the
    media-decode queries (binary codecs), q_semantic_dedup (its
    centroid assignment scores each batch as one NumPy matmul) and
    q_lttb_prereduced (a sequential monotone-chain scan per contiguous
    group run). The applyInPandas census is
    test_plan_contracts::test_no_rowbased_python_udfs_in_declared_plans;
    both read the same once-built plans."""
    map_in_pandas_ok = {n for n in QUERIES if n.startswith("q_media_")} | {
        "q_semantic_dedup",
        "q_lttb_prereduced",
    }
    assert set(declared_plans) == set(QUERIES)
    for name, plan in declared_plans.items():
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        if name not in map_in_pandas_ok:
            assert "MapInPandas" not in plan, name


def test_snapshot_prefix_becomes_native_filter(spark, sf):
    plan = plan_of(QUERIES["q_snapshot"](spark, sf))
    # the bbox cover turned into a StartsWith/range predicate on gh,
    # evaluated natively (pushed or in a codegen Filter) — no UDF
    assert "StartsWith" in plan or "startswith" in plan.lower()
    assert "BatchEvalPython" not in plan


def test_tpch_q5_filters_pushed_and_dims_broadcast(spark, sf):
    plan = plan_of(QUERIES["q_local_supplier_volume"](spark, sf))
    # all three selective predicates reach the parquet scans
    assert "EqualTo(r_name,ASIA)" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "LessThan(o_orderdate" in plan
    # dimension sides broadcast, never shuffled
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # at this SF everything hashes


def test_per_row_extension_ops_have_no_exchange(spark, sf):
    """Pure per-row operators must not shuffle: the whole point of
    their 100 TB posture is that they are map-only."""
    for name in ("q_embed_quantize", "q_repetition_stats", "q_heuristic_filter"):
        plan = plan_of(QUERIES[name](spark, sf))
        assert "Exchange" not in plan, name


def test_hash_split_single_shuffle(spark, sf):
    """Deterministic split: one exchange for the (split, lang)
    aggregate, with map-side partial aggregation before it."""
    plan = plan_of(QUERIES["q_hash_split"](spark, sf))
    assert plan.count("- Exchange") == 1
    assert "partial_count" in plan or "partial" in plan


def test_bench_set_is_registered_and_runnable(spark):
    """Guard bench.py against name drift: every headline query is a
    registered query with an oracle twin, and runs at sf0.001."""
    from kafka_streams_pipeline_spark.inventory import BENCH_QUERIES, ORACLES

    assert len(BENCH_QUERIES) == len(set(BENCH_QUERIES)) >= 14
    for name in BENCH_QUERIES:
        assert name in QUERIES and name in ORACLES, name
        QUERIES[name](spark, "/root/testdata/sf0.001").limit(1).collect()
