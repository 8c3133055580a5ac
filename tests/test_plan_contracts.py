"""Physical-plan contracts: the scale properties the README's
"Design for 100 TB" section promises must be visible in the plans
Catalyst actually emits, not just in docstrings. These assertions
catch silent plan regressions (a lost pushdown, a dimension that
stops broadcasting, a top-k that becomes a global sort) the way the
oracle gate catches value regressions."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from kafka_streams_pipeline_spark.inventory import QUERIES


def _plan(spark, sf_dir, name: str) -> str:
    df = QUERIES[name](spark, sf_dir)
    je = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return je.explainString(mode)


def test_scan_predicates_reach_parquet(spark, sf_dir):
    """Q6-shaped scan-agg: every predicate (timestamp range, discount
    band, quantity cap) must appear in PushedFilters — this query IS
    the pushdown certification."""
    plan = _plan(spark, sf_dir, "q_revenue_forecast")
    pushed = " ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", plan))
    for frag in (
        "GreaterThanOrEqual(l_shipdate",
        "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount",
        "LessThanOrEqual(l_discount",
        "LessThan(l_quantity",
    ):
        assert frag in pushed, f"missing pushdown {frag}"


def test_time_range_reaches_raw_scan(spark, sf_dir):
    """The reference's core time predicate must prune at the parquet
    scan via the raw-nanos pushdown (sources/tables.py)."""
    plan = _plan(spark, sf_dir, "q_filter_time_range")
    pushed = " ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", plan))
    assert "ts" in pushed, plan


def test_dimension_joins_broadcast(spark, sf_dir):
    """TPC-H-shaped joins: dimension sides broadcast; the fact table
    must never be on the build side of a shuffle for them."""
    for name in ("q_local_supplier_volume", "q_volume_shipping", "q_market_share"):
        plan = _plan(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan, name


def test_topk_is_take_ordered_not_global_sort(spark, sf_dir):
    """Every bounded top-k must plan as TakeOrderedAndProject
    (per-partition heads merged on the driver), never a full
    exchange-then-sort."""
    for name in ("q_returned_items", "q_waiting_suppliers", "q_topk_limit"):
        plan = _plan(spark, sf_dir, name)
        assert "TakeOrderedAndProject" in plan, name


def test_no_cartesian_products(spark, sf_dir):
    """crossJoin is allowed only against broadcast-size sides (scalar
    thresholds, centroid tables, 1-row query vectors) — a
    CartesianProduct node anywhere means a corpus×corpus blowup."""
    for name in (
        "q_sim_topk",
        "q_sales_opportunity",
        "q_sim_ann_ivf",
        "q_hll_distinct",
        "q_kmv_distinct",
    ):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name


def test_prefix_join_candidates_are_equijoin_not_cartesian(spark, sf_dir):
    """VERDICT r4 item 5: prefix_jaccard_join's candidate stage must
    plan as a hash-partitioned equi-join on the prefix shingle (the
    doc_id inequality rides as a post-join condition) — never a
    CartesianProduct / BroadcastNestedLoopJoin, which would be the
    corpus×corpus blowup the prefix filter exists to avoid."""
    from kafka_streams_pipeline_spark.operators import dedup
    from kafka_streams_pipeline_spark.sources.tables import load_table

    sig, cand, _out = dedup._prefix_join_parts(
        load_table(spark, sf_dir, "documents"), "text", 4, 5
    )
    je = cand._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = je.explainString(mode)
    sig.unpersist()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the candidate self-join keys on the shingle column (hash join —
    # broadcast at small SF, shuffled at scale; either is an
    # equi-join, what matters is that shingle IS the join key)
    assert re.search(r"Left keys \[1\]: \[shingle", plan), plan


def test_pq_adc_topk_is_take_ordered(spark, sf_dir):
    """VERDICT r4 item 5: the ADC top-k must plan as
    TakeOrderedAndProject over the aggregated distances (per-partition
    heads, driver merge) with the lookup-table join broadcast — a
    global sort or a shuffled table join is a plan regression."""
    plan = _plan(spark, sf_dir, "q_pq_adc_topk")
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_disjunctive_join_stays_hash_join(spark, sf_dir):
    """Q19 shape: the OR-of-conjunctions must NOT demote the
    lineitem⋈part equality to a nested-loop join — Catalyst keeps the
    hash join (broadcast here) and evaluates the disjunction as a
    post-join residual with per-side pushdown."""
    plan = _plan(spark, sf_dir, "q_disjunctive_revenue")
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_profit_star_broadcasts_all_dimensions(spark, sf_dir):
    """Q9 join topology: three dimension broadcasts, no SortMergeJoin
    — the fact table must never shuffle for a dimension."""
    plan = _plan(spark, sf_dir, "q_profit_by_nation")
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan


def test_perrow_ops_have_no_exchange(spark, sf_dir):
    """q_rag_chunks and q_embed_rp_reduce claim to be embarrassingly
    parallel per-row maps (chunk text / plane literals never move
    between executors) — their plans must contain NO Exchange node at
    all."""
    for name in ("q_rag_chunks", "q_embed_rp_reduce"):
        plan = _plan(spark, sf_dir, name)
        assert "Exchange" not in plan, name


def test_no_rowbased_python_udfs_in_declared_plans(declared_plans):
    """The declared-query surface must stay JVM-side: BatchEvalPython
    (row-at-a-time Python UDF) may never appear. Arrow-batched nodes
    (MapInPandas/FlatMapGroupsInPandas) are the sanctioned slots and
    appear only in the media/semantic queries plus the per-series
    sequential folds that are applyInPandas BY DESIGN (LTTB's
    selection depends on the previous bucket's pick; the WARC CDX
    walks binary shards). The plans are the session's once-built
    census, shared with test_plans::test_declared_queries_stay_jvm_side,
    which holds mapInPandas to its narrower set.

    Queries that execute while being built (streaming replays,
    file-format round-trips, eagerly checkpointed operators such as
    q_dedup_prefix_join) return a materialized scan, so this census
    sees only their final plan; their upstream shapes have dedicated
    contracts (q_dedup_prefix_join's lazy shape is pinned by
    test_prefix_join_candidates_are_equijoin_not_cartesian)."""
    sanctioned = re.compile(
        r"q_media_|q_semantic_dedup|q_multimodal_meta"
        r"|q_lttb_downsample|q_lttb_prereduced|q_warc_cdx"
    )
    assert set(declared_plans) == set(QUERIES)
    for name, plan in declared_plans.items():
        assert "BatchEvalPython" not in plan, name
        if not sanctioned.search(name):
            assert "MapInPandas" not in plan, name
            assert "FlatMapGroupsInPandas" not in plan, name


def _walk_executed(node, out):
    """Flatten an executed SparkPlan, descending through the AQE
    wrapper and query-stage nodes (collectLeaves() stops at them)."""
    out.append(node)
    cn = node.getClass().getName()
    if "AdaptiveSparkPlan" in cn:
        _walk_executed(node.executedPlan(), out)
    elif "QueryStage" in cn:
        _walk_executed(node.plan(), out)
    else:
        ch = node.children()
        for i in range(ch.size()):
            _walk_executed(ch.apply(i), out)
    return out


def _file_scan(df):
    """Execute df and return (numFiles read, partition-filter string,
    data-filter string) from its parquet scan's runtime metrics —
    the ground truth of data skipping, not just filter presence."""
    df.collect()
    nodes = _walk_executed(df._jdf.queryExecution().executedPlan(), [])
    for n in nodes:
        if "FileSourceScan" in n.getClass().getName():
            return (
                int(n.metrics().apply("numFiles").value()),
                n.partitionFilters().mkString(";"),
                n.dataFilters().mkString(";"),
            )
    raise AssertionError(
        "no FileSourceScan in executed plan (AQE may have "
        "empty-relation-propagated it away): "
        + str([x.getClass().getName() for x in nodes])
    )


def test_view_store_scans_prune_partitions_and_files(spark, sf_dir, tmp_path):
    """SURVEY §4's storage claim, certified at the FILE level: the
    compacted view store (ws_date-partitioned, one sorted file per
    partition — the q_view_compaction lifecycle) must serve history
    with partition-pruned scans (ws_date PartitionFilters, files
    read = days touched, not the store) and snapshot with a
    single-file scan, with the gh predicate pushed as a data filter
    for parquet min/max skipping (VERDICT r7 item 6: assert pruned
    file COUNTS from runtime scan metrics, not just filter
    presence)."""
    import datetime as dt

    from kafka_streams_pipeline_spark import geo
    from kafka_streams_pipeline_spark.functions.hashing import md5_long
    from kafka_streams_pipeline_spark.operators import queries as Q
    from kafka_streams_pipeline_spark.operators.view import build_view
    from kafka_streams_pipeline_spark.sources.readings import (
        readings_from_events,
    )
    from kafka_streams_pipeline_spark.sources.sinks import (
        compact_view,
        read_view,
        write_view,
    )
    from kafka_streams_pipeline_spark.sources.tables import load_table

    view_dir = str(tmp_path / "view")
    full = build_view(
        readings_from_events(load_table(spark, sf_dir, "events"))
    ).withColumn("_slice", md5_long(F.col("gh")) % 2)
    write_view(full.where(F.col("_slice") == 0).drop("_slice"), view_dir)
    write_view(
        full.where(F.col("_slice") != 0).drop("_slice"),
        view_dir,
        mode="append",
    )
    assert compact_view(spark, view_dir) >= 1
    view = read_view(spark, view_dir)
    dates = sorted(
        r["ws_date"] for r in view.select("ws_date").distinct().collect()
    )
    assert len(dates) > 3  # pruning needs something to prune
    # post-compaction invariant: exactly one parquet file per ws_date
    import glob as _glob

    files = _glob.glob(view_dir + "/ws_date=*/*.parquet")
    assert len(files) == len(dates), (len(files), len(dates))

    # -- history over a 2-day subrange: scan must read 2 files
    mid = dates[len(dates) // 2]
    from_ts = dt.datetime(mid.year, mid.month, mid.day)
    to_ts = from_ts + dt.timedelta(days=1)
    ghs = [r["gh"] for r in view.select("gh").limit(2).collect()]
    n_files, pf, df_filters = _file_scan(
        Q.history(view, "count", ghs, from_ts, to_ts)
    )
    assert n_files == 2, (n_files, pf)
    assert "ws_date" in pf and ">=" in pf and "<=" in pf, pf
    assert "gh" in df_filters and "window_start" in df_filters, df_filters

    # -- snapshot at a data-derived hour/cell: scan must read 1 file
    r = (
        view.select(
            "gh", F.unix_millis("window_start").alias("ms")
        ).first()
    )
    hour = dt.datetime(1970, 1, 1) + dt.timedelta(milliseconds=r["ms"])
    south, west, north, east = geo.decode_bbox(r["gh"])
    snap = Q.snapshot(view, "avg", hour, (north, west, south, east))
    n_files, pf, df_filters = _file_scan(snap)
    assert n_files == 1, (n_files, pf)
    assert "ws_date" in pf, pf
    assert "gh" in df_filters, df_filters
    assert len(snap.collect()) >= 1  # guards the AQE empty-relation trap


if __name__ == "__main__":
    pytest.main([__file__, "-q"])


def _scan_rows_out(df) -> int:
    """Execute df and return the parquet scan's numOutputRows — rows
    SURVIVING row-group/page stats pruning by the pushed filters
    (the measurable effect of a data layout), before the residual
    Filter node re-evaluates row-by-row."""
    df.collect()
    nodes = _walk_executed(df._jdf.queryExecution().executedPlan(), [])
    for n in nodes:
        if "FileSourceScan" in n.getClass().getName():
            return int(n.metrics().apply("numOutputRows").value())
    raise AssertionError("no FileSourceScan in executed plan")


def test_zorder_layout_skips_on_the_second_dimension(spark, tmp_path):
    """The Z-order layout's load-bearing claim, from runtime scan
    metrics: a table laid out on ONE sort column serves a predicate
    on the OTHER column by reading everything (every file spans that
    column's full range), while the Morton layout's per-file
    bounding boxes let parquet stats pruning skip most row groups —
    same data, same query, same file count, ~4x fewer rows surviving
    the scan. Also pins the structural invariants: file z-ranges
    are pairwise disjoint and content round-trips exactly."""
    from pyspark.sql import functions as F

    from kafka_streams_pipeline_spark.operators.layout import (
        morton_key,
        overlapping_file_pairs,
        zorder_file_stats,
        zorder_write,
    )

    n, dim = 4096, 4096
    # two decorrelated uniform dimensions (Knuth multiplicative hash)
    base = spark.range(n).select(
        F.col("id").alias("x"),
        ((F.col("id") * 2654435761) % dim).cast("long").alias("y"),
    )
    z_dir = str(tmp_path / "zorder")
    lin_dir = str(tmp_path / "linear")
    zorder_write(base, z_dir, "x", "y", n_files=8, bits=12)
    (
        base.repartitionByRange(8, "x")
        .sortWithinPartitions("x")
        .write.parquet(lin_dir)
    )

    # content round-trips exactly under the rewrite
    zc = spark.read.parquet(z_dir).agg(
        F.count(F.lit(1)), F.sum("x"), F.sum("y")
    ).collect()[0]
    bc = base.agg(F.count(F.lit(1)), F.sum("x"), F.sum("y")).collect()[0]
    assert tuple(zc) == tuple(bc)

    # file z-ranges disjoint (range partitioning on the curve key)
    stats = zorder_file_stats(spark, z_dir, "x", "y", bits=12)
    assert overlapping_file_pairs(stats) == 0
    assert stats.count() > 1  # pruning needs something to prune

    # predicate on the SECOND dimension only: y in the lowest 1/8
    pred = F.col("y") < dim // 8
    lin_rows = _scan_rows_out(spark.read.parquet(lin_dir).where(pred))
    z_rows = _scan_rows_out(spark.read.parquet(z_dir).where(pred))
    assert lin_rows == n  # x-sorted layout cannot skip on y
    assert z_rows * 2 < lin_rows, (z_rows, lin_rows)

    # and the key itself is what the operator claims: interleave of
    # masked bits (spot vector: x=0b101, y=0b011 -> z=0b011011 = 27+...)
    got = (
        spark.range(1)
        .select(morton_key(F.lit(5), F.lit(3), bits=4).alias("z"))
        .collect()[0]["z"]
    )
    # x=0101 contributes bits 0,4 ; y=0011 contributes bits 1,3
    assert got == (1 << 0) + (1 << 4) + (1 << 1) + (1 << 3)


def test_mor_log_is_one_scan(spark, tmp_path):
    """The merge-on-read log must stay ONE parquet scan regardless of
    delta-chain length (round 9: the per-batch-union form cost 65
    scan nodes at 64 deltas — 5x wall clock on a 2M-row store). Also
    pins the _seq derivation: the file-path-derived sequence must
    match each row's actual commit batch."""
    from pyspark.sql import functions as F

    from kafka_streams_pipeline_spark.sources.versioned import (
        commit_corpus,
        read_corpus_log,
    )

    store = str(tmp_path / "store")
    for i in range(7):
        commit_corpus(
            spark.range(i * 10, i * 10 + 10).select(
                F.col("id").alias("k"), F.lit(i).alias("expect_seq")
            ),
            store,
            f"batch {i}",
        )
    log = read_corpus_log(spark, store)
    plan = log._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1, plan[:2000]
    rows = log.collect()
    assert len(rows) == 70
    assert all(r["_seq"] == r["expect_seq"] for r in rows)


def test_aqe_splits_skewed_join_partitions(spark):
    """Runtime skew evidence: under AQE skew-join settings, a join
    whose left side sends 90% of its rows to one key must execute as
    SortMergeJoin(skew=true) with a skewed AQEShuffleRead — the
    engine's answer to hot keys when salting isn't applied — and the
    result must be row-exact. Configs are restored afterwards (the
    fixture session is shared)."""
    from pyspark.sql import functions as F

    tuned = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            "65536",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32768",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in tuned}
    for k, v in tuned.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(0, 500_000).select(
            F.when(F.col("id") % 10 < 9, 0)
            .otherwise(F.col("id"))
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(0, 50_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = left.join(right, "k")
        n = len(j.collect())
        # 450k rows share k=0 (one right match) + the 5k id%10==9
        # keys below 50k with their single match each
        assert n == 455_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:1500]
        assert "AQEShuffleRead skewed" in plan, plan[:1500]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_mor_latest_prunes_columns_and_pushes_filters(spark, tmp_path):
    """Scale contract for the merged read: selecting two columns
    through read_corpus_latest must reach the parquet scan as a
    pruned ReadSchema (key + selected + the path-derived plumbing
    only — never the whole row), and a key predicate must appear in
    PushedFilters. A merged read that scans every column would drag
    the full corpus width through the MoR shuffle at 100 TB."""
    from pyspark.sql import functions as F

    from kafka_streams_pipeline_spark.sources.versioned import (
        commit_corpus,
        read_corpus_latest,
        upsert_corpus,
    )

    store = str(tmp_path / "store")
    commit_corpus(
        spark.range(1000).select(
            F.col("id").alias("k"),
            (F.col("id") * 2).alias("a"),
            (F.col("id") * 3).alias("b"),
            F.concat(F.lit("pad"), F.col("id").cast("string")).alias("c"),
        ),
        store,
        "base",
    )
    upsert_corpus(
        spark.range(10).select(
            F.col("id").alias("k"),
            (F.col("id") + 7).alias("a"),
            (F.col("id") + 8).alias("b"),
            F.lit("upd").alias("c"),
        ),
        store,
        "k",
    )
    narrow = (
        read_corpus_latest(spark, store, "k")
        .where(F.col("k") < 100)
        .select("k", "a")
    )
    narrow.collect()
    plan = narrow._jdf.queryExecution().executedPlan().toString()
    scan = next(
        line for line in plan.splitlines() if "FileScan parquet" in line
    )
    assert "ReadSchema" in scan
    read_schema = scan.split("ReadSchema:")[1]
    assert "a:" in read_schema and "k:" in read_schema
    assert "b:" not in read_schema and "c:" not in read_schema, read_schema
    assert "PushedFilters: [" in scan and "LessThan(k,100)" in scan, scan


def test_negative_samples_has_no_global_id_rank(spark, sf_dir):
    """negative_samples' dense index must be the two-phase rank
    (range-repartition → per-partition row_number → broadcast prefix
    offsets), never a no-partition row_number window that forces one
    task to sort every corpus id. The only no-partition window
    allowed is the ≤ n_partitions-row offset prefix sum over _pid."""
    plan = _plan(spark, sf_dir, "q_negative_sampling")
    assert not re.search(r"windowspecdefinition\(nid#\d+L? ASC", plan), (
        "global row_number over corpus ids — single-task sort:\n" + plan
    )
    assert re.search(r"windowspecdefinition\(_pid#\d+L?, nid#\d+", plan), (
        "expected per-partition local rank window:\n" + plan
    )
    # SinglePartition exchanges: only the tiny _pid prefix-sum may use one.
    n_single = plan.count("Exchange SinglePartition")
    assert n_single <= 1, f"{n_single} SinglePartition exchanges:\n{plan}"


def test_budget_select_two_phase_prefix_sum(spark, sf_dir):
    """budget_select's global cumulative token sum must be the
    two-phase shape (range repartition → per-partition running sum →
    broadcast offsets) — at most one SinglePartition exchange (the
    ≤ n_partitions-row offset prefix sum), and the running-sum
    window partitioned by _pid, never global."""
    plan = _plan(spark, sf_dir, "q_budget_select")
    assert plan.count("Exchange SinglePartition") <= 1, plan
    assert re.search(r"windowspecdefinition\(_pid#\d+", plan), plan


def test_hamming_candidate_join_is_equijoin(spark, sf_dir):
    """simhash_hamming_pairs' candidate stage must plan as a HASH
    equi-join on the (block, value) keys with the id ordering as a
    residual predicate — never a nested-loop/cartesian over the
    exploded block rows."""
    from kafka_streams_pipeline_spark.operators.dedup import (
        simhash_hamming_pairs,
    )
    from kafka_streams_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = simhash_hamming_pairs(docs)
    je = out._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = je.explainString(mode)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert (
        "BroadcastHashJoin" in plan
        or "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
    ), plan


def test_timeseries_window_ops_are_single_shuffle(spark, sf_dir):
    """counter_rate / time_weighted_avg / ohlc_bars promise ONE data
    shuffle: the series-key window Exchange must be reused by every
    window pass AND the same-key groupBy — no second hash exchange,
    no SinglePartition anywhere (a no-partition window here would be
    the 100 TB single-task sort)."""
    for name in ("q_counter_rate", "q_time_weighted_avg", "q_ohlc_bars"):
        plan = _plan(spark, sf_dir, name)
        assert "Exchange SinglePartition" not in plan, f"{name}:\n{plan}"
        n_hash = plan.count("Arguments: hashpartitioning")
        assert n_hash == 1, f"{name}: {n_hash} hash exchanges:\n{plan}"
        n_sort = len(re.findall(r"\(\d+\) Sort\b", plan))
        assert n_sort == 1, f"{name}: {n_sort} sorts:\n{plan}"


def test_mad_outliers_prunes_to_two_columns_no_single_partition(spark, sf_dir):
    """mad_outliers scans only (event_type, value) — the percentile
    passes must not drag other columns through the aggregate — and
    the per-type medians join back via broadcast (never a
    SinglePartition gather)."""
    plan = _plan(spark, sf_dir, "q_anomaly_mad")
    assert "Exchange SinglePartition" not in plan, plan
    scan = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "event_type" in scan and "value" in scan, scan
    assert "event_id" not in scan and "props" not in scan, scan
    assert "BroadcastHashJoin" in plan, plan


def test_rrf_fusion_constant_size_tail(spark, sf_dir):
    """rrf_fusion's heavy work stays inside the two retrieval plans;
    the fusion itself is two ≤50-row lists — the final top-k must be
    TakeOrderedAndProject (bounded), never a global Sort over a
    corpus-sized frame, and no cartesian anywhere (the 1-row stats /
    query-vector sides are broadcast crossJoins)."""
    plan = _plan(spark, sf_dir, "q_rrf_fusion")
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_sensor_scorecard_is_single_pass(spark, sf_dir):
    """The fused scorecard must be ONE scan / ONE sort / ONE hash
    exchange — if any of the five window columns or the groupBy
    stops sharing the series-key partitioning, the fusion degrades
    to the triple-scan composition it exists to avoid."""
    plan = _plan(spark, sf_dir, "q_sensor_scorecard")
    assert "Exchange SinglePartition" not in plan, plan
    assert plan.count("Arguments: hashpartitioning") == 1, plan
    assert len(re.findall(r"\(\d+\) Sort\b", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_pair_joins_leave_no_cache_behind(spark, sf_dir):
    """The three public pair joins persist intermediates while they
    build, and each releases them itself: simhash_hamming_pairs keeps
    only a localCheckpoint, containment_pairs and prefix_jaccard_join
    unpersist their signature cache once their checkpointed output is
    written. A cache left registered would stay pinned for the
    session, so the CacheManager must be empty after building AND
    executing all three."""
    from kafka_streams_pipeline_spark.operators import dedup
    from kafka_streams_pipeline_spark.sources.tables import load_table

    spark.catalog.clearCache()
    docs = load_table(spark, sf_dir, "documents")
    for frame in (
        dedup.simhash_hamming_pairs(docs),
        dedup.containment_pairs(docs),
        dedup.prefix_jaccard_join(docs),
    ):
        frame.count()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_approx_profile_branch_is_expand_free_single_scan(spark, sf_dir):
    """VERDICT r11 item 2: the documented 100 TB profile path
    (table_profile approx=True — what q_table_profile_approx
    certifies) must stay ONE pass: no RewriteDistinctAggregates
    Expand (which would duplicate the scan stream once per distinct
    column) and exactly one parquet scan."""
    from kafka_streams_pipeline_spark.operators.quality import table_profile
    from kafka_streams_pipeline_spark.sources.tables import load_table

    df = table_profile(
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus"
        ),
        approx=True,
    )
    je = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = je.explainString(mode)
    assert "Expand" not in plan, plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_event_pattern_funnel_is_single_shuffle(spark, sf_dir):
    """The skip-gap CEP must keep the strict twin's contract: all
    m−1 reverse window folds share ONE user-keyed hash exchange and
    ONE descending sort — a per-step exchange or sort would make the
    funnel m× the cost of the strict detector at 100 TB."""
    plan = _plan(spark, sf_dir, "q_event_pattern_gaps")
    assert "Exchange SinglePartition" not in plan, plan
    assert plan.count("Arguments: hashpartitioning") == 1, plan
    assert len(re.findall(r"\(\d+\) Sort\b", plan)) == 1, plan


def test_sensor_gaps_single_shuffle(spark, sf_dir):
    """Gap census: the lag window and the same-key groupBy must share
    one user-keyed exchange and one sort."""
    plan = _plan(spark, sf_dir, "q_sensor_gaps")
    assert "Exchange SinglePartition" not in plan, plan
    assert plan.count("Arguments: hashpartitioning") == 1, plan
    assert len(re.findall(r"\(\d+\) Sort\b", plan)) == 1, plan


def test_binned_percentiles_no_fullwidth_sort(spark, sf_dir):
    """The binned percentile must aggregate to (event_type × bin)
    BEFORE any sort — the whole point is that the row-width data
    never sorts. The only sorts allowed are over the bin-count-sized
    histogram (inside the cumulative window)."""
    plan = _plan(spark, sf_dir, "q_percentile_binned")
    # the scan feeds a hash aggregate, not a sort: the first Sort in
    # the plan must sit ABOVE the partial aggregate output
    scan_to_agg = plan.split("Sort")[0]
    assert "HashAggregate" in scan_to_agg, plan
    assert "percentile" not in plan.lower(), plan


def test_skyline_windows_stay_band_partitioned(spark, sf_dir):
    """The skyline scan exists BECAUSE the naive ORDER BY window
    collapses to one task: its plan must contain no SinglePartition
    exchange — every window is partitioned by the price band (plus
    the equal-x frame), and the cross-band carry arrives as a
    LITERAL map lookup of the ≤256-row driver fold (r15: the old
    broadcast join cost a createDataFrame job + an exchange per
    call), so the plan carries no join of any kind and no global
    sort."""
    plan = _plan(spark, sf_dir, "q_skyline")
    assert "SinglePartition" not in plan
    assert "Window" in plan
    for node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "CartesianProduct", "BroadcastNestedLoop"):
        assert node not in plan, node


def test_span_dedup_plan_has_no_join(spark, sf_dir):
    """Span dedup is ONE gram-window shuffle + the island pass — no
    join anywhere (a count-and-join-back form would compute and
    shuffle the gram stream twice)."""
    plan = _plan(spark, sf_dir, "q_span_dedup")
    for node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "CartesianProduct", "BroadcastNestedLoop"):
        assert node not in plan, node
    assert "Window" in plan


def test_token_cooccurrence_plan_no_join_topn(spark, sf_dir):
    """Pair generation is per-row array arithmetic: no join; the
    top-N must be a TakeOrdered, not a global sort materialization."""
    plan = _plan(spark, sf_dir, "q_token_cooccurrence")
    for node in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert node not in plan, node
    assert "TakeOrderedAndProject" in plan


def test_record_linkage_plan_is_equijoin(spark, sf_dir):
    """Blocking must reach the join as EQUALITY keys: the plan is a
    hash/sort-merge equi-join, never a nested-loop/cartesian with
    the block predicate as a filter (which would be the unblocked n²
    the operator exists to avoid)."""
    plan = _plan(spark, sf_dir, "q_record_linkage")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert ("SortMergeJoin" in plan or "BroadcastHashJoin" in plan
            or "ShuffledHashJoin" in plan)


def test_bipartite_cooccurrence_plan_has_no_join(spark, sf_dir):
    """The projection expands pairs per row from each user's item
    array — the PAIR PATH must contain no shuffle join (the naive
    positional self-join costs a third shuffle). The only join
    allowed is the single broadcast nested-loop attach of the 1-row
    n_clamped_users stat frame (the loud-truncation report for the
    per-user degree clamp, VERDICT r13 item 2)."""
    plan = _plan(spark, sf_dir, "q_bipartite_cooccurrence")
    for node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "CartesianProduct"):
        assert node not in plan, node
    # formatted explain names each node twice (tree + detail), so
    # count distinct "(id) Node" detail headers
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 1


def test_cosine_pairs_plan_is_equijoin_no_python(spark, sf_dir):
    """Candidate generation must reach the join as shingle EQUALITY
    keys (inverted index), never a nested-loop/cartesian with the
    similarity as a filter (the n² the operator exists to avoid);
    the whole pipeline stays JVM-side."""
    plan = _plan(spark, sf_dir, "q_cosine_pairs")
    for node in ("CartesianProduct", "BroadcastNestedLoop",
                 "BatchEvalPython", "ArrowEvalPython"):
        assert node not in plan, node


def test_acf_plan_two_exchanges_no_join(spark, sf_dir):
    """ACF is windows + aggregates over ONE series partitioning (the
    hourly pre-agg is the other exchange): no join of any kind, no
    Python, and exactly two shuffles — the lag windows, the den
    window and the final aggregate all reuse the series-keyed
    Exchange."""
    plan = _plan(spark, sf_dir, "q_acf")
    for node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "CartesianProduct", "BroadcastNestedLoop",
                 "BatchEvalPython", "ArrowEvalPython"):
        assert node not in plan, node
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2


def test_theil_sen_windowed_plan_is_equijoin(spark, sf_dir):
    """The windowed Theil-Sen's pair generation must reach the join
    as (series, shifted-hour) EQUALITY keys from the map-side lag
    enumeration — never the theta form (h_b BETWEEN …) that plans as
    a broadcast-nested-loop and dies at scale; everything JVM-side."""
    plan = _plan(spark, sf_dir, "q_theil_sen_windowed")
    for node in ("CartesianProduct", "BroadcastNestedLoop",
                 "BatchEvalPython", "ArrowEvalPython"):
        assert node not in plan, node
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)",
                     plan), "expected a hash/merge equi-join"


def test_t_closeness_plan_domain_bounded(spark, sf_dir):
    """t-closeness must never shuffle rows after the two groupBy
    passes: the classes × domain grid comes from BROADCAST joins of
    two domain-sized aggregates (a shuffled grid join would mean the
    operator rescans data per domain value at 100 TB); JVM-side
    throughout."""
    plan = _plan(spark, sf_dir, "q_t_closeness")
    for node in ("CartesianProduct", "SortMergeJoin", "ShuffledHashJoin",
                 "BatchEvalPython", "ArrowEvalPython"):
        assert node not in plan, node
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan


def test_seasonal_decompose_plan_two_exchanges_no_join(spark, sf_dir):
    """Seasonal decomposition is windows + aggregates over ONE
    series partitioning (the hourly pre-agg is the other exchange):
    the MA windows, the full-window count guard AND the final
    (event_type, hod) groupBy all reuse the series-keyed Exchange —
    HashPartitioning(event_type) satisfies the clustered
    distribution of the (event_type, hod) aggregate, so no third
    shuffle. No join, no Python."""
    plan = _plan(spark, sf_dir, "q_seasonal_decompose")
    for node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "CartesianProduct", "BroadcastNestedLoop",
                 "BatchEvalPython", "ArrowEvalPython"):
        assert node not in plan, node
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2


def test_changepoint_and_ewma_plans_two_exchanges_no_join(spark, sf_dir):
    """Both round-16 TSDB additions are windows over ONE series
    partitioning above the hourly pre-agg (the ACF shape): two
    exchanges, no join of any kind, no Python — the W-term EWMA dot
    product and the CUSUM argmax both stay in whole-stage codegen."""
    for name in ("q_changepoint_amoc", "q_ewma"):
        plan = _plan(spark, sf_dir, name)
        for node in ("SortMergeJoin", "BroadcastHashJoin",
                     "ShuffledHashJoin", "CartesianProduct",
                     "BroadcastNestedLoop", "BatchEvalPython",
                     "ArrowEvalPython"):
            assert node not in plan, (name, node)
        n_ex = len(re.findall(r"\(\d+\) Exchange", plan))
        assert n_ex <= 2, (name, n_ex)
