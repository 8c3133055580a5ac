"""Salted two-phase aggregation equals the direct aggregate on
deliberately skewed data (operators/skew.py, A3 identity)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_streams_pipeline_spark.operators.skew import salted_aggregate


def test_salted_equals_direct_on_skew(spark):
    # 10_000 rows on one hot key, 10 on each of 50 cold keys
    hot = spark.range(10_000).select(
        F.lit("hot").alias("k"), (F.col("id") % 97).cast("double").alias("v")
    )
    cold = spark.range(500).select(
        F.concat(F.lit("c"), (F.col("id") % 50)).alias("k"),
        F.col("id").cast("double").alias("v"),
    )
    df = hot.unionByName(cold)
    got = {
        r["k"]: (r["count"], r["sum"], r["avg"])
        for r in salted_aggregate(df, ["k"], "v", salt=8).collect()
    }
    want = {
        r["k"]: (r["count"], r["sum"], r["avg"])
        for r in df.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("count"),
            F.sum("v").alias("sum"),
            F.avg("v").alias("avg"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]
        assert abs(got[k][1] - want[k][1]) < 1e-6
        assert abs(got[k][2] - want[k][2]) < 1e-9


def test_salted_plan_has_two_exchanges(spark):
    """The salted plan must actually fan the hot key out: two hash
    exchanges — (k, _salt) then (k)."""
    df = spark.range(100).select(
        F.lit("hot").alias("k"), F.col("id").cast("double").alias("v")
    )
    plan = salted_aggregate(df, ["k"], "v", salt=8)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 2


def test_salted_join_equals_plain_join(spark, sf_dir):
    """salted_join must be row-for-row identical to the plain join,
    and its plan must key the join on (key, _salt) — the hot-key
    fan-out — with the dim side exploded, not broadcast-planned away
    from the salting."""
    from kafka_streams_pipeline_spark.operators.skew import salted_join
    from kafka_streams_pipeline_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_orderkey", "l_extendedprice"
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_name"
    )
    salted = sorted(
        tuple(r)
        for r in salted_join(li, s, "l_suppkey", spread_col="l_orderkey")
        .select("l_suppkey", "l_orderkey", "s_name")
        .collect()
    )
    plain = sorted(
        tuple(r)
        for r in li.join(s, "l_suppkey")
        .select("l_suppkey", "l_orderkey", "s_name")
        .collect()
    )
    assert salted == plain and len(plain) > 0


def test_salted_join_default_spread_fans_out_hot_key(spark):
    """With spread_col omitted, a hot key's rows must land on MANY
    salt values (ADVICE r6: the old default salted by the join key
    itself, so every row of a hot key got the identical salt — one
    reducer, zero mitigation) AND the salt must be a deterministic
    function of the row (ADVICE r7: the interim mono-id default was a
    per-attempt value — non-deterministic shuffle keys duplicate or
    drop rows under partial stage retry, the SPARK-23207 hazard).
    Also re-proves result equality for the default path."""
    from kafka_streams_pipeline_spark.operators.skew import salted_join

    fact = spark.range(0, 2000).select(
        F.lit("hot").alias("k"), F.col("id").alias("v")
    )
    dim = spark.createDataFrame([("hot", "d1")], "k string, dval string")
    out = salted_join(fact, dim, "k")
    assert out.count() == 2000
    # reconstruct the default salting: deterministic xxhash64 over
    # ALL fact columns — distinct salts actually used
    salted = fact.withColumn(
        "_salt",
        F.pmod(F.xxhash64(F.col("k"), F.col("v")), F.lit(16)),
    )
    assert salted.select("_salt").distinct().count() > 8
    # determinism: recomputing the salt (as a retried task would)
    # yields the identical per-row assignment
    a = {r["v"]: r["_salt"] for r in salted.collect()}
    b = {r["v"]: r["_salt"] for r in salted.collect()}
    assert a == b and len(a) == 2000
