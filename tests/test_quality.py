"""Data-quality operators: single-pass column profiling and the
declarative constraint suite (operators/quality.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_streams_pipeline_spark.operators.quality import (
    Check,
    run_checks,
    table_profile,
)
from kafka_streams_pipeline_spark.sources.tables import load_table


def test_table_profile_exact_counts(spark):
    """Exact mode: nulls excluded from non-null/distinct counts,
    min/max are binary-order strings, n_rows counts every row."""
    df = spark.createDataFrame(
        [(1, "b"), (2, None), (2, "a"), (None, "a")],
        "k int, s string",
    )
    prof = {r["col_name"]: r for r in table_profile(df).collect()}
    assert prof["k"]["n_rows"] == 4
    assert prof["k"]["n_nonnull"] == 3
    assert prof["k"]["n_distinct"] == 2
    assert (prof["k"]["min_value"], prof["k"]["max_value"]) == ("1", "2")
    assert prof["s"]["n_nonnull"] == 3
    assert prof["s"]["n_distinct"] == 2
    assert (prof["s"]["min_value"], prof["s"]["max_value"]) == ("a", "b")


def test_table_profile_approx_mode(spark, sf_dir):
    """approx=True swaps exact distincts for HLL++ in ONE pass and
    the estimates land within HLL++'s default 5% of the exact
    counts on real data; NEITHER mode may plan the Expand
    multi-distinct rewrite (input duplicated once per distinct
    column — the shape the first implementation measured at 2.7×
    the cost and rejected)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    exact = {
        r["col_name"]: r["n_distinct"]
        for r in table_profile(docs).collect()
    }
    approx_df = table_profile(docs, approx=True)
    plan = approx_df._jdf.queryExecution().executedPlan().toString()
    # keyless SortAggregate over HLL register buffers is fine (one
    # pass, constant state); the Expand rewrite is the rejected shape
    assert "Expand" not in plan
    exact_plan = (
        table_profile(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Expand" not in exact_plan
    for name, est in (
        (r["col_name"], r["n_distinct"]) for r in approx_df.collect()
    ):
        assert est == pytest.approx(exact[name], rel=0.05)


def test_certified_profile_gates_the_approx_branch(spark, sf_dir):
    """q_table_profile_approx's gate reads the distinct counts of
    table_profile(approx=True) itself, on the same orders projection.
    The gate is |n_distinct_apx − n_distinct|·100 ≤ tol·n_distinct,
    so for each column a tolerance just under and just over the one
    the approx branch's error needs pins that error exactly: the bit
    must be FALSE at the first and TRUE at the second."""
    from kafka_streams_pipeline_spark.inventory.corpus import (
        _orders_profile_input,
    )
    from kafka_streams_pipeline_spark.operators.quality import (
        table_profile_approx_certified,
    )

    orders = _orders_profile_input(spark, sf_dir)
    exact = {r["col_name"]: r["n_distinct"] for r in table_profile(orders).collect()}
    approx = {
        r["col_name"]: r["n_distinct"]
        for r in table_profile(orders, approx=True).collect()
    }
    assert exact.keys() == approx.keys() and exact

    def gate(tol, col):
        (row,) = [
            r
            for r in table_profile_approx_certified(orders, tol).collect()
            if r["col_name"] == col
        ]
        return row["hll_within_tol"]

    for col, nd in exact.items():
        err = abs(approx[col] - nd) * 100  # a multiple of 100
        assert gate((err - 50) / nd, col) is False, col
        assert gate((err + 50) / nd, col) is True, col


def test_run_checks_all_kinds(spark):
    """Every check kind over a frame with known violations; both
    passed branches exercised."""
    df = spark.createDataFrame(
        [
            (1, "OK", 10.0, "1-A"),
            (2, "OK", -5.0, "2-B"),
            (2, "BAD", 50.0, "9-Z"),
            (None, None, 200.0, None),
        ],
        "k int, status string, v double, tag string",
    )
    ref = spark.createDataFrame([(1,), (3,)], "rk int")
    out = {
        r["check_name"]: r
        for r in run_checks(
            df,
            [
                Check("k_not_null", "not_null", "k"),
                Check("k_unique", "unique", "k"),
                Check("status_in_set", "in_set", "status",
                      values=("OK",)),
                Check("v_in_range", "in_range", "v", lo=0.0, hi=100.0),
                Check("tag_format", "matches", "tag", pattern="^[1-5]-"),
                Check("k_references", "references", "k",
                      ref_df=ref, ref_col="rk"),
            ],
        ).collect()
    }
    assert out["k_not_null"]["violations"] == 1
    assert out["k_unique"]["violations"] == 1  # k=2 twice → 1 extra
    assert out["status_in_set"]["violations"] == 1  # BAD (null exempt)
    assert out["v_in_range"]["violations"] == 2  # -5, 200
    assert out["tag_format"]["violations"] == 1  # 9-Z (null exempt)
    # k=2 twice unmatched in ref (null exempt)
    assert out["k_references"]["violations"] == 2
    assert not out["k_unique"]["passed"]
    assert all(
        not out[n]["passed"]
        for n in ("k_not_null", "status_in_set", "v_in_range")
    )


def test_run_checks_passing_suite(spark, sf_dir):
    """A clean suite on real data: FK orders→customer resolves and
    the order key is unique — passed=True end to end; the
    referential join is a broadcast anti-join (never shuffles the
    fact side for a small dim)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    checks = [
        Check("orderkey_unique", "unique", "o_orderkey"),
        Check("fk", "references", "o_custkey",
              ref_df=customer, ref_col="c_custkey"),
    ]
    out = run_checks(orders, checks)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    rows = {r["check_name"]: r for r in out.collect()}
    assert all(r["passed"] and r["violations"] == 0 for r in rows.values())


def test_run_checks_unknown_kind_raises(spark):
    df = spark.createDataFrame([(1,)], "k int")
    with pytest.raises(ValueError):
        run_checks(df, [Check("x", "nonsense", "k")]).collect()


def test_profile_drift_flags_moved_columns(spark):
    """Drift semantics on constructed snapshots: a nulled-out column
    crosses the non-null threshold, a collapsed-cardinality column
    crosses the distinct threshold, a max shift flips
    minmax_changed, and an untouched column reports zero drift."""
    from kafka_streams_pipeline_spark.operators.quality import (
        profile_drift,
        table_profile,
    )

    old = spark.createDataFrame(
        [(i, i % 50, "x", 10) for i in range(100)],
        "id long, card long, stable string, grows long",
    )
    new = spark.createDataFrame(
        # id: 10% nulls now; card: collapsed to 5 values; stable:
        # unchanged; grows: one row hits a new max
        [
            (None if i % 10 == 0 else i, i % 5, "x", 99 if i == 7 else 10)
            for i in range(100)
        ],
        "id long, card long, stable string, grows long",
    )
    got = {
        r["col_name"]: r
        for r in profile_drift(
            table_profile(old), table_profile(new)
        ).collect()
    }
    assert got["id"]["nonnull_drift_ppm"] == 100_000
    assert got["id"]["drifted"]
    assert got["card"]["distinct_drift_ppm"] == 900_000
    assert got["card"]["drifted"]
    assert got["grows"]["minmax_changed"] and got["grows"]["drifted"]
    assert got["stable"]["nonnull_drift_ppm"] == 0
    assert got["stable"]["distinct_drift_ppm"] == 0
    assert not got["stable"]["minmax_changed"]
    assert not got["stable"]["drifted"]


def test_k_anonymize_suppresses_risky_classes(spark):
    """Enforcement semantics: rows in QI classes smaller than k get
    every QI column NULLed, larger classes pass through verbatim,
    row count is preserved, and non-QI payload columns are never
    touched — including for NULL-valued QI classes (eqNullSafe
    join)."""
    from kafka_streams_pipeline_spark.operators.quality import (
        k_anonymity,
        k_anonymize,
    )

    rows = (
        [(i, "segA", 1, i * 10) for i in range(6)]  # class of 6: safe
        + [(10, "segB", 2, 7)]  # singleton: suppressed
        + [(11, None, 3, 8), (12, None, 3, 9)]  # NULL QI, class of 2
    )
    df = spark.createDataFrame(
        rows, "id long, seg string, nat long, payload long"
    )
    audit = {
        (r["seg"], r["nat"]): (r["class_size"], r["at_risk"])
        for r in k_anonymity(df, ["seg", "nat"], k=3).collect()
    }
    assert audit[("segA", 1)] == (6, False)
    assert audit[("segB", 2)] == (1, True)
    assert audit[(None, 3)] == (2, True)

    out = k_anonymize(df, ["seg", "nat"], k=3).collect()
    assert len(out) == len(rows)
    by_id = {r["id"]: r for r in out}
    assert by_id[0]["seg"] == "segA" and by_id[0]["nat"] == 1
    assert by_id[10]["seg"] is None and by_id[10]["nat"] is None
    assert by_id[10]["payload"] == 7  # payload untouched
    assert by_id[11]["seg"] is None and by_id[11]["nat"] is None
    # post-enforcement audit at the same k: no named class at risk
    post = k_anonymity(
        spark.createDataFrame(out, df.schema), ["seg", "nat"], k=3
    ).collect()
    assert all(
        not r["at_risk"] for r in post if r["seg"] is not None
    )


def test_k_anonymize_unique_qi_no_forced_broadcast(spark):
    """High-cardinality guard: with a near-unique QI combination the
    class-size frame is row-count-sized, so the default plan must NOT
    plant a broadcast hint (executor OOM at 100 TB) — AQE decides
    from the aggregate's real output size at runtime. Correctness at
    the extreme: every class is a singleton, so every QI value is
    suppressed and row count/payloads are preserved."""
    from kafka_streams_pipeline_spark.operators.quality import k_anonymize

    df = spark.range(200).select(
        F.col("id"),
        F.col("id").cast("string").alias("uniq"),
        (F.col("id") * 3).alias("payload"),
    )
    out_df = k_anonymize(df, ["uniq"], k=2)
    # no ResolvedHint/broadcast in the optimized logical plan
    optimized = (
        out_df._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "broadcast" not in optimized.lower(), optimized
    rows = out_df.collect()
    assert len(rows) == 200
    assert all(r["uniq"] is None for r in rows)
    assert sorted(r["payload"] for r in rows) == [i * 3 for i in range(200)]


def test_group_quantile_filter_float_free_rank(spark):
    """Two groups of different sizes: exactly floor(n/4) kept per
    group (rank·4 ≤ n), highest-quality docs win, id tie-break on
    equal quality, and a group smaller than 4 keeps nothing (floor
    quota — never a fractional doc)."""
    from kafka_streams_pipeline_spark.operators.quality import (
        group_quantile_filter,
    )

    rows = []
    # group A: 8 docs with strictly increasing distinct-token count
    # (quality rises with diversity) → top 2 kept = the 2 longest
    for i in range(8):
        rows.append((i, "aa", " ".join(f"a{i}x{j}" for j in range(10 + i))))
    # group B: 3 docs → floor(3/4) = 0 kept
    for i in range(3):
        rows.append((100 + i, "bb", " ".join(f"b{j}" for j in range(5))))
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {r["lang"]: r for r in group_quantile_filter(df).collect()}
    assert set(got) == {"aa"}
    assert got["aa"]["n_docs"] == 8 and got["aa"]["n_kept"] == 2
    assert got["aa"]["kept_checksum"] == 6 + 7  # the two longest docs


def test_ref_integrity_counts_nulls_as_orphans(spark):
    """NULL FK values can never match: they land in left_only /
    right_only (checksum counts them as 0), and the three-way class
    split partitions the distinct key universe exactly."""
    from kafka_streams_pipeline_spark.operators.quality import ref_integrity

    left = spark.createDataFrame(
        [(1,), (2,), (3,), (None,), (3,)], "k long"
    )
    right = spark.createDataFrame([(2,), (3,), (9,)], "k2 long")
    got = {r["class"]: (r["n_keys"], r["key_checksum"])
           for r in ref_integrity(left, right, "k", "k2").collect()}
    assert got == {
        "matched": (2, 5),       # 2, 3 (distinct)
        "left_only": (2, 1),     # 1 and NULL (as 0)
        "right_only": (1, 9),
    }


def test_table_profile_approx_certified_bits(spark, sf_dir):
    """The certification row's invariant bit is TRUE at the shipped
    5% tolerance and FALSE somewhere at an impossible 0% tolerance —
    i.e. the bit actually measures the sketch, it isn't constant."""
    from kafka_streams_pipeline_spark.operators.quality import (
        table_profile_approx_certified,
    )
    from kafka_streams_pipeline_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    shipped = table_profile_approx_certified(o).collect()
    assert all(r["hll_within_tol"] for r in shipped)
    zero_tol = table_profile_approx_certified(o, tol_pct=0).collect()
    # o_orderkey is high-cardinality: HLL++ at 1% rsd is never exact
    # there, so the 0%-tolerance bit must flip for at least one column
    assert not all(r["hll_within_tol"] for r in zero_tol)


def test_t_closeness_hand_emd_and_nulls(spark):
    """Hand-checked ordered EMD: global {0:2, 1:2, NULL excluded};
    class A={0,0} and B={1,1} each sit at EMD 1/2 (at risk at
    t=1/12), class C={0,1} matches the global distribution exactly
    (EMD 0, close). emd_num is the scaled integer
    Σ|cpc·N − gqc·n_c|."""
    from kafka_streams_pipeline_spark.operators.quality import (
        t_closeness,
    )

    rows = [
        ("A", 0), ("A", 0),
        ("B", 1), ("B", 1),
        ("C", 0), ("C", 1),
        ("C", None),  # NULL sensitive: excluded from BOTH dists
    ]
    # N = 6 non-null, m = 2; class C n_c = 2 (null row dropped)
    df = spark.createDataFrame(rows, "cls string, s long")
    got = {
        r["cls"]: (
            r["class_size"],
            r["domain_size"],
            r["emd_num"],
            r["at_risk"],
        )
        for r in t_closeness(df, ["cls"], "s").collect()
    }
    # A: s=0 -> |2*6 - 3*2| = 6; s=1 -> |12-12| = 0  => 6
    #    EMD = 6 / ((m-1)*n_c*N) = 6/12 = 1/2 > 1/12 -> at risk
    assert got["A"] == (2, 2, 6, True)
    assert got["B"] == (2, 2, 6, True)
    # C: s=0 -> |1*6 - 3*2| = 0 => EMD 0 -> close
    assert got["C"] == (2, 2, 0, False)
