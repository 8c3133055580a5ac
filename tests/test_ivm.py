"""Unit tests for operators/ivm.agg_view_apply — the linear Z-set
aggregate maintenance rule, including the group-death (count reaches
zero → view-row tombstone) and rebirth paths the fixture-backed
registry rows cannot reach."""

from kafka_streams_pipeline_spark.operators.ivm import agg_view_apply
from kafka_streams_pipeline_spark.sources.versioned import TOMBSTONE


def _view(spark, rows):
    return spark.createDataFrame(
        rows, "g string, n_rows long, v_sum long"
    )


def _delta(spark, rows):
    return spark.createDataFrame(
        rows, f"g string, v long, {TOMBSTONE} boolean"
    )


def test_agg_view_apply_inserts_retracts_and_touches_only(spark):
    v_old = _view(spark, [("a", 2, 10), ("b", 1, 5), ("c", 3, 30)])
    delta = _delta(
        spark,
        [
            ("a", 7, False),   # insert into existing group
            ("b", 5, True),    # retract b's only row -> group dies
            ("d", 4, False),   # brand-new group
        ],
    )
    out = {
        r["g"]: r
        for r in agg_view_apply(v_old, delta, "g", {"v_sum": "v"}).collect()
    }
    # only touched groups appear — c is absent
    assert set(out) == {"a", "b", "d"}
    assert (out["a"]["n_rows"], out["a"]["v_sum"]) == (3, 17)
    assert not out["a"][TOMBSTONE]
    # group death: zero count -> tombstone, not a zero husk
    assert out["b"]["n_rows"] == 0 and out["b"][TOMBSTONE]
    # new group starts from zero
    assert (out["d"]["n_rows"], out["d"]["v_sum"]) == (1, 4)
    assert not out["d"][TOMBSTONE]


def test_agg_view_apply_rebirth_after_death(spark):
    # after b died, the merged view no longer carries it; a later
    # insert must rebuild it from zero (left-join null -> coalesce 0)
    v_after_death = _view(spark, [("a", 3, 17)])
    delta = _delta(spark, [("b", 9, False)])
    out = {
        r["g"]: r
        for r in agg_view_apply(
            v_after_death, delta, "g", {"v_sum": "v"}
        ).collect()
    }
    assert set(out) == {"b"}
    assert (out["b"]["n_rows"], out["b"]["v_sum"]) == (1, 9)
    assert not out["b"][TOMBSTONE]


def test_agg_view_apply_mixed_batch_nets_out(spark):
    # one micro-batch carrying an insert AND a retraction for the
    # same group folds to the net in ONE aggregate pass
    v_old = _view(spark, [("a", 2, 10)])
    delta = _delta(spark, [("a", 6, False), ("a", 4, True)])
    row = agg_view_apply(v_old, delta, "g", {"v_sum": "v"}).collect()[0]
    assert (row["n_rows"], row["v_sum"]) == (2, 12)
    assert not row[TOMBSTONE]
