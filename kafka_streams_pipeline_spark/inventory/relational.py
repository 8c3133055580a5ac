"""Capability-rounding queries on the TPC-H-ish star schema
(SURVEY.md §2.4–§2.6): join kinds, grouped/rolled/cubed
aggregates, window analytics, retention/funnel/sessionization, and
the TPC-H pricing/shipping/volume shapes.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kafka_streams_pipeline_spark.functions.hashing import md5_long, md5_long_sql
from kafka_streams_pipeline_spark.inventory._registry import register
from kafka_streams_pipeline_spark.inventory._shared import (
    _cents_sum,
    _t,
)
from kafka_streams_pipeline_spark.operators import pareto as _pareto

# ---------------------------------------------------------------------------
# Capability-rounding queries on the TPC-H-ish star schema (§2.4–§2.6)
# ---------------------------------------------------------------------------


@register(
    "q_join_inner",
    oracle="""
        SELECT c_mktsegment,
               count(*)                    AS n_orders,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """,
    bench=True,
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join orders⋈customer, aggregated per segment. The
    customer side is broadcast (dimension ≪ fact) so the fact table
    never shuffles. Revenue uses cents-integer summation (_cents_sum)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _cents_sum(F.col("o_totalprice"), "revenue"),
        )
    )


@register(
    "q_join_broadcast",
    oracle="""
        SELECT r_name, n_name
        FROM nation JOIN region ON n_regionkey = r_regionkey
    """,
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast join of two dimensions (explicit broadcast hint)."""
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "r_name", "n_name"
    )


@register(
    "q_join_left",
    oracle="""
        SELECT c_custkey,
               count(o_orderkey)                      AS n_orders,
               coalesce(sum(CAST(round(o_totalprice * 100) AS BIGINT)), 0)
                   / 100.0                            AS total_spent
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey
    """,
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving order-less customers; cents-integer
    money summation (_cents_sum)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            (
                F.coalesce(
                    F.sum(F.round(F.col("o_totalprice") * 100).cast("long")),
                    F.lit(0),
                )
                / F.lit(100.0)
            ).alias("total_spent"),
        )
    )


@register(
    "q_join_semi",
    oracle="""
        SELECT c_custkey, c_name FROM customer
        WHERE EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey AND o_orderstatus = 'O'
        )
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers with at least one open order."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "O")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "q_join_anti",
    oracle="""
        SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey AND o_totalprice > 250000
        )
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no order above 250k (filter
    pushed below the join so the build side shrinks first)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 250000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "q_group_distinct",
    oracle="""
        SELECT event_type,
               count(*)               AS n_events,
               count(DISTINCT user_id) AS n_users
        FROM events
        GROUP BY event_type
    """,
)
def q_group_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (absent in the reference; free in Spark —
    SURVEY.md §2.3 note)."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@register(
    "q_rollup",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               count(*)                      AS n_items,
               round(sum(l_quantity), 6)     AS sum_qty
        FROM lineitem
        GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (SQL kind — §2.3 note)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
        )
    )


@register(
    "q_cube",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               count(*)                      AS n_items,
               round(sum(l_quantity), 6)     AS sum_qty
        FROM lineitem
        GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets — all 2^k key subsets in one pass (§2.3
    note: absent in the reference, free in Spark)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
        )
    )


@register(
    "q_salted_agg",
    oracle="""
        SELECT event_type,
               count(*)                         AS count,
               sum(CAST(round(value * 1000000) AS BIGINT)) / 1000000.0 AS sum,
               round(sum(CAST(round(value * 1000000) AS BIGINT)) / 1000000.0
                     / count(*), 6)             AS avg
        FROM events GROUP BY event_type
    """,
)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant salted two-phase aggregation; the oracle is the
    DIRECT single-phase aggregate, so the hash match certifies the A3
    algebraic identity the salting relies on (operators/skew.py).
    Values are micros-integers so both phases sum exactly
    (order-independent — see _cents_sum)."""
    from kafka_streams_pipeline_spark.operators.skew import salted_aggregate

    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 1000000).cast("long").alias("v_u"),
        "value",
    )
    out = salted_aggregate(e, ["event_type"], "v_u", spread_col="value")
    return out.select(
        "event_type",
        "count",
        (F.col("sum") / F.lit(1000000.0)).alias("sum"),
        F.round(F.col("sum") / F.lit(1000000.0) / F.col("count"), 6).alias("avg"),
    )


@register(
    "q_asof_attribution",
    bench=True,
    oracle="""
        SELECT event_id, user_id, ts_ms, last_click_ms,
               ts_ms - last_click_ms AS lag_ms
        FROM (
            SELECT event_id, user_id, event_type,
                   CAST(epoch_ms(ts) AS BIGINT) AS ts_ms,
                   last_value(CASE WHEN event_type = 'click'
                                   THEN CAST(epoch_ms(ts) AS BIGINT) END
                              IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS last_click_ms
            FROM events
        )
        WHERE event_type = 'purchase'
    """,
)
def q_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (attribution) join: for every purchase, the most recent
    strictly-preceding click by the same user. Expressed as a
    partition-local window (last over rows-preceding frame) — the
    scalable formulation when both sides share the partition key: one
    shuffle on user_id, no non-equi join explosion (SURVEY.md §2.4)."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_click = F.last(
        F.when(F.col("event_type") == "click", F.unix_millis("ts")),
        ignorenulls=True,
    ).over(w)
    return (
        e.select(
            "event_id",
            "user_id",
            "event_type",
            F.unix_millis("ts").alias("ts_ms"),
            last_click.alias("last_click_ms"),
        )
        .where(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "ts_ms",
            "last_click_ms",
            (F.col("ts_ms") - F.col("last_click_ms")).alias("lag_ms"),
        )
    )


@register(
    "q_window_rank",
    oracle="""
        SELECT c_mktsegment, o_orderkey, o_totalprice, rk FROM (
            SELECT c_mktsegment, o_orderkey, o_totalprice,
                   CAST(row_number() OVER (
                       PARTITION BY c_mktsegment
                       ORDER BY o_totalprice DESC, o_orderkey
                   ) AS INT) AS rk
            FROM orders JOIN customer ON o_custkey = c_custkey
        ) WHERE rk <= 3
    """,
    bench=True,
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window function: top-3 orders per market segment
    (§2.5 — absent in reference, certified here). Tie-broken by
    o_orderkey for a unique rowset."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_mktsegment",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rk"),
        )
        .where(F.col("rk") <= 3)
    )


@register(
    "q_window_lag",
    oracle="""
        SELECT event_id, user_id,
               CAST(epoch_ms(ts) AS BIGINT) AS ts_ms,
               CAST(epoch_ms(ts) AS BIGINT)
                 - lag(CAST(epoch_ms(ts) AS BIGINT))
                     OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS gap_ms,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS next_type,
               sum(CAST(round(value * 1000000) AS BIGINT)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) / 1000000.0 AS running_value
        FROM events
    """,
)
def q_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5: lag/lead + running sum over per-user event sequences —
    one shuffle on user_id serves all three analytics (same window
    spec). Running sum accumulates micros-integers (deterministic
    prefix sums — frame order is total via the event_id tiebreak)."""
    e = _t(spark, sf_dir, "events")
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    running = order.rowsBetween(Window.unboundedPreceding, 0)
    ts_ms = F.unix_millis("ts")
    return e.select(
        "event_id",
        "user_id",
        ts_ms.alias("ts_ms"),
        (ts_ms - F.lag(ts_ms).over(order)).alias("gap_ms"),
        F.lead("event_type").over(order).alias("next_type"),
        (
            F.sum(F.round(F.col("value") * 1000000).cast("long")).over(running)
            / 1000000.0
        ).alias("running_value"),
    )


@register(
    "q_retention",
    oracle="""
        WITH first_seen AS (
            SELECT user_id, date_trunc('week', min(ts)) AS cohort
            FROM events GROUP BY user_id
        ),
        active AS (
            SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
        )
        SELECT CAST(epoch_ms(f.cohort) AS BIGINT) AS cohort_ms,
               CAST((epoch_ms(a.wk) - epoch_ms(f.cohort)) // 604800000
                    AS BIGINT)                    AS week_offset,
               count(*)                           AS n_active
        FROM active a JOIN first_seen f ON a.user_id = f.user_id
        GROUP BY 1, 2
    """,
)
def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen ISO week; for
    each (cohort, week offset), how many are active. Two keyed
    aggregates and one user_id join — the cohort table is small
    (one row per user) so at scale it broadcasts; week arithmetic is
    exact epoch-ms integer division."""
    e = _t(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort")
    )
    active = e.select(
        "user_id", F.date_trunc("week", "ts").alias("wk")
    ).distinct()
    return (
        active.join(first_seen, "user_id")
        .select(
            F.unix_millis("cohort").alias("cohort_ms"),
            (
                (F.unix_millis("wk") - F.unix_millis("cohort"))
                / F.lit(604_800_000)
            )
            .cast("long")
            .alias("week_offset"),
        )
        .groupBy("cohort_ms", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


@register(
    "q_funnel",
    oracle="""
        WITH v AS (
            SELECT user_id, min(ts) AS v_ts FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ),
        c AS (
            SELECT e.user_id, min(e.ts) AS c_ts
            FROM events e JOIN v ON e.user_id = v.user_id
            WHERE e.event_type = 'click'
              AND e.ts > v.v_ts AND e.ts <= v.v_ts + INTERVAL 30 MINUTE
            GROUP BY e.user_id
        ),
        p AS (
            SELECT e.user_id, min(e.ts) AS p_ts
            FROM events e JOIN c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase'
              AND e.ts > c.c_ts AND e.ts <= c.c_ts + INTERVAL 30 MINUTE
            GROUP BY e.user_id
        )
        SELECT (SELECT count(*) FROM v) AS n_viewed,
               (SELECT count(*) FROM c) AS n_clicked_30m,
               (SELECT count(*) FROM p) AS n_purchased_30m
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-analytics funnel: users whose first view is followed by
    a click within 30 min, then a purchase within 30 min of that
    click. Each stage is a keyed min-aggregate joined to the previous
    stage on user_id — the same key throughout, so at scale every
    stage reuses one hash partitioning (no re-shuffle between stages
    under AQE exchange reuse)."""
    e = _t(spark, sf_dir, "events")
    v = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    c = (
        e.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(
            (F.col("ts") > F.col("v_ts"))
            & (F.col("ts") <= F.col("v_ts") + F.expr("INTERVAL 30 MINUTES"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        e.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(
            (F.col("ts") > F.col("c_ts"))
            & (F.col("ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_viewed"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_clicked_30m")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchased_30m")))
    )


@register(
    "q_latest_by_key",
    oracle="""
        SELECT user_id,
               event_id AS last_event,
               CAST(epoch_ms(ts) AS BIGINT) AS last_ts_ms,
               event_type AS last_type,
               round(value, 6) AS last_value
        FROM (
            SELECT *,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ) WHERE rn = 1
    """,
)
def q_latest_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC/upsert primitive: latest event per key (row_number over a
    DESC event-time order, event_id tiebreak for totality) — the
    batch form of the changelog-compaction every materialized view
    relies on. One shuffle on the key; at scale this is the
    dropDuplicates-by-ordering pattern Spark plans as a single
    partial/final window."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event"),
            F.unix_millis("ts").alias("last_ts_ms"),
            F.col("event_type").alias("last_type"),
            F.round("value", 6).alias("last_value"),
        )
    )


@register(
    "q_scd2_intervals",
    oracle="""
        SELECT user_id, event_id,
               round(value, 6) AS value,
               CAST(epoch_ms(ts) AS BIGINT) AS valid_from_ms,
               CAST(epoch_ms(lead(ts) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)) AS BIGINT)
                   AS valid_to_ms,
               lead(ts) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) IS NULL AS is_current
        FROM events
        WHERE event_type = 'purchase'
    """,
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) snapshot: turn each key's
    event log into [valid_from, valid_to) validity intervals via
    lead() — the standard event-sourcing → dimension-table transform.
    NULL valid_to marks the current row. One shuffle on the key; the
    event-type filter reaches the scan."""
    e = _t(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return e.select(
        "user_id",
        "event_id",
        F.round("value", 6).alias("value"),
        F.unix_millis("ts").alias("valid_from_ms"),
        F.unix_millis(nxt).alias("valid_to_ms"),
        nxt.isNull().alias("is_current"),
    )


# Rolling z-score: milli-unit quantization keeps every windowed sum
# exact; n*Σx² stays far inside BIGINT at any frame length.
ZSCORE_FP = 1_000
ZSCORE_FRAME = 10  # trailing window length (rows)


@register(
    "q_rolling_zscore",
    oracle=f"""
        WITH q AS (
            SELECT event_id, user_id, ts, value,
                   CAST(round(value * {ZSCORE_FP}) AS BIGINT) AS xf
            FROM events
        ),
        w AS (
            SELECT event_id, user_id, ts, xf,
                   count(*) OVER fr AS n,
                   sum(xf)  OVER fr AS s,
                   sum(xf * xf) OVER fr AS ss
            FROM q
            WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN {ZSCORE_FRAME} PRECEDING AND 1 PRECEDING)
        )
        SELECT event_id, user_id,
               CAST(epoch_ms(ts) AS BIGINT) AS ts_ms,
               CASE WHEN n >= 5 AND n * ss - s * s > 0
                    THEN round((n * xf - s) / sqrt(CAST(n * ss - s * s AS DOUBLE)), 6)
                    ELSE NULL END AS zscore
        FROM w
    """,
)
def q_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series anomaly score: z-score of each event's value
    against its trailing {frame}-row window per user — the standard
    streaming-monitoring analytic, here in its batch window-function
    form. Fixed-point milli-unit sums keep n, Σx, Σx² exact integers,
    so z = (n·x − Σx)/√(n·Σx² − (Σx)²) is one deterministic double
    expression — engine-portable despite being 'floating point'.
    One shuffle on user_id; the frame is evaluated streamingly within
    each partition (no per-row rescan)."""
    e = _t(spark, sf_dir, "events").withColumn(
        "xf", F.round(F.col("value") * ZSCORE_FP).cast("long")
    )
    fr = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        -ZSCORE_FRAME, -1
    )
    n = F.count(F.lit(1)).over(fr)
    s = F.sum("xf").over(fr)
    ss = F.sum(F.col("xf") * F.col("xf")).over(fr)
    b = n * ss - s * s
    return e.select(
        "event_id",
        "user_id",
        F.unix_millis("ts").alias("ts_ms"),
        F.when(
            (n >= 5) & (b > 0),
            F.round((n * F.col("xf") - s) / F.sqrt(b.cast("double")), 6),
        ).alias("zscore"),
    )


@register(
    "q_set_ops",
    oracle="""
        SELECT user_id, 'both' AS tag FROM (
            SELECT user_id FROM events WHERE event_type = 'click'
            INTERSECT
            SELECT user_id FROM events WHERE event_type = 'purchase'
        )
        UNION ALL
        SELECT user_id, 'click_only' AS tag FROM (
            SELECT user_id FROM events WHERE event_type = 'click'
            EXCEPT
            SELECT user_id FROM events WHERE event_type = 'purchase'
        )
    """,
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6: INTERSECT + EXCEPT (set semantics) — buyers∩clickers and
    clickers∖buyers, tagged and unioned."""
    e = _t(spark, sf_dir, "events")
    clickers = e.where(F.col("event_type") == "click").select("user_id")
    buyers = e.where(F.col("event_type") == "purchase").select("user_id")
    both = clickers.intersect(buyers).withColumn("tag", F.lit("both"))
    only = clickers.subtract(buyers).withColumn("tag", F.lit("click_only"))
    return both.unionByName(only)


@register(
    "q_union",
    oracle="""
        SELECT user_id, 'clicker' AS cohort FROM events
        WHERE event_type = 'click' GROUP BY user_id
        UNION ALL
        SELECT user_id, 'buyer' AS cohort FROM events
        WHERE event_type = 'purchase' GROUP BY user_id
    """,
)
def q_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op: unionByName of two derived cohorts (§2.6)."""
    e = _t(spark, sf_dir, "events")
    clickers = (
        e.where(F.col("event_type") == "click")
        .select("user_id")
        .distinct()
        .withColumn("cohort", F.lit("clicker"))
    )
    buyers = (
        e.where(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .withColumn("cohort", F.lit("buyer"))
    )
    return clickers.unionByName(buyers)


@register(
    "q_topk_limit",
    oracle="""
        SELECT l_orderkey, l_linenumber, l_extendedprice
        FROM lineitem
        ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        LIMIT 10
    """,
)
def q_topk_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY + LIMIT top-k (Spark plans TakeOrderedAndProject — no
    global sort). Tie-broken by (orderkey, linenumber)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(
            F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber"
        )
        .limit(10)
    )


@register(
    "q_tpch_pricing",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               sum(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0
                   AS sum_qty,
               sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0
                   AS sum_base_price,
               sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
                   / 100.0 AS sum_disc_price,
               sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100)
                        AS BIGINT)) / 100.0 AS sum_charge,
               round(sum(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0
                     / count(*), 6) AS avg_qty,
               round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0
                     / count(*), 6) AS avg_price,
               round(sum(CAST(round(l_discount * 1000000) AS BIGINT)) / 1000000.0
                     / count(*), 6) AS avg_disc,
               count(*)                         AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    bench=True,
)
def q_tpch_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary — the flagship wide
    aggregation (single scan, map-side partial agg, tiny shuffle).
    All money/quantity sums are fixed-point integer sums
    (order-independent — see _cents_sum); averages derive from those
    exact sums, never avg() over raw doubles."""
    li = _t(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # pre-project the fixed-point terms so codegen evaluates each
    # rounding once per row, shared by the sum and the derived avg
    fixed = li.where(
        F.col("l_shipdate") <= F.lit("2001-09-01 00:00:00").cast("timestamp")
    ).select(
        "l_returnflag",
        "l_linestatus",
        F.round(F.col("l_quantity") * 100).cast("long").alias("qty_c"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("price_c"),
        F.round(disc * 100).cast("long").alias("disc_price_c"),
        F.round(disc * (1 + F.col("l_tax")) * 100).cast("long").alias("charge_c"),
        F.round(F.col("l_discount") * 1000000).cast("long").alias("disc_u"),
    )
    qty_c, price_c = F.sum("qty_c"), F.sum("price_c")
    cnt = F.count(F.lit(1))
    return fixed.groupBy("l_returnflag", "l_linestatus").agg(
        (qty_c / 100.0).alias("sum_qty"),
        (price_c / 100.0).alias("sum_base_price"),
        (F.sum("disc_price_c") / 100.0).alias("sum_disc_price"),
        (F.sum("charge_c") / 100.0).alias("sum_charge"),
        F.round(qty_c / 100.0 / cnt, 6).alias("avg_qty"),
        F.round(price_c / 100.0 / cnt, 6).alias("avg_price"),
        F.round(F.sum("disc_u") / 1000000.0 / cnt, 6).alias("avg_disc"),
        cnt.alias("count_order"),
    )


@register(
    "q_shipping_priority",
    oracle="""
        SELECT l_orderkey,
               sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                        AS BIGINT)) / 100.0 AS revenue,
               epoch_ms(o_orderdate) AS o_orderdate_ms,
               o_orderpriority
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '2000-03-15 00:00:00'
          AND l_shipdate  > TIMESTAMP '2000-03-15 00:00:00'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        HAVING sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                        AS BIGINT)) > 2000000
    """,
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped shipping priority: 3-table join with both date
    predicates pushed to their scans, the filtered customer dimension
    broadcast, and a fixed-point revenue HAVING instead of a LIMIT
    (LIMIT over revenue ties is engine-nondeterministic; a threshold
    is exact). At scale: lineitem⋈orders shuffles on orderkey once,
    customers never shuffle."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("2000-03-15 00:00:00").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("2000-03-15 00:00:00").cast("timestamp")
    )
    rev_c = F.sum(
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
            "long"
        )
    )
    return (
        li.join(o.join(F.broadcast(c), o.o_custkey == c.c_custkey),
                li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(rev_c.alias("rev_cents"))
        .where(F.col("rev_cents") > 2_000_000)
        .select(
            "l_orderkey",
            (F.col("rev_cents") / 100.0).alias("revenue"),
            # o_orderdate is midnight-valued TIMESTAMP_NTZ; unix_date on
            # the DATE cast is timezone-free (unix_millis needs LTZ)
            (F.unix_date(F.to_date("o_orderdate")).cast("long") * 86_400_000)
            .alias("o_orderdate_ms"),
            "o_orderpriority",
        )
    )


@register(
    "q_local_supplier_volume",
    oracle="""
        SELECT n_name,
               sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                        AS BIGINT)) / 100.0 AS revenue,
               count(*) AS n_lines
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
                     AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '2001-01-01 00:00:00'
        GROUP BY n_name
    """,
)
def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped local supplier volume: the 6-table join with
    the c_nationkey = s_nationkey 'local' condition. Declarative form
    lets Catalyst order the joins; supplier/nation/region (tiny) are
    broadcast, so the only shuffles are the two fact-side equi-joins
    (orders⋈customer on custkey, lineitem⋈orders on orderkey). The
    local condition rides the supplier broadcast join as an extra
    predicate — no additional shuffle."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("2001-01-01 00:00:00").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            _cents_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q_promo_share",
    oracle="""
        SELECT round(100.0 * (sum(CASE WHEN p_type = 'PROMO'
                       THEN CAST(round(l_extendedprice * (1 - l_discount) * 100)
                                 AS BIGINT) ELSE 0 END) / 100.0)
                     / (sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                                 AS BIGINT)) / 100.0), 6)
                   AS promo_share_pct,
               count(*) AS n_lines
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '2000-06-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '2000-09-01 00:00:00'
    """,
)
def q_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped promo revenue share: fact⋈dimension with a
    broadcast part side and the ship-date filter pushed to the scan."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("2000-06-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("2000-09-01 00:00:00").cast("timestamp"))
        )
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0
                * (
                    F.sum(
                        F.when(
                            F.col("p_type") == "PROMO",
                            F.round(rev * 100).cast("long"),
                        ).otherwise(F.lit(0))
                    )
                    / F.lit(100.0)
                )
                / (F.sum(F.round(rev * 100).cast("long")) / F.lit(100.0)),
                6,
            ).alias("promo_share_pct"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q_supplier_volume",
    bench=True,
    oracle="""
        SELECT n_name,
               count(DISTINCT s_suppkey)                         AS n_suppliers,
               sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
                   / 100.0                                       AS volume
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        GROUP BY n_name
    """,
)
def q_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation supplier volume: star join with both dimension sides
    broadcast — the fact table never shuffles for the join, only for
    the final small groupBy."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.countDistinct("s_suppkey").alias("n_suppliers"),
            _cents_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "volume"
            ),
        )
    )


@register(
    "q_quantiles",
    oracle="""
        SELECT l_returnflag,
               round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
               round(quantile_cont(l_extendedprice, 0.9), 6) AS p90,
               round(quantile_cont(l_quantity, 0.5), 6)      AS qty_p50
        FROM lineitem GROUP BY l_returnflag
    """,
)
def q_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (both engines use the
    same continuous-quantile definition: sort + linear interpolation —
    deterministic, unlike approx sketches). percentile_approx remains
    the documented 100 TB path; this certifies the exact semantics."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("qty_p50"),
    )


@register(
    "q_pivot",
    oracle="""
        SELECT dow,
               count(*) FILTER (event_type = 'click')    AS click,
               count(*) FILTER (event_type = 'view')     AS view,
               count(*) FILTER (event_type = 'purchase') AS purchase,
               count(*) FILTER (event_type = 'signup')   AS signup,
               count(*) FILTER (event_type = 'error')    AS error
        FROM (SELECT CAST(dayofweek(ts) AS BIGINT) AS dow, event_type
              FROM events)
        GROUP BY dow
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: event counts per day-of-week × event type. Explicit
    pivot values keep the plan single-pass (no distinct-values
    pre-query); the oracle is the conditional-aggregation rewrite.
    DuckDB dayofweek is 0=Sunday; Spark dayofweek is 1=Sunday, so the
    Spark side aligns with -1."""
    e = _t(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    return (
        e.select(
            (F.dayofweek("ts") - 1).cast("long").alias("dow"), "event_type"
        )
        .groupBy("dow")
        .pivot("event_type", types)
        .count()
        .na.fill(0, types)
    )


@register(
    "q_corr_stats",
    oracle="""
        WITH q AS (
            SELECT l_returnflag,
                   CAST(round(l_quantity) AS BIGINT)      AS x,
                   CAST(round(l_extendedprice) AS BIGINT) AS y
            FROM lineitem
        ),
        m AS (
            SELECT l_returnflag,
                   count(*) AS n,
                   sum(x) AS sx, sum(y) AS sy,
                   sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
            FROM q GROUP BY l_returnflag
        )
        SELECT l_returnflag, n,
               CAST(sx AS BIGINT) AS sx, CAST(sy AS BIGINT) AS sy,
               round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
                     (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
                      sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
                     6) AS pearson_r
        FROM m
    """,
)
def q_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate with the fixed-point discipline: Pearson
    correlation of quantity vs price per return flag. All five
    moments are exact integer sums over whole-unit-quantized values
    (one partial+final agg, order-independent — whole units keep
    sum(y^2) inside int64 through sf100); r is a single deterministic
    double expression over double-cast moments at the end —
    engine-portable where a naive corr() would flake on summation
    order. (Beyond that scale the moments move to DECIMAL(38); same
    plan shape.)"""
    li = _t(spark, sf_dir, "lineitem")
    x = F.round(F.col("l_quantity")).cast("long")
    y = F.round(F.col("l_extendedprice")).cast("long")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    num = nd * F.col("sxy") - sxd * F.col("sy")
    den = F.sqrt(nd * F.col("sxx") - sxd * F.col("sx")) * F.sqrt(
        nd * F.col("syy") - syd * F.col("sy")
    )
    return m.select(
        "l_returnflag",
        "n",
        "sx",
        "sy",
        F.round(num / den, 6).alias("pearson_r"),
    )


@register(
    "q_group_mode",
    oracle="""
        WITH c AS (
            SELECT l_returnflag,
                   CAST(l_quantity AS BIGINT) AS qty,
                   count(*) AS cnt
            FROM lineitem GROUP BY 1, 2
        ),
        r AS (
            SELECT l_returnflag, qty, cnt,
                   row_number() OVER (PARTITION BY l_returnflag
                                      ORDER BY cnt DESC, qty) AS rn
            FROM c
        )
        SELECT l_returnflag, qty AS mode_qty, cnt AS mode_count
        FROM r WHERE rn = 1
    """,
)
def q_group_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mode with a deterministic tiebreak (highest count,
    then smallest value) as an AGGREGATE, not a window: max of a
    (cnt, -qty) struct after the count groupBy — two partial/final
    aggregations, no single-partition window sort at any group
    cardinality."""
    li = _t(spark, sf_dir, "lineitem")
    counts = (
        li.select("l_returnflag", F.col("l_quantity").cast("long").alias("qty"))
        .groupBy("l_returnflag", "qty")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        counts.groupBy("l_returnflag")
        .agg(
            F.max(F.struct(F.col("cnt"), (-F.col("qty")).alias("nq"))).alias("m")
        )
        .select(
            "l_returnflag",
            (-F.col("m.nq")).alias("mode_qty"),
            F.col("m.cnt").alias("mode_count"),
        )
    )


@register(
    "q_unpivot",
    oracle="""
        WITH agg AS (
            SELECT l_returnflag,
                   CAST(sum(CAST(round(l_quantity * 100) AS BIGINT))
                        AS BIGINT)                                   AS qty_c,
                   CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                        AS BIGINT)                                   AS price_c,
                   count(*)                                          AS n
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag, 'qty_c'   AS metric, qty_c   AS value FROM agg
        UNION ALL
        SELECT l_returnflag, 'price_c' AS metric, price_c AS value FROM agg
        UNION ALL
        SELECT l_returnflag, 'n'       AS metric, n       AS value FROM agg
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt (pivot's inverse): wide per-flag aggregates →
    long (flag, metric, value) rows via DataFrame.unpivot — the
    Expand operator, one pass, no join. Values are fixed-point cents
    so the long format stays hash-exact."""
    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias("qty_c"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
            "price_c"
        ),
        F.count(F.lit(1)).alias("n"),
    )
    return agg.unpivot(
        ids=["l_returnflag"],
        values=["qty_c", "price_c", "n"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@register(
    "q_hash_sample",
    oracle=f"""
        SELECT lang,
               count(*) AS n_sampled,
               min(doc_id) AS first_id
        FROM documents
        WHERE {md5_long_sql("CAST(doc_id AS VARCHAR)")} % 20 = 0
        GROUP BY lang
    """,
)
def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash sampling (~5%): the reproducible way to
    sample training data at 100 TB — membership depends only on the
    id, so re-runs, retries and different partitionings select the
    SAME sample (unlike rand()-based TABLESAMPLE). Per-language counts
    certify the stratification is stable."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.where(md5_long(F.col("doc_id").cast("string")) % 20 == 0)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.min("doc_id").alias("first_id"),
        )
    )




@register(
    "q_join_full",
    oracle="""
        SELECT coalesce(c.c_custkey, o.o_custkey) AS cust,
               c.c_name,
               CAST(count(o.o_orderkey) AS BIGINT) AS n_big_orders,
               round(coalesce(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)),
                              0) / 100.0, 6) AS big_total
        FROM customer c
        FULL OUTER JOIN (SELECT * FROM orders
                         WHERE o_totalprice > 250000) o
          ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    """,
)
def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join — the one join kind the q_join_* family did
    not yet certify: customers with no qualifying order keep a
    null-padded right side, and qualifying orders whose customer is
    absent from the dimension keep a null-padded left side (the
    fixture's orders reference customers uniformly, so the left-null
    branch is exercised when o_custkey falls outside the customer
    range at small scale factors). Aggregated per customer with the
    exact-cents sum convention."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 250000)
    return (
        c.join(o, o.o_custkey == c.c_custkey, "full_outer")
        .groupBy(
            F.coalesce("c_custkey", "o_custkey").alias("cust"), "c_name"
        )
        .agg(
            F.count("o_orderkey").cast("long").alias("n_big_orders"),
            (
                F.coalesce(
                    F.sum(F.round(F.col("o_totalprice") * 100).cast("long")),
                    F.lit(0),
                )
                / F.lit(100.0)
            ).alias("big_total"),
        )
        .select(
            "cust", "c_name", "n_big_orders",
            F.round("big_total", 6).alias("big_total"),
        )
    )


@register(
    "q_join_cross",
    oracle="""
        SELECT n.n_name, r.r_name,
               CASE WHEN n.n_regionkey = r.r_regionkey THEN 1 ELSE 0 END
                   AS is_home
        FROM nation n CROSS JOIN region r
    """,
)
def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deliberate bounded CROSS join (nation × region, 125 rows): the
    one place a cartesian product is the RIGHT plan — both sides are
    tiny dimensions and the product is the requested result (a
    feature matrix of every nation-region combination). Broadcast
    keeps it a BroadcastNestedLoopJoin over the 5-row side; the plan
    census still forbids cartesians everywhere else."""
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return n.crossJoin(F.broadcast(r)).select(
        "n_name",
        "r_name",
        F.when(F.col("n_regionkey") == F.col("r_regionkey"), 1)
        .otherwise(0)
        .cast("int")
        .alias("is_home"),
    )


RECURSE_SEED_MOD = 97   # seeds = doc_id % 97 == 0
RECURSE_MAX_DEPTH = 6


def _reach_sql(dialect: str) -> str:
    """Shared recursive-CTE body for BFS reachability over the
    deterministic functional graph edge(doc_id) =
    md5('edge:'||doc_id) mod N — identical text modulo the md5→BIGINT
    idiom, so the Spark and DuckDB runs are the same recursion."""
    if dialect == "spark":
        h = "cast(conv(substring(md5(concat('edge:', cast(doc_id as string))), 1, 8), 16, 10) as bigint)"
        tbl = "recdocs"
    else:
        h = "('0x' || substr(md5('edge:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT"
        tbl = "documents"
    return f"""
        WITH RECURSIVE
        n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM {tbl}),
        edges AS (
            SELECT doc_id AS src, CAST({h} % n_total AS BIGINT) AS dst
            FROM {tbl}, n
        ),
        reach(root, node, depth) AS (
            SELECT doc_id, doc_id, 0
            FROM {tbl} WHERE doc_id % {RECURSE_SEED_MOD} = 0
            UNION ALL
            SELECT r.root, e.dst, r.depth + 1
            FROM reach r JOIN edges e ON r.node = e.src
            WHERE r.depth < {RECURSE_MAX_DEPTH}
        )
        SELECT root,
               CAST(count(DISTINCT node) AS BIGINT) AS n_reachable,
               CAST(sum(DISTINCT node) AS BIGINT) AS node_checksum,
               CAST(max(depth) AS BIGINT) AS max_depth
        FROM reach
        GROUP BY root
        ORDER BY root
    """


@register("q_recursive_reachability", oracle=_reach_sql("duck"))
def q_recursive_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1e recursive-CTE reachability (round 11, deferred cert →
    r12 window): bounded-depth BFS over a deterministic functional
    graph (edge = md5-hash successor mod N) from modulus-selected
    roots, written as WITH RECURSIVE — certifying Spark 4's
    recursive-CTE SQL surface against DuckDB running the IDENTICAL
    recursion. Per root: distinct reachable nodes, membership
    checksum, max depth. Depth-bounded UNION ALL recursion; each
    iteration is one equi-join of the frontier against the edge
    table (hash-partitioned on the join key — the standard
    distributed BFS step)."""
    docs = _t(spark, sf_dir, "documents")
    docs.select("doc_id").createOrReplaceTempView("recdocs")
    return spark.sql(_reach_sql("spark"))


@register(
    "q_skyline",
    bench=True,
    oracle=_pareto.skyline_2d_oracle(
        "part",
        "round(p_retailprice * 100)",
        "p_size",
        "p_partkey",
    ),
    materializes=True,
)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 OLAP extension (round 13): Pareto frontier / SKYLINE OF
    (Börzsönyi et al. 2001) over parts under (min retail price,
    max size). Implemented as a bucketed prefix-max scan — per-band
    windows stay parallel, the cross-band carry is a 256-row driver
    fold — because the naive single ORDER BY window collapses to one
    task and the NOT EXISTS form is quadratic. The quadratic
    dominance oracle certifies the scan IS the frontier. See
    operators/pareto.skyline_2d."""
    part = _t(spark, sf_dir, "part").withColumn(
        "price_cents", F.expr("cast(round(p_retailprice * 100) as long)")
    )
    return _pareto.skyline_2d(part, "price_cents", "p_size", "p_partkey")


#: Per-user item-degree clamp for the bipartite projection (the
#: standard 100 TB degree clamp: a power-user with 10^5 items would
#: otherwise generate C(10^5, 2) ≈ 5e9 pairs in one task's explode).
#: Deterministic: the CAP smallest item ids survive. 48 clamps ~half
#: the sf0.01 users (degrees run 38-67) so the truncated branch is
#: exercised — and oracle-certified — on the driver fixture itself.
BIPARTITE_MAX_ITEMS_PER_USER = 48


@register(
    "q_bipartite_cooccurrence",
    oracle=f"""
        WITH ui AS (
            SELECT DISTINCT user_id,
                   TRY_CAST(json_extract(props, '$.k') AS BIGINT) AS item
            FROM events
            WHERE TRY_CAST(json_extract(props, '$.k') AS BIGINT)
                  IS NOT NULL
        ),
        ranked AS (
            SELECT user_id, item,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY item
                   ) AS rn
            FROM ui
        ),
        clamped AS (
            SELECT user_id, item FROM ranked
            WHERE rn <= {BIPARTITE_MAX_ITEMS_PER_USER}
        ),
        stat AS (
            SELECT CAST(count(*) AS BIGINT) AS n_clamped_users
            FROM (
                SELECT user_id FROM ui GROUP BY user_id
                HAVING count(*) > {BIPARTITE_MAX_ITEMS_PER_USER}
            )
        )
        SELECT a.item AS item_a, b.item AS item_b,
               CAST(count(*) AS BIGINT) AS n_users,
               (SELECT n_clamped_users FROM stat) AS n_clamped_users
        FROM clamped a JOIN clamped b
          ON a.user_id = b.user_id AND a.item < b.item
        GROUP BY 1, 2
        HAVING count(*) >= 5
    """,
)
def q_bipartite_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 round 13 (deferred cert → r14 window): bipartite
    projection / item-item co-engagement — the recommender
    co-occurrence matrix (users × items projected onto item pairs
    weighted by shared users, min-support 5). Pairs expand PER ROW
    from each user's sorted distinct-item array (collect_set +
    nested transform) instead of a positional self-join: two
    shuffles total (user key with map-side partials, then pair key)
    vs the join form's three. The quadratic blow-up is per-user
    degree, so it is CLAMPED (VERDICT r13 item 2): each user
    contributes at most BIPARTITE_MAX_ITEMS_PER_USER items
    (deterministically the smallest item ids — documented bias
    toward low ids), and the number of truncated users is reported
    on every output row as n_clamped_users so the bias is loud, not
    silent. Items parsed from the JSON props column with a
    null-on-non-numeric cast in BOTH engines (Spark cast, DuckDB
    TRY_CAST)."""
    ev = _t(spark, sf_dir, "events")
    cap = BIPARTITE_MAX_ITEMS_PER_USER
    ui = (
        ev.select(
            "user_id",
            # try_cast, not cast: under Spark 4's default ANSI mode a
            # plain cast THROWS on a non-numeric $.k while the
            # oracle's TRY_CAST nulls it — try_cast makes both
            # engines drop such rows identically (r14 review)
            F.expr(
                "try_cast(get_json_object(props, '$.k') AS long)"
            ).alias("item"),
        )
        .where(F.col("item").isNotNull())
        .groupBy("user_id")
        .agg(F.array_sort(F.collect_set("item")).alias("all_items"))
    )
    # Degree clamp BEFORE expansion: slice keeps the cap smallest
    # ids from the sorted set, so the per-row fan-out is bounded by
    # C(cap, 2) regardless of the true degree distribution. The
    # clamped-user count is a 1-row broadcast stat frame (the same
    # loud-truncation pattern as the corpus caps).
    ui = ui.select(
        "user_id",
        F.expr(f"slice(all_items, 1, {cap})").alias("items"),
        (F.size("all_items") > cap).cast("long").alias("was_clamped"),
    )
    stat = ui.agg(
        F.sum("was_clamped").cast("long").alias("n_clamped_users")
    )
    # per-user pair expansion from the sorted item set — ONE shuffle
    # on user_id (collect_set with map-side partials) + one on the
    # pair key, where the naive positional self-join costs three
    # (distinct, join re-partition, aggregate).
    return (
        ui.where(F.expr("size(items) >= 2"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, size(items) - 1), "
                    "i -> transform(sequence(i + 1, size(items)), "
                    "j -> struct(element_at(items, i) AS item_a, "
                    "element_at(items, j) AS item_b))))"
                )
            ).alias("p")
        )
        .groupBy(
            F.col("p.item_a").alias("item_a"),
            F.col("p.item_b").alias("item_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .where(F.col("n_users") >= 5)
        .crossJoin(F.broadcast(stat))
    )


@register(
    "q_sliding_distinct",
    oracle="""
        WITH e AS (
            SELECT epoch_ms(date_trunc('hour', ts)) AS h_ms, user_id
            FROM events
        ),
        x AS (
            SELECT h_ms - i * 3600000 AS window_ms, user_id
            FROM e, UNNEST([0, 1, 2]) AS t(i)
        )
        SELECT window_ms,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM x GROUP BY window_ms
    """,
)
def q_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8/§2.3 round 13 (deferred cert → r14 window): EXACT
    distinct users per 3-hour sliding window on a 1-hour grid — the
    metric HLL sketches approximate (q_streaming_hll / X6), computed
    exactly: each event expands to the ≤3 covering window starts
    (per-row sequence, no self-join), then one distinct aggregate.
    Spark plans count(DISTINCT) as the two-phase
    dedupe-then-count (partial distinct map-side), which is the
    100 TB shape; the ×window_count expansion is the standard cost
    of exact sliding distinct and exactly what the sketch path
    amortizes away. Window starts as epoch ms (integer-exact)."""
    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        F.expr("unix_millis(date_trunc('hour', ts))").alias("h_ms"),
        "user_id",
    )
    return (
        base.select(
            F.explode(F.expr("sequence(0, 2)")).alias("i"),
            "h_ms",
            "user_id",
        )
        .select(
            (F.col("h_ms") - F.col("i") * 3600000).alias("window_ms"),
            "user_id",
        )
        .groupBy("window_ms")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
    )


@register(
    "q_asof_tolerance",
    oracle="""
        SELECT event_id, user_id, ts_ms,
               CASE WHEN ts_ms - back_ms <= 1800000
                    THEN back_id END AS back_click_id,
               CASE WHEN ts_ms - back_ms <= 1800000
                    THEN ts_ms - back_ms END AS back_gap_ms,
               CASE WHEN fwd_ms - ts_ms <= 600000
                    THEN fwd_id END AS fwd_click_id,
               CASE WHEN fwd_ms - ts_ms <= 600000
                    THEN fwd_ms - ts_ms END AS fwd_gap_ms
        FROM (
            SELECT event_id, user_id, event_type,
                   CAST(epoch_ms(ts) AS BIGINT) AS ts_ms,
                   last_value(CASE WHEN event_type = 'click'
                                   THEN CAST(epoch_ms(ts) AS BIGINT) END
                              IGNORE NULLS) OVER wback AS back_ms,
                   last_value(CASE WHEN event_type = 'click'
                                   THEN event_id END
                              IGNORE NULLS) OVER wback AS back_id,
                   first_value(CASE WHEN event_type = 'click'
                                    THEN CAST(epoch_ms(ts) AS BIGINT) END
                               IGNORE NULLS) OVER wfwd AS fwd_ms,
                   first_value(CASE WHEN event_type = 'click'
                                    THEN event_id END
                               IGNORE NULLS) OVER wfwd AS fwd_id
            FROM events
            WINDOW wback AS (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   wfwd AS (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
        )
        WHERE event_type = 'purchase'
    """,
)
def q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4o (round 16): TOLERANCE-BOUNDED bidirectional as-of join —
    the `ASOF JOIN ... WITHIN`/kdb `wj` semantics q_asof_attribution
    lacks: for every purchase, the nearest strictly-preceding click
    WITHIN 30 min (backward) and the nearest strictly-following
    click WITHIN 10 min (forward), each carrying the matched
    EVENT IDENTITY, with misses beyond tolerance reading NULL
    instead of an arbitrarily-stale match. Same scalable
    formulation as the unbounded row: both directions are window
    frames over ONE (user, ts, event_id) sort — one shuffle, no
    range-join explosion, and the id/ts pair per direction is
    consistent by construction (both last()/first() reads resolve
    to the same physical row of the ordered frame). The tolerance
    is applied as a post-filter on the matched gap, which preserves
    the single-pass plan (a pre-filtered range join would be the
    non-scalable theta form). Strictness: a click at the purchase's
    exact timestamp counts as preceding/following by the
    (ts, event_id) row order — documented, and identical in both
    engines."""
    e = _t(spark, sf_dir, "events")
    wb = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    is_click = F.col("event_type") == "click"
    base = e.select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_millis("ts").alias("ts_ms"),
        F.last(
            F.when(is_click, F.unix_millis("ts")), ignorenulls=True
        ).over(wb).alias("back_ms"),
        F.last(
            F.when(is_click, F.col("event_id")), ignorenulls=True
        ).over(wb).alias("back_id"),
        F.first(
            F.when(is_click, F.unix_millis("ts")), ignorenulls=True
        ).over(wf).alias("fwd_ms"),
        F.first(
            F.when(is_click, F.col("event_id")), ignorenulls=True
        ).over(wf).alias("fwd_id"),
    ).where(F.col("event_type") == "purchase")
    back_ok = F.col("ts_ms") - F.col("back_ms") <= 1_800_000
    fwd_ok = F.col("fwd_ms") - F.col("ts_ms") <= 600_000
    return base.select(
        "event_id",
        "user_id",
        "ts_ms",
        F.when(back_ok, F.col("back_id")).alias("back_click_id"),
        F.when(back_ok, F.col("ts_ms") - F.col("back_ms")).alias(
            "back_gap_ms"
        ),
        F.when(fwd_ok, F.col("fwd_id")).alias("fwd_click_id"),
        F.when(fwd_ok, F.col("fwd_ms") - F.col("ts_ms")).alias(
            "fwd_gap_ms"
        ),
    )
