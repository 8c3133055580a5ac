"""Round-4 additions: sketch family growth (KMV, CMS heavy hitters),
corpus source caps, PQ encode/ADC top-k, and the remaining
partsupp-free TPC-H query shapes.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kafka_streams_pipeline_spark.functions.hashing import md5_long
from kafka_streams_pipeline_spark.inventory._registry import register
from kafka_streams_pipeline_spark.inventory._shared import (
    _cents_sum,
    _t,
)
from kafka_streams_pipeline_spark.operators import dedup as _dedup
from kafka_streams_pipeline_spark.operators import similarity as _sim
from kafka_streams_pipeline_spark.operators import sketches as _sk

# --- Round-4 additions: sketch family growth, corpus source caps, and the
# --- remaining partsupp-free TPC-H query shapes.



@register("q_kmv_distinct", oracle=_sk.kmv_distinct_oracle())
def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 sketch family: KMV (k-minimum-values) distinct estimate
    over events.user_id — the set-operation-friendly complement to
    HLL (q_hll_distinct). Sketch STATE (h_k, kept-hash checksum) is
    part of the certified row, so both engines provably keep the
    same k hashes; estimate is one exact-integer-backed division.
    Plan: distinct 32-bit hashes (map-side combine), global top-k
    via TakeOrderedAndProject — no full sort at any scale."""
    return _sk.kmv_distinct(_t(spark, sf_dir, "events"))


@register(
    "q_cms_heavy_hitters",
    oracle=_sk.cms_heavy_hitters_oracle(),
    bench=True,
)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 sketch family: batch Count-Min Sketch point queries over
    events.event_type — the BATCH twin of the streaming CMS state in
    streaming/stateful.py (same d×w geometry, same portable Bloom
    double-hashing family), tying T5 to X7. The one-sided error
    invariant (overcount ≥ 0 for every key) is inside the certified
    output. One scan → ≤ d·w-key aggregate; the sketch never grows
    with data."""
    return _sk.cms_heavy_hitters(_t(spark, sf_dir, "events"), "event_type")


@register(
    "q_source_cap",
    oracle="""
        WITH ranked AS (
            SELECT source, doc_id,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY ('0x' || substr(md5('cap:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
                                doc_id
                   ) AS rk
            FROM documents
        )
        SELECT source,
               CAST(count(*) AS BIGINT)                          AS n_total,
               CAST(sum(CASE WHEN rk <= 5 THEN 1 ELSE 0 END) AS BIGINT)
                                                                 AS n_kept,
               CAST(sum(CASE WHEN rk <= 5 THEN doc_id ELSE 0 END) AS BIGINT)
                                                                 AS kept_checksum
        FROM ranked
        GROUP BY source
    """,
)
def q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-hygiene: per-source document cap — the CommonCrawl-
    pipeline move that stops one domain from dominating a training
    mix. Keeps ≤ 5 docs per source, selected by salted-md5 rank
    (reproducible across runs/engines/partitionings, unlike rand()),
    and certifies membership via the kept-doc-id checksum. Plan: one
    window over the source-keyed shuffle, no global sort. (Because
    this certified form also reports n_total per source, every row
    passes through the window; a production keep-only variant would
    filter rk <= 5 directly and get Spark's WindowGroupLimit
    rank-pushdown for free.)"""
    w = Window.partitionBy("source").orderBy(
        md5_long(F.concat(F.lit("cap:"), F.col("doc_id").cast("string"))),
        "doc_id",
    )
    return (
        _t(spark, sf_dir, "documents")
        .select("source", "doc_id", F.row_number().over(w).alias("rk"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_total"),
            F.sum(F.when(F.col("rk") <= 5, 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.sum(F.when(F.col("rk") <= 5, F.col("doc_id")).otherwise(0))
            .cast("long")
            .alias("kept_checksum"),
        )
    )


@register(
    "q_revenue_forecast",
    oracle="""
        SELECT sum(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT))
                   / 100.0 AS forecast_revenue,
               CAST(count(*) AS BIGINT) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '2001-01-01 00:00:00'
          AND l_discount >= CAST(0.05 AS DOUBLE)
          AND l_discount <= CAST(0.07 AS DOUBLE)
          AND l_quantity < CAST(24 AS DOUBLE)
    """,
)
def q_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped forecast-revenue change: pure scan-aggregate
    whose every predicate (date range, discount band, quantity cap)
    reaches the parquet scan — the query that certifies pushdown is
    working, because the plan is NOTHING BUT pushdown + one partial/
    final agg. Money discipline: per-row cents rounding, exact
    integer sum."""
    li = _t(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("2001-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        _cents_sum(
            F.col("l_extendedprice") * F.col("l_discount"),
            "forecast_revenue",
        ),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
    )


@register(
    "q_volume_shipping",
    oracle="""
        SELECT sn.n_name AS supp_nation,
               cn.n_name AS cust_nation,
               CAST(year(l_shipdate) AS BIGINT) AS l_year,
               sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                        AS BIGINT)) / 100.0 AS revenue,
               CAST(count(*) AS BIGINT) AS n_lines
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
            OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
          AND l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '2001-01-01 00:00:00'
        GROUP BY sn.n_name, cn.n_name, year(l_shipdate)
    """,
)
def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped volume shipping: revenue flowing between two
    nations by shipping year, in both directions. The nation
    dimension joins twice under different roles (supplier-side /
    customer-side) — both broadcast; the only shuffles are the two
    fact-side equi-joins. The OR-of-pairs predicate is evaluated
    post-broadcast-join where both nation names are in hand."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("2001-01-01 00:00:00").cast("timestamp"))
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), s.s_nationkey == F.col("sn_key"))
        .join(F.broadcast(cn), c.c_nationkey == F.col("cn_key"))
        .where(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            _cents_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
            ),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
    )


@register(
    "q_market_share",
    oracle="""
        WITH hits AS (
            SELECT year(o_orderdate) AS o_year,
                   CAST(round(l_extendedprice * (1 - l_discount) * 100)
                        AS BIGINT) AS rev_cents,
                   sn.n_name AS supp_nation
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation cn ON c_nationkey = cn.n_nationkey
            JOIN region   ON cn.n_regionkey = r_regionkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation sn ON s_nationkey = sn.n_nationkey
            WHERE r_name = 'EUROPE'
              AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
              AND o_orderdate <  TIMESTAMP '2001-01-01 00:00:00'
        )
        SELECT CAST(o_year AS BIGINT) AS o_year,
               round(CAST(sum(CASE WHEN supp_nation = 'NATION_1'
                                   THEN rev_cents ELSE 0 END) AS DOUBLE)
                     / CAST(sum(rev_cents) AS DOUBLE), 6) AS mkt_share,
               sum(rev_cents) / 100.0 AS total_revenue
        FROM hits
        GROUP BY o_year
    """,
)
def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped market share: NATION_1 suppliers' share of
    revenue into EUROPE customers, by order year. The share is one
    deterministic division of two exact cents-integer sums — no
    float summation crosses rows. Nation joins twice (customer-side
    feeds the region filter, supplier-side feeds the share
    predicate); all dimensions broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("2001-01-01 00:00:00").cast("timestamp"))
    )
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"),
        F.col("n_regionkey").alias("cn_region"),
    )
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    rev_cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), c.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cn_region") == r.r_regionkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), s.s_nationkey == F.col("sn_key"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            rev_cents.alias("rev_cents"),
            "supp_nation",
        )
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(
                    F.when(
                        F.col("supp_nation") == "NATION_1", F.col("rev_cents")
                    ).otherwise(0)
                ).cast("double")
                / F.sum("rev_cents").cast("double"),
                6,
            ).alias("mkt_share"),
            (F.sum("rev_cents") / F.lit(100.0)).alias("total_revenue"),
        )
    )


@register(
    "q_returned_items",
    bench=True,
    oracle="""
        SELECT c_custkey, c_name, n_name,
               sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                        AS BIGINT)) / 100.0 AS revenue,
               CAST(count(*) AS BIGINT) AS n_lines
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '2000-07-01 00:00:00'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                          AS BIGINT)) DESC, c_custkey
        LIMIT 20
    """,
)
def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped returned-item report: top-20 customers by
    revenue lost to returns in a half-year window. Ordering is on
    the EXACT cents integer (then custkey), so the selected rowset
    is unique — the float `revenue` column is derived, never the
    sort key. Top-k via TakeOrderedAndProject, no global sort."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("2000-07-01 00:00:00").cast("timestamp"))
    )
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    cents = F.sum(
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
            "long"
        )
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            cents.alias("rev_cents"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
        .orderBy(F.col("rev_cents").desc(), "c_custkey")
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            (F.col("rev_cents") / F.lit(100.0)).alias("revenue"),
            "n_lines",
        )
    )


@register(
    "q_waiting_suppliers",
    oracle="""
        WITH lo AS (
            SELECT l_orderkey, l_suppkey,
                   CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                        THEN 1 ELSE 0 END AS late
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderstatus = 'F'
        ),
        per_order AS (
            SELECT l_orderkey,
                   count(DISTINCT l_suppkey) AS n_supp,
                   count(DISTINCT CASE WHEN late = 1 THEN l_suppkey END)
                       AS n_late,
                   max(CASE WHEN late = 1 THEN l_suppkey END) AS lone_supp
            FROM lo
            GROUP BY l_orderkey
        )
        SELECT s_name, n_name,
               CAST(count(*) AS BIGINT) AS n_waiting_orders
        FROM per_order
        JOIN supplier ON lone_supp = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE n_supp > 1 AND n_late = 1
        GROUP BY s_name, n_name
        ORDER BY count(*) DESC, s_name
        LIMIT 10
    """,
)
def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped suppliers-who-kept-orders-waiting: in
    finished multi-supplier orders, find the supplier who was the
    SOLE late shipper (shipdate > orderdate + 60 days — the fixture
    has no commit/receipt dates, so lateness is anchored to the
    order date; documented deviation). The reference formulation is
    EXISTS/NOT EXISTS self-joins over lineitem; here the same
    semantics collapse into ONE aggregate per order (distinct-
    supplier count, distinct-late count, and max-of-late as the
    witness — valid because the n_late = 1 filter makes the max the
    unique late supplier). One fact-side shuffle replaces two
    self-joins — the at-scale win."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    late = F.when(
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
        1,
    ).otherwise(0)
    per_order = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select("l_orderkey", "l_suppkey", late.alias("late"))
        .groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct(
                F.when(F.col("late") == 1, F.col("l_suppkey"))
            ).alias("n_late"),
            F.max(F.when(F.col("late") == 1, F.col("l_suppkey"))).alias(
                "lone_supp"
            ),
        )
        .where((F.col("n_supp") > 1) & (F.col("n_late") == 1))
    )
    return (
        per_order.join(F.broadcast(s), per_order.lone_supp == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("s_name", "n_name")
        .agg(F.count(F.lit(1)).cast("long").alias("n_waiting_orders"))
        .orderBy(F.col("n_waiting_orders").desc(), "s_name")
        .limit(10)
    )


@register(
    "q_sales_opportunity",
    oracle="""
        WITH threshold AS (
            SELECT CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT))
                        AS DOUBLE) / 100.0 / count(*) AS avg_bal
            FROM customer
            WHERE c_acctbal > CAST(0 AS DOUBLE)
        )
        SELECT n_name,
               CAST(count(*) AS BIGINT) AS n_customers,
               sum(CAST(round(c_acctbal * 100) AS BIGINT)) / 100.0
                   AS total_acctbal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        WHERE c_acctbal > (SELECT avg_bal FROM threshold)
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderdate >=
                                TIMESTAMP '2001-01-01 00:00:00')
        GROUP BY n_name
    """,
)
def q_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped sales opportunity: per nation, customers
    with above-average positive balance and no RECENT orders —
    none in 2001 (the fixture has no phone column, so the country-
    code grouping becomes the nation dimension, and every fixture
    customer has ordered at least once, so recency replaces
    never-ordered; documented deviations). The scalar threshold is
    one exact-cents division broadcast to the scan; the no-orders
    predicate is a LEFT ANTI join against the distinct buyer set —
    Spark's native form of NOT EXISTS, shuffling only custkeys."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders")
    thr = c.where(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.round(F.col("c_acctbal") * 100).cast("long")).cast("double")
            / F.lit(100.0)
            / F.count(F.lit(1))
        ).alias("avg_bal")
    )
    return (
        c.crossJoin(F.broadcast(thr))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            o.where(
                F.col("o_orderdate")
                >= F.lit("2001-01-01 00:00:00").cast("timestamp")
            ).select("o_custkey"),
            c.c_custkey == F.col("o_custkey"),
            "left_anti",
        )
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            _cents_sum(F.col("c_acctbal"), "total_acctbal"),
        )
    )


@register("q_pq_encode", oracle=_sim.pq_encode_oracle())
def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 compressed-ANN storage: product-quantize every embedding
    (M=8 subspaces × K=16 sample-init centroids, exact micro-unit
    integers) into a packed 32-bit code + certified quantization
    error — the ~64× store shrink that makes billion-vector ANN
    serving fit in memory. One explode + one broadcast codebook join
    + one argmin aggregate; the full vectors never shuffle. See
    operators/similarity.py pq_encode."""
    return _sim.pq_encode(_t(spark, sf_dir, "embeddings"))


@register("q_pq_adc_topk", oracle=_sim.pq_adc_topk_oracle(), bench=True)
def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 compressed-ANN search: asymmetric distance computation —
    query at full precision against PQ codes via a broadcast
    M·K-entry lookup table; Σ of per-subspace table entries ranks
    the corpus without touching the embeddings. Exact integers
    end-to-end, so the APPROXIMATION ITSELF is oracle-certified,
    not just the plumbing. Top-k is TakeOrderedAndProject with id
    tiebreak."""
    return _sim.pq_adc_topk(_t(spark, sf_dir, "embeddings"), 0, 10)


@register(
    "q_window_cume",
    oracle="""
        WITH ranked AS (
            SELECT event_type, event_id, value,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY value, event_id) AS rn,
                   percent_rank() OVER (PARTITION BY event_type
                                        ORDER BY value, event_id) AS pr,
                   cume_dist() OVER (PARTITION BY event_type
                                     ORDER BY value, event_id) AS cd,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM events
            WHERE value IS NOT NULL
        )
        SELECT event_type,
               CAST(max(n) AS BIGINT) AS n,
               round(max(CASE WHEN rn = (n + 1) // 2 THEN pr END), 6)
                   AS median_pr,
               round(max(CASE WHEN rn = (n + 1) // 2 THEN cd END), 6)
                   AS median_cd,
               CAST(sum(CASE WHEN 4 * rn <= n THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_bottom_quartile
        FROM ranked
        GROUP BY event_type
    """,
)
def q_window_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function family completion: percent_rank + cume_dist
    per event_type over (value, event_id) — the id tiebreak makes
    both distribution functions deterministic even on duplicate
    values. Certification avoids cross-row float summation entirely
    (the round-3 flake class): the median row's pr/cd are single
    engine-identical doubles picked by integer rank, and the
    bottom-quartile count is the pure-integer predicate 4·rn ≤ n
    (≡ cume_dist ≤ 0.25 for all-distinct ranks). One window over the
    type-keyed shuffle, no global sort."""
    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wp = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        F.row_number().over(w).alias("rn"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    mid = F.col("rn") == F.expr("(n + 1) div 2")
    return ranked.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        F.round(F.max(F.when(mid, F.col("pr"))), 6).alias("median_pr"),
        F.round(F.max(F.when(mid, F.col("cd"))), 6).alias("median_cd"),
        F.sum(F.when(4 * F.col("rn") <= F.col("n"), 1).otherwise(0))
        .cast("long")
        .alias("n_bottom_quartile"),
    )

@register(
    "q_dedup_prefix_join",
    oracle=_dedup.prefix_jaccard_join_oracle(),
    bench=True,
    materializes=True,
)
def q_dedup_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 EXACT similarity join at scale: prefix-filtered Jaccard
    join (SSJoin/PPJoin family) — candidates only from each doc's
    globally-rarest prefix shingles, then exact verify; output
    bit-identical to the brute-force quadratic join the oracle runs.
    The exact counterpart to q_dedup_minhash at the same 0.8
    threshold: no banding recall loss, and frequent-shingle skew
    self-prunes (hot shingles sort last, out of every prefix). Pure
    integer threshold arithmetic (4/5) until the reported jaccard.
    See operators/dedup.py prefix_jaccard_join."""
    return _dedup.prefix_jaccard_join(_t(spark, sf_dir, "documents"))




@register("q_embed_rp_reduce", oracle=_sim.rp_reduce_oracle(), bench=True)
def q_embed_rp_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3/X4 embedding prep: Johnson–Lindenstrauss random projection
    64 → 16 dims onto deterministic ±1 md5-parity hyperplanes (the
    LSH plane family, reproducible in any engine) — the cheap
    distance-preserving reduction before clustering / coarse ANN.
    Pure per-row projection: plane literals fold into whole-stage
    codegen, zero shuffles. See operators/similarity.py rp_reduce."""
    return _sim.rp_reduce(_t(spark, sf_dir, "embeddings"))


@register(
    "q_salted_join",
    oracle=f"""
        SELECT l.l_suppkey,
               CAST(count(*) AS BIGINT) AS n_items,
               round(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                     / 100.0, 6) AS revenue,
               s.s_name
        FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
        GROUP BY l.l_suppkey, s.s_name
    """,
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-ops: skew-resistant SALTED equi-join (operators/skew.py
    salted_join) — the fact side salted over 16 reducers, the
    supplier dimension replicated 16× so each reducer holds its
    replica; result row-for-row identical to the plain join, which is
    exactly what the oracle runs. The technique for the hot-key join
    AQE can't split (bucketed / storage-partitioned inputs).
    Aggregated per supplier with exact-cents revenue."""
    from kafka_streams_pipeline_spark.operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_orderkey"
    )
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_name"
    )
    joined = salted_join(li, s, "l_suppkey", spread_col="l_orderkey")
    return joined.groupBy("l_suppkey", "s_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        (
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            / F.lit(100.0)
        ).alias("rev_raw"),
    ).select(
        "l_suppkey",
        "n_items",
        F.round("rev_raw", 6).alias("revenue"),
        "s_name",
    )


@register(
    "q_kmv_set_ops",
    oracle=_sk.kmv_set_ops_oracle(
        "documents", "doc_id", "lang = 'en'", "n_chars >= 200"
    ),
)
def q_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch set algebra (round 9): KMV/theta-style union AND
    intersection estimation from two k-minimum-value sketches —
    A = English documents, B = documents of ≥200 chars (genuinely
    partial overlap, domains ≫ k, so the estimation branch is
    exercised, not the exact-small fallback). The union sketch is
    the k smallest of the two kept sets (mergeability), θ its k-th
    hash, and the intersection estimate scales the union estimate
    by the match fraction — the operation HLL cannot do, and the
    reason the suite carries both. Sketch state (θ, counts) and the
    exact reference counts are all in the oracle hash. See
    operators/sketches.kmv_set_ops."""
    docs = _t(spark, sf_dir, "documents")
    return _sk.kmv_set_ops(
        docs.where(F.col("lang") == "en"),
        docs.where(F.col("n_chars") >= 200),
        col="doc_id",
    )


@register(
    "q_kll_quantiles",
    bench=True,
    oracle=_sk.kll_quantiles_oracle(),
    materializes=True,
)
def q_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6h (sketch family, round 16 — VERDICT r15 item 4): mergeable
    guaranteed-error quantile sketch, the domain-free member the
    trio lacked (HLL = distincts, CMS = frequencies,
    histogram_sketch needs a declared bin domain; GK in
    q_anomaly_mad_approx is engine-internal). KLL-style level
    lists over per-event integer cents per event_type: compaction
    sorts a level and keeps md5-seeded alternating positions at
    doubled weight, so the state is a pure deterministic function of
    the inserted multiset — engine-reproducible — and the exact
    accumulated error bound B = Σ m_l·2^l rides with it.
    Certification is the X12n pattern: exact n and med2 are
    value-matched while the oracle pins TRUE four rank-window bits
    (each percentile estimate's exact rank within ±B of target,
    float-free), weight conservation (ΣW = n) and the theorem bound
    B·k ≤ (maxlev+1)·n. See operators/sketches.kll_quantiles."""
    return _sk.kll_quantiles(_t(spark, sf_dir, "events"))


@register(
    "q_join_size_estimate",
    oracle=_sk.join_size_estimate_oracle(
        "SELECT user_id FROM events WHERE event_type = 'view'",
        "SELECT user_id FROM events WHERE event_type = 'purchase'",
        "user_id",
        "user_id",
    ),
)
def q_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7h sketch family: CMS inner-product JOIN-CARDINALITY
    estimation — |views ⋈ purchases on user_id| predicted from two
    constant-size sketches before any join runs (Cormode &
    Muthukrishnan 2005 §4.2). The pre-join planning statistic behind
    join ordering and shuffle sizing at 100 TB: each side is one
    scan collapsing to ≤ d·w counters map-side, the estimate is a
    768-row sketch-sketch join, and CMS linearity means per-day/
    per-table sketches compose without rescans. One-sided invariant
    (overcount ≥ 0) and the exact inner-product rider are both
    inside the certified row — the estimate is bit-identical across
    engines, not approximately equal. See
    operators/sketches.join_size_estimate."""
    ev = _t(spark, sf_dir, "events")
    return _sk.join_size_estimate(
        ev.where(F.col("event_type") == "view").select("user_id"),
        ev.where(F.col("event_type") == "purchase").select("user_id"),
        "user_id",
        "user_id",
    )


@register(
    "q_heavy_hitters_exact",
    oracle=_sk.heavy_hitters_twopass_oracle(),
    materializes=True,
)
def q_heavy_hitters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 exact leg (round 13): two-pass exact heavy hitters over the
    documents token stream — per-partition Misra-Gries candidate
    generation (k bounded counters, mapInPandas) + an exact
    broadcast-restricted verify pass, so the full token key space
    never shuffles and the answer is exact and scan-order-independent
    (unlike the candidate set itself). Complements q_cms_heavy_hitters
    (approx one-pass) the way the approx/exact percentile twins pair.
    See operators/sketches.heavy_hitters_twopass."""
    return _sk.heavy_hitters_twopass(
        _t(spark, sf_dir, "documents").select(
            F.explode(F.split("text", " ")).alias("tok")
        ),
        "tok",
    )
