"""Skew-resistant aggregation: explicit two-phase salted groupBy.

The geo grid is inherently skewed (a city cell can carry orders of
magnitude more readings than an ocean cell). AQE's skew handling
covers joins and post-shuffle partition sizing; for a pathological
hot GROUP BY key this operator spreads one key over ``salt`` shuffle
partitions and merges with the A3 algebraic identity
(querying/util/Aggregator.java:17-30: counts and sums add, avg is
recomputed from merged sums — so ANY finer split merges correctly).

Cost model at 100 TB: phase 1 shuffles on (key, salt) — hot keys fan
out over `salt` reducers; phase 2 shuffles `salt` rows per key. Both
phases keep map-side partial aggregation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_SALT = 16


def salted_aggregate(
    df: DataFrame,
    keys: list[str],
    val_col: str,
    salt: int = DEFAULT_SALT,
    spread_col: str | None = None,
) -> DataFrame:
    """groupBy(keys) → (count, sum, avg) via a salted two-phase plan.

    ``spread_col`` picks the deterministic salting input (defaults to
    the value column; any high-cardinality column works — it only
    decides which reducer a row visits, never the result).
    Result is identical to the direct aggregate by A3.
    """
    spread = F.col(spread_col if spread_col is not None else val_col)
    salted = df.withColumn("_salt", F.pmod(F.hash(spread), F.lit(salt)))
    partial = salted.groupBy(*keys, "_salt").agg(
        F.count(F.lit(1)).alias("_cnt"), F.sum(val_col).alias("_sum")
    )
    merged: list[Column] = [
        F.sum("_cnt").alias("count"),
        F.sum("_sum").alias("sum"),
        (F.sum("_sum") / F.sum("_cnt")).alias("avg"),
    ]
    return partial.groupBy(*keys).agg(*merged)


def skew_report(df: DataFrame, key_col: str) -> DataFrame:
    """Join/groupBy-key skew diagnostic: the measurement that decides
    whether a key needs salting or an AQE skew-join split BEFORE the
    shuffle runs at 100 TB. One aggregate keyed by ``key_col`` (the
    same shuffle the diagnosed join would do, but reduced to counts),
    a 1-row global stats frame (broadcast), and a bounded top-N.

    Output per hot key: rank (by count desc, key asc — bound into
    the driver hash), count, share of all rows (round 6), and the
    global skew ratio max_count/avg_count (= max·n_keys/total,
    integer products, ONE division) repeated on each row so the
    single frame carries both the hot keys and the headline metric."""
    counts = df.groupBy(key_col).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    stats = counts.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("cnt").cast("long").alias("total"),
        F.max("cnt").cast("long").alias("max_cnt"),
    )
    from pyspark.sql.window import Window

    top = (
        counts.orderBy(F.col("cnt").desc(), F.col(key_col))
        .limit(5)
        .crossJoin(F.broadcast(stats))
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col(key_col))
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        F.col(key_col),
        "cnt",
        F.expr("round(cast(cnt as double) / cast(total as double), 6)").alias(
            "share"
        ),
        F.expr(
            "round(cast(max_cnt * n_keys as double) / cast(total as double), 6)"
        ).alias("skew_ratio"),
    )


def skew_report_oracle(table: str, key_col: str) -> str:
    return f"""
        WITH counts AS (
            SELECT {key_col}, CAST(count(*) AS BIGINT) AS cnt
            FROM {table} GROUP BY {key_col}
        ),
        stats AS (
            SELECT CAST(count(*) AS BIGINT) AS n_keys,
                   CAST(sum(cnt) AS BIGINT) AS total,
                   CAST(max(cnt) AS BIGINT) AS max_cnt
            FROM counts
        ),
        top AS (
            SELECT {key_col}, cnt FROM counts
            ORDER BY cnt DESC, {key_col} LIMIT 5
        )
        SELECT CAST(row_number() OVER (ORDER BY cnt DESC, {key_col})
                    AS BIGINT) AS rank,
               {key_col},
               cnt,
               round(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE), 6)
                   AS share,
               round(CAST(max_cnt * n_keys AS DOUBLE) /
                     CAST(total AS DOUBLE), 6) AS skew_ratio
        FROM top, stats
    """


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    spread_col: str | None = None,
) -> DataFrame:
    """Skew-resistant equi-join: the join-side twin of
    :func:`salted_aggregate`, for when a sort-merge join's hot key
    would pin one reducer (and the dimension is too big to broadcast
    outright, or AQE's runtime skew split is unavailable — e.g. a
    bucketed or storage-partitioned join AQE won't touch).

    Construction (classic, public-literature): the FACT side gains a
    deterministic salt in [0, ``DEFAULT_SALT``); the DIM side is
    replicated ``DEFAULT_SALT`` ways via a posexploded literal range;
    the join keys on (key, salt), so a hot key's rows spread over
    ``DEFAULT_SALT`` reducers
    while each reducer still holds the full dim row for that key.
    Row-for-row identical to the plain join (each fact row matches
    exactly the one dim replica carrying its salt).

    Cost model at 100 TB: dim shuffles salt× its size (bounded — dim
    is the SMALL side by assumption, just not broadcast-small); fact
    shuffles once, hot keys fanned out. ``spread_col`` picks the
    deterministic salting input (any high-cardinality fact column —
    it decides only which reducer a row visits, never the result).
    When None, the salt hashes ALL fact columns (``xxhash64(*cols)``)
    — deterministic under task retry, and it spreads every hot-key
    row whose OTHER columns vary. (It must NOT default to the join
    key alone: that gives every row of a hot key the SAME salt, i.e.
    one reducer and zero mitigation — ADVICE r6. It must also not be
    ``monotonically_increasing_id()``: a per-attempt value makes the
    shuffle key non-deterministic, and a partial stage retry can then
    duplicate or drop rows — the SPARK-23207 hazard; ADVICE r7.)
    Degenerate case: fact rows that are bit-identical across ALL
    columns share a salt. If the hot key's rows are exact duplicates,
    pass an explicit high-cardinality ``spread_col``."""
    spread = (
        F.xxhash64(F.col(spread_col))
        if spread_col
        else F.xxhash64(*[F.col(c) for c in fact.columns])
    )
    f = fact.withColumn("_salt", F.pmod(spread, F.lit(DEFAULT_SALT)))
    d = dim.withColumn(
        "_salt", F.explode(F.expr(f"sequence(0, {DEFAULT_SALT - 1})"))
    )
    return f.join(d, [key, "_salt"]).drop("_salt")
