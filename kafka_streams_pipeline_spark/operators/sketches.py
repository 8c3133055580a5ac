"""Approximate-aggregation sketches, declarative and engine-portable
(SURVEY.md §2.9 X6).

Spark ships HLL++ (``approx_count_distinct``) and DuckDB ships its
own ``approx_count_distinct`` — but the two implementations hash
differently, so their estimates can never be differentially tested
against each other. This module instead builds the classic
HyperLogLog (Flajolet et al. 2007, public literature) out of plain
SQL expressions over the repo's portable md5 hash: both engines
compute bit-identical registers, the register sum is held in exact
integers (Σ 2^(25−M_j) fits BIGINT), and the final estimate is one
deterministic double expression — so the sketch itself is certified
by the DuckDB oracle, not just its plumbing.

Scale shape: one pass over the input with map-side partial max per
register, a 2^b-key shuffle (256 keys), and a one-row final
aggregate. At 100 TB this is the textbook distributed-HLL plan —
registers merge associatively, so partial aggregation does almost
all the work executor-side. The streaming twin of this idea (a
Count-Min Sketch under ``applyInPandasWithState``) lives in
streaming/stateful.py.
"""

from __future__ import annotations

import numbers

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kafka_streams_pipeline_spark.functions.hashing import (
    md5_long,
    md5_long_sql,
)

HLL_B = 8  # register-index bits
HLL_M = 1 << HLL_B  # 256 registers
HLL_W = 32 - HLL_B  # 24 payload bits per hash
# alpha_m for m >= 128 (Flajolet et al. §4); written as the SAME
# arithmetic expression on both engines so the IEEE result is
# identical. The CAST(… AS DOUBLE) wrappers are load-bearing: Spark
# parses a bare 0.7213 as DECIMAL(5,4) and decimal division truncates
# scale, which skewed the estimate in the 7th significant digit
# (caught by the sf0.1 differential sweep — sf0.01 takes the
# linear-counting branch and never evaluates this expression).
_ALPHA_EXPR = (
    f"CAST(0.7213 AS DOUBLE) / "
    f"(CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / {HLL_M})"
)


def _spark_rho(w: str) -> str:
    """Position of the first 1-bit of the {HLL_W}-bit payload, from
    the MSB, 1-based; all-zero payload → W+1. Pure-integer bit-length
    (no float log — engine-portable to the bit)."""
    bitlen = (
        f"aggregate(transform(sequence(0, {HLL_W - 1}), k -> "
        f"CASE WHEN {w} >= shiftleft(1L, k) THEN 1 ELSE 0 END), 0, "
        f"(acc, v) -> acc + v)"
    )
    return f"CASE WHEN {w} = 0 THEN {HLL_W + 1} ELSE {HLL_W + 1} - {bitlen} END"


def _duck_rho(w: str, width: int = HLL_W) -> str:
    """DuckDB twin of ``_spark_rho`` for a ``width``-bit payload.
    Same pure-integer bit-length construction (no float log —
    engine-portable to the bit); parameterized so the streaming
    oracle (HLL_W_STREAM) reuses it instead of floor(log2())."""
    bitlen = (
        f"list_sum([CASE WHEN {w} >= (1::BIGINT << k) THEN 1 ELSE 0 END "
        f"FOR k IN range(0, {width})])"
    )
    return (
        f"CASE WHEN {w} = 0 THEN {width + 1} "
        f"ELSE {width + 1} - {bitlen} END"
    )


def hll_distinct(df: DataFrame) -> DataFrame:
    """HyperLogLog distinct-count estimate of ``df.user_id``,
    certified against the exact count.

    Output (one row): ``hll_estimate`` (round 6), ``n_registers_used``,
    ``register_checksum`` (Σ (bucket+1)·M_j — any register disagreeing
    between engines flips it), and ``n_exact`` (the certified
    reference value). At production scale run the sketch alone,
    ``hll_estimate_from_registers(hll_registers(df, col))`` for any
    column: the whole point of the sketch is avoiding the exact
    shuffle.

    Registers: bucket = top ``HLL_B`` bits of the 32-bit md5 hash,
    rho = first-1-bit position of the remaining bits. The harmonic
    denominator Σ 2^(25−M_j) is an exact BIGINT (≤ 2^33), so the only
    float math is the single final estimate expression. Small-range
    correction (linear counting) applies below 2.5·m as in the
    paper."""
    col = "user_id"
    exact_df = df.agg(
        F.countDistinct(F.col(col)).cast("long").alias("n_exact")
    )
    return hll_estimate_from_registers(hll_registers(df, col)).crossJoin(
        F.broadcast(exact_df)
    )


def hll_registers(df: DataFrame, col: str) -> DataFrame:
    """The HLL sketch STATE of ``df[col]`` as a frame of (bucket, m)
    register rows — at most ``HLL_M`` rows regardless of input size.
    This is the persistable / mergeable form: write it to parquet as
    a checkpointed summary, later ``hll_merge_registers`` it with the
    registers of NEW data only (e.g. a versioned-store CDC feed) and
    re-estimate — incremental distinct-count maintenance without ever
    rescanning the base, the property that makes sketch-backed stats
    sustainable at 100 TB ingest rates."""
    h = md5_long(F.col(col).cast("string"))
    # NULLs must not reach the hash: md5(NULL) is NULL, which would
    # mint a phantom register that inflates n_registers_used while
    # count(DISTINCT) ignores NULLs — the estimate would silently
    # skew relative to n_exact on nullable inputs.
    return (
        df.where(F.col(col).isNotNull())
        .select(
            (h.bitwiseAND(F.lit((1 << 32) - 1))).alias("h32"),
        )
        .select(
            F.expr(f"h32 div {1 << HLL_W}").alias("bucket"),
            F.expr(_spark_rho(f"(h32 % {1 << HLL_W})")).alias("rho"),
        )
        .groupBy("bucket")
        .agg(F.max("rho").alias("m"))
    )


def hll_merge_registers(*reg_frames: DataFrame) -> DataFrame:
    """Associative register merge: max per bucket across any number
    of register frames. merge(registers(A), registers(B)) ≡
    registers(A ∪ B) bit-for-bit — the identity the incremental
    driver row certifies — so partial sketches from different
    batches, versions, or machines compose in any order."""
    from functools import reduce

    merged = reduce(lambda a, b: a.unionByName(b), reg_frames)
    return merged.groupBy("bucket").agg(F.max("m").alias("m"))


def hll_estimate_from_registers(regs: DataFrame) -> DataFrame:
    """Resolve a register frame to the one-row estimate (same output
    columns as ``hll_distinct`` minus ``n_exact``): harmonic-mean
    estimate with the paper's linear-counting small-range branch,
    plus the register checksum that pins every register's value into
    any downstream oracle hash."""
    # coalesce: on EMPTY input the sums are NULL; zeroing them routes
    # the estimate through linear counting with zeros = m, giving the
    # correct 256·ln(256/256) = 0 instead of a NULL estimate
    agg = regs.agg(
        F.count(F.lit(1)).cast("long").alias("n_registers_used"),
        F.coalesce(
            F.sum(F.expr(f"shiftleft(1L, {HLL_W + 1} - m)")), F.lit(0)
        )
        .cast("long")
        .alias("s_used"),
        F.coalesce(F.sum((F.col("bucket") + 1) * F.col("m")), F.lit(0))
        .cast("long")
        .alias("register_checksum"),
    )
    # absent registers contribute 2^(W+1) each (M_j = 0)
    s_total = (
        f"(s_used + (({HLL_M} - n_registers_used)) * "
        f"shiftleft(1L, {HLL_W + 1}))"
    )
    raw = (
        f"(({_ALPHA_EXPR}) * {HLL_M} * {HLL_M} * "
        f"shiftleft(1L, {HLL_W + 1})) / {s_total}"
    )
    zeros = f"({HLL_M} - n_registers_used)"
    est = (
        f"CASE WHEN {raw} <= 2.5 * {HLL_M} AND {zeros} > 0 "
        f"THEN {HLL_M} * ln(CAST({HLL_M} AS DOUBLE) / {zeros}) "
        f"ELSE {raw} END"
    )
    return agg.select(
        F.expr(f"round({est}, 6)").alias("hll_estimate"),
        "n_registers_used",
        "register_checksum",
    )


def hll_distinct_oracle() -> str:
    col = "user_id"
    table = "events"
    h32 = f"({md5_long_sql(f'CAST({col} AS VARCHAR)')} & {(1 << 32) - 1})"
    s_total = (
        f"(s_used + ({HLL_M} - n_registers_used) * "
        f"(1::BIGINT << {HLL_W + 1}))"
    )
    raw = (
        f"(({_ALPHA_EXPR}) * {HLL_M} * {HLL_M} * "
        f"(1::BIGINT << {HLL_W + 1})) / {s_total}"
    )
    zeros = f"({HLL_M} - n_registers_used)"
    est = (
        f"CASE WHEN {raw} <= 2.5 * {HLL_M} AND {zeros} > 0 "
        f"THEN {HLL_M} * ln(CAST({HLL_M} AS DOUBLE) / {zeros}) "
        f"ELSE {raw} END"
    )
    return f"""
        WITH hashed AS (
            SELECT {h32} // {1 << HLL_W} AS bucket,
                   {_duck_rho(f'({h32} % {1 << HLL_W})')} AS rho
            FROM {table}
            WHERE {col} IS NOT NULL
        ),
        regs AS (
            SELECT bucket, max(rho) AS m FROM hashed GROUP BY bucket
        ),
        agg AS (
            SELECT CAST(count(*) AS BIGINT) AS n_registers_used,
                   CAST(coalesce(sum(1::BIGINT << ({HLL_W + 1} - m)), 0)
                        AS BIGINT) AS s_used,
                   CAST(coalesce(sum((bucket + 1) * m), 0) AS BIGINT)
                       AS register_checksum
            FROM regs
        )
        SELECT round({est}, 6) AS hll_estimate,
               n_registers_used,
               register_checksum,
               (SELECT CAST(count(DISTINCT {col}) AS BIGINT)
                FROM {table}) AS n_exact
        FROM agg
    """


# --- Bloom-filter semi-join reduction --------------------------------------

BLOOM_MBITS = 4096
# affine double-hashing family over the portable md5 base hash; odd
# multipliers < 2^27 keep a*h inside BIGINT on both engines
BLOOM_A = [769231, 15487469, 32452867]
BLOOM_B = [17, 10007, 1000003]
BLOOM_K = len(BLOOM_A)


def _bloom_pos_spark(expr: str, i: int, modulus: int = BLOOM_MBITS) -> str:
    h = (
        f"cast(conv(substring(md5(cast({expr} as string)), 1, 8), 16, 10) "
        f"as bigint)"
    )
    return f"(({BLOOM_A[i]} * {h} + {BLOOM_B[i]}) % {modulus})"


def _bloom_pos_duck(expr: str, i: int, modulus: int = BLOOM_MBITS) -> str:
    h = f"('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, 8))::BIGINT"
    return f"(({BLOOM_A[i]} * {h} + {BLOOM_B[i]}) % {modulus})"


def bloom_semijoin_reduction(
    build: DataFrame,
    probe: DataFrame,
    build_key: str,
    probe_key: str,
) -> DataFrame:
    """The runtime-filter pattern that makes selective joins cheap at
    scale: build a Bloom filter over the (small, filtered) build-side
    key set, broadcast its bit positions, and pre-filter the probe
    side BEFORE the real join ever shuffles it. Here the reduction is
    certified end-to-end: output is one row with the probe-side
    population, the bloom-pass count, the exact semi-join match
    count, and the false-positive count — the no-false-negative
    invariant (n_true == n_both_pass_and_match) is checkable by the
    oracle hash because every number is a deterministic integer
    (portable md5 double-hashing, k=3, m=4096 bits).

    Scale shape: the build side collapses to ≤ m distinct bit
    positions (one tiny sorted array, broadcast); the probe side is a
    single scan with a per-row array_contains — no shuffle until
    after the reduction. Spark's own runtime row-group skipping
    (`spark.sql.optimizer.runtimeFilter.bloomFilter.enabled`) does
    this transparently; the declarative form exists so the mechanism
    itself is differentially tested."""
    # NULL keys are excluded on BOTH sides: a NULL probe key hashes
    # to an all-NULL position array, and Spark's forall yields NULL
    # (dropped from n_bloom_pass) while DuckDB's NOT EXISTS over an
    # empty unnest yields TRUE — an engine-parity split. A NULL key
    # also never equi-joins, so excluding it preserves semi-join
    # semantics exactly.
    keys = (
        build.where(F.col(build_key).isNotNull())
        .select(F.col(build_key).alias("k"))
        .distinct()
    )
    pos = (
        keys.select(
            F.explode(
                F.expr(
                    "array("
                    + ", ".join(
                        _bloom_pos_spark("k", i) for i in range(BLOOM_K)
                    )
                    + ")"
                )
            ).alias("p")
        )
        .distinct()
        .agg(F.array_sort(F.collect_list("p")).alias("bits"))
    )
    probe_hashed = probe.where(F.col(probe_key).isNotNull()).select(
        F.col(probe_key).alias("pk"),
        F.expr(
            "array("
            + ", ".join(
                _bloom_pos_spark("pk", i) for i in range(BLOOM_K)
            )
            + ")"
        ).alias("phs"),
    )
    passed = probe_hashed.crossJoin(F.broadcast(pos)).withColumn(
        "bloom_pass",
        F.expr("forall(phs, h -> array_contains(bits, h))"),
    )
    matched = passed.join(
        F.broadcast(keys), passed.pk == keys.k, "left"
    ).select(
        "bloom_pass", F.col("k").isNotNull().alias("is_match")
    )
    return matched.agg(
        F.count(F.lit(1)).cast("long").alias("n_probe"),
        F.sum(F.col("bloom_pass").cast("long"))
        .cast("long")
        .alias("n_bloom_pass"),
        F.sum(F.col("is_match").cast("long")).cast("long").alias("n_true"),
        F.sum(
            (F.col("bloom_pass") & ~F.col("is_match")).cast("long")
        )
        .cast("long")
        .alias("n_false_pos"),
    )


def bloom_semijoin_oracle(
    build_sql: str, probe_table: str, probe_key: str
) -> str:
    """``build_sql`` must select one column named ``k``."""
    probe_pos = ", ".join(
        _bloom_pos_duck(probe_key, i) for i in range(BLOOM_K)
    )
    key_pos = " UNION ".join(
        f"SELECT {_bloom_pos_duck('k', i)} AS p FROM keys"
        for i in range(BLOOM_K)
    )
    return f"""
        WITH keys AS (
            SELECT k FROM ({build_sql}) WHERE k IS NOT NULL
        ),
        bits AS ({key_pos}),
        probe AS (
            SELECT {probe_key} AS pk, [{probe_pos}] AS phs
            FROM {probe_table}
            WHERE {probe_key} IS NOT NULL
        ),
        flags AS (
            SELECT pk,
                   NOT EXISTS (SELECT 1 FROM unnest(phs) AS t(h)
                               WHERE h NOT IN (SELECT p FROM bits))
                       AS bloom_pass,
                   EXISTS (SELECT 1 FROM keys WHERE keys.k = probe.pk)
                       AS is_match
            FROM probe
        )
        SELECT CAST(count(*) AS BIGINT) AS n_probe,
               CAST(sum(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_bloom_pass,
               CAST(sum(CASE WHEN is_match THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_true,
               CAST(sum(CASE WHEN bloom_pass AND NOT is_match
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_false_pos
        FROM flags
    """


# --- KMV (k minimum values) distinct sketch --------------------------------

KMV_K = 64


def kmv_distinct(df: DataFrame) -> DataFrame:
    """KMV distinct-count estimate (Bar-Yossef et al. 2002, public
    literature): keep the k = ``KMV_K`` smallest distinct 32-bit
    hashes; the k-th smallest h_k estimates density,
    n ≈ (k-1) · 2^32 / h_k.
    Complements HLL: KMV supports set operations (union = merge-k,
    intersection via inclusion–exclusion on the combined sketch) and
    its estimate is a single exact-integer-backed division, so the
    sketch state (h_k, the k-hash checksum) is hash-certified by the
    oracle, not just the estimate.

    Output (one row): ``kmv_estimate`` (round 6; exact count when
    the domain has fewer than k values), ``h_k``, ``kmv_checksum``
    (Σ of the kept hashes), ``n_used``, and ``n_exact``.

    Scale shape: distinct-hash shuffle (32-bit keys, map-side
    combine), then a global top-k (TakeOrderedAndProject — per-
    partition heads merge on the driver, never a full sort). At
    100 TB the distinct pre-shuffle is the dominant cost, same as
    any exact-distinct — the win is that downstream set algebra
    runs on k values instead of the domain."""
    col = "user_id"
    h = md5_long(F.col(col).cast("string")).bitwiseAND(
        F.lit((1 << 32) - 1)
    )
    kept = (
        df.where(F.col(col).isNotNull())
        .select(h.alias("h32"))
        .distinct()
        .orderBy("h32")
        .limit(KMV_K)
    )
    agg = kept.agg(
        F.count(F.lit(1)).cast("long").alias("n_used"),
        F.max("h32").cast("long").alias("h_k"),
        F.sum("h32").cast("long").alias("kmv_checksum"),
    )
    est = (
        f"CASE WHEN n_used < {KMV_K} THEN CAST(n_used AS DOUBLE) "
        f"ELSE ({KMV_K} - 1) * CAST(4294967296 AS DOUBLE) / h_k END"
    )
    exact = df.agg(
        F.countDistinct(F.col(col)).cast("long").alias("n_exact")
    )
    return (
        agg.select(
            F.expr(f"round({est}, 6)").alias("kmv_estimate"),
            F.coalesce("h_k", F.lit(0)).cast("long").alias("h_k"),
            F.coalesce("kmv_checksum", F.lit(0))
            .cast("long")
            .alias("kmv_checksum"),
            "n_used",
        )
        .crossJoin(F.broadcast(exact))
    )


def kmv_distinct_oracle() -> str:
    col = "user_id"
    table = "events"
    h = f"({md5_long_sql(f'CAST({col} AS VARCHAR)')} & {(1 << 32) - 1})"
    est = (
        f"CASE WHEN n_used < {KMV_K} THEN CAST(n_used AS DOUBLE) "
        f"ELSE ({KMV_K} - 1) * CAST(4294967296 AS DOUBLE) / h_k END"
    )
    return f"""
        WITH kept AS (
            SELECT DISTINCT {h} AS h32
            FROM {table}
            WHERE {col} IS NOT NULL
            ORDER BY h32
            LIMIT {KMV_K}
        ),
        agg AS (
            SELECT CAST(count(*) AS BIGINT) AS n_used,
                   CAST(max(h32) AS BIGINT) AS h_k,
                   CAST(sum(h32) AS BIGINT) AS kmv_checksum
            FROM kept
        )
        SELECT round({est}, 6) AS kmv_estimate,
               CAST(coalesce(h_k, 0) AS BIGINT) AS h_k,
               CAST(coalesce(kmv_checksum, 0) AS BIGINT) AS kmv_checksum,
               n_used,
               (SELECT CAST(count(DISTINCT {col}) AS BIGINT)
                FROM {table}) AS n_exact
        FROM agg
    """


# --- Batch Count-Min Sketch + heavy hitters --------------------------------

CMS_D = 3  # rows (independent hash functions — reuse the Bloom family)
CMS_W = 256  # counters per row


def _cms_pos_spark(expr: str, i: int) -> str:
    return _bloom_pos_spark(expr, i, modulus=CMS_W)


def _cms_pos_duck(expr: str, i: int) -> str:
    return _bloom_pos_duck(expr, i, modulus=CMS_W)


def cms_heavy_hitters(
    df: DataFrame, col: str = "event_type"
) -> DataFrame:
    """Batch Count-Min Sketch (Cormode & Muthukrishnan 2005, public
    literature) + point queries: build the d×w counter matrix in one
    pass, then estimate every distinct key as min_i counter[i][h_i
    (key)]. The one-sided error invariant (estimate ≥ exact, always)
    is part of the certified output. This is the BATCH twin of the
    streaming CMS in streaming/stateful.py — same d×w geometry, same
    portable double-hashing family as the Bloom filter.

    Output per key: ``cms_estimate``, ``n_exact``, ``overcount``
    (= estimate − exact ≥ 0). All integers — hash-exact oracle.

    Scale shape: one scan exploding each row into d (row, pos)
    increments → groupBy over ≤ d·w keys (map-side combine does
    nearly all the work: the sketch IS the partial-aggregate state);
    point queries join the d·w-row sketch broadcast-side. At 100 TB
    the counter matrix never grows — that is the point of a sketch."""
    sketch = cms_sketch(df, col)
    keys = (
        df.where(F.col(col).isNotNull())
        .groupBy(F.col(col).alias("key"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    )
    return cms_probe_keys(sketch, keys)


def cms_sketch(df: DataFrame, col: str) -> DataFrame:
    """The CMS counter matrix as its persistable/mergeable STATE: a
    frame of (i, pos, cnt) rows, ≤ d·w of them regardless of input
    size. Checkpoint it to parquet, later ``cms_merge`` it with the
    sketch of NEW data only (elementwise counter sum — CMS's merge
    is linear) and re-probe: incremental frequency maintenance
    without rescanning the base, the same posture as
    ``hll_registers`` for distincts."""
    return (
        df.where(F.col(col).isNotNull())
        .select(
            F.explode(
                F.expr(
                    "array("
                    + ", ".join(
                        f"struct({i} AS i, {_cms_pos_spark(col, i)} AS pos)"
                        for i in range(CMS_D)
                    )
                    + ")"
                )
            ).alias("c")
        )
        .select("c.i", "c.pos")
        .groupBy("i", "pos")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Elementwise counter sum — CMS is a linear sketch, so partial
    sketches from any batching/partitioning compose exactly:
    merge(sketch(A), sketch(B)) ≡ sketch(A ∪ B) counter-for-counter
    (the identity the incremental driver row certifies)."""
    from functools import reduce

    merged = reduce(lambda a, b: a.unionByName(b), sketches)
    return merged.groupBy("i", "pos").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )


def cms_probe_keys(sketch: DataFrame, keys: DataFrame) -> DataFrame:
    """Point-query every row of ``keys`` (columns: key, n_exact)
    against a sketch frame: estimate = min over the d rows' counters.
    Same output contract as ``cms_heavy_hitters``."""
    probes = keys.select(
        "key",
        "n_exact",
        F.explode(
            F.expr(
                "array("
                + ", ".join(
                    f"struct({i} AS i, {_cms_pos_spark('key', i)} AS pos)"
                    for i in range(CMS_D)
                )
                + ")"
            )
        ).alias("p"),
    )
    return (
        probes.join(
            F.broadcast(sketch),
            (probes.p.i == sketch.i) & (probes.p.pos == sketch.pos),
        )
        .groupBy("key", "n_exact")
        .agg(F.min("cnt").cast("long").alias("cms_estimate"))
        .select(
            "key",
            "cms_estimate",
            "n_exact",
            (F.col("cms_estimate") - F.col("n_exact"))
            .cast("long")
            .alias("overcount"),
        )
    )


def cms_heavy_hitters_oracle() -> str:
    col = "event_type"
    table = "events"
    incr_rows = " UNION ALL ".join(
        f"SELECT {i} AS i, {_cms_pos_duck(col, i)} AS pos "
        f"FROM {table} WHERE {col} IS NOT NULL"
        for i in range(CMS_D)
    )
    probe_rows = " UNION ALL ".join(
        f"SELECT key, n_exact, {i} AS i, {_cms_pos_duck('key', i)} AS pos "
        f"FROM keys"
        for i in range(CMS_D)
    )
    return f"""
        WITH incr AS ({incr_rows}),
        sketch AS (
            SELECT i, pos, CAST(count(*) AS BIGINT) AS cnt
            FROM incr GROUP BY i, pos
        ),
        keys AS (
            SELECT {col} AS key, CAST(count(*) AS BIGINT) AS n_exact
            FROM {table} WHERE {col} IS NOT NULL GROUP BY {col}
        ),
        probes AS ({probe_rows})
        SELECT p.key,
               CAST(min(s.cnt) AS BIGINT) AS cms_estimate,
               p.n_exact,
               CAST(min(s.cnt) - p.n_exact AS BIGINT) AS overcount
        FROM probes p JOIN sketch s ON p.i = s.i AND p.pos = s.pos
        GROUP BY p.key, p.n_exact
    """


def hll_distinct_by(df: DataFrame, group_col: str) -> DataFrame:
    """Grouped HyperLogLog: the mergeable per-group sketch state —
    the realistic production shape (approximate distinct per
    dimension value, registers mergeable across partitions/days by
    max). Emits EXACT integers only: register count, checksum, and
    the harmonic denominator s_used (the estimate numerator's only
    data-dependent term) — any register bit differing between engines
    flips the checksum. The float estimate formula itself (including
    the small-range ln branch) is certified once by the GLOBAL
    hll_distinct row; deriving per-group estimates from this state is
    one expression away and adds no new sketch semantics, only a
    per-group float whose ln branch would reintroduce cross-engine
    libm exposure for tiny groups. n_exact rides along as the
    certified reference value."""
    col = "user_id"
    h = md5_long(F.col(col).cast("string"))
    regs = (
        df.where(F.col(col).isNotNull())
        .select(
            F.col(group_col).alias("grp"),
            (h.bitwiseAND(F.lit((1 << 32) - 1))).alias("h32"),
        )
        .select(
            "grp",
            F.expr(f"h32 div {1 << HLL_W}").alias("bucket"),
            F.expr(_spark_rho(f"(h32 % {1 << HLL_W})")).alias("rho"),
        )
        .groupBy("grp", "bucket")
        .agg(F.max("rho").alias("m"))
    )
    state = regs.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_registers_used"),
        F.sum(F.expr(f"shiftleft(1L, {HLL_W + 1} - m)"))
        .cast("long")
        .alias("s_used"),
        F.sum((F.col("bucket") + 1) * F.col("m"))
        .cast("long")
        .alias("register_checksum"),
    )
    exact = (
        df.where(F.col(col).isNotNull())
        .groupBy(F.col(group_col).alias("grp"))
        .agg(F.countDistinct(F.col(col)).cast("long").alias("n_exact"))
    )
    return state.join(exact, "grp").select(
        F.col("grp").alias(group_col),
        "n_registers_used",
        "s_used",
        "register_checksum",
        "n_exact",
    )


def hll_distinct_by_oracle() -> str:
    col = "user_id"
    group_col = "event_type"
    table = "events"
    h32 = f"({md5_long_sql(f'CAST({col} AS VARCHAR)')} & {(1 << 32) - 1})"
    return f"""
        WITH hashed AS (
            SELECT {group_col} AS grp,
                   {h32} // {1 << HLL_W} AS bucket,
                   {_duck_rho(f'({h32} % {1 << HLL_W})')} AS rho
            FROM {table}
            WHERE {col} IS NOT NULL
        ),
        regs AS (
            SELECT grp, bucket, max(rho) AS m
            FROM hashed GROUP BY grp, bucket
        ),
        state AS (
            SELECT grp,
                   CAST(count(*) AS BIGINT) AS n_registers_used,
                   CAST(sum(1::BIGINT << ({HLL_W + 1} - m)) AS BIGINT)
                       AS s_used,
                   CAST(sum((bucket + 1) * m) AS BIGINT)
                       AS register_checksum
            FROM regs GROUP BY grp
        ),
        exact AS (
            SELECT {group_col} AS grp,
                   CAST(count(DISTINCT {col}) AS BIGINT) AS n_exact
            FROM {table} WHERE {col} IS NOT NULL GROUP BY {group_col}
        )
        SELECT state.grp AS {group_col},
               n_registers_used, s_used, register_checksum, n_exact
        FROM state JOIN exact ON state.grp = exact.grp
    """


def kmv_set_ops(df_a: DataFrame, df_b: DataFrame, col: str = "doc_id") -> DataFrame:
    """KMV set algebra (the theta-sketch move, public literature:
    Bar-Yossef et al. 2002; Dasgupta et al. 2016): estimate
    |A ∪ B| and |A ∩ B| from two k-minimum-value sketches
    (k = ``KMV_K``) WITHOUT
    touching the full domains again — the reason KMV complements HLL
    in the suite (HLL unions trivially but cannot intersect).

    Mergeability: the k smallest hashes of A ∪ B are a subset of
    S_A ∪ S_B, so the union sketch is the k smallest of the two kept
    sets — pure sketch-state algebra, 2k values. θ is the union
    sketch's k-th smallest hash; matches are hashes present in BOTH
    input sketches with h ≤ θ, and

        |A ∪ B| ≈ (k−1) · 2^32 / θ
        |A ∩ B| ≈ |A ∪ B| · n_match / k

    (exact counts when the union domain has fewer than k values —
    same convention as kmv_distinct). All inputs to the two
    divisions are exact integers and the expression trees are
    written identically in the DuckDB twin, so the rounded doubles
    are engine-exact. Output one row: sketch sizes, θ, n_match, both
    estimates, and the exact counts for reference.

    Scale shape: each sketch is one distinct-hash shuffle + global
    top-k (TakeOrderedAndProject); the set algebra itself runs on
    ≤ 2k rows — constant, domain-independent."""
    hx = md5_long(F.col(col).cast("string")).bitwiseAND(
        F.lit((1 << 32) - 1)
    )

    def sketch(d: DataFrame) -> DataFrame:
        return (
            d.where(F.col(col).isNotNull())
            .select(hx.alias("h32"))
            .distinct()
            .orderBy("h32")
            .limit(KMV_K)
        )

    sa, sb = sketch(df_a), sketch(df_b)
    union_kept = sa.union(sb).distinct().orderBy("h32").limit(KMV_K)
    u = union_kept.agg(
        F.count(F.lit(1)).cast("long").alias("n_union_used"),
        F.max("h32").cast("long").alias("theta"),
    )
    counts = (
        sa.agg(F.count(F.lit(1)).cast("long").alias("n_a_used"))
        .crossJoin(sb.agg(F.count(F.lit(1)).cast("long").alias("n_b_used")))
        .crossJoin(u)
    )
    matches = sa.join(sb, "h32")
    counts = counts.crossJoin(
        matches.crossJoin(u.select(F.col("theta").alias("_t")))
        .where(F.col("h32") <= F.col("_t"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_match"))
    )
    # A\B sample: θ_union ≤ min(θ_A, θ_B), so below θ every hash's
    # membership in A and B is decided by the kept sets — the
    # a-not-b theta-sketch rule (Dasgupta et al. 2016 §3)
    counts = counts.crossJoin(
        sa.join(sb, "h32", "left_anti")
        .crossJoin(u.select(F.col("theta").alias("_t2")))
        .where(F.col("h32") <= F.col("_t2"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_anotb"))
    )
    exact = (
        df_a.select(F.col(col).alias("v"))
        .where(F.col("v").isNotNull())
        .withColumn("in_a", F.lit(1))
        .join(
            df_b.select(F.col(col).alias("v"))
            .where(F.col("v").isNotNull())
            .withColumn("in_b", F.lit(1)),
            "v",
            "full_outer",
        )
        .agg(
            F.count_distinct(F.col("v")).cast("long").alias("union_exact"),
            F.count_distinct(
                F.when(
                    F.col("in_a").isNotNull() & F.col("in_b").isNotNull(),
                    F.col("v"),
                )
            )
            .cast("long")
            .alias("inter_exact"),
            F.count_distinct(
                F.when(F.col("in_b").isNull(), F.col("v"))
            )
            .cast("long")
            .alias("diff_exact"),
        )
    )
    est_u = (
        f"CASE WHEN n_union_used < {KMV_K} THEN CAST(n_union_used AS DOUBLE) "
        f"ELSE ({KMV_K} - 1) * CAST(4294967296 AS DOUBLE) / theta END"
    )
    est_i = (
        f"CASE WHEN n_union_used < {KMV_K} THEN CAST(n_match AS DOUBLE) "
        f"ELSE ({est_u}) * n_match / {KMV_K} END"
    )
    est_d = (
        f"CASE WHEN n_union_used < {KMV_K} THEN CAST(n_anotb AS DOUBLE) "
        f"ELSE ({est_u}) * n_anotb / {KMV_K} END"
    )
    return counts.crossJoin(exact).select(
        "n_a_used",
        "n_b_used",
        "n_union_used",
        "theta",
        "n_match",
        "n_anotb",
        F.expr(f"round({est_u}, 6)").alias("union_estimate"),
        F.expr(f"round({est_i}, 6)").alias("inter_estimate"),
        F.expr(f"round({est_d}, 6)").alias("diff_estimate"),
        "union_exact",
        "inter_exact",
        "diff_exact",
    )


def kmv_set_ops_oracle(table: str, col: str, pred_a: str, pred_b: str) -> str:
    """DuckDB twin of :func:`kmv_set_ops` for A = rows of ``table``
    matching ``pred_a``, B = matching ``pred_b``."""
    h = f"({md5_long_sql(f'CAST({col} AS VARCHAR)')} & {(1 << 32) - 1})"
    est_u = (
        f"CASE WHEN n_union_used < {KMV_K} THEN CAST(n_union_used AS DOUBLE) "
        f"ELSE ({KMV_K} - 1) * CAST(4294967296 AS DOUBLE) / theta END"
    )
    est_i = (
        f"CASE WHEN n_union_used < {KMV_K} THEN CAST(n_match AS DOUBLE) "
        f"ELSE ({est_u}) * n_match / {KMV_K} END"
    )
    est_d = (
        f"CASE WHEN n_union_used < {KMV_K} THEN CAST(n_anotb AS DOUBLE) "
        f"ELSE ({est_u}) * n_anotb / {KMV_K} END"
    )
    return f"""
        WITH sa AS (
            SELECT DISTINCT {h} AS h32 FROM {table}
            WHERE {col} IS NOT NULL AND ({pred_a})
            ORDER BY h32 LIMIT {KMV_K}
        ),
        sb AS (
            SELECT DISTINCT {h} AS h32 FROM {table}
            WHERE {col} IS NOT NULL AND ({pred_b})
            ORDER BY h32 LIMIT {KMV_K}
        ),
        uk AS (
            SELECT DISTINCT h32 FROM (
                SELECT h32 FROM sa UNION ALL SELECT h32 FROM sb
            ) ORDER BY h32 LIMIT {KMV_K}
        ),
        u AS (
            SELECT CAST(count(*) AS BIGINT) AS n_union_used,
                   CAST(max(h32) AS BIGINT) AS theta
            FROM uk
        ),
        m AS (
            SELECT CAST(count(*) AS BIGINT) AS n_match
            FROM sa JOIN sb USING (h32), u
            WHERE h32 <= u.theta
        ),
        ab AS (
            SELECT CAST(count(*) AS BIGINT) AS n_anotb
            FROM sa, u
            WHERE h32 <= u.theta
              AND NOT EXISTS (SELECT 1 FROM sb WHERE sb.h32 = sa.h32)
        ),
        ex AS (
            SELECT
                (SELECT CAST(count(DISTINCT {col}) AS BIGINT) FROM {table}
                 WHERE {col} IS NOT NULL
                   AND (({pred_a}) OR ({pred_b}))) AS union_exact,
                (SELECT CAST(count(DISTINCT {col}) AS BIGINT) FROM {table}
                 WHERE {col} IS NOT NULL
                   AND ({pred_a}) AND ({pred_b})) AS inter_exact,
                (SELECT CAST(count(DISTINCT {col}) AS BIGINT) FROM {table}
                 WHERE {col} IS NOT NULL
                   AND ({pred_a}) AND NOT ({pred_b})) AS diff_exact
        )
        SELECT
            (SELECT CAST(count(*) AS BIGINT) FROM sa) AS n_a_used,
            (SELECT CAST(count(*) AS BIGINT) FROM sb) AS n_b_used,
            n_union_used, theta, n_match, n_anotb,
            round({est_u}, 6) AS union_estimate,
            round({est_i}, 6) AS inter_estimate,
            round({est_d}, 6) AS diff_estimate,
            union_exact, inter_exact, diff_exact
        FROM u, m, ab, ex
    """


# --- Mergeable histogram sketch (bounded-domain quantiles) -----------------
# Completes the mergeable-state trio: distincts (HLL, max-merge),
# frequencies (CMS, sum-merge), and now ranks/quantiles — as a
# fixed-width equi-bin histogram over a declared integer domain.
# Honest positioning: for UNKNOWN domains the literature reaches for
# KLL/t-digest; their merges are order/implementation-dependent,
# which breaks this repo's exact-oracle discipline. A declared-domain
# histogram is what production metric pipelines actually deploy when
# they need cross-engine determinism, and its rank error is bounded
# by the bin width by construction.


def histogram_sketch(
    df: DataFrame, col: str, lo: int, hi: int, nbins: int
) -> DataFrame:
    """The histogram STATE: (bin, cnt) rows, ≤ nbins+2 of them —
    values below ``lo`` land in bin -1, at-or-above ``hi`` in bin
    ``nbins`` (explicit overflow bins: clamping would silently
    corrupt tail quantiles). Persist to parquet, ``histogram_merge``
    with new data's state (sum per bin — linear, like CMS), estimate
    ranks without rescanning the base."""
    width = (hi - lo + nbins - 1) // nbins
    b = (
        F.when(F.col(col) < lo, F.lit(-1))
        .when(F.col(col) >= hi, F.lit(nbins))
        .otherwise(
            # integer floor division (ADVICE r9): the double
            # quotient can round across an integer on large
            # domains, misbinning vs the oracle's integer '//'
            F.expr(f"({col} - {lo}) div {width}")
        )
    )
    return (
        df.where(F.col(col).isNotNull())
        .select(b.cast("long").alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def histogram_merge(*states: DataFrame) -> DataFrame:
    """Per-bin count sum — histograms are linear sketches:
    merge(h(A), h(B)) ≡ h(A ∪ B) bin-for-bin, any order."""
    from functools import reduce

    merged = reduce(lambda a, b: a.unionByName(b), states)
    return merged.groupBy("bin").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )


def histogram_quantile_bins(state: DataFrame, qs: list[int]) -> DataFrame:
    """For each requested percentile q/100: the bin containing the
    percentile_disc rank (1-based ceil(q·N/100)), from the bin
    cumulative counts — one sort of ≤ nbins+2 summary rows, never
    data. All integers (bin ids and ranks), so the estimate is
    engine-exact; the VALUE-level error is the bin width, by
    construction."""
    from pyspark.sql.window import Window

    w = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = state.withColumn("cum", F.sum("cnt").over(w)).crossJoin(
        F.broadcast(state.agg(F.sum("cnt").cast("long").alias("n")))
    )
    from kafka_streams_pipeline_spark.session import local_rows_df

    qdf = local_rows_df(
        state.sparkSession, [(q,) for q in qs], "q long"
    )
    # cum >= ceil(q*n/denom)  <=>  cum*denom >= q*n  (positive ints
    # only — keeps the rank comparison float-free on both engines)
    ranked = qdf.crossJoin(cum).where(
        F.col("cum") * 100 >= F.col("q") * F.col("n")
    )
    return (
        ranked.groupBy("q")
        .agg(F.min("bin").cast("long").alias("bin"))
        .select("q", "bin")
    )


def histogram_sketch_sql(
    table: str, col: str, lo: int, hi: int, nbins: int
) -> str:
    width = (hi - lo + nbins - 1) // nbins
    return f"""
        SELECT CAST(CASE WHEN {col} < {lo} THEN -1
                         WHEN {col} >= {hi} THEN {nbins}
                         ELSE ({col} - {lo}) // {width} END AS BIGINT)
                   AS bin,
               CAST(count(*) AS BIGINT) AS cnt
        FROM {table} WHERE {col} IS NOT NULL
        GROUP BY 1
    """


def histogram_sketch_by(
    df: DataFrame, group_col: str, col: str, lo: int, hi: int, nbins: int
) -> DataFrame:
    """Grouped histogram state: (group, bin, cnt) — the per-dimension
    production shape (value distribution per language / source /
    shard), mirroring ``hll_distinct_by`` for the ranks family.
    Same declared-domain equi-bin construction with explicit
    overflow bins; states merge per (group, bin) by sum. One
    aggregate over the input; output is ≤ groups·(nbins+2) rows."""
    width = (hi - lo + nbins - 1) // nbins
    b = (
        F.when(F.col(col) < lo, F.lit(-1))
        .when(F.col(col) >= hi, F.lit(nbins))
        .otherwise(
            # integer floor division (ADVICE r9): the double
            # quotient can round across an integer on large
            # domains, misbinning vs the oracle's integer '//'
            F.expr(f"({col} - {lo}) div {width}")
        )
    )
    return (
        df.where(F.col(col).isNotNull())
        .select(F.col(group_col).alias("grp"), b.cast("long").alias("bin"))
        .groupBy("grp", "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def histogram_sketch_by_sql(
    table: str, group_col: str, col: str, lo: int, hi: int, nbins: int
) -> str:
    width = (hi - lo + nbins - 1) // nbins
    return f"""
        SELECT {group_col} AS grp,
               CAST(CASE WHEN {col} < {lo} THEN -1
                         WHEN {col} >= {hi} THEN {nbins}
                         ELSE ({col} - {lo}) // {width} END AS BIGINT)
                   AS bin,
               CAST(count(*) AS BIGINT) AS cnt
        FROM {table} WHERE {col} IS NOT NULL
        GROUP BY 1, 2
    """


def join_size_estimate(
    left: DataFrame, right: DataFrame, left_key: str, right_key: str
) -> DataFrame:
    """CMS inner-product join-cardinality estimation (Cormode &
    Muthukrishnan 2005 §4.2, public literature): the equi-join size
    |A ⋈ B| = Σ_k f_A(k)·f_B(k) is the inner product of the two key
    frequency vectors, and the sketch estimate is
    min_i Σ_pos cmsA[i][pos]·cmsB[i][pos] — one-sided like the point
    query (estimate ≥ exact, always; colliding keys only ADD cross
    terms). This is the pre-join planning measurement behind join
    reordering and shuffle-partition sizing: at 100 TB you want the
    join's output cardinality BEFORE paying for the join, from two
    independently-built constant-size sketches (each one scan with
    map-side combine down to ≤ d·w counters; sketches of different
    tables/days compose because CMS is linear).

    Certified output is one row: ``est_join_size`` (the sketch
    inner product), ``exact_join_size`` (the true Σ f_A·f_B rider,
    computed by the per-key aggregate + join the sketch lets you
    avoid), and ``overcount`` (≥ 0 — the one-sided invariant is
    inside the hash). All BIGINT — counters are exact integers on
    both engines, so the estimate is bit-identical, not approximately
    equal.

    Reference frame: the reference has no cross-stream cardinality
    estimation; this extends its per-window counting aggregates
    (ingestion/KafkaStreamsAggregator.java:103-105) with the
    sketch-side planning statistic a distributed engine needs."""
    a = cms_sketch(
        left.select(F.col(left_key).cast("string").alias("k")), "k"
    )
    b = cms_sketch(
        right.select(F.col(right_key).cast("string").alias("k")), "k"
    )
    ip = (
        a.select("i", "pos", F.col("cnt").alias("cnt_a"))
        .join(
            b.select("i", "pos", F.col("cnt").alias("cnt_b")),
            ["i", "pos"],
        )
        .groupBy("i")
        .agg(
            F.sum(F.col("cnt_a") * F.col("cnt_b"))
            .cast("long")
            .alias("ip")
        )
    )
    # a hash row whose cells never collide has inner product 0, and
    # 0 must participate in the min — spine over all d rows so an
    # empty/partial join cannot silently drop rows from the min
    spine = left.sparkSession.range(CMS_D).select(
        F.col("id").cast("int").alias("i")
    )
    est = (
        spine.join(ip, "i", "left")
        .select(F.coalesce(F.col("ip"), F.lit(0)).alias("ip"))
        .agg(F.min("ip").cast("long").alias("est_join_size"))
    )
    fa = (
        left.where(F.col(left_key).isNotNull())
        .groupBy(F.col(left_key).alias("k"))
        .agg(F.count(F.lit(1)).cast("long").alias("ca"))
    )
    fb = (
        right.where(F.col(right_key).isNotNull())
        .groupBy(F.col(right_key).alias("k"))
        .agg(F.count(F.lit(1)).cast("long").alias("cb"))
    )
    exact = fa.join(fb, "k").agg(
        F.coalesce(F.sum(F.col("ca") * F.col("cb")), F.lit(0))
        .cast("long")
        .alias("exact_join_size")
    )
    return est.crossJoin(exact).select(
        "est_join_size",
        "exact_join_size",
        (F.col("est_join_size") - F.col("exact_join_size"))
        .cast("long")
        .alias("overcount"),
    )


def join_size_estimate_oracle(
    left_sql: str, right_sql: str, left_key: str, right_key: str
) -> str:
    """DuckDB twin of :func:`join_size_estimate` — identical CMS
    construction (same Bloom affine family, same d×w geometry) over
    the two key streams, identical min-of-inner-products estimate,
    identical exact rider."""

    def incr(src: str, key: str) -> str:
        return " UNION ALL ".join(
            f"SELECT {i} AS i, {_cms_pos_duck(key, i)} AS pos "
            f"FROM ({src}) WHERE {key} IS NOT NULL"
            for i in range(CMS_D)
        )

    return f"""
        WITH sa AS (
            SELECT i, pos, CAST(count(*) AS BIGINT) AS cnt_a
            FROM ({incr(left_sql, left_key)}) GROUP BY i, pos
        ),
        sb AS (
            SELECT i, pos, CAST(count(*) AS BIGINT) AS cnt_b
            FROM ({incr(right_sql, right_key)}) GROUP BY i, pos
        ),
        ip AS (
            SELECT sa.i, CAST(sum(cnt_a * cnt_b) AS BIGINT) AS ip
            FROM sa JOIN sb ON sa.i = sb.i AND sa.pos = sb.pos
            GROUP BY sa.i
        ),
        spine AS (SELECT i FROM unnest(range(0, {CMS_D})) AS t(i)),
        est AS (
            SELECT CAST(min(coalesce(ip.ip, 0)) AS BIGINT)
                       AS est_join_size
            FROM spine LEFT JOIN ip ON spine.i = ip.i
        ),
        fa AS (
            SELECT {left_key} AS k, CAST(count(*) AS BIGINT) AS ca
            FROM ({left_sql}) WHERE {left_key} IS NOT NULL GROUP BY 1
        ),
        fb AS (
            SELECT {right_key} AS k, CAST(count(*) AS BIGINT) AS cb
            FROM ({right_sql}) WHERE {right_key} IS NOT NULL GROUP BY 1
        ),
        ex AS (
            SELECT CAST(coalesce(sum(ca * cb), 0) AS BIGINT)
                       AS exact_join_size
            FROM fa JOIN fb USING (k)
        )
        SELECT est_join_size, exact_join_size,
               CAST(est_join_size - exact_join_size AS BIGINT) AS overcount
        FROM est, ex
    """


# --- Two-pass exact heavy hitters (round 13) -----------------------------------

HH_K = 200


def heavy_hitters_twopass(df: DataFrame, col: str) -> DataFrame:
    """X7 family, deterministic leg: EXACT frequent items (freq·k > n,
    k = ``HH_K``) by the classic two-pass candidate scheme — Misra-Gries (1982,
    public literature) summaries per partition generate a candidate
    superset, an exact counting pass over candidates only verifies.

    Guarantee chain: an item with global freq > n/k has freq_i >
    n_i/k in at least one partition (else the sum contradicts), and a
    k-counter Misra-Gries pass over partition i retains every item
    with freq_i > n_i/k — so the union of per-partition survivors is
    a SUPERSET of the true heavy hitters, and the verify pass makes
    the final answer exact and partition-order-INDEPENDENT (the
    candidate set varies with scan order; the filtered exact counts
    cannot — which is what lets a DuckDB GROUP BY/HAVING oracle
    hash-match this at all).

    Scale shape vs the naive GROUP BY: two scans, but the only
    shuffle is the candidate-restricted count (≤ k·partitions keys,
    broadcast-joined) — the full key space never shuffles, and
    per-task memory is k counters. The CMS row (cms_heavy_hitters)
    is the approx/one-pass leg; this is the exact leg. Threshold
    comparison is the float-free cross-multiply freq·k > n."""
    toks = df.select(F.col(col).cast("string").alias("tok"))

    def mg(it):
        import pandas as pd

        counters: dict = {}
        n = 0
        for pdf in it:
            for v in pdf["tok"].tolist():
                if v is None:
                    continue
                n += 1
                c = counters.get(v)
                if c is not None:
                    counters[v] = c + 1
                elif len(counters) < HH_K - 1:
                    counters[v] = 1
                else:
                    # decrement-all: drops ≤ 1 from every item's
                    # count per inserted element, preserving the
                    # freq_i > n_i/k survival guarantee
                    for key in list(counters):
                        if counters[key] == 1:
                            del counters[key]
                        else:
                            counters[key] -= 1
        out = [(v, 0) for v in counters]
        out.append((None, n))  # partition element count
        yield pd.DataFrame(out, columns=["tok", "part_n"])

    first = toks.mapInPandas(mg, "tok string, part_n long").localCheckpoint(
        eager=True
    )
    n_total = first.agg(F.sum("part_n")).collect()[0][0] or 0
    cands = first.where(F.col("tok").isNotNull()).select("tok").distinct()
    return (
        toks.join(F.broadcast(cands), "tok")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .where(F.col("freq") * HH_K > F.lit(n_total))
    )


def heavy_hitters_twopass_oracle() -> str:
    """Exact GROUP BY/HAVING recompute over the same token stream."""
    return f"""
        WITH toks AS (
            SELECT unnest(string_split(text, ' ')) AS tok FROM documents
        ),
        tot AS (SELECT count(*) AS n FROM toks)
        SELECT tok, CAST(count(*) AS BIGINT) AS freq
        FROM toks, tot
        GROUP BY tok, n
        HAVING count(*) * {HH_K} > n
    """


def mg_summary_rows(df: DataFrame, col: str, k: int = HH_K) -> list:
    """Per-partition Misra-Gries summaries collected to the driver as
    (token, count) candidate rows plus the partition element total —
    the mergeable form of heavy_hitters_twopass's first pass (≤
    k·partitions rows; the raw stream never leaves the executors)."""
    toks = df.select(F.col(col).cast("string").alias("tok"))

    def mg(it):
        import pandas as pd

        counters: dict = {}
        n = 0
        for pdf in it:
            for v in pdf["tok"].tolist():
                if v is None:
                    continue
                n += 1
                c = counters.get(v)
                if c is not None:
                    counters[v] = c + 1
                elif len(counters) < k - 1:
                    counters[v] = 1
                else:
                    for key in list(counters):
                        if counters[key] == 1:
                            del counters[key]
                        else:
                            counters[key] -= 1
        out = [(v, c) for v, c in counters.items()]
        out.append((None, n))
        yield pd.DataFrame(out, columns=["tok", "cnt"])

    return toks.mapInPandas(mg, "tok string, cnt long").collect()


def mg_merge(state: dict, rows: list, k: int = HH_K) -> tuple[dict, int]:
    """Merge Misra-Gries summaries (Agarwal et al. 2013 §3.2 /
    Berinde et al. 2010): sum counters, then if more than k-1
    survive, subtract the k-th largest count from every counter and
    drop the non-positive — preserving the guarantee that any item
    with TRUE frequency > n/k survives the merged summary. Returns
    (merged counters, batch element count)."""
    n_batch = 0
    for r in rows:
        if r["tok"] is None:
            n_batch += r["cnt"]
        else:
            state[r["tok"]] = state.get(r["tok"], 0) + r["cnt"]
    if len(state) > k - 1:
        kth = sorted(state.values(), reverse=True)[k - 1]
        for key in list(state):
            state[key] -= kth
            if state[key] <= 0:
                del state[key]
    return state, n_batch


# ---------------------------------------------------------------------------
# KLL-style mergeable quantile sketch (VERDICT r15 item 4)
# ---------------------------------------------------------------------------

KLL_K = 256  # per-level capacity
KLL_QS = (10, 50, 90, 99)  # certified quantile probes (percent)
_KLL_CENTS = "cast(round(value * 100) as long)"
_KLL_CENTS_DUCK = "CAST(round(value * 100) AS BIGINT)"


def _kll_parity(event_type: str, level: int, n_prior: int) -> int:
    """Seeded compaction choice: the low bit of
    md5('<et>|<level>|<compaction-index>') decides whether a
    compaction keeps the odd or even positions of the sorted level.
    Deterministic from (series, level, history) — never from
    partitioning, wall clock, or RNG state — so the sketch is a pure
    function of the inserted multiset and the batch boundaries, and
    any engine replaying the same insertions reproduces it bit-for-
    bit (the X12n 'engine-reproducible state' discipline; Karnin-
    Lang-Liberty FOCS'16 uses a fair coin here — de-randomizing
    keeps the per-compaction error bound, which is worst-case ±w_l
    regardless of the coin)."""
    import hashlib

    h = hashlib.md5(
        f"{event_type}\x1f{level}\x1f{n_prior}".encode()
    ).hexdigest()
    return int(h[:8], 16) & 1


def kll_compact(state: DataFrame, counts: dict) -> DataFrame:
    """Compact a (event_type, level, v) item frame until every
    (series, level) cell holds ≤ k = ``KLL_K`` items, updating `counts`
    ((event_type, level) → compactions performed) in place.

    One compaction takes a whole over-capacity level, sorts it by
    value, pairs adjacent positions, keeps one element of each pair
    (parity from :func:`_kll_parity`) at level+1 — weight 2^level
    doubles, total weight is conserved exactly — and leaves an odd
    straggler in place. For any threshold x the weighted
    count-below-x moves by at most w_l = 2^level per compaction, so
    the tracked error bound is B = Σ m_l · 2^l (exact integer,
    per series).

    Ties need no tiebreak: keeping alternating POSITIONS of a run of
    equal values yields the same multiset whichever physical rows
    row_number picked, so the result is deterministic even though
    the sort is not total.

    Plan: each pass is one (event_type, level)-partitioned window
    over only the still-over-capacity cells; passes halve the data,
    so total rows windowed ≈ 2n across ~log2(n/k) passes. At 100 TB
    the same state layout pre-sketches per partition (mapInPandas)
    and merges by level union + this compactor — merge IS union
    here, which is what makes the sketch mergeable; the global form
    below is the deterministic certification twin."""
    while True:
        state = state.localCheckpoint(eager=True)
        over = (
            state.groupBy("event_type", "level")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .where(F.col("cnt") > KLL_K)
            .collect()
        )
        if not over:
            return state
        entries: list = []
        for r in over:
            key = (r["event_type"], r["level"])
            m = counts.get(key, 0)
            counts[key] = m + 1
            # \x1f separator: a series name containing "|" must not
            # collide two (series, level) cells into one parity key
            entries.append(
                (
                    f"{key[0]}\x1f{key[1]}",
                    _kll_parity(key[0], key[1], m),
                )
            )
        pmap = F.create_map(
            *[F.lit(x) for kv in entries for x in kv]
        )
        keyed = state.withColumn(
            "par",
            F.try_element_at(
                pmap,
                F.concat_ws(
                    "\x1f", "event_type", F.col("level").cast("string")
                ),
            ),
        )
        rest = keyed.where(F.col("par").isNull()).select(
            "event_type", "level", "v"
        )
        cell = Window.partitionBy("event_type", "level")
        comp = (
            keyed.where(F.col("par").isNotNull())
            .withColumn("rn", F.row_number().over(cell.orderBy("v")))
            .withColumn("cnt", F.count(F.lit(1)).over(cell))
        )
        paired = F.col("rn") <= F.col("cnt") - F.col("cnt") % 2
        promoted = comp.where(
            paired & (F.col("rn") % 2 == F.col("par"))
        ).select(
            "event_type", (F.col("level") + 1).alias("level"), "v"
        )
        leftover = comp.where(~paired).select("event_type", "level", "v")
        state = rest.unionByName(promoted).unionByName(leftover)


def kll_build(values: DataFrame) -> tuple[DataFrame, dict]:
    """Batch-insert a (event_type, c) frame at level 0 and compact to
    capacity. Returns (sketch item frame, compaction counts)."""
    counts: dict = {}
    state = values.select(
        "event_type",
        F.lit(0).cast("int").alias("level"),
        F.col("c").cast("long").alias("v"),
    )
    return kll_compact(state, counts), counts


def kll_error_bounds(counts: dict) -> dict:
    """event_type → B = Σ m_l · 2^l, the sketch's exact accumulated
    rank-error bound (deterministic — the de-randomized compaction
    makes ±2^l a worst case, not a variance)."""
    out: dict = {}
    for (et, lvl), m in counts.items():
        out[et] = out.get(et, 0) + m * (1 << lvl)
    return out


def kll_quantile_census(
    spark,
    values: DataFrame,
    sketch: DataFrame,
    counts: dict,
    qs: tuple = KLL_QS,
) -> DataFrame:
    """Certification form (the X12n pattern): exact columns the
    oracle value-matches (n, med2) next to invariant bits it pins
    TRUE:

    - ``q{q}_ok``: the EXACT rank window of the sketch's q-th
      percentile estimate intersects [r_q − B, r_q + B] where
      r_q = ceil(q·n/100) and B is the tracked bound — checked
      float-free ((rank_le + B)·1 ≥ r_q and rank_lt + 1 ≤ r_q + B;
      the predecessor-gap argument holds on the integer-cents
      lattice via x = est−1).
    - ``weight_ok``: the sketch's total weight equals n exactly
      (compaction conserves weight) — a broken promotion weight
      flips it.
    - ``bound_ok``: B·k ≤ (max_level + 1)·n, k = ``KLL_K`` — the theorem bound
      (m_l ≤ inflow_l / k, inflow halves per level), so a
      miscounted m_l or over-eager compaction flips it.

    A sketch whose real error exceeded its accounting breaks a rank
    bit and hash-mismatches the oracle."""
    # the crossing search below only terminates for percentile ranks;
    # a q > 100 would leave ests shorter than qs and mis-align the
    # side_rows tuple with its schema (opaque arity error downstream)
    bad = [
        q for q in qs
        if isinstance(q, bool) or not isinstance(q, numbers.Integral)
        or not 0 < q <= 100
    ]
    if bad:
        raise ValueError(
            f"qs must be integer percentiles in (0, 100], got {bad}"
        )
    bounds = kll_error_bounds(counts)
    # The sketch is BOUNDED state (O(k·log(n/k)) rows per series —
    # that is the point of the sketch), so the estimate read is a
    # driver fold over its collected rows, not a distributed plan:
    # the per-v weight merge, cumulative walk, and first-crossing
    # estimate are the same integer arithmetic the previous
    # four-exchange window cascade computed, and the result ships
    # back as one broadcast literal frame (r16 optimization: the
    # cascade was ~70% of the census wall time at sf0.1 while
    # touching only a few hundred rows). The corpus-sized work — the
    # exact rank/percentile verification below — stays distributed.
    per: dict = {}
    maxlev: dict = {}
    for r in sketch.collect():
        et, wt = r["event_type"], 1 << int(r["level"])
        vw = per.setdefault(et, {})
        vw[r["v"]] = vw.get(r["v"], 0) + wt
        if et not in maxlev or r["level"] > maxlev[et]:
            maxlev[et] = int(r["level"])
    side_rows = []
    for et, vw in per.items():
        items = sorted(vw.items())
        w_total = sum(w for _, w in items)
        ests = []
        for q in qs:
            cw = 0
            for v, w in items:
                cw += w
                if cw * 100 >= int(q) * w_total:
                    ests.append(int(v))
                    break
        side_rows.append(
            (et, w_total, *ests, maxlev[et], int(bounds.get(et, 0)))
        )
    from kafka_streams_pipeline_spark.session import local_rows_df

    est_cols = ", ".join(f"est{q} long" for q in qs)
    side = local_rows_df(
        spark,
        side_rows or [(None, 0, *[0] * len(qs), 0, 0)],
        f"event_type string, W long, {est_cols}, maxlev int, B long",
    ).where(F.col("event_type").isNotNull())
    j = values.join(F.broadcast(side), "event_type")
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr("cast(round(percentile(2 * c, 0.5)) as long)").alias(
            "med2"
        ),
        F.max("W").alias("W"),
        F.max("B").alias("B"),
        F.max("maxlev").alias("maxlev"),
    ]
    for q in qs:
        aggs.append(
            F.sum((F.col("c") < F.col(f"est{q}")).cast("long")).alias(
                f"lt{q}"
            )
        )
        aggs.append(
            F.sum((F.col("c") <= F.col(f"est{q}")).cast("long")).alias(
                f"le{q}"
            )
        )
    g = j.groupBy("event_type").agg(*aggs)
    cols = [
        F.col("event_type"),
        F.col("n"),
        F.col("med2"),
        (F.col("W") == F.col("n")).alias("weight_ok"),
        (
            F.col("B") * KLL_K <= (F.col("maxlev") + 1) * F.col("n")
        ).alias("bound_ok"),
    ]
    for q in qs:
        r_q = f"(({q} * n + 99) div 100)"
        cols.append(
            F.expr(
                f"le{q} + B >= {r_q} AND lt{q} + 1 <= {r_q} + B"
            ).alias(f"q{q}_ok")
        )
    return g.select(*cols)


def kll_quantiles(events: DataFrame) -> DataFrame:
    """Batch KLL row: build the sketch over per-event integer cents
    per event_type (closed-form single-pass build — pytest-pinned
    identical to the kll_compact loop), then emit the certification
    census."""
    values = events.select(
        "event_type", F.expr(_KLL_CENTS).alias("c")
    )
    sketch, counts = kll_build_closed(values)
    return kll_quantile_census(events.sparkSession, values, sketch, counts)


def kll_quantiles_oracle() -> str:
    bits = ",\n               ".join(
        f"TRUE AS q{q}_ok" for q in KLL_QS
    )
    return f"""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(round(quantile_cont(2 * {_KLL_CENTS_DUCK}, 0.5))
                    AS BIGINT) AS med2,
               TRUE AS weight_ok,
               TRUE AS bound_ok,
               {bits}
        FROM events
        GROUP BY event_type
    """


def _kll_batch_plan(n: int, et: str, k: int) -> tuple:
    """Closed-form of the batch cascade for one series of n sorted
    values: alternating-halving round l keeps positions p ≡ c_l
    (mod 2) of the surviving sequence, so after H rounds the
    final-level survivors sit at ORIGINAL positions
    p = 2^H·j − C (arithmetic progression, stride 2^H), where C
    accumulates the parity choices, and each odd-count round parks
    one leftover at its level. Returns
    (H, C, leftovers=[(level, original_position)], counts_chain)."""
    counts = []
    lvl, cnt, c_acc, leftovers = 0, n, 0, []
    # position map: round l element j sits at original position
    # stride*j - c_acc  (stride = 2^lvl)
    while cnt > k:
        par = _kll_parity(et, lvl, 0)
        m = cnt // 2
        if cnt % 2 == 1:
            # element at round position cnt stays at this level
            leftovers.append((lvl, (1 << lvl) * cnt - c_acc))
        # par==1 keeps odd round positions (j -> 2j-1), par==0 keeps
        # even (j -> 2j). The affine map original_p = s·q − c (s =
        # 2^lvl) composes to p = 2s·j − (s·d + c) with d = par, so
        # the offset accumulates c += 2^lvl · d (stride doubles
        # implicitly via lvl)
        if par == 1:
            c_acc += 1 << lvl
        counts.append(cnt)
        cnt = m
        lvl += 1
    return lvl, c_acc, leftovers, counts


def kll_build_closed(values: DataFrame) -> tuple[DataFrame, dict]:
    """Single-pass batch KLL build: produces the IDENTICAL sketch
    and compaction log as :func:`kll_build`'s level-by-level loop
    (pytest-pinned equality), but as ONE series-partitioned window +
    a literal position filter — no driver loop, no per-pass jobs.
    The batch cascade compacts each level at most once (no further
    inflow below), so the whole level structure is a closed-form
    function of each series' count n: survivors of the final level
    H sit at sorted positions ≡ C (mod 2^H) and each odd-count
    round parks one leftover at its level. At 100 TB this is one
    shuffle on the series key — the plan the loop form approximates
    with log(n/``KLL_K``) passes; streaming/merge still use kll_compact
    (state is not single-level there)."""
    spark = values.sparkSession
    per = {
        r["event_type"]: r["n"]
        for r in values.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    counts: dict = {}
    conds: list = []  # ordered (condition, level) — one flat chain
    for et, n in per.items():
        h, c_acc, leftovers, chain = _kll_batch_plan(int(n), et, KLL_K)
        for lvl, cnt in enumerate(chain):
            counts[(et, lvl)] = 1
        et_col = F.col("event_type") == et
        # leftover exact-position branches must precede the modular
        # survivor branch for the SAME series (a leftover's rn can
        # coincidentally satisfy the mod condition); across series
        # the et guard keeps conditions disjoint
        for lvl, pos in leftovers:
            conds.append((et_col & (F.col("rn") == pos), lvl))
        conds.append(
            (et_col & (((F.col("rn") + c_acc) % (1 << h)) == 0), h)
        )
    level_expr = None
    for cond, lvl in conds:
        level_expr = (
            F.when(cond, lvl)
            if level_expr is None
            else level_expr.when(cond, lvl)
        )
    if level_expr is None:
        return (
            values.select(
                "event_type",
                F.lit(0).cast("int").alias("level"),
                F.col("c").cast("long").alias("v"),
            ),
            counts,
        )
    ranked = values.select(
        "event_type", F.col("c").cast("long").alias("v")
    ).withColumn("rn", F.row_number().over(Window.partitionBy(
        "event_type").orderBy("v")))
    out = (
        ranked.withColumn("level", level_expr.cast("int"))
        .where(F.col("level").isNotNull())
        .select("event_type", "level", "v")
    )
    return out, counts
