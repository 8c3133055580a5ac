"""Deduplication operators (SURVEY.md §2.9 X1/X2 + north-star).

Five levels, all over the ``documents`` fixture:

- exact:        hash-groupBy on the raw text
- normalized:   canonicalize (lower, strip non-alnum, collapse ws) → exact
- MinHash+LSH:  shingle → minhash signature → banded buckets →
                candidate pairs → exact-Jaccard verification
- SimHash:      per-token 32-bit hashes → bitwise majority → signature
- n-gram Jaccard: exact pairwise Jaccard via inverted shingle index

Engine-portability: every hash is md5-derived (functions/hashing.py)
so each operator has an EXACT DuckDB oracle; the Spark and SQL
builders are colocated here to keep the parity auditable.

Scale notes (100 TB posture):

- Signature computation (shingles, minhash, simhash) is per-row
  array arithmetic — no shuffle, embarrassingly parallel, whole-stage
  codegen (no Python in the loop).
- The only shuffles are (a) the band-bucket self-join, whose key
  cardinality ≈ docs × bands and whose per-key group size is the LSH
  bucket size (bounded by design), and (b) the exact-verify join,
  which touches only candidate pairs. This is the standard
  shingle→minhash→band→bucket-join plan; never all-pairs.
- The n-gram inverted-index join IS quadratic in bucket size per
  shingle: it exists as the small-scale exact baseline / test oracle
  for MinHash, not the 100 TB path. Frequent-shingle skew is the
  known hazard; the MinHash pipeline is the answer at scale.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kafka_streams_pipeline_spark.functions.hashing import (
    HEX_WIDTH,
    md5_long_sql,
)

# LSH geometry: 8 minhashes in 4 bands of 2.
# P(candidate | jaccard j) = 1 - (1 - j^2)^4 → 0.999 at j=0.9, 0.02 at j=0.07
# (matches the fixture's bimodal pair structure).
NUM_HASHES = 8
NUM_BANDS = 4
ROWS_PER_BAND = NUM_HASHES // NUM_BANDS
SHINGLE_N = 3


# --- expression builders (Spark SQL string + DuckDB SQL string) -----------


def _spark_hash(expr: str, seed: int | None = None) -> str:
    inner = f"concat('{seed}:', {expr})" if seed is not None else expr
    return f"cast(conv(substring(md5({inner}), 1, {HEX_WIDTH}), 16, 10) as bigint)"


def _duck_hash(expr: str, seed: int | None = None) -> str:
    inner = f"'{seed}:' || {expr}" if seed is not None else expr
    return md5_long_sql(inner)


def _safe_offsets(tokens: str, n: int) -> str:
    """Shingle start offsets 0..size-n as a TOTAL expression: empty
    when the doc has fewer than n tokens. ``sequence(0, size-n)``
    alone turns DESCENDING for short docs and the n-gram index then
    reads past the array — and the guard cannot live in a Filter:
    InferFiltersFromGenerate copies a size(shingles)>0 predicate
    derived from a downstream explode into the scan-side Filter,
    where it evaluates the shingle expression on UNFILTERED rows
    (ANSI array OOB, round 10). DuckDB's comprehension over
    range(1, len-n+2) is already empty for short docs, so this also
    makes the engines agree on sub-n inputs instead of only on
    corpora that happen to lack them."""
    return (
        f"filter(sequence(0, greatest(size({tokens}) - {n}, 0)), "
        f"i -> i <= size({tokens}) - {n})"
    )


def spark_shingles_expr(n: int = SHINGLE_N) -> str:
    """Distinct n-token shingles from a token array column."""
    tokens = "toks"
    parts = ", ".join(f"{tokens}[i + {j}]" for j in range(n))
    return (
        f"array_distinct(transform({_safe_offsets(tokens, n)}, "
        f"i -> concat_ws(' ', {parts})))"
    )


def duck_shingles_expr(n: int = SHINGLE_N) -> str:
    tokens = "toks"
    return (
        f"list_distinct([array_to_string({tokens}[i:i + {n - 1}], ' ') "
        f"FOR i IN range(1, len({tokens}) - {n - 2})])"
    )


# Minhash family: ONE md5 per shingle, then an affine permutation
# (a·h + b) mod 2^32 per seed — the classic universal-hash
# construction. Seeded re-hashing (md5('<seed>:'||x) × NUM_HASHES)
# costs NUM_HASHES md5 evaluations per shingle; this costs one md5
# plus NUM_HASHES integer multiply-adds — measured 3-4× faster
# end-to-end pair generation. a < 2^27 keeps a·h + b < 2^59, inside
# BIGINT on both engines, so Spark and DuckDB compute bit-identical
# signatures.
MINHASH_A = [
    1299721, 15485863, 32452843, 49979687,
    67867967, 86028121, 104395301, 122949823,
]
MINHASH_B = [11, 101, 1009, 10007, 100003, 1000003, 10000019, 100000007]
MINHASH_MOD = 1 << 32
assert len(MINHASH_A) == len(MINHASH_B) == NUM_HASHES


def spark_hashed_shingles_expr() -> str:
    """Distinct md5-hashed n-token shingles (BIGINT array). Hashing
    before array_distinct keeps the set semantics identical on both
    engines even across md5 collisions."""
    tokens = "toks"
    parts = ", ".join(f"{tokens}[i + {j}]" for j in range(SHINGLE_N))
    h = _spark_hash(f"concat_ws(' ', {parts})")
    return (
        f"array_distinct(transform({_safe_offsets(tokens, SHINGLE_N)}, "
        f"i -> {h}))"
    )


def spark_xxh_shingles_expr() -> str:
    """Distinct xxhash64-hashed n-token shingles (BIGINT array) — the
    cheap engine-native twin of :func:`spark_hashed_shingles_expr`
    for operators whose OUTPUT is hash-representation-independent
    (prefix_jaccard_join: any injective shingle→int map yields the
    same verified pairs and jaccards). Never use it where hash
    values shape the result (minhash signatures, KMV sketches) —
    those stay md5 for oracle parity."""
    tokens = "toks"
    parts = ", ".join(f"{tokens}[i + {j}]" for j in range(SHINGLE_N))
    return (
        f"array_distinct(transform({_safe_offsets(tokens, SHINGLE_N)}, "
        f"i -> xxhash64(concat_ws(' ', {parts}))))"
    )


def duck_hashed_shingles_expr() -> str:
    tokens = "toks"
    h = _duck_hash(f"array_to_string({tokens}[i:i + {SHINGLE_N - 1}], ' ')")
    return (
        f"list_distinct([{h} "
        f"FOR i IN range(1, len({tokens}) - {SHINGLE_N - 2})])"
    )


def spark_minhash_exprs() -> list[str]:
    """Minhash signature entries over a pre-hashed shingle array."""
    return [
        f"array_min(transform(shh, h -> "
        f"({MINHASH_A[s]} * h + {MINHASH_B[s]}) % {MINHASH_MOD}))"
        for s in range(NUM_HASHES)
    ]


def duck_minhash_exprs() -> list[str]:
    return [
        f"list_min([({MINHASH_A[s]} * h + {MINHASH_B[s]}) % {MINHASH_MOD} "
        f"FOR h IN shh])"
        for s in range(NUM_HASHES)
    ]


def spark_band_keys_expr() -> str:
    """Band keys 'b|h1:h2' — band id embedded so one explode+join
    handles all bands."""
    keys = ", ".join(
        "concat('%d|', %s)"
        % (
            b,
            ", ':', ".join(f"mhs[{b * ROWS_PER_BAND + r}]" for r in range(ROWS_PER_BAND)),
        )
        for b in range(NUM_BANDS)
    )
    return f"array({keys})"


def duck_band_keys_expr() -> str:
    keys = ", ".join(
        "concat('%d|', %s)"
        % (
            b,
            ", ':', ".join(
                f"mhs[{b * ROWS_PER_BAND + r + 1}]" for r in range(ROWS_PER_BAND)
            ),
        )
        for b in range(NUM_BANDS)
    )
    return f"[{keys}]"


SPARK_NORMALIZE = (
    "trim(regexp_replace(regexp_replace(lower({c}), '[^a-z0-9 ]', ''), ' +', ' '))"
)
DUCK_NORMALIZE = (
    "trim(regexp_replace(regexp_replace(lower({c}), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"
)

# SimHash width (bits). 32 keeps every intermediate inside BIGINT on
# both engines.
SIMHASH_BITS = 32


def spark_simhash_expr() -> str:
    """Bitwise-majority signature over per-token hashes."""
    bit = (
        "case when aggregate(th, 0L, "
        "(acc, h) -> acc + (case when (h >> i) & 1 = 1 then 1 else -1 end)) > 0 "
        "then shiftleft(1L, i) else 0L end"
    )
    return (
        f"aggregate(transform(sequence(0, {SIMHASH_BITS - 1}), i -> {bit}), "
        f"0L, (acc, x) -> acc + x)"
    )


def duck_simhash_expr(token_hashes: str = "th") -> str:
    bit = (
        f"CASE WHEN list_sum([CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END "
        f"FOR h IN {token_hashes}]) > 0 THEN (1::BIGINT << i) ELSE 0 END"
    )
    return f"CAST(list_sum([{bit} FOR i IN range(0, {SIMHASH_BITS})]) AS BIGINT)"


# --- Spark operators -------------------------------------------------------


def exact_dedup(df: DataFrame) -> DataFrame:
    """X1: one keeper row per distinct text value (lowest id wins).

    Plain hash-groupBy — Spark plans partial+final aggregation, so at
    scale each input partition first collapses locally. Output keys by
    md5(text) so wide text never travels in the result."""
    return (
        df.groupBy(F.md5(F.col("text")).alias("text_md5"))
        .agg(
            F.min(F.col("doc_id")).alias("keeper"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def normalized_dedup(df: DataFrame) -> DataFrame:
    """X2 (normalized-exact): canonicalize then exact-dedup."""
    norm = F.expr(SPARK_NORMALIZE.format(c="text"))
    return (
        df.withColumn("_norm", norm)
        .groupBy(F.md5(F.col("_norm")).alias("norm_md5"))
        .agg(
            F.min(F.col("doc_id")).alias("keeper"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def minhash_signatures(df: DataFrame, text_col: str = "text") -> DataFrame:
    """doc_id, shh (distinct md5-hashed shingles, BIGINT), mhs
    (minhash signature array).

    Per-row, shuffle-free; md5-based base hash for oracle parity (a
    production tuning would swap xxhash64 — one line here). Working
    on hashed shingles has two payoffs: the md5 runs once per shingle
    (the NUM_HASHES signature entries are integer permutations of the
    same base hash), and every downstream exchange/verify ships
    fixed-width longs instead of shingle strings."""
    mh_array = "array(" + ", ".join(spark_minhash_exprs()) + ")"
    # Signature hashing is CPU-bound per row; a small single-file
    # parquet arrives as ONE partition, which would serialize the md5
    # work on one core. Spread it before the heavy map (no-op when
    # the source already has enough splits).
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)
    return (
        df.withColumn("toks", F.split(F.col(text_col), " "))
        .where(F.expr("size(toks)") >= SHINGLE_N)
        .withColumn("shh", F.expr(spark_hashed_shingles_expr()))
        .withColumn("mhs", F.expr(mh_array))
        .select("doc_id", "shh", "mhs")
    )


DEFAULT_BUCKET_CAP = 64


def band_candidates(
    bands: DataFrame, bucket_cap: int | None = DEFAULT_BUCKET_CAP
) -> DataFrame:
    """(doc_id, bk) band rows → distinct candidate pairs (id_a < id_b)
    via ONE shuffle: groupBy(bk) gathers each bucket, the cap filter
    is a free post-aggregate predicate, and ordered pairs are emitted
    in-group with higher-order functions. Shared by every verify
    strategy (jaccard, edit-distance)."""
    grouped = bands.groupBy("bk").agg(
        F.array_sort(F.collect_list("doc_id")).alias("ids")
    )
    if bucket_cap is not None:
        grouped = grouped.where(F.size("ids") <= bucket_cap)
    return (
        grouped.where(F.size("ids") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids) - i - 1), "
                    "y -> struct(x AS id_a, y AS id_b))))"
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """X2 (MinHash+LSH): candidate pairs from banded minhash buckets,
    verified with exact Jaccard over the shingle sets.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥
    threshold, rounded to 6. The band join shuffles only
    (docs × NUM_BANDS) short keys; exact verification touches only
    candidates.

    ``bucket_cap`` is the band-skew safety valve: a band key shared by
    m documents yields m·(m−1)/2 candidate pairs, so one frequent
    near-boilerplate band (the skew hazard noted in the module
    docstring) can dominate the whole job at corpus scale. Buckets
    larger than the cap are DROPPED before pair generation, bounding
    per-key work at cap²/2. Recall trade-off: a true near-dup pair is
    lost only if EVERY band that contains it overflows — with 4
    bands, pairs inside hot boilerplate clusters may be missed; those
    clusters are better served by exact/normalized dedup upstream.
    The DuckDB oracle applies the identical cap, so parity holds at
    any setting; pass ``bucket_cap=None`` to disable."""
    pairs, sig = _minhash_pairs_and_sig(df, "text", 0.8, bucket_cap)
    # Materialize the verified pairs (bounded by LSH candidates, not
    # the corpus) so the signature cache is released on return rather
    # than pinned for the session; dedup_components does the same.
    pairs = pairs.localCheckpoint(eager=True)
    sig.unpersist()
    return pairs


def _minhash_pairs_and_sig(
    df: DataFrame,
    text_col: str,
    threshold: float,
    bucket_cap: int | None,
) -> tuple[DataFrame, DataFrame]:
    """minhash_near_dup_pairs body, also returning the persisted
    signature frame so callers that materialize the pairs
    (dedup_components) can unpersist it instead of leaking cached
    blocks into the rest of the session."""
    # The signature subplan feeds three consumers (band explode + both
    # sides of the verify join); without persist Spark recomputes the
    # md5 minhash work 3×. At cluster scale this intermediate is the
    # thing you'd checkpoint to a table.
    sig = minhash_signatures(df, text_col).persist()
    bands = sig.select(
        "doc_id", F.explode(F.expr(spark_band_keys_expr())).alias("bk")
    )
    # ONE shuffle on bk: gather each bucket's doc ids, apply the cap
    # as a post-aggregate filter (free — same aggregate), and emit the
    # ordered pairs in-group with higher-order functions. This
    # replaces the bands⋈bands self-join (which shuffles the band
    # table twice) and the separate count-agg the cap would otherwise
    # need. Bucket arrays are ≤ cap elements, so collect_list state
    # stays bounded per key.
    cand = band_candidates(bands, bucket_cap)
    # Jaccard over the HASHED shingle sets: identical grouping on
    # both engines (the oracle hashes the same way), and the verify
    # join ships long arrays, not shingle strings.
    sa = sig.select(F.col("doc_id").alias("id_a"), F.col("shh").alias("sh_a"))
    sb = sig.select(F.col("doc_id").alias("id_b"), F.col("shh").alias("sh_b"))
    verified = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.expr(
                "round(size(array_intersect(sh_a, sh_b)) / "
                "(size(sh_a) + size(sh_b) - size(array_intersect(sh_a, sh_b))), 6)"
            ),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return verified.select("id_a", "id_b", "jaccard"), sig


# Edge-count ceiling for the driver-side union-find shortcut in
# _closure(algorithm="auto"). 1M verified edges is ~16 MB collected
# and <1 s of driver CPU — far below the cost of even one distributed
# iteration's job-scheduling overhead. Above this, the O(log n)
# alternating algorithm runs distributed.
SMALL_COMPONENTS_MAX_EDGES = 1_000_000

# Component solvers dedup_components and entity_golden accept.
COMPONENT_ALGORITHMS = ("auto", "alternating")


def _union_find_labels(edge_rows: list) -> list:
    """Driver-side union-find with path compression over a collected
    edge list. Returns (node, comp) tuples with comp = min id of the
    component — the same fixpoint as the distributed algorithm and
    the recursive-CTE oracle."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min keeps roots = component minima as we go
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    nodes = set()
    for a, b in edge_rows:
        nodes.add(a)
        nodes.add(b)
    return [(n, find(n)) for n in sorted(nodes)]


def _check_algorithm(algorithm: str) -> None:
    if algorithm not in COMPONENT_ALGORITHMS:
        raise ValueError(
            f"unknown algorithm {algorithm!r}; expected one of "
            f"{COMPONENT_ALGORITHMS}"
        )


def _closure(
    pairs: DataFrame,
    base: DataFrame,
    key: str,
    algorithm: str,
    release: Callable[[], object] = lambda: None,
) -> DataFrame:
    """Transitive closure of the undirected (id_a, id_b) edge set
    ``pairs``, joined back onto ``base``: ``base`` left-joined on
    ``key`` to ``comp``, the minimum id of the row's component (null
    for a row incident to no edge).

    ``"auto"`` probes with limit(cap + 1): ONE job that short-circuits
    as soon as enough rows arrive. Either the whole (small) edge set
    lands on the driver for union-find, broadcast back (the dominant
    cost of a distributed round at small edge counts is job
    scheduling, not compute — observed 5-7 s for a 256-edge graph vs
    <0.5 s for collect + union-find + broadcast join-back), or the
    cap + 1'th row proves the graph is big and the distributed path
    runs without ever collecting it. ``"alternating"`` skips the probe.
    The distributed path is large-star/small-star over the edges,
    checkpointed first so that ``release`` (called once the edges are
    on the driver or checkpointed) can free the caches the edge plan
    reads before the rounds start. Both paths reach the min-id
    fixpoint the recursive-CTE oracles compute."""
    if algorithm == "auto":
        probe = pairs.limit(SMALL_COMPONENTS_MAX_EDGES + 1).collect()
        if len(probe) <= SMALL_COMPONENTS_MAX_EDGES:
            release()
            from kafka_streams_pipeline_spark.session import local_rows_df

            id_type = pairs.schema["id_a"].dataType.simpleString()
            labels = local_rows_df(
                base.sparkSession,
                _union_find_labels(probe),
                f"{key} {id_type}, comp {id_type}",
            )
            return base.join(F.broadcast(labels), key, "left")
    pairs = pairs.localCheckpoint(eager=True)
    release()
    labels = connected_components_alternating(pairs)
    return base.join(
        labels.select(F.col("node").alias(key), "comp"), key, "left"
    )


def dedup_components(
    df: DataFrame,
    threshold: float = 0.8,
    algorithm: str = "auto",
) -> DataFrame:
    """X2 (duplicate-group clustering): connected components over the
    MinHash near-dup pair graph — every document labeled with the
    smallest doc_id in its near-dup cluster (isolated docs label
    themselves). The stage after pair generation in a real dedup
    pipeline: keep one representative per component.

    The component solver runs over the VERIFIED edge set (which is
    orders smaller than the corpus by LSH + exact verification — the
    corpus never iterates). ``algorithm`` is ``"auto"`` (default:
    driver union-find when the edge count is at most
    SMALL_COMPONENTS_MAX_EDGES, in the spirit of AQE's runtime
    broadcast conversion, else distributed) or ``"alternating"``
    (always the distributed large-star/small-star solver, O(log n)
    rounds independent of diameter — the 100 TB path); see
    :func:`_closure`. Any other value raises ValueError before any
    Spark job.

    Both reach the same fixpoint; the DuckDB oracle certifies it
    with a recursive CTE (components_oracle) — connected components
    are not expressible as one SQL query without recursion."""
    _check_algorithm(algorithm)
    pairs, sig = _minhash_pairs_and_sig(df, "text", threshold, DEFAULT_BUCKET_CAP)
    return _closure(
        pairs.select("id_a", "id_b"),
        df.select("doc_id"),
        "doc_id",
        algorithm,
        release=sig.unpersist,
    ).select(
        "doc_id",
        F.coalesce(F.col("comp"), F.col("doc_id")).alias("component"),
    )


def connected_components_alternating(pairs: DataFrame) -> DataFrame:
    """Connected components via the alternating large-star /
    small-star algorithm (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14 — public literature): each round
    rewires every node toward the minimum of its neighborhood, and
    the edge set provably converges to per-component stars in
    O(log n) rounds — independent of graph diameter, unlike plain
    label propagation. This is the 100 TB path for pathological
    near-dup chains.

    Input: (id_a, id_b) undirected pairs. Output: (node, comp) for
    every node incident to an edge, comp = component minimum.

    Per round: two groupBy-aggregate passes over the current edge
    set. Neighborhoods are gathered with collect_set; degrees shrink
    geometrically as stars form, and in the dedup pipeline input
    degree is already bounded by the LSH bucket cap, so aggregate
    state stays small. Convergence is detected with an
    order-independent edge-set checksum (count + xxhash64 bit_xor;
    edges are distinct, so XOR cancellation cannot occur) —
    no extra join, just one tiny aggregate per round."""
    max_iter = 25
    # localCheckpoint (not persist): each round's output becomes the
    # next round's input, so the logical plan would otherwise grow
    # linearly with rounds and Catalyst re-analysis would come to
    # dominate wall-clock. Checkpointing truncates lineage per round
    # (on a cluster with an HDFS checkpoint dir, df.checkpoint() is
    # the durable equivalent).
    e = (
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )

    def checksum(df: DataFrame) -> tuple:
        row = df.select(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(greatest(u, v), least(u, v)))").alias("h"),
        ).first()
        return (row["n"], row["h"])

    prev = checksum(e)
    for _ in range(max_iter):
        # Large-star: group the SYMMETRIC neighborhood of each node u;
        # attach every larger neighbor to m = min(N(u) ∪ {u}).
        both = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        nbr = both.groupBy("u").agg(F.array_sort(F.collect_set("v")).alias("nb"))
        large = (
            nbr.select(
                F.col("u"),
                F.least(F.col("u"), F.element_at("nb", 1)).alias("m"),
                F.explode(F.expr("filter(nb, x -> x > u)")).alias("w"),
            )
            .where(F.col("w") != F.col("m"))
            .select(F.col("w").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # Small-star: orient edges larger→smaller, group by the large
        # end; attach u and all its smaller neighbors to the minimum.
        oriented = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        nbr2 = oriented.groupBy("u").agg(
            F.array_sort(F.collect_set("v")).alias("nb")
        )
        small = (
            nbr2.select(
                F.element_at("nb", 1).alias("m"),
                F.explode(F.expr("array_append(nb, u)")).alias("w"),
            )
            .where(F.col("w") != F.col("m"))
            .select(F.col("w").alias("u"), F.col("m").alias("v"))
            .distinct()
            .localCheckpoint()
        )
        cur = checksum(small)
        e = small
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components_alternating did not converge within "
            f"max_iter={max_iter} rounds (needs O(log n); this indicates "
            "a bug or an extraordinarily large component count)"
        )
    # Fixpoint edges are stars (node → component min). Roots appear
    # only on the v side; they label themselves.
    nodes = e.select(F.col("u").alias("node"), F.col("v").alias("comp"))
    roots = e.select(F.col("v").alias("node")).distinct().withColumn(
        "comp", F.col("node")
    )
    return nodes.union(roots).groupBy("node").agg(F.min("comp").alias("comp"))


def components_oracle() -> str:
    """Transitive-closure twin of dedup_components: min reachable id
    per node via a recursive CTE (exact because near-dup graphs are
    tiny at oracle scale)."""
    return f"""
        WITH RECURSIVE pairs AS ({minhash_pairs_oracle()}),
        edges AS (
            SELECT id_a AS u, id_b AS v FROM pairs
            UNION
            SELECT id_b, id_a FROM pairs
        ),
        reach(u, v) AS (
            SELECT u, v FROM edges
            UNION
            SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
        ),
        comp AS (SELECT u, min(v) AS mn FROM reach GROUP BY u)
        SELECT d.doc_id,
               CAST(coalesce(least(c.mn, d.doc_id), d.doc_id) AS BIGINT)
                   AS component
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.u
    """


def simhash_signatures(df: DataFrame) -> DataFrame:
    """X2 (SimHash): (doc_id, simhash) 32-bit bitwise-majority
    signature over distinct-token hashes. Per-row, shuffle-free."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)
    return (
        df.withColumn("toks", F.expr("array_distinct(split(text, ' '))"))
        .withColumn("th", F.expr(f"transform(toks, x -> {_spark_hash('x')})"))
        .select("doc_id", F.expr(spark_simhash_expr()).alias("simhash"))
    )


HAMMING_RADIUS = 3


def simhash64_signatures(df: DataFrame) -> DataFrame:
    """(doc_id, sim_lo, sim_hi): a 64-bit SimHash as TWO seeded
    32-bit halves. Token hashes are 32-bit (HEX_WIDTH=8), so a
    single 64-bit fold would leave bits 32-63 degenerate; two
    independently-seeded 32-bit signatures give 64 genuinely
    informative bits while every intermediate stays positive BIGINT
    on both engines (no 1<<63 overflow anywhere).

    Execution shape (r17): explode distinct tokens and run ONE
    doc-keyed aggregation with 64 codegen'd bit-count sums instead
    of the 32-passes-per-half interpreted higher-order fold (HOF
    lambdas bypass whole-stage codegen; the fold was ~2/3 of the
    signature stage at sf0.1, the md5s ~1/3). Bit-exact by algebra:
    the majority bit ``sum(±1) > 0`` over n tokens is ``2·cnt₁ > n``.
    Tokens of one doc never split across partitions, so the partial
    aggregate collapses fully map-side and the exchange ships one
    66-long row per document — the doc-keyed shuffle the downstream
    grouping window pays anyway.

    Assumes ``doc_id`` is unique: rows sharing a ``doc_id`` pool
    their tokens into ONE signature row instead of one row each."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)
    # explode_outer: a NULL text must still yield a signature row
    # (all-zero, as the old fold produced), not vanish
    ex = df.select(
        "doc_id",
        F.explode_outer(
            F.expr("array_distinct(split(text, ' '))")
        ).alias("tok"),
    ).select(
        "doc_id",
        F.expr(_spark_hash("tok")).alias("h1"),
        F.expr(_spark_hash("tok", 1)).alias("h2"),
    )
    aggs = [F.count(F.lit(1)).alias("n")]
    for i in range(SIMHASH_BITS):
        aggs.append(
            F.sum(F.expr(f"(h1 >> {i}) & 1")).alias(f"a{i}")
        )
        aggs.append(
            F.sum(F.expr(f"(h2 >> {i}) & 1")).alias(f"b{i}")
        )
    per = ex.groupBy("doc_id").agg(*aggs)
    lo = " + ".join(
        f"(case when 2 * a{i} > n then shiftleft(1L, {i}) else 0L end)"
        for i in range(SIMHASH_BITS)
    )
    hi = " + ".join(
        f"(case when 2 * b{i} > n then shiftleft(1L, {i}) else 0L end)"
        for i in range(SIMHASH_BITS)
    )
    return per.select(
        "doc_id",
        F.expr(lo).alias("sim_lo"),
        F.expr(hi).alias("sim_hi"),
    )


def simhash_hamming_pairs(df: DataFrame) -> DataFrame:
    """X2: SimHash near-dup JOIN — all pairs within Hamming distance
    radius = ``HAMMING_RADIUS`` over the 64-bit signature, via the multi-index
    pigeonhole scheme (Manku, Jain & Sarma, WWW 2007 — the Google
    simhash dedup paper): split 64 bits into radius+1 = 4 blocks of
    16 bits; any pair with ≤ radius differing bits must agree EXACTLY
    on at least one block, so candidates come from an equi-join on
    (block_index, block_value) — 65,536 bucket values per block, vs
    the 256 an 8-bit split of one 32-bit word would give. Exact
    verify (popcount of XOR, JVM codegen'd bit_count) on the distinct
    candidate set; output is bit-identical to the brute-force
    all-pairs scan, which is what the DuckDB oracle runs.

    Returns (id_a, id_b, hamming), id_a < id_b.

    Scale shape — identical-signature collapse (VERDICT r12 item 3):
    docs are first grouped by EXACT 64-bit signature (one window pass,
    gid = min doc_id per signature), and the pigeonhole candidate
    equi-join runs over group REPRESENTATIVES only. Dup-heavy corpora
    previously paid 4·C(m,2) candidate-join rows per m-sized identical
    clique (all four blocks agree) before the distinct; the clique is
    now ONE representative row in the join. True pairs are then
    expanded arithmetically, both legs output-bound: within-group =
    members⋈members on gid (hamming 0 by construction), cross-group =
    matched group pairs ⋈ each side's members (the group-pair hamming
    IS the member-pair hamming, since members share the signature
    exactly). Output is bit-identical to the brute-force scan."""
    # Materialize only the SMALL shared frame: the signature+window
    # frame (one row per doc, four longs) is localCheckpoint-ed once
    # and every downstream leg reads those blocks; the OUTPUT
    # (pair-sized, ~78× the doc count here) is returned LAZY so the
    # caller's action computes it straight from the checkpoint instead
    # of paying a second pair-sized materialization first (r16
    # optimization: the old out.localCheckpoint doubled the output
    # write — 0.8 s of the 5.4 s total at sf0.1 — purely to own an
    # unpersist; checkpoint blocks are reaped by the ContextCleaner on
    # GC, no owner needed).
    sig = simhash64_signatures(df)
    grp_w = Window.partitionBy("sim_lo", "sim_hi")
    mem = sig.select(
        "doc_id",
        "sim_lo",
        "sim_hi",
        F.min("doc_id").over(grp_w).alias("gid"),
    ).localCheckpoint(eager=True)
    groups = mem.where(F.col("doc_id") == F.col("gid")).select(
        "gid", "sim_lo", "sim_hi"
    )
    members = mem.select("doc_id", "gid")
    blocks = groups.select(
        "gid",
        F.posexplode(
            F.expr(
                "array(sim_lo & 65535, shiftright(sim_lo, 16) & 65535, "
                "sim_hi & 65535, shiftright(sim_hi, 16) & 65535)"
            )
        ).alias("blk_i", "blk_v"),
    )
    a, b = blocks.alias("a"), blocks.alias("b")
    gcand = (
        a.join(
            b,
            (F.col("a.blk_i") == F.col("b.blk_i"))
            & (F.col("a.blk_v") == F.col("b.blk_v"))
            & (F.col("a.gid") < F.col("b.gid")),
        )
        .select(F.col("a.gid").alias("gid_a"), F.col("b.gid").alias("gid_b"))
        .distinct()
    )
    ga = groups.select(
        F.col("gid").alias("gid_a"),
        F.col("sim_lo").alias("lo_a"),
        F.col("sim_hi").alias("hi_a"),
    )
    gb = groups.select(
        F.col("gid").alias("gid_b"),
        F.col("sim_lo").alias("lo_b"),
        F.col("sim_hi").alias("hi_b"),
    )
    gpairs = (
        gcand.join(ga, "gid_a")
        .join(gb, "gid_b")
        .select(
            "gid_a",
            "gid_b",
            F.expr("bit_count(lo_a ^ lo_b) + bit_count(hi_a ^ hi_b)")
            .cast("long")
            .alias("hamming"),
        )
        .where(F.col("hamming") <= HAMMING_RADIUS)
    )
    # cross-group expansion: each matched group pair × its two member
    # sets; member ids interleave across groups, so re-normalize the
    # (id_a < id_b) ordering with least/greatest (ids are distinct
    # because the groups are).
    ma = members.select(F.col("gid").alias("gid_a"), F.col("doc_id").alias("xid"))
    mb = members.select(F.col("gid").alias("gid_b"), F.col("doc_id").alias("yid"))
    cross = (
        gpairs.join(ma, "gid_a")
        .join(mb, "gid_b")
        .select(
            F.least("xid", "yid").alias("id_a"),
            F.greatest("xid", "yid").alias("id_b"),
            "hamming",
        )
    )
    wa, wb = members.alias("wa"), members.alias("wb")
    within = wa.join(
        wb,
        (F.col("wa.gid") == F.col("wb.gid"))
        & (F.col("wa.doc_id") < F.col("wb.doc_id")),
    ).select(
        F.col("wa.doc_id").alias("id_a"),
        F.col("wb.doc_id").alias("id_b"),
        F.lit(0).cast("long").alias("hamming"),
    )
    return within.unionByName(cross)


def simhash_hamming_oracle() -> str:
    """Brute-force all-pairs Hamming scan over the same two seeded
    32-bit signatures — certifies the pigeonhole candidate scheme
    loses nothing."""
    return f"""
        WITH th AS (
            SELECT doc_id,
                   [{_duck_hash('x')} FOR x IN list_distinct(string_split(text, ' '))]
                       AS th1,
                   [{_duck_hash('x', 1)} FOR x IN list_distinct(string_split(text, ' '))]
                       AS th2
            FROM documents
        ),
        sig AS (
            SELECT doc_id, {duck_simhash_expr('th1')} AS sim_lo,
                   {duck_simhash_expr('th2')} AS sim_hi
            FROM th
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.sim_lo, b.sim_lo))
                    + bit_count(xor(a.sim_hi, b.sim_hi)) AS BIGINT)
                   AS hamming
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sim_lo, b.sim_lo))
              + bit_count(xor(a.sim_hi, b.sim_hi)) <= {HAMMING_RADIUS}
    """


def ngram_jaccard_pairs(df: DataFrame, threshold: float = 0.8) -> DataFrame:
    """X2 (exact n-gram Jaccard): all pairs ≥ threshold via an
    inverted shingle index — the exact baseline that certifies the
    MinHash pipeline (candidate superset) at test scale."""
    sig = minhash_signatures(df).select("doc_id", "shh")
    inv = sig.select("doc_id", F.explode("shh").alias("shingle"))
    a, b = inv.alias("a"), inv.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sizes = sig.select("doc_id", F.expr("size(shh)").alias("n_sh"))
    return (
        common.join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
        .withColumn("jaccard", F.expr("round(n_common / (n_a + n_b - n_common), 6)"))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


CONTAIN_THRESHOLD_PPM = 800_000  # 80% of the smaller doc's shingles
# Extended-prefix filter depth (adaptive-prefix / PPJoin family,
# Wang et al. 2012): probe Δ tokens beyond the minimal pigeonhole
# prefix and require 1+Δ collisions — a candidate pair sharing
# exactly one rare shingle by chance (the dominant false-candidate
# class) dies at the aggregate instead of reaching the exact verify.
CONTAIN_PREFIX_EXT = 2


def containment_pairs(df: DataFrame) -> DataFrame:
    """ONE-SIDED near-dup: pairs where the smaller document's shingle
    set is ≥ threshold contained in the other's —
    C(A,B) = |S(A) ∩ S(B)| / min(|S(A)|, |S(B)|). Catches what
    symmetric Jaccard structurally cannot: a short document quoted
    or wrapped inside a much longer one scores near-zero Jaccard
    (the union is dominated by the long side) but containment ~1 —
    the boilerplate-wrapper / embedded-quote dedup mode.

    Returns (id_a, id_b, n_common, containment_ppm), id_a < id_b,
    integer ppm (engine-exact; no float anywhere).

    Default path is the SIZE-ORDERED PREFIX FILTER (the containment
    analogue of :func:`prefix_jaccard_join`'s SSJoin/PPJoin family):
    for the pair ordered smaller-first, the required overlap is
    α = ⌈t·|A|⌉, so by pigeonhole A must share one of its
    |A| − α + 1 GLOBALLY RAREST shingles with B. Candidates are
    therefore an equi-join of A-side PREFIX tokens (rarest-first,
    ~(1−t)·|A| + 1 of them) against the B-side FULL inverted index
    restricted to |B| ≥ |A| — a hot boilerplate shingle in m docs
    sorts LAST in the rarest-first order, drops out of every prefix,
    and contributes ~0·m candidate rows instead of the m² the naive
    shared-shingle self-join pays (see
    :func:`containment_pairs_bruteforce`). The PPJoin positional and
    suffix filters (Xiao et al. 2008) tighten further, both as
    pair-level aggregates over the collision rows: every collision at
    0-based positions (i, j) caps overlap at
    min(i, j) + min(|A|−i, |B|−j) (so the MIN over collisions must
    reach α), and the suffix bound c + min(α−1, |B|−1−j_max) ≥ α
    kills pairs whose prefix collisions all sit late in B's
    rarest-first order — exactly the boilerplate-shingle false
    candidates. Exact verify
    (array_intersect on the distinct candidate set) follows — output
    is bit-identical to the brute-force join, which is what the
    DuckDB oracle certifies. Banded LSH does NOT transfer here:
    MinHash estimates Jaccard, and high-containment/low-Jaccard
    pairs are precisely the ones it misses.

    All arithmetic is integer ppm: overlap ≥ ⌈t·n⌉ for integer
    overlap is exactly overlap·10⁶ ≥ t_ppm·n — no float anywhere."""
    sig, _cand, out = _containment_parts(df, "text", CONTAIN_THRESHOLD_PPM)
    out = out.localCheckpoint(eager=True)
    sig.unpersist()
    return out


def _containment_parts(
    df: DataFrame,
    text_col: str,
    threshold_ppm: int,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """containment_pairs body, returning (persisted signature frame —
    the CALLER owns the unpersist — distinct candidate pairs
    pre-verify, verified lazy output) so the sweep can count
    candidates separately from true pairs — the same diagnostic split
    as :func:`_prefix_join_parts`."""
    sig = (
        df.withColumn("toks", F.split(F.col(text_col), " "))
        .where(F.expr("size(toks)") >= SHINGLE_N)
        .withColumn("shh", F.expr(spark_hashed_shingles_expr()))
        .select("doc_id", "shh")
        .persist()
    )
    inv = sig.select("doc_id", F.explode("shh").alias("shingle"))
    freq = inv.groupBy("shingle").agg(
        F.count(F.lit(1)).cast("long").alias("dfreq")
    )
    ordered = inv.join(freq, "shingle").groupBy("doc_id").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(dfreq, shingle))), "
            "s -> s.shingle)"
        ).alias("ordered"),
        F.count(F.lit(1)).cast("long").alias("n_sh"),
    )
    # α = ⌈t·n⌉ in integer ppm; probe prefix = n − α + 1 rarest, plus
    # the Δ = prefix_ext extension tokens (slice truncates at the
    # array end, so short docs degrade to probing everything — where
    # the aggregate filter below correctly demands c ≥ α).
    p_expr = (
        f"cast(n_sh - (({threshold_ppm} * n_sh + 999999) div 1000000) "
        f"+ 1 + {CONTAIN_PREFIX_EXT} as int)"
    )
    probe = ordered.select(
        "doc_id",
        "n_sh",
        F.posexplode(F.expr(f"slice(ordered, 1, {p_expr})")).alias(
            "pos", "shingle"
        ),
    )
    index = ordered.select(
        "doc_id",
        "n_sh",
        F.posexplode(F.col("ordered")).alias("pos", "shingle"),
    )
    a, b = probe.alias("a"), index.alias("b")
    # Size order: the smaller side probes, the larger is indexed
    # (ties by id). The join itself is UNFILTERED beyond the equi-key
    # so the pair aggregate below sees EVERY prefix collision — c must
    # be the exact count of A-prefix tokens present anywhere in B for
    # the suffix bound to be valid.
    smaller = (F.col("a.n_sh") < F.col("b.n_sh")) | (
        (F.col("a.n_sh") == F.col("b.n_sh"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
    )
    collide = a.join(
        b, (F.col("a.shingle") == F.col("b.shingle")) & smaller
    ).select(
        F.col("a.doc_id").alias("id_small"),
        F.col("b.doc_id").alias("id_big"),
        F.col("a.n_sh").alias("n_a"),
        F.col("b.n_sh").alias("n_b"),
        F.col("a.pos").alias("i"),
        F.col("b.pos").alias("j"),
    )
    # PPJoin positional + suffix filters (Xiao et al. 2008), both as
    # pair-level aggregates over the collision rows (the groupBy
    # replaces the old `.distinct()` — same single shuffle, and
    # count/min/max all combine map-side):
    #   α = ⌈t·|A|⌉ (integer ppm; A = the smaller doc).
    #   row_bound: a collision at 0-based positions (i, j) caps
    #     overlap at min(i, j) + min(|A|−i, |B|−j) — commons strictly
    #     before it sit at positions < i in A and < j in B, commons
    #     from it on in the tails. EVERY collision's cap is a valid
    #     upper bound, so the MIN over rows must still reach α.
    #   suffix_bound: both shingle arrays are sorted by the same
    #     global (dfreq, shingle) key, so common tokens appear in the
    #     same relative order. c counts ALL commons in A's probed
    #     prefix region (B is fully indexed); commons in A's unprobed
    #     suffix — at most |A| − L = max(α − 1 − Δ, 0) of them, for
    #     probe length L = min(|A|, |A| − α + 1 + Δ) — are order-after
    #     the LAST prefix collision, hence sit at B positions > j_max:
    #     at most |B| − 1 − j_max. overlap ≤ c + min(allowance,
    #     |B|−1−j_max) must reach α. With the Δ-extended prefix the
    #     allowance branch enforces c ≥ 1 + Δ: a pair sharing only one
    #     rare shingle by chance (the dominant false-candidate class)
    #     dies here instead of reaching the exact verify.
    alpha = F.expr(
        f"({threshold_ppm} * n_a + 999999) div 1000000"
    ).cast("long")
    row_bound = F.least(F.col("i"), F.col("j")) + F.least(
        F.col("n_a") - F.col("i"), F.col("n_b") - F.col("j")
    )
    cand = (
        collide.groupBy("id_small", "id_big")
        .agg(
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
            F.count(F.lit(1)).cast("long").alias("c"),
            F.max("j").alias("j_max"),
            F.min(row_bound).alias("row_bound_min"),
        )
        .withColumn("alpha", alpha)
        .withColumn(
            "allowance",
            F.greatest(
                F.col("alpha") - F.lit(1 + CONTAIN_PREFIX_EXT), F.lit(0)
            ).cast("long"),
        )
        .where(
            (F.col("row_bound_min") >= F.col("alpha"))
            & (
                F.col("c")
                + F.least(
                    F.col("allowance"),
                    F.col("n_b") - 1 - F.col("j_max"),
                )
                >= F.col("alpha")
            )
        )
        .select("id_small", "id_big")
    )
    ss = sig.select(
        F.col("doc_id").alias("id_small"), F.col("shh").alias("shh_s")
    )
    sb = sig.select(
        F.col("doc_id").alias("id_big"), F.col("shh").alias("shh_b")
    )
    out = (
        cand.join(ss, "id_small")
        .join(sb, "id_big")
        .select(
            "id_small",
            "id_big",
            F.expr("size(array_intersect(shh_s, shh_b))")
            .cast("long")
            .alias("n_common"),
            F.expr("size(shh_s)").cast("long").alias("n_min"),
        )
        .withColumn(
            "containment_ppm",
            F.expr("(n_common * 1000000) div n_min").cast("long"),
        )
        .where(F.col("containment_ppm") >= threshold_ppm)
        .select(
            F.least("id_small", "id_big").alias("id_a"),
            F.greatest("id_small", "id_big").alias("id_b"),
            "n_common",
            "containment_ppm",
        )
    )
    return sig, cand, out


def containment_pairs_bruteforce(df: DataFrame) -> DataFrame:
    """The naive shared-shingle self-join baseline the prefix path
    replaced: a shingle appearing in m docs yields m² candidate rows
    before the threshold filter. Kept for the sweep's candidate-count
    comparison and as the differential twin of the DuckDB oracle."""
    sig = minhash_signatures(df).select("doc_id", "shh")
    inv = sig.select("doc_id", F.explode("shh").alias("shingle"))
    a, b = inv.alias("a"), inv.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    sizes = sig.select("doc_id", F.expr("size(shh)").alias("n_sh"))
    return (
        common.join(
            sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed(
                "n_sh", "n_a"
            ),
            "id_a",
        )
        .join(
            sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed(
                "n_sh", "n_b"
            ),
            "id_b",
        )
        .withColumn(
            "containment_ppm",
            F.expr("(n_common * 1000000) div least(n_a, n_b)").cast("long"),
        )
        .where(F.col("containment_ppm") >= CONTAIN_THRESHOLD_PPM)
        .select("id_a", "id_b", "n_common", "containment_ppm")
    )


def containment_scaling_stats(df: DataFrame) -> dict:
    """Sweep diagnostic: the prefix path's DISTINCT candidate count
    (what the exact verify pays for) next to the brute-force
    self-join's pre-aggregate candidate ROW count (what the old path
    paid), plus true pairs — quantifies the hot-shingle m² → ~0·m
    reduction on boilerplate-heavy corpora."""
    sig, cand, out = _containment_parts(df, "text", CONTAIN_THRESHOLD_PPM)
    inv = sig.select("doc_id", F.explode("shh").alias("shingle"))
    brute_rows = (
        inv.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("m"))
        .select(F.sum(F.expr("m * (m - 1) div 2")).alias("s"))
        .collect()[0]["s"]
    )
    stats = {
        "n_candidates_prefix": cand.count(),
        "n_candidate_rows_bruteforce": int(brute_rows or 0),
        "n_true_pairs": out.count(),
    }
    sig.unpersist()
    return stats


def containment_pairs_oracle() -> str:
    return f"""
        WITH sig AS (
            SELECT doc_id, {duck_hashed_shingles_expr()} AS shh
            FROM (SELECT doc_id, string_split(text, ' ') AS toks
                  FROM documents)
            WHERE len(toks) >= {SHINGLE_N}
        ),
        inv AS (SELECT doc_id, unnest(shh) AS shingle FROM sig),
        common AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(count(*) AS BIGINT) AS n_common
            FROM inv a JOIN inv b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT id_a, id_b, n_common,
               CAST((n_common * 1000000)
                    // least(len(sa.shh), len(sb.shh)) AS BIGINT)
                   AS containment_ppm
        FROM common
        JOIN sig sa ON common.id_a = sa.doc_id
        JOIN sig sb ON common.id_b = sb.doc_id
        WHERE (n_common * 1000000) // least(len(sa.shh), len(sb.shh))
              >= {CONTAIN_THRESHOLD_PPM}
    """


# --- DuckDB oracle builders ------------------------------------------------

# The band buckets the Spark side keeps: ``band_candidates``'s cap.
_DUCK_BANDS_OK = f"""bands_ok AS (
            SELECT bands.* FROM bands
            JOIN (SELECT bk FROM bands GROUP BY bk
                  HAVING count(*) <= {DEFAULT_BUCKET_CAP}) ok USING (bk)
        ),"""


def minhash_pairs_oracle() -> str:
    mh_list = "[" + ", ".join(duck_minhash_exprs()) + "]"
    return f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ),
        sig AS (
            SELECT doc_id, shh, {mh_list} AS mhs FROM (
                SELECT doc_id, {duck_hashed_shingles_expr()} AS shh
                FROM toks WHERE len(toks) >= {SHINGLE_N}
            )
        ),
        bands AS (
            SELECT doc_id, unnest({duck_band_keys_expr()}) AS bk FROM sig
        ),
        {_DUCK_BANDS_OK}
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands_ok a JOIN bands_ok b ON a.bk = b.bk AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b,
               round(len(list_intersect(sa.shh, sb.shh)) * 1.0 /
                     (len(sa.shh) + len(sb.shh) - len(list_intersect(sa.shh, sb.shh))), 6)
                   AS jaccard
        FROM cand
        JOIN sig sa ON cand.id_a = sa.doc_id
        JOIN sig sb ON cand.id_b = sb.doc_id
        WHERE round(len(list_intersect(sa.shh, sb.shh)) * 1.0 /
                    (len(sa.shh) + len(sb.shh) - len(list_intersect(sa.shh, sb.shh))), 6)
              >= 0.8
    """


def ngram_pairs_oracle() -> str:
    return f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ),
        sig AS (
            SELECT doc_id, {duck_hashed_shingles_expr()} AS shh
            FROM toks WHERE len(toks) >= {SHINGLE_N}
        ),
        inv AS (SELECT doc_id, unnest(shh) AS shingle FROM sig),
        common AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
            FROM inv a JOIN inv b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT id_a, id_b,
               round(n_common * 1.0 / (len(sa.shh) + len(sb.shh) - n_common), 6)
                   AS jaccard
        FROM common
        JOIN sig sa ON id_a = sa.doc_id
        JOIN sig sb ON id_b = sb.doc_id
        WHERE round(n_common * 1.0 / (len(sa.shh) + len(sb.shh) - n_common), 6)
              >= 0.8
    """


def simhash_oracle() -> str:
    return f"""
        WITH th AS (
            SELECT doc_id,
                   [{_duck_hash('x')} FOR x IN list_distinct(string_split(text, ' '))]
                       AS th
            FROM documents
        )
        SELECT doc_id, {duck_simhash_expr('th')} AS simhash FROM th
    """


def incremental_dedup(df: DataFrame, batch_source: str) -> DataFrame:
    """X2 / incremental corpus dedup: admit only new-batch documents
    whose normalized text is absent from the existing corpus, then
    dedup within the batch (keeper = lowest id). This is the standing
    shape of a training-data ingest loop — anti-join each incoming
    batch against the fingerprint set of everything already admitted.

    The corpus side is reduced to distinct 32-char md5 fingerprints
    before the join, so at 100 TB the anti-join ships hashes, never
    text; with a bounded fingerprint set Spark broadcasts it, else AQE
    picks a shuffled hash anti-join on the same key."""
    norm = F.expr(SPARK_NORMALIZE.format(c="text"))
    hashed = df.withColumn("norm_md5", F.md5(norm))
    corpus = (
        hashed.where(F.col("source") != batch_source)
        .select("norm_md5")
        .distinct()
    )
    batch = hashed.where(F.col("source") == batch_source)
    return (
        batch.join(corpus, on="norm_md5", how="left_anti")
        .groupBy("norm_md5")
        .agg(
            F.min(F.col("doc_id")).alias("keeper"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def incremental_dedup_oracle(batch_source: str) -> str:
    norm = DUCK_NORMALIZE.format(c="text")
    return f"""
        WITH h AS (
            SELECT doc_id, source, md5({norm}) AS norm_md5 FROM documents
        )
        SELECT norm_md5, min(doc_id) AS keeper, count(*) AS n_copies
        FROM h b
        WHERE b.source = '{batch_source}'
          AND NOT EXISTS (
              SELECT 1 FROM h c
              WHERE c.source <> '{batch_source}'
                AND c.norm_md5 = b.norm_md5
          )
        GROUP BY norm_md5
    """


def edit_distance_pairs(df: DataFrame) -> DataFrame:
    """X2 (edit-distance near-dup): the MinHash band candidates
    verified with levenshtein instead of jaccard — the character-level
    notion of "almost the same document" (catches small in-place
    edits that shingle Jaccard underweights). Keeps a pair when
    edit_dist · 100 ≤ 20 · max(len_a, len_b) — pure integer
    predicate, no float threshold.

    Parity note: Spark's levenshtein counts characters and DuckDB's
    counts bytes; identical on this ASCII corpus (asserted by the
    oracle hash), byte-normalize first for non-ASCII data.

    Scale: candidates come from the single-shuffle band plan; the
    verify join ships only candidate-pair texts."""
    sig = minhash_signatures(df)
    bands = sig.select(
        "doc_id", F.explode(F.expr(spark_band_keys_expr())).alias("bk")
    )
    cand = band_candidates(bands)
    ta = df.select(F.col("doc_id").alias("id_a"), F.col("text").alias("t_a"))
    tb = df.select(F.col("doc_id").alias("id_b"), F.col("text").alias("t_b"))
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.levenshtein("t_a", "t_b").cast("long").alias("edit_dist"),
            F.greatest(F.length("t_a"), F.length("t_b"))
            .cast("long")
            .alias("max_len"),
        )
        .where(F.col("edit_dist") * 100 <= 20 * F.col("max_len"))
    )


def edit_distance_pairs_oracle() -> str:
    mh_list = "[" + ", ".join(duck_minhash_exprs()) + "]"
    return f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ),
        sig AS (
            SELECT doc_id, {mh_list} AS mhs FROM (
                SELECT doc_id, {duck_hashed_shingles_expr()} AS shh
                FROM toks WHERE len(toks) >= {SHINGLE_N}
            )
        ),
        bands AS (
            SELECT doc_id, unnest({duck_band_keys_expr()}) AS bk FROM sig
        ),
        {_DUCK_BANDS_OK}
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands_ok a JOIN bands_ok b ON a.bk = b.bk AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b,
               CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist,
               CAST(greatest(length(da.text), length(db.text)) AS BIGINT)
                   AS max_len
        FROM cand
        JOIN documents da ON cand.id_a = da.doc_id
        JOIN documents db ON cand.id_b = db.doc_id
        WHERE levenshtein(da.text, db.text) * 100
              <= 20 * greatest(length(da.text), length(db.text))
    """


# --- Prefix-filtered EXACT similarity join (PPJoin-lite) -------------------


def prefix_jaccard_join(df: DataFrame) -> DataFrame:
    """X2 exact-at-scale alternative to LSH: the prefix-filter
    similarity join (Chaudhuri et al. 2006 SSJoin / Xiao et al. 2008
    PPJoin, public literature). Two shingle sets with Jaccard ≥ t
    must share at least one element among each set's (n − ⌈t·n⌉ + 1)
    GLOBALLY RAREST shingles — so candidates come from an equi-join
    on prefix shingles only, and the exact Jaccard verify runs on
    that candidate set. Unlike MinHash banding this loses NOTHING:
    the output is bit-identical to the brute-force quadratic join
    (which is exactly what the DuckDB oracle runs — the oracle
    certifies the ALGORITHM's exactness claim, not just its
    plumbing).

    Engine-exact arithmetic: the threshold is the rational
    num/den = 4/5 = 0.8, so the prefix
    length (n − ⌈t·n⌉ + 1 with ⌈t·n⌉ = (num·n + den − 1) div den)
    and the verify predicate (den·common ≥ num·union) are pure
    integers — no float enters until the reported jaccard.

    Scale shape: document frequency is one shingle-keyed aggregate;
    prefixes shrink the inverted index by ~t (80% here); the
    candidate join is bounded by prefix-token collisions — rare
    shingles by construction, so the usual boilerplate hot keys are
    excluded from prefixes automatically (they sort LAST in the
    rarest-first order). Frequent-shingle skew therefore prunes
    itself — the opposite of the LSH bucket-cap trade."""
    sig, _cand, out = _prefix_join_parts(df, "text", 4, 5)
    # Materialize the (candidate-bounded) result so the signature
    # cache is released on return rather than pinned for the session.
    out = out.localCheckpoint(eager=True)
    sig.unpersist()
    return out


def _prefix_join_parts(
    df: DataFrame,
    text_col: str,
    threshold_num: int,
    threshold_den: int,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """prefix_jaccard_join body, returning (persisted signature frame —
    the CALLER owns the unpersist — candidate pairs pre-verify, verified lazy output) so the sweep's
    scaling diagnostics can count candidates separately from true
    pairs (VERDICT r6 item 6) without duplicating the construction."""
    # The signature subplan feeds FOUR consumers (document-frequency
    # aggregate, prefix ordering, both verify sides); without persist
    # the shingle hashing recomputes per consumer — measured 4×
    # wall-clock at sf0.1. At cluster scale this intermediate is the
    # thing you'd checkpoint to a table.
    #
    # xxhash64 shingles, not md5 (r17): the output is
    # hash-representation-independent — the prefix filter is correct
    # under ANY consistent global shingle order, the verify is exact
    # set arithmetic over the hashed sets, and no hash value survives
    # into the result — so the cheap engine hash replaces the
    # md5+substring+conv string round-trip while the brute-force
    # DuckDB oracle keeps md5 (identical pairs/jaccards absent a
    # collision; oracle-exact on all fixture SFs).
    sig = (
        df.withColumn("toks", F.split(F.col(text_col), " "))
        .where(F.expr("size(toks)") >= SHINGLE_N)
        .withColumn("shh", F.expr(spark_xxh_shingles_expr()))
        .select("doc_id", "shh")
        .persist()
    )
    inv = sig.select("doc_id", F.explode("shh").alias("shingle"))
    freq = inv.groupBy("shingle").agg(
        F.count(F.lit(1)).cast("long").alias("dfreq")
    )
    ordered = (
        inv.join(freq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dfreq, shingle))), "
                "s -> s.shingle)"
            ).alias("ordered"),
            F.count(F.lit(1)).cast("long").alias("n_sh"),
        )
    )
    p_expr = (
        f"cast(n_sh - ((({threshold_num} * n_sh + {threshold_den} - 1) "
        f"div {threshold_den})) + 1 as int)"
    )
    # posexplode: prefix positions are positions in the full
    # rarest-first array (the prefix IS the array head), which the
    # PPJoin positional filter needs.
    prefixes = ordered.select(
        "doc_id",
        "n_sh",
        F.posexplode(F.expr(f"slice(ordered, 1, {p_expr})")).alias(
            "pos", "shingle"
        ),
    )
    # Both sides of the candidate self-join (and, through it, the
    # verify stage) consume `prefixes`; left lazy, the executed plan
    # re-derives the explode→dfreq→collect_list chain once per
    # consumer — measured 12 InMemoryTableScans of the signature
    # cache for one q_dedup_prefix_join run at sf0.1, because the
    # sf-small broadcast joins replicate the subtree instead of
    # reusing an exchange. One eager localCheckpoint of this narrow
    # (doc_id, n_sh, pos, shingle) frame caps the chain at a single
    # computation at every scale.
    prefixes = prefixes.localCheckpoint(eager=True)
    a, b = prefixes.alias("a"), prefixes.alias("b")
    num, den = threshold_num, threshold_den
    # Candidate pruning (PPJoin, Xiao et al. 2008 — both filters only
    # DISCARD pairs provably below threshold, so the exact verify
    # below still sees every true match):
    # - length filter: J(A,B) >= num/den forces num*|A| <= den*|B|
    #   and num*|B| <= den*|A|;
    # - positional filter: a pair first collides at 0-based prefix
    #   positions (i, j), so overlap <= 1 + min(|A|-i-1, |B|-j-1);
    #   J >= num/den needs (num+den)*overlap >= num*(|A|+|B|). A pair
    #   is kept if ANY generating collision passes, which includes
    #   its earliest collision — the one with the loosest bound — so
    #   no true match is lost. Measured at sf0.1: candidates drop
    #   118,806 -> near the 256 true matches, and the distinct +
    #   verify stages shrink with them.
    ubound = F.lit(1) + F.least(
        F.col("a.n_sh") - F.col("a.pos") - 1,
        F.col("b.n_sh") - F.col("b.pos") - 1,
    )
    cand = a.join(
        b,
        (F.col("a.shingle") == F.col("b.shingle"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (F.col("a.n_sh") * num <= F.col("b.n_sh") * den)
        & (F.col("b.n_sh") * num <= F.col("a.n_sh") * den)
        & (ubound * (num + den) >= (F.col("a.n_sh") + F.col("b.n_sh")) * num),
    ).select(
        F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
    )
    # Distinct BEFORE verify: a pair reaches the candidate set once
    # per surviving prefix collision. On natural corpora the
    # positional filter leaves a duplication factor of only ~1.1, but
    # on clique-heavy inputs (exact replicas share their WHOLE
    # prefix, positions aligned, so many collisions survive) the
    # round-7 sweep measured 11.2× at 20× data. The distinct is one
    # exchange of 16-byte (id_a, id_b) rows; each duplicate that
    # reaches verify instead ships two ~kB shingle arrays through the
    # join and pays an array_intersect — so dedup-first wins for any
    # duplication above ~2%, and caps verify work at the UNIQUE
    # candidate count regardless of clique structure.
    cand = cand.distinct()
    sa = sig.select(F.col("doc_id").alias("id_a"), F.col("shh").alias("shh_a"))
    sb = sig.select(F.col("doc_id").alias("id_b"), F.col("shh").alias("shh_b"))
    out = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.expr("size(array_intersect(shh_a, shh_b))").alias("n_common"),
            F.expr("size(shh_a) + size(shh_b)").alias("n_sum"),
        )
        .where(
            F.col("n_common") * threshold_den
            >= (F.col("n_sum") - F.col("n_common")) * threshold_num
        )
        .select(
            "id_a",
            "id_b",
            F.expr("round(n_common / (n_sum - n_common), 6)").alias("jaccard"),
        )
        # no output distinct needed: candidates are unique pairs, so
        # each (id_a, id_b) verifies exactly once
    )
    return sig, cand, out


def prefix_join_scaling_stats(df: DataFrame) -> dict:
    """Sweep diagnostic (VERDICT r6 item 6): DISTINCT candidate-pair
    count (post length+positional filters and the candidate dedup,
    pre exact-verify — exactly the rows the verify join pays for)
    next to the true-pair count, so a super-linear sweep point can be
    attributed to output growth vs prefix-filter decay."""
    sig, cand, out = _prefix_join_parts(df, "text", 4, 5)
    stats = {
        "n_candidates": cand.count(),
        "n_true_pairs": out.count(),
    }
    sig.unpersist()
    return stats


def minhash_scaling_stats(df: DataFrame) -> dict:
    """Sweep diagnostic twin for the LSH path: distinct band-bucket
    candidate pairs vs verified pairs."""
    sig = minhash_signatures(df).persist()
    bands = sig.select(
        "doc_id", F.explode(F.expr(spark_band_keys_expr())).alias("bk")
    )
    cand = band_candidates(bands).persist()
    n_cand = cand.count()
    sa = sig.select(F.col("doc_id").alias("id_a"), F.col("shh").alias("sh_a"))
    sb = sig.select(F.col("doc_id").alias("id_b"), F.col("shh").alias("sh_b"))
    n_true = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .where(
            F.expr(
                "round(size(array_intersect(sh_a, sh_b)) / "
                "(size(sh_a) + size(sh_b) - size(array_intersect(sh_a, sh_b))), 6)"
            )
            >= 0.8
        )
        .count()
    )
    cand.unpersist()
    sig.unpersist()
    return {"n_candidates": n_cand, "n_true_pairs": n_true}


def prefix_jaccard_join_oracle() -> str:
    """Brute-force quadratic twin — NO prefix filter, so a green row
    proves the pruned plan is exact, not approximately right."""
    return f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ),
        sig AS (
            SELECT doc_id, {duck_hashed_shingles_expr()} AS shh
            FROM toks WHERE len(toks) >= {SHINGLE_N}
        ),
        inv AS (SELECT doc_id, unnest(shh) AS shingle FROM sig),
        common AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
            FROM inv a JOIN inv b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT id_a, id_b,
               round(n_common * 1.0 /
                     (len(sa.shh) + len(sb.shh) - n_common), 6) AS jaccard
        FROM common
        JOIN sig sa ON id_a = sa.doc_id
        JOIN sig sb ON id_b = sb.doc_id
        WHERE n_common * 5
              >= (len(sa.shh) + len(sb.shh) - n_common) * 4
    """


# --- Span-level exact substring dedup (X1 span leg) ------------------------

SPAN_N = 8  # duplicated-span gram width, in whitespace tokens


def duplicated_spans(df: DataFrame, n: int = SPAN_N) -> DataFrame:
    """Span-level EXACT substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"):
    instead of dropping whole near-duplicate documents, find the
    duplicated *regions* — every maximal token span whose length-n
    grams each occur more than once in the corpus — so a trainer can
    excise repeated boilerplate while keeping the unique remainder.
    The doc-level families (exact/minhash/simhash above) can't see a
    paragraph pasted into otherwise-distinct documents; this can.

    Plan: one pass builds positional n-grams per document (pure
    per-row array arithmetic, codegen), ONE shuffle partitions by
    gram for the count window (the gram stream is computed and
    shuffled exactly once — measured 3-7× faster than the
    aggregate+join-back form at every sweep multiplier), then a
    per-document gaps-and-islands pass (shuffle by doc) merges
    consecutive duplicated positions into maximal spans: an island
    [s..e] of gram starts covers tokens [s, e+n-1], i.e.
    span_len = e-s+n. All arithmetic is integer positions and the
    gram equality is string-exact, so the DuckDB twin hash-matches
    bit-for-bit. The window form strands each gram's occurrences on
    one task, so a corpus with genuinely degenerate hot grams
    (10^9-occurrence boilerplate) makes that task the straggler.

    100 TB posture: the gram shuffles dominate and ship
    (doc_id, pos, gram); the standard refinement at scale shuffles
    xxhash64(gram) (8 bytes, 2^-64 collision odds) or re-verifies
    hash-bucket members — kept as strings here: the certified row is
    collision-free by construction AND the hashed form measured
    slower at this SF (r17 interleaved A/B, 4/5 pairs — hashing every
    gram costs more than the shuffle-byte saving locally). The
    reference has no span
    operator; this extends its doc-keyed dedup the way suffix-array
    dedup extends hash dedup (reference semantics anchor:
    ingestion/KafkaStreamsAggregator.java keys state by record,
    never by region)."""
    grams = positional_grams(df, n)
    dup = (
        grams.withColumn(
            "cnt", F.count(F.lit(1)).over(Window.partitionBy("gram"))
        )
        .where(F.col("cnt") > 1)
        .select("doc_id", "pos")
    )
    return positions_to_spans(dup, n)


def positional_grams(df: DataFrame, n: int = SPAN_N) -> DataFrame:
    """(doc_id, pos, gram) for every length-n token window; 1-based
    positions; docs shorter than n produce no rows."""
    ws = df.select(
        "doc_id",
        F.split(F.col("text"), " ").alias("ws"),
    )
    # slice(sequence(1, max(k,1)), 1, max(k,0)) = [1..k] or empty —
    # avoids sequence(1, 0), which Spark evaluates as DESCENDING.
    return ws.select(
        "doc_id",
        F.expr(
            f"""explode(transform(
                    slice(sequence(1, greatest(size(ws) - {n - 1}, 1)),
                          1, greatest(size(ws) - {n - 1}, 0)),
                    i -> struct(i AS pos,
                                array_join(slice(ws, i, {n}), ' ') AS gram)
                ))"""
        ).alias("g"),
    ).select(
        "doc_id", F.col("g.pos").alias("pos"), F.col("g.gram").alias("gram")
    )


def positions_to_spans(dup_positions: DataFrame, n: int = SPAN_N) -> DataFrame:
    """Gaps-and-islands merge of duplicated gram-start positions into
    maximal spans: island [s..e] covers tokens [s, e+n-1]."""
    isl = dup_positions.withColumn(
        "grp",
        F.col("pos")
        - F.row_number().over(Window.partitionBy("doc_id").orderBy("pos")),
    )
    return isl.groupBy("doc_id", "grp").agg(
        F.min("pos").cast("long").alias("span_start"),
        (F.max("pos") - F.min("pos") + n).cast("long").alias("span_len"),
    ).select("doc_id", "span_start", "span_len")


def duplicated_spans_oracle() -> str:
    """Same gram/window/island pipeline in DuckDB; integer positions
    and string grams make the hash comparison exact."""
    return f"""
        WITH w AS (
            SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        ),
        g AS (
            SELECT doc_id, CAST(i AS BIGINT) AS pos,
                   array_to_string(ws[i:i + {SPAN_N - 1}], ' ') AS gram
            FROM w, UNNEST(range(1, greatest(len(ws) - {SPAN_N - 1}, 0) + 1))
                     AS t(i)
        ),
        d AS (
            SELECT doc_id, pos FROM (
                SELECT doc_id, pos,
                       count(*) OVER (PARTITION BY gram) AS cnt
                FROM g
            ) WHERE cnt > 1
        ),
        isl AS (
            SELECT doc_id, pos,
                   pos - row_number() OVER (
                       PARTITION BY doc_id ORDER BY pos) AS grp
            FROM d
        )
        SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
               CAST(max(pos) - min(pos) + {SPAN_N} AS BIGINT) AS span_len
        FROM isl GROUP BY doc_id, grp
    """


# --- Blocked record linkage (entity resolution on structured rows) ---------

ER_PREFIX_LEN = 16  # blocking key: name prefix length
ER_MAX_EDIT = 1  # match rule: name edit distance ceiling


def record_linkage_pairs(
    df: DataFrame,
    field_cols: tuple[str, ...] = ("c_mktsegment",),
    other: DataFrame | None = None,
) -> DataFrame:
    """Blocked record linkage (Fellegi-Sunter 1969 deterministic
    form) over STRUCTURED entity rows — the MDM/entity-resolution
    counterpart of the document near-dup family above: candidate
    pairs come from an equality *blocking key* (here
    (nation, name-prefix)), matches are decided by a field-level
    agreement vector (name edit distance ≤ ``ER_MAX_EDIT``), and the
    agreement evidence ships in the output so a downstream survivor
    rule can pick golden records. Differs from edit_distance_pairs:
    blocking is deterministic multi-field equality (no probabilistic
    candidate stage to certify), and the unit is an entity row, not
    free text.

    Plan: ONE shuffle on the composite blocking key; the self-join
    explodes only within blocks, whose size is bounded by the key
    design (≤ 10^(18-``ER_PREFIX_LEN``) names per nation here) — the
    classic blocking guarantee that makes pairwise linkage feasible
    at 100 TB where the unblocked cross product is n². Levenshtein
    runs JVM-side (codegen) on candidate pairs only. Integer
    distances and agreement counts keep the oracle hash exact."""
    def _sel(frame: DataFrame) -> DataFrame:
        return frame.select(
            F.col("c_custkey").alias("id"),
            F.col("c_name").alias("name"),
            F.col("c_nationkey").cast("long").alias("blk"),
            F.substring(F.col("c_name"), 1, ER_PREFIX_LEN).alias("pfx"),
            *[F.col(c) for c in field_cols],
        )

    sel = _sel(df)

    a = sel.alias("a")
    # other=None: self-linkage, id < id dedupes unordered pairs.
    # other given: CROSS linkage A×B over DISJOINT id sets (the CDC/
    # streaming delta rule ΔB×state) — each unordered pair appears
    # exactly once, so the output is normalized with least/greatest
    # instead of the inequality.
    b = (_sel(other) if other is not None else sel).alias("b")
    cond = (F.col("a.blk") == F.col("b.blk")) & (
        F.col("a.pfx") == F.col("b.pfx")
    )
    if other is None:
        cond = cond & (F.col("a.id") < F.col("b.id"))
    pairs = a.join(b, cond)
    dist = F.levenshtein(F.col("a.name"), F.col("b.name"))
    n_agree = None
    for c in field_cols:
        term = (F.col(f"a.{c}") == F.col(f"b.{c}")).cast("long")
        n_agree = term if n_agree is None else n_agree + term
    return (
        pairs.where(dist <= ER_MAX_EDIT)
        .select(
            F.least(F.col("a.id"), F.col("b.id"))
            .cast("long")
            .alias("id_a"),
            F.greatest(F.col("a.id"), F.col("b.id"))
            .cast("long")
            .alias("id_b"),
            dist.cast("long").alias("name_dist"),
            (n_agree if n_agree is not None else F.lit(0))
            .cast("long")
            .alias("fields_agree"),
        )
    )


def record_linkage_oracle() -> str:
    return f"""
        SELECT CAST(a.c_custkey AS BIGINT) AS id_a,
               CAST(b.c_custkey AS BIGINT) AS id_b,
               CAST(levenshtein(a.c_name, b.c_name) AS BIGINT)
                   AS name_dist,
               CAST(CASE WHEN a.c_mktsegment = b.c_mktsegment
                         THEN 1 ELSE 0 END AS BIGINT) AS fields_agree
        FROM customer a JOIN customer b
          ON a.c_nationkey = b.c_nationkey
         AND substring(a.c_name, 1, {ER_PREFIX_LEN})
             = substring(b.c_name, 1, {ER_PREFIX_LEN})
         AND a.c_custkey < b.c_custkey
        WHERE levenshtein(a.c_name, b.c_name) <= {ER_MAX_EDIT}
    """


def entity_golden(df: DataFrame, algorithm: str = "auto") -> DataFrame:
    """End-to-end MDM resolution on top of record_linkage_pairs:
    matched pairs → transitive closure → one entity_id per cluster
    (the component minimum) → golden-record SURVIVORSHIP (the
    deterministic min-key rule; real deployments swap in
    recency/completeness scoring, the plumbing is identical). Output
    one row per input record: (id, entity_id, is_survivor) —
    singletons are their own entity and survivor, so the table is a
    total assignment, not just the matched subset.

    Scale shape: the pair graph lives INSIDE blocks (record linkage's
    blocking guarantee bounds both edge count and component
    diameter), so closure is the same :func:`_closure` as
    dedup_components — collected union-find with the min-id fixpoint,
    broadcast back; at edge counts beyond the driver cap, or with
    ``algorithm="alternating"``, the large-star/small-star solver
    substitutes with the identical fixpoint (certified against the
    same recursive-CTE oracle shape). Any other ``algorithm`` raises
    ValueError before any Spark job."""
    _check_algorithm(algorithm)
    pairs = record_linkage_pairs(
        df,
    ).select("id_a", "id_b")
    base = df.select(F.col("c_custkey").cast("long").alias("id"))
    return _closure(pairs, base, "id", algorithm).select(
        "id",
        F.coalesce(F.col("comp"), F.col("id")).alias("entity_id"),
    ).withColumn(
        "is_survivor", (F.col("id") == F.col("entity_id")).cast("long")
    )


def entity_golden_oracle() -> str:
    """Min-reachable-id transitive closure over the SAME blocked
    linkage pairs, as a recursive CTE."""
    return f"""
        WITH RECURSIVE pairs AS ({record_linkage_oracle()}),
        edges AS (
            SELECT id_a AS u, id_b AS v FROM pairs
            UNION
            SELECT id_b, id_a FROM pairs
        ),
        reach(u, v) AS (
            SELECT u, v FROM edges
            UNION
            SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
        ),
        comp AS (SELECT u, min(v) AS mn FROM reach GROUP BY u)
        SELECT CAST(c.c_custkey AS BIGINT) AS id,
               CAST(coalesce(least(k.mn, c.c_custkey), c.c_custkey)
                    AS BIGINT) AS entity_id,
               CAST(CASE WHEN coalesce(least(k.mn, c.c_custkey),
                                       c.c_custkey) = c.c_custkey
                         THEN 1 ELSE 0 END AS BIGINT) AS is_survivor
        FROM customer c LEFT JOIN comp k ON c.c_custkey = k.u
    """


SPLIT_BUCKETS = (8, 9)  # train < 8 ≤ val < 9 ≤ test, of 10


def leakage_safe_split(df: DataFrame) -> DataFrame:
    """Train/val/test split that cannot leak near-duplicates across
    splits: the split is a deterministic function of the NEAR-DUP
    COMPONENT (md5 of the component label, 8/1/1 buckets), so every
    member of a clique lands in the same split by construction —
    the corpus-hygiene step that stops eval contamination when a
    test document's near-copy sits in train (the failure mode
    doc-level hash splits have; Lee et al. 2022 "Deduplicating
    Training Data Makes Language Models Better" documents the
    effect).

    Output: one row per split with doc/component counts and an
    id-checksum (membership certified, not just sizes), plus two
    GLOBAL diagnostics on every row: ``naive_leaky_components`` —
    how many components a DOC-level md5 split would have straddled
    across splits (the leak this operator exists to prevent,
    value-matched against the oracle's own recomputation) — and
    ``leakage_free``, the implementation invariant max(distinct
    splits per component) = 1 recomputed from the doc-level
    assignment (a buggy join that hashed doc ids instead of
    component labels flips it).

    Plan: components come from the certified LSH → verify →
    components path (the corpus never self-joins); after that
    everything is component-keyed aggregates — one groupBy per
    diagnostic, splits derived map-side from md5. At 100 TB the
    split column is a pure projection over the components output;
    no new shuffle shape beyond dedup_components itself."""
    threshold = 0.8
    from kafka_streams_pipeline_spark.functions.hashing import md5_long

    comp = dedup_components(
        df, threshold=threshold
    )

    def bucket(col: Column) -> Column:
        return (
            md5_long(F.concat(F.lit("split:"), col.cast("string"))) % 10
        )

    def to_split(b: Column) -> Column:
        return (
            F.when(b < SPLIT_BUCKETS[0], "train")
            .when(b < SPLIT_BUCKETS[1], "val")
            .otherwise("test")
        )

    base = comp.select(
        F.col("doc_id"),
        "component",
        to_split(bucket(F.col("component"))).alias("split"),
        to_split(bucket(F.col("doc_id"))).alias("naive_split"),
    )
    per_comp = base.groupBy("component").agg(
        F.countDistinct("split").alias("n_splits"),
        F.countDistinct("naive_split").alias("n_naive"),
    )
    diag = per_comp.agg(
        (F.max("n_splits") == 1).alias("leakage_free"),
        F.sum((F.col("n_naive") > 1).cast("long")).alias(
            "naive_leaky_components"
        ),
    )
    per_split = base.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("component").cast("long").alias("n_components"),
        F.sum("doc_id").cast("long").alias("doc_checksum"),
    )
    return (
        per_split.crossJoin(F.broadcast(diag))
        .select(
            "split",
            "n_docs",
            "n_components",
            "doc_checksum",
            "naive_leaky_components",
            "leakage_free",
        )
        .orderBy("split")
    )


def leakage_safe_split_oracle() -> str:
    from kafka_streams_pipeline_spark.functions.hashing import (
        md5_long_sql,
    )

    b_comp = md5_long_sql("'split:' || CAST(component AS VARCHAR)")
    b_doc = md5_long_sql("'split:' || CAST(doc_id AS VARCHAR)")
    return f"""
        WITH RECURSIVE pairs AS ({minhash_pairs_oracle()}),
        edges AS (
            SELECT id_a AS u, id_b AS v FROM pairs
            UNION
            SELECT id_b, id_a FROM pairs
        ),
        reach(u, v) AS (
            SELECT u, v FROM edges
            UNION
            SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
        ),
        comp AS (SELECT u, min(v) AS mn FROM reach GROUP BY u),
        assign AS (
            SELECT d.doc_id,
                   CAST(coalesce(least(c.mn, d.doc_id), d.doc_id)
                        AS BIGINT) AS component
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.u
        ),
        lab AS (
            SELECT doc_id, component,
                   CASE WHEN {b_comp} % 10 < {SPLIT_BUCKETS[0]}
                        THEN 'train'
                        WHEN {b_comp} % 10 < {SPLIT_BUCKETS[1]}
                        THEN 'val' ELSE 'test' END AS split,
                   CASE WHEN {b_doc} % 10 < {SPLIT_BUCKETS[0]}
                        THEN 'train'
                        WHEN {b_doc} % 10 < {SPLIT_BUCKETS[1]}
                        THEN 'val' ELSE 'test' END AS naive_split
            FROM assign
        ),
        per_comp AS (
            SELECT component,
                   count(DISTINCT split) AS n_splits,
                   count(DISTINCT naive_split) AS n_naive
            FROM lab GROUP BY component
        ),
        diag AS (
            SELECT (max(n_splits) = 1) AS leakage_free,
                   CAST(sum(CASE WHEN n_naive > 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS naive_leaky_components
            FROM per_comp
        )
        SELECT split,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT component) AS BIGINT) AS n_components,
               CAST(sum(doc_id) AS BIGINT) AS doc_checksum,
               (SELECT naive_leaky_components FROM diag)
                   AS naive_leaky_components,
               (SELECT leakage_free FROM diag) AS leakage_free
        FROM lab
        GROUP BY split
    """
