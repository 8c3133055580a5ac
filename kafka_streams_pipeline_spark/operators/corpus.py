"""Corpus-hygiene operators for LLM training-data pipelines.

Extension surface beyond the reference (SURVEY.md §2.9): the cleanup
passes a large-scale pretraining pipeline runs between raw ingest and
tokenization — boilerplate removal, split-contamination detection,
and reproducible stratified sampling. All three follow the repo's
oracle conventions: md5-based portable hashing (identical in Spark
and DuckDB), integer counting, and at most one deterministic float
division per output row.

Scale posture: every shuffle below carries (doc_id, 32-char md5)
pairs or per-group counters — never document text — so the wire cost
at 100 TB is a few percent of the corpus, and all joins key on
uniformly-distributed hashes (no skew by construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kafka_streams_pipeline_spark.functions.hashing import (
    md5_long,
    md5_long_sql,
)

# Words per boilerplate chunk (CCNet uses paragraphs; the fixture's
# documents are flat word streams, so segmentation is fixed-width).
CHUNK_W = 8
# Words per contamination shingle (WMT/GPT-style 8-13-gram overlap).
SHINGLE_W = 12
# Docs per language kept by the stratified sampler.
STRATUM_N = 20


def chunk_dedup(df: DataFrame) -> DataFrame:
    """Boilerplate removal by corpus-wide chunk dedup (CCNet-style:
    Wenzek et al. 2020 dedup paragraphs by hash; here the unit is a
    fixed 8-word chunk because the fixture has no newlines).

    Every document is segmented into consecutive 8-word chunks; a
    chunk whose md5 appears in ≥2 DISTINCT documents is boilerplate.
    Returns per-document counts: total chunks, boilerplate chunks,
    and words surviving the filter — the numbers a pipeline needs to
    decide whether a document is worth keeping at all.

    Plan shape: one scan → explode to (doc_id, chunk_hash, n_words)
    → hash-partitioned frequency count → hash join back → per-doc
    re-aggregate. Text is dropped before the first shuffle; both
    shuffles move 8-byte ids + 32-char hashes. The chunk-frequency
    side is a classic heavy-hitter aggregate: partial (map-side)
    count_distinct collapses repeated chunks inside each partition
    before the exchange."""
    d = df.select("doc_id", F.split(F.col("text"), " ").alias("ws"))
    chunked = d.select(
        "doc_id",
        F.expr(
            f"""
            explode(transform(
                sequence(0, cast(floor((size(ws) - 1) / {CHUNK_W}) as int)),
                i -> struct(
                    md5(array_join(slice(ws, i * {CHUNK_W} + 1, {CHUNK_W}), ' '))
                        as chash,
                    size(slice(ws, i * {CHUNK_W} + 1, {CHUNK_W})) as n_words)))
            """
        ).alias("c"),
    ).select("doc_id", "c.chash", "c.n_words")
    freq = chunked.groupBy("chash").agg(
        F.count_distinct("doc_id").alias("ndocs")
    )
    return (
        chunked.join(freq, "chash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("ndocs") >= 2, 1).otherwise(0)).alias(
                "n_boiler"
            ),
            F.sum(
                F.when(F.col("ndocs") < 2, F.col("n_words")).otherwise(0)
            ).alias("kept_words"),
        )
    )


def chunk_dedup_oracle() -> str:
    return f"""
        WITH ws AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        chunks AS (
            SELECT doc_id,
                   md5(array_to_string(
                       w[(i * {CHUNK_W} + 1):(i * {CHUNK_W} + {CHUNK_W})],
                       ' ')) AS chash,
                   len(w[(i * {CHUNK_W} + 1):(i * {CHUNK_W} + {CHUNK_W})])
                       AS n_words
            FROM ws,
                 LATERAL unnest([ii FOR ii IN
                                 range(0, ((len(w) - 1) // {CHUNK_W}) + 1)])
                     AS t(i)
        ),
        freq AS (
            SELECT chash, count(DISTINCT doc_id) AS ndocs
            FROM chunks GROUP BY chash
        )
        SELECT doc_id,
               count(*) AS n_chunks,
               CAST(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_boiler,
               CAST(sum(CASE WHEN ndocs < 2 THEN n_words ELSE 0 END)
                    AS BIGINT) AS kept_words
        FROM chunks JOIN freq USING (chash)
        GROUP BY doc_id
    """


def _split_bucket_spark() -> F.Column:
    """Same salted split as q_hash_split — membership is a pure
    function of doc_id, so 'train' here is exactly q_hash_split's
    train at any scale."""
    return (
        md5_long(F.concat(F.lit("split:"), F.col("doc_id").cast("string")))
        % 100
    )


def _split_bucket_sql() -> str:
    inner = md5_long_sql("'split:' || CAST(doc_id AS VARCHAR)")
    return f"{inner} % 100"


def contamination(df: DataFrame) -> DataFrame:
    """Train/eval contamination check: which held-out documents share
    a 12-word shingle with the training split (the overlap test run
    before trusting any benchmark number — e.g. GPT-3 appendix C /
    Dodge et al. 2021, n-gram collision between train and eval).

    Splits reuse q_hash_split's salted-md5 assignment (train =
    bucket < 80, eval = bucket ≥ 90). Each document contributes its
    DISTINCT shingle hashes; an eval shingle is contaminated when the
    same hash occurs anywhere in train. Output: per eval doc, total
    distinct shingles, contaminated count, and their ratio.

    Plan shape: both sides reduce to (hash) / (doc_id, hash) sets
    before a left-semi-style hash join — text never shuffles, the
    train side collapses to DISTINCT hashes (map-side partial
    distinct), and the join keys are uniform md5 values. The
    contaminated count is an integer; the single float division per
    row is deterministic."""
    # sequence(0, greatest(size-W, 0)) emits one shingle even for
    # docs shorter than W words — consistent on both engines.
    shingles = df.select(
        "doc_id",
        _split_bucket_spark().alias("bucket"),
        F.explode(
            F.expr(
                f"""
                array_distinct(transform(
                    sequence(0, greatest(size(split(text, ' '))
                                         - {SHINGLE_W}, 0)),
                    i -> md5(array_join(
                        slice(split(text, ' '), i + 1, {SHINGLE_W}),
                        ' '))))
                """
            )
        ).alias("shash"),
    )
    train = (
        shingles.where(F.col("bucket") < 80).select("shash").distinct()
    )
    ev = shingles.where(F.col("bucket") >= 90).select("doc_id", "shash")
    hits = ev.join(train.withColumn("hit", F.lit(1)), "shash", "left")
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_contaminated"),
        F.round(
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            / F.count(F.lit(1)),
            6,
        ).alias("contam_frac"),
    )


def contamination_oracle() -> str:
    return f"""
        WITH sh AS (
            SELECT doc_id,
                   {_split_bucket_sql()} AS bucket,
                   unnest(list_distinct(
                       [md5(array_to_string(w[(i + 1):(i + {SHINGLE_W})], ' '))
                        FOR i IN range(0, greatest(len(w) - {SHINGLE_W}, 0) + 1)]
                   )) AS shash
            FROM (SELECT doc_id, string_split(text, ' ') AS w
                  FROM documents)
        ),
        train AS (
            SELECT DISTINCT shash FROM sh WHERE bucket < 80
        ),
        ev AS (
            SELECT doc_id, shash FROM sh WHERE bucket >= 90
        )
        SELECT ev.doc_id,
               count(*) AS n_shingles,
               CAST(sum(CASE WHEN train.shash IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_contaminated,
               round(sum(CASE WHEN train.shash IS NOT NULL
                              THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
                   AS contam_frac
        FROM ev LEFT JOIN train ON ev.shash = train.shash
        GROUP BY ev.doc_id
    """


def stratified_sample(df: DataFrame) -> DataFrame:
    """Reproducible stratified sampling: the top-N documents per
    language by salted doc_id hash. Because the rank key is a pure
    function of doc_id, the sample is identical across runs, engines,
    and partitionings — the property a data-mixture needs so that
    re-building the corpus does not silently change training data
    (rand()-based sampling has none of these guarantees).

    The per-stratum rank is a window over lang (5 strata here). At
    real corpus scale a global sort per language would funnel each
    language through one task; the scalable refinement — documented,
    not needed at fixture scale — is a two-pass threshold: sample the
    hash distribution, broadcast an approximate per-language cutoff
    that keeps ~1.2N rows, THEN rank only the survivors. The rank
    math and the output are unchanged, which is why the window form
    is the declared semantic."""
    h = md5_long(F.concat(F.lit("samp:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy(
        F.col("samp_key").asc(), F.col("doc_id").asc()
    )
    return (
        df.select("doc_id", "lang", h.alias("samp_key"))
        .withColumn("samp_rank", F.row_number().over(w))
        .where(F.col("samp_rank") <= STRATUM_N)
        .select("doc_id", "lang", "samp_rank")
    )


def stratified_sample_oracle() -> str:
    key = md5_long_sql("'samp:' || CAST(doc_id AS VARCHAR)")
    return f"""
        SELECT doc_id, lang, samp_rank
        FROM (
            SELECT doc_id, lang,
                   row_number() OVER (
                       PARTITION BY lang
                       ORDER BY {key} ASC, doc_id ASC) AS samp_rank
            FROM documents
        )
        WHERE samp_rank <= {STRATUM_N}
    """


# Training-worker shards per epoch-shuffle pass (the fixture-scale
# stand-in for the worker count of a distributed training job).
EPOCH_SHARDS = 8


def epoch_shuffle(df: DataFrame, epoch: int = 1) -> DataFrame:
    """Deterministic per-epoch training order: assign every document
    a (shard, pos) for epoch ``epoch`` as a pure function of
    (epoch, doc_id) — the reproducible global reshuffle a distributed
    training run performs between epochs. shard = salted-hash mod
    ``EPOCH_SHARDS`` (each epoch re-shards, the standard full-reshuffle
    semantics); pos = dense rank of the salted hash within the shard,
    tie-broken on doc_id. Because the permutation is a pure function
    of the ids, a preempted or re-run job resumes with bit-identical
    data order — the property ``rand()``-seeded shuffles lose the
    moment partitioning changes.

    Scale shape: one shuffle keyed on the uniformly-distributed
    shard, then a per-shard window — parallel across the worker
    count, no global sort. At 100 TB/shard the documented refinement
    is vocab_build's two-phase rank (range-repartition the shard by
    hash, per-partition row_number, broadcast prefix-sum offsets);
    the rank math and output are unchanged, which is why the window
    form is the declared semantic."""
    h = md5_long(
        F.concat(
            F.lit(f"epoch:{epoch}:"), F.col("doc_id").cast("string")
        )
    )
    w = Window.partitionBy("shard").orderBy(
        F.col("ekey").asc(), F.col("doc_id").asc()
    )
    return (
        df.select("doc_id", h.alias("ekey"))
        .withColumn("shard", (F.col("ekey") % EPOCH_SHARDS).cast("long"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select("doc_id", "shard", "pos")
    )


def epoch_shuffle_oracle() -> str:
    key = md5_long_sql("'epoch:1:' || CAST(doc_id AS VARCHAR)")
    return f"""
        SELECT doc_id, shard,
               CAST(row_number() OVER (
                   PARTITION BY shard
                   ORDER BY ekey ASC, doc_id ASC) AS BIGINT) AS pos
        FROM (
            SELECT doc_id, {key} AS ekey,
                   CAST(({key}) % {EPOCH_SHARDS} AS BIGINT) AS shard
            FROM documents
        )
    """


def systematic_weighted_sample(df: DataFrame, n: int) -> DataFrame:
    """Deterministic weighted sampling with EXACT total multiplicity:
    systematic (grid) resampling over integer weights — the particle-
    filter resampler, used here to draw training-mixture quotas where
    every engine, every run, and every retry must pick the identical
    sample. Items are laid out on a [0, W) line in salted-hash order
    (the standard decorrelation fix for systematic sampling's
    periodicity hazard — adjacency in the data must not survive into
    adjacency on the line), each owning a [a_i, a_i + w_i) segment;
    ``n`` gridpoints at odd multiples of W/(2n) select items with
    multiplicity = gridpoints inside the segment. Σ copies == n
    EXACTLY (telescoping of the floor counts), heavy items can draw
    multiple copies (correct mixture semantics), and everything is
    BIGINT: selection never touches a float, so Spark and DuckDB
    agree bit-for-bit. Overflow budget: 2·n·W + W < 2^63.

    Non-positive weights FAIL the query (``raise_error`` in the
    plan, ``error()`` in the oracle; ADVICE r9): a zero/negative
    weight would otherwise shrink the [0, W) line and silently
    corrupt neighbouring segments' copy counts while the run
    appeared to succeed. The failure is data-dependent and raised
    from inside the prefix-sum projection, so no extra pass over
    the input is spent checking.

    Scale shape: the exclusive prefix-sum is one global-order window
    (range shuffle, no global sort buffer); at 100 TB the documented
    refinement is the two-phase prefix sum (per-partition sums,
    broadcast offsets) with identical arithmetic. Weights must be
    positive: zero/negative rows are rejected loudly rather than
    silently dropped."""
    if n < 1:
        raise ValueError(f"sample size must be >= 1, got {n}")
    h = md5_long(F.concat(F.lit("swsamp:"), F.col("doc_id").cast("string")))
    w_guarded = F.when(
        F.col("n_chars").cast("long") <= 0,
        F.raise_error(
            F.concat(
                F.lit("systematic_weighted_sample: non-positive weight "),
                F.col("n_chars").cast("string"),
                F.lit(" in 'n_chars' at doc_id="),
                F.col("doc_id").cast("string"),
            )
        ).cast("long"),
    ).otherwise(F.col("n_chars").cast("long"))
    w_ord = Window.orderBy(F.col("h").asc(), F.col("doc_id").asc())
    lined = (
        df.select(
            F.col("doc_id"),
            w_guarded.alias("w"),
            h.alias("h"),
        )
        .withColumn(
            "a",
            F.coalesce(
                F.sum("w").over(
                    w_ord.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).cast("long"),
        )
        .withColumn("b", (F.col("a") + F.col("w")).cast("long"))
    )
    total = lined.agg(F.sum("w").cast("long").alias("wtot"))
    # copies in [a,b): f(2n·b) − f(2n·a) with f(y) = (y+W) div 2W =
    # |{k ≥ 0 : (2k+1)·W ≤ y}| — gridpoints at odd multiples of W/2n
    counted = lined.crossJoin(F.broadcast(total)).select(
        "doc_id",
        F.col("w"),
        (
            F.expr(f"({2 * n}L * b + wtot) div (2 * wtot)")
            - F.expr(f"({2 * n}L * a + wtot) div (2 * wtot)")
        )
        .cast("long")
        .alias("copies"),
    )
    return counted.where(F.col("copies") >= 1)


def systematic_weighted_sample_oracle(n: int) -> str:
    h = md5_long_sql("'swsamp:' || CAST(doc_id AS VARCHAR)")
    guarded = (
        "CASE WHEN CAST(n_chars AS BIGINT) <= 0 THEN "
        f"CAST(error('systematic_weighted_sample: non-positive weight at '"
        " || doc_id) AS BIGINT) ELSE CAST(n_chars AS BIGINT) END"
    )
    return f"""
        WITH lined AS (
            SELECT doc_id, {guarded} AS w,
                   CAST(coalesce(sum({guarded}) OVER (
                       ORDER BY {h} ASC, doc_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS a
            FROM documents
        ),
        tot AS (SELECT CAST(sum(w) AS BIGINT) AS wtot FROM lined)
        SELECT doc_id, w,
               CAST((({2 * n}::BIGINT * (a + w) + wtot) // (2 * wtot))
                  - (({2 * n}::BIGINT * a + wtot) // (2 * wtot)) AS BIGINT)
                   AS copies
        FROM lined, tot
        WHERE (({2 * n}::BIGINT * (a + w) + wtot) // (2 * wtot))
            - (({2 * n}::BIGINT * a + wtot) // (2 * wtot)) >= 1
    """


# mean CDC chunk length = CDC_DIVISOR words (boundary probability
# 1/CDC_DIVISOR per token)
CDC_DIVISOR = 8


def cdc_chunk_dedup(df: DataFrame) -> DataFrame:
    """CONTENT-DEFINED chunk dedup — the shift-robust complement to
    :func:`chunk_dedup`: chunk boundaries are declared by token
    CONTENT (tokens whose salted hash ≡ 0 mod ``CDC_DIVISOR`` start
    a new chunk — word-level gear/Rabin CDC, the same idea backup
    dedup and LSH shingling use), so inserting one word near the
    top of a near-copy re-synchronizes at the next boundary and the
    downstream chunks still dedup — where fixed-width segmentation
    shifts EVERY subsequent chunk and finds nothing (the property
    the pytest constructs). Same outputs as chunk_dedup: per-doc
    total chunks, boilerplate chunks (md5 in ≥2 distinct docs),
    surviving words.

    Plan shape: token explode → per-document prefix-sum window (the
    chunk id — partitioned by doc_id, so fully parallel across
    documents) → per-chunk md5 → the same two hash-shuffle legs as
    chunk_dedup. Text leaves the plan at the chunk-hash boundary."""
    flag = (
        md5_long(F.concat(F.lit("cdc:"), F.col("w"))) % CDC_DIVISOR == 0
    ).cast("long")
    toks = df.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "w"),
    ).withColumn("flag", flag)
    w_doc = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cid = toks.withColumn("cid", F.sum("flag").over(w_doc))
    chunks = cid.groupBy("doc_id", "cid").agg(
        F.md5(
            F.array_join(
                F.expr(
                    "transform(array_sort(collect_list(struct(pos, w))),"
                    " x -> x.w)"
                ),
                " ",
            )
        ).alias("chash"),
        F.count(F.lit(1)).alias("n_words"),
    )
    freq = chunks.groupBy("chash").agg(
        F.count_distinct("doc_id").alias("ndocs")
    )
    return (
        chunks.join(freq, "chash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("ndocs") >= 2, 1).otherwise(0)).alias(
                "n_boiler"
            ),
            F.sum(
                F.when(F.col("ndocs") < 2, F.col("n_words")).otherwise(0)
            ).alias("kept_words"),
        )
    )


def cdc_chunk_dedup_oracle() -> str:
    h = md5_long_sql("'cdc:' || u.w")
    return f"""
        WITH toks AS (
            SELECT doc_id, u.pos, u.w,
                   CASE WHEN ({h}) % {CDC_DIVISOR} = 0
                        THEN 1 ELSE 0 END AS flag
            FROM (SELECT doc_id,
                         unnest([{{'pos': i, 'w': ws[i]}}
                                 FOR i IN range(1, len(ws) + 1)]) AS u
                  FROM (SELECT doc_id, string_split(text, ' ') AS ws
                        FROM documents))
        ),
        cids AS (
            SELECT doc_id, pos, w,
                   sum(flag) OVER (PARTITION BY doc_id ORDER BY pos
                                   ROWS UNBOUNDED PRECEDING) AS cid
            FROM toks
        ),
        chunks AS (
            SELECT doc_id, cid,
                   md5(string_agg(w, ' ' ORDER BY pos)) AS chash,
                   count(*) AS n_words
            FROM cids GROUP BY doc_id, cid
        ),
        freq AS (
            SELECT chash, count(DISTINCT doc_id) AS ndocs
            FROM chunks GROUP BY chash
        )
        SELECT doc_id,
               count(*) AS n_chunks,
               CAST(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_boiler,
               CAST(sum(CASE WHEN ndocs < 2 THEN n_words ELSE 0 END)
                    AS BIGINT) AS kept_words
        FROM chunks JOIN freq USING (chash)
        GROUP BY doc_id
    """


# constant expansion bound for the manifest oracle's multiplicity
# unnest (DuckDB generate_series cannot take a lateral column bound —
# round-2 lesson); systematic sampling caps per-item copies at
# ceil(n·w_max/W)+1, far below this for any real weight skew
MANIFEST_MAX_COPIES = 64


def epoch_manifest(df: DataFrame, n_draws: int, epoch: int = 1) -> DataFrame:
    """The SELECTION flagship composing the round's sampling pieces
    into the artifact a training run actually consumes: an EPOCH
    MANIFEST — exactly ``n_draws`` (document, copy) slots, drawn by
    systematic weighted sampling (heavy documents legitimately
    appear multiple times — each copy is a distinct slot), laid out
    in a deterministic epoch-specific (shard, pos) order via the
    salted-hash reshuffle. Every stage is a pure function of
    (epoch, ids, weights): a preempted run rebuilds the identical
    manifest, and epoch 2's manifest is a fresh permutation of a
    fresh draw. Composition: systematic_weighted_sample →
    multiplicity expansion (posexplode over the copies sequence) →
    per-(doc, copy) salted shard/pos — one weight-line window + one
    shard-keyed window, no global sort.

    Copies beyond ``MANIFEST_MAX_COPIES`` fail loudly rather than
    silently truncating the draw (a weight so dominant it exceeds
    the bound deserves a mixture-design review, not a quiet cap)."""
    sample = systematic_weighted_sample(df, n_draws)
    expanded = (
        sample.where(F.col("copies") >= 1)
        .select(
            "doc_id",
            F.explode(
                F.when(
                    F.col("copies") <= MANIFEST_MAX_COPIES,
                    F.sequence(F.lit(1), F.col("copies")),
                ).otherwise(
                    F.raise_error(
                        F.concat(
                            F.lit("copies exceeds manifest bound: "),
                            F.col("copies").cast("string"),
                        )
                    )
                )
            ).alias("copy"),
        )
    )
    k = md5_long(
        F.concat(
            F.lit(f"em:{epoch}:"),
            F.col("doc_id").cast("string"),
            F.lit(":"),
            F.col("copy").cast("string"),
        )
    )
    w_shard = Window.partitionBy("shard").orderBy(
        F.col("k").asc(), F.col("doc_id").asc(), F.col("copy").asc()
    )
    return (
        expanded.withColumn("k", k)
        .withColumn("shard", (F.col("k") % EPOCH_SHARDS).cast("long"))
        .withColumn("pos", F.row_number().over(w_shard).cast("long"))
        .select("doc_id", "copy", "shard", "pos")
    )


def epoch_manifest_oracle(n_draws: int) -> str:
    key = md5_long_sql(
        "'em:1:' || CAST(doc_id AS VARCHAR) || ':' "
        "|| CAST(copy AS VARCHAR)"
    )
    return f"""
        WITH sam AS (
            {systematic_weighted_sample_oracle(n_draws)}
        ),
        expanded AS (
            SELECT doc_id, c AS copy
            FROM sam,
                 unnest([x FOR x IN range(1, {MANIFEST_MAX_COPIES + 1})])
                     AS t(c)
            WHERE sam.copies >= 1 AND c <= sam.copies
        ),
        keyed AS (
            SELECT doc_id, copy, {key} AS k FROM expanded
        )
        SELECT doc_id, copy,
               CAST(k % {EPOCH_SHARDS} AS BIGINT) AS shard,
               CAST(row_number() OVER (
                   PARTITION BY k % {EPOCH_SHARDS}
                   ORDER BY k ASC, doc_id ASC, copy ASC) AS BIGINT) AS pos
        FROM keyed
    """


# --- Deterministic negative sampling ----------------------------------------

NEG_K = 4


def negative_samples(df: DataFrame) -> DataFrame:
    """K pseudo-random NEGATIVES per anchor for contrastive training
    (in-batch negatives' distributed cousin): draw j ∈ [0, k) maps
    anchor ``a`` to the document at dense index
    ``md5(neg:a:j) mod N`` — a pure function of (a, j), with
    k = ``NEG_K``, so
    every engine, retry, and re-run draws the identical negatives
    (the property ``rand()`` sampling loses on re-partitioning).
    Returns (anchor_id, j, negative_id), ascending; a draw that hits
    its own anchor is DROPPED (documented: ≤ k negatives per anchor,
    expected loss k/N — the contrastive-training convention is to
    tolerate a short row rather than re-draw and correlate draws).

    Scale shape: the dense index is a TWO-PHASE rank over the id
    frame (ids only — never payloads), the same pattern as
    ``shard_balance``/``vocab_build``: range-repartition on id →
    per-partition ``row_number`` in parallel → offset by the
    ≤ n_partitions-row exclusive prefix sum, broadcast back. No
    Exchange SinglePartition anywhere — no single task ever sorts
    the corpus's ids. Anchors explode ×k (integers), and the draw
    resolves with ONE shuffle join of (hash mod N) against the
    indexed id frame. Payload columns never move — join negatives'
    payloads on ``negative_id`` afterwards, where the training job
    already shuffles by example."""
    spark = df.sparkSession
    n_total = df.count()  # 1-row scalar; also the mod base
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    ids = df.select(F.col("doc_id").alias("nid"))
    sliced = ids.repartitionByRange(
        n_parts, F.col("nid").asc()
    ).withColumn("_pid", F.spark_partition_id())
    local = sliced.withColumn(
        "_local_rank",
        F.row_number().over(
            Window.partitionBy("_pid").orderBy(F.col("nid").asc())
        ),
    )
    sizes = sliced.groupBy("_pid").agg(F.count(F.lit(1)).alias("_psz"))
    offsets = sizes.select(
        "_pid",
        F.coalesce(
            F.sum("_psz").over(
                Window.orderBy("_pid").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("_offset"),
    )
    indexed = local.join(F.broadcast(offsets), "_pid").select(
        "nid",
        (F.col("_offset") + F.col("_local_rank") - 1)
        .cast("long")
        .alias("idx"),
    )
    draws = (
        df.select(F.col("doc_id").alias("anchor_id"))
        .select(
            "anchor_id",
            F.explode(
                F.sequence(F.lit(0), F.lit(NEG_K - 1))
            ).alias("j"),
        )
        .select(
            "anchor_id",
            F.col("j").cast("long").alias("j"),
            (
                md5_long(
                    F.concat(
                        F.lit("neg:"),
                        F.col("anchor_id").cast("string"),
                        F.lit(":"),
                        F.col("j").cast("string"),
                    )
                )
                % n_total
            ).alias("idx"),
        )
    )
    return (
        draws.join(indexed, "idx")
        .where(F.col("anchor_id") != F.col("nid"))
        .select(
            "anchor_id",
            "j",
            F.col("nid").alias("negative_id"),
        )
        .orderBy("anchor_id", "j")
    )


def negative_samples_oracle() -> str:
    h = md5_long_sql(
        "'neg:' || CAST(anchor_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)"
    )
    return f"""
        WITH n AS (SELECT count(*) AS n_total FROM documents),
        indexed AS (
            SELECT doc_id AS nid,
                   CAST(row_number() OVER (ORDER BY doc_id ASC) - 1
                        AS BIGINT) AS idx
            FROM documents
        ),
        draws AS (
            SELECT anchor_id, CAST(j AS BIGINT) AS j,
                   {h} % n_total AS idx
            FROM (SELECT doc_id AS anchor_id FROM documents),
                 unnest(range(0, {NEG_K})) AS t(j), n
        )
        SELECT anchor_id, j, nid AS negative_id
        FROM draws JOIN indexed USING (idx)
        WHERE anchor_id != nid
    """


SHARD_K = 8  # output shards for the certified balanced-write row


def shard_balance(df: DataFrame, k: int = SHARD_K) -> DataFrame:
    """X5 balanced training-shard assignment: distribute documents
    over ``k`` output shards with near-equal TOTAL SIZE (not just
    count), the write-side step that decides whether 1000 downstream
    readers finish together or wait on one fat shard. Method is
    sorted round-robin (the distributed-friendly determinization of
    LPT greedy): global rank by (size DESC, id ASC), shard =
    (rank - 1) mod k — every "round" hands each shard one of the k
    next-largest documents, so shard totals differ by at most one
    document of each round's spread and the assignment is a pure
    function of the data (LPT's data-dependent argmin is inherently
    sequential; the round-robin form loses ≤ one item's worth of
    balance and keeps the plan shuffle-shaped).

    The global rank is TWO-PHASE exactly like ``vocab_build``'s (no
    single task ever sorts the corpus): range-repartition on the
    rank key → per-partition row_number in parallel → offset by the
    ≤ n_partitions-row exclusive prefix sum, broadcast back.

    Certified output is the per-shard manifest: (shard, n_docs,
    total_chars, id_checksum) — the checksum pins MEMBERSHIP, so a
    rank or modulus drift anywhere flips the hash. Per-doc
    assignment is the same frame before the final aggregate."""
    spark = df.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    base = df.select(
        F.col("doc_id").alias("id"),
        F.col("n_chars").cast("long").alias("sz"),
    )
    sliced = base.repartitionByRange(
        n_parts, F.col("sz").desc(), F.col("id").asc()
    ).withColumn("_pid", F.spark_partition_id())
    local = sliced.withColumn(
        "_local_rank",
        F.row_number().over(
            Window.partitionBy("_pid").orderBy(F.col("sz").desc(), "id")
        ),
    )
    sizes = sliced.groupBy("_pid").agg(F.count(F.lit(1)).alias("_psz"))
    offsets = sizes.select(
        "_pid",
        F.coalesce(
            F.sum("_psz").over(
                Window.orderBy("_pid").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("_offset"),
    )
    assigned = local.join(F.broadcast(offsets), "_pid").select(
        "id",
        "sz",
        (
            (F.col("_offset") + F.col("_local_rank") - 1) % k
        )
        .cast("long")
        .alias("shard"),
    )
    return (
        assigned.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("sz").cast("long").alias("total_chars"),
            F.sum("id").cast("long").alias("id_checksum"),
        )
        .orderBy("shard")
    )


def shard_balance_oracle() -> str:
    return f"""
        WITH ranked AS (
            SELECT doc_id AS id,
                   CAST(n_chars AS BIGINT) AS sz,
                   row_number() OVER (
                       ORDER BY n_chars DESC, doc_id ASC
                   ) AS rn
            FROM documents
        )
        SELECT CAST((rn - 1) % {SHARD_K} AS BIGINT) AS shard,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(sz) AS BIGINT) AS total_chars,
               CAST(sum(id) AS BIGINT) AS id_checksum
        FROM ranked
        GROUP BY 1
        ORDER BY 1
    """


BUDGET_TOKENS = 10_000


def budget_select(df: DataFrame, budget_tokens: int = BUDGET_TOKENS) -> DataFrame:
    """X5 token-budget data selection: keep the highest
    quality-density documents until a global token budget is
    exhausted — the "best N billion tokens" cut every curriculum /
    compute-limited pretraining run makes. Density is the
    quality_score numerator per token in integer ppm:

        score_ppm = (n·min(n,100) + 60·d + 4·min(L,10n)) · 10⁶
                    div (200·n·n)

    (n tokens, d distinct tokens, L chars) — pure BIGINT, so the
    ORDER is engine-exact; ties break by ascending id. Selection is
    the PREFIX rule: a doc is kept iff the cumulative token count
    through it (in score order) is ≤ budget. The skip-and-continue
    knapsack variant is inherently sequential (each decision depends
    on every prior skip) — the prefix rule loses at most one
    straddling document and stays one window expression, which is
    why it is the distributed convention.

    Scale shape: the global cumulative sum is TWO-PHASE like
    shard_balance — range-repartition on (score DESC, id) →
    per-partition running totals in parallel → broadcast exclusive
    prefix offsets (≤ n_partitions rows). No single task ever sorts
    or sums the corpus. Returns (doc_id, n_tokens, score_ppm,
    cum_tokens), selected docs only, ascending id."""
    spark = df.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    base = df.select(
        F.col("doc_id").alias("id"),
        F.expr(
            """
            (cast(size(split(text, ' ')) as bigint) *
                    least(size(split(text, ' ')), 100)
                  + 60L * size(array_distinct(split(text, ' ')))
                  + 4L * least(length(text)
                               - size(split(text, ' ')) + 1,
                               10 * size(split(text, ' '))))
                 * 1000000L
            div (200L * size(split(text, ' '))
                 * size(split(text, ' ')))
            """
        ).alias("score_ppm"),
        F.expr("cast(size(split(text, ' ')) as bigint)").alias(
            "n_tokens"
        ),
    )
    sliced = base.repartitionByRange(
        n_parts, F.col("score_ppm").desc(), F.col("id").asc()
    ).withColumn("_pid", F.spark_partition_id())
    local = sliced.withColumn(
        "_local_cum",
        F.sum("n_tokens").over(
            Window.partitionBy("_pid")
            .orderBy(F.col("score_ppm").desc(), F.col("id").asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    sizes = sliced.groupBy("_pid").agg(F.sum("n_tokens").alias("_psz"))
    offsets = sizes.select(
        "_pid",
        F.coalesce(
            F.sum("_psz").over(
                Window.orderBy("_pid").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("_offset"),
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(
            "cum_tokens",
            (F.col("_offset") + F.col("_local_cum")).cast("long"),
        )
        .where(F.col("cum_tokens") <= budget_tokens)
        .select(
            F.col("id").alias("doc_id"),
            "n_tokens",
            "score_ppm",
            "cum_tokens",
        )
        .orderBy("doc_id")
    )


def budget_select_oracle() -> str:
    return f"""
        WITH base AS (
            SELECT doc_id,
                   CAST((len(toks) * least(len(toks), 100)
                         + 60 * len(list_distinct(toks))
                         + 4 * least(length(text) - len(toks) + 1,
                                     10 * len(toks))) * 1000000 AS BIGINT)
                       // (200 * len(toks) * len(toks)) AS score_ppm,
                   CAST(len(toks) AS BIGINT) AS n_tokens
            FROM (SELECT doc_id, text, string_split(text, ' ') AS toks
                  FROM documents)
        ),
        ranked AS (
            SELECT doc_id, n_tokens, score_ppm,
                   CAST(sum(n_tokens) OVER (
                       ORDER BY score_ppm DESC, doc_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS cum_tokens
            FROM base
        )
        SELECT doc_id, n_tokens, score_ppm, cum_tokens
        FROM ranked WHERE cum_tokens <= {BUDGET_TOKENS}
        ORDER BY doc_id
    """
