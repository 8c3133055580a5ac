"""Text-analysis operators (SURVEY.md §2.9 X5 + north-star):
language-ID heuristic, quality scoring, token counting, document
fingerprinting.

All built from JVM-side expressions (split/filter/aggregate/regexp) —
no Python UDFs — so they whole-stage-codegen and have exact DuckDB
oracles. Per-row only: zero shuffles at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_streams_pipeline_spark.functions.hashing import (
    ROLL_BASE,
    ROLL_MOD,
    md5_long_sql,
)

# Stopword tables for the n-gram/stopword language heuristic. Tiny by
# design: the operator is a scoring harness; swapping real per-language
# tables is data, not code. Tie-break order is the dict order below.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it"),
    "es": ("el", "la", "de", "y", "que", "en", "un", "es"),
    "de": ("der", "die", "das", "und", "ist", "ein", "zu", "mit"),
    "fr": ("le", "les", "de", "et", "un", "est", "dans", "pour"),
}

# BPE-ish word-piece pattern: letter runs, digit runs, or single
# non-space symbols — the classic pre-tokenizer split. The space is
# written literally (not \s): Spark SQL string literals consume
# backslash escapes, so '\s' would reach the regex engine as 's'.
TOKEN_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def _lang_score(toks: str, lang: str) -> str:
    lits = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"size(filter({toks}, x -> array_contains(array({lits}), x)))"


def _lang_score_duck(toks: str, lang: str) -> str:
    lits = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_filter({toks}, x -> list_contains([{lits}], x)))"


def lang_id(df: DataFrame) -> DataFrame:
    """X5: stopword-vote language ID heuristic.

    Score per language = count of tokens in that language's stopword
    table; prediction = argmax with dict-order tiebreak, 'unknown' at
    zero. (A CJK-codepoint short-circuit for 'zh' belongs here for
    real corpora; this fixture is ASCII-only and the declared oracle
    keeps expressions regex-escape-portable, so the hook lives in
    tests/fixture code rather than the operator.)
    Returns (doc_id, lang_pred, lang_score)."""
    toks = "split(lower(text), ' ')"
    scores = {lang: _lang_score(toks, lang) for lang in STOPWORDS}
    greatest = "greatest(" + ", ".join(scores.values()) + ")"
    chain = " ".join(
        f"when {expr} = _m then '{lang}'" for lang, expr in scores.items()
    )
    return (
        df.withColumn("_m", F.expr(greatest))
        .select(
            "doc_id",
            F.expr(f"case when _m = 0 then 'unknown' {chain} end").alias(
                "lang_pred"
            ),
            F.col("_m").cast("long").alias("lang_score"),
        )
    )


def lang_id_oracle() -> str:
    toks = "string_split(lower(text), ' ')"
    scores = {lang: _lang_score_duck(toks, lang) for lang in STOPWORDS}
    greatest = "greatest(" + ", ".join(scores.values()) + ")"
    chain = " ".join(
        f"WHEN {expr} = _m THEN '{lang}'" for lang, expr in scores.items()
    )
    return f"""
        SELECT doc_id,
               CASE WHEN _m = 0 THEN 'unknown' {chain} END AS lang_pred,
               CAST(_m AS BIGINT) AS lang_score
        FROM (SELECT doc_id, text, {greatest} AS _m FROM documents)
    """


def token_stats(df: DataFrame) -> DataFrame:
    """X5: per-document token statistics (whitespace tokenization)."""
    return (
        df.withColumn("toks", F.split(F.col("text"), " "))
        .select(
            "doc_id",
            F.expr("size(toks)").cast("long").alias("n_tokens"),
            F.expr("size(array_distinct(toks))").cast("long").alias("n_distinct"),
            F.expr(
                "round(aggregate(toks, 0L, (a, x) -> a + length(x)) / size(toks), 6)"
            ).alias("avg_token_len"),
            F.expr(
                "round(size(array_distinct(toks)) / size(toks), 6)"
            ).alias("ttr"),
        )
    )


def token_stats_oracle() -> str:
    return """
        SELECT doc_id,
               CAST(len(toks) AS BIGINT)                 AS n_tokens,
               CAST(len(list_distinct(toks)) AS BIGINT)  AS n_distinct,
               round(list_sum([length(x) FOR x IN toks]) * 1.0 / len(toks), 6)
                                                         AS avg_token_len,
               round(len(list_distinct(toks)) * 1.0 / len(toks), 6) AS ttr
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    """


def wordpiece_counts(df: DataFrame) -> DataFrame:
    """X5: BPE-ish regex token counting — global term frequencies
    (explode → groupBy). The one text op with a shuffle; cardinality
    is vocabulary size, with map-side partial counts first."""
    return (
        df.select(
            F.explode(
                F.expr(f"regexp_extract_all(lower(text), '{TOKEN_PATTERN}', 0)")
            ).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def wordpiece_counts_oracle() -> str:
    return f"""
        SELECT token, count(*) AS freq
        FROM (
            SELECT unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS token
            FROM documents
        )
        GROUP BY token
    """


def quality_score(df: DataFrame) -> DataFrame:
    """X5: heuristic document quality in [0,1]:
    0.5·min(n_tokens,100)/100 + 0.3·type-token-ratio +
    0.2·min(avg_token_len,10)/10 — length, diversity, and word-shape
    factors (the standard pretraining-quality trio).

    Computed as ONE exact-integer numerator over ONE division:
    (n·min(n,100) + 60·d + 4·min(L,10n)) / (200n) with n = tokens,
    d = distinct tokens, L = total chars. Summing the three float
    terms separately differs by 1 ulp between engines and flipped a
    round(·,6) boundary at sf0.1 (doc 7: …62 vs …63) — a single IEEE
    division of identical integers cannot."""
    return (
        df.withColumn("toks", F.split(F.col("text"), " "))
        .select(
            "doc_id",
            F.expr(
                """
                round(
                  (size(toks) * least(size(toks), 100)
                   + 60 * size(array_distinct(toks))
                   + 4 * least(aggregate(toks, 0L, (a, x) -> a + length(x)),
                               10 * size(toks)))
                  / (200.0D * size(toks))
                , 6)
                """
            ).alias("quality"),
        )
    )


def quality_score_oracle() -> str:
    return """
        SELECT doc_id,
               round(
                 (len(toks) * least(len(toks), 100)
                  + 60 * len(list_distinct(toks))
                  + 4 * least(list_sum([length(x) FOR x IN toks]),
                              10 * len(toks)))
                 / (200.0::DOUBLE * len(toks))
               , 6) AS quality
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    """


def fingerprints(df: DataFrame) -> DataFrame:
    """X5: two document fingerprints —
    content_md5 (16-hex prefix of md5 of normalized text) and
    roll_hash (left-fold polynomial rolling hash over token hashes,
    base 131 mod 1e9+7 — order-sensitive, so reordered words change
    it, unlike bag-of-words hashes)."""
    tok_hash = (
        "transform(split({c}, ' '), "
        "x -> cast(conv(substring(md5(x), 1, 8), 16, 10) as bigint))"
    ).format(c="text")
    return df.select(
        "doc_id",
        F.expr("substring(md5(text), 1, 16)").alias("content_md5"),
        F.expr(
            f"aggregate({tok_hash}, 0L, (acc, h) -> (acc * {ROLL_BASE} + h) % {ROLL_MOD})"
        ).alias("roll_hash"),
    )


def fingerprints_oracle() -> str:
    tok_hash = f"[{md5_long_sql('x')} FOR x IN string_split(text, ' ')]"
    return f"""
        SELECT doc_id,
               substring(md5(text), 1, 16) AS content_md5,
               list_reduce(list_prepend(0::BIGINT, {tok_hash}),
                           (acc, h) -> (acc * {ROLL_BASE} + h) % {ROLL_MOD})
                   AS roll_hash
        FROM documents
    """


def lang_table_stats(df: DataFrame) -> DataFrame:
    """Per-language corpus stats over the labeled lang column."""
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.sum(F.expr("size(split(text, ' '))")).cast("long").alias("total_tokens"),
    )


def lang_table_stats_oracle() -> str:
    return """
        SELECT lang,
               count(*) AS n_docs,
               round(avg(n_chars), 6) AS avg_chars,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
        FROM documents GROUP BY lang
    """


# PII patterns — portable subset of Java regex (Spark) and RE2
# (DuckDB): no lookaround, no backrefs. Order matters: emails before
# bare number runs so the local-part digits aren't double-redacted.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", "<EMAIL>"),
    ("url", r"https?://[^ ]+", "<URL>"),
    ("phone", r"[0-9]{3}-[0-9]{3}-[0-9]{4}", "<PHONE>"),
    ("number", r"[0-9]{4,}", "<NUM>"),
]


def pii_scrub(df: DataFrame) -> DataFrame:
    """X5 / training-data hygiene: redact emails/URLs/phones/long
    numbers; per-doc redaction counts by type plus the scrubbed text's
    md5 (the full scrubbed text stays available by dropping the final
    select — hashed here so wide text never leaves the scan in the
    declared query). Per-row regexp work, zero inherent shuffles —
    but regex CPU on a single-file source would serialize on one
    core, so spread partitions first (no-op on well-split sources)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)
    scrubbed = F.col("text")
    counts = []
    for name, pat, repl in PII_PATTERNS:
        counts.append(
            F.regexp_count(scrubbed, F.lit(pat)).cast("long").alias(f"n_{name}")
        )
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    return df.select("doc_id", *counts, F.md5(scrubbed).alias("scrubbed_md5"))


def pii_scrub_oracle() -> str:
    counts, scrubbed = [], "text"
    for name, pat, repl in PII_PATTERNS:
        counts.append(
            f"CAST(len(regexp_extract_all({scrubbed}, '{pat}')) AS BIGINT) AS n_{name}"
        )
        scrubbed = f"regexp_replace({scrubbed}, '{pat}', '{repl}', 'g')"
    cols = ",\n               ".join(counts)
    return f"""
        SELECT doc_id,
               {cols},
               md5({scrubbed}) AS scrubbed_md5
        FROM documents
    """


def doc_length_hist(df: DataFrame) -> DataFrame:
    """X5 / corpus profiling: document-length histogram — docs and
    token mass per 100-char bucket. One partial+final aggregate;
    bucket count is bounded, so the shuffle is tiny at any scale."""
    bucket = 100
    return (
        df.groupBy(
            (F.floor(F.length("text") / bucket) * bucket)
            .cast("long")
            .alias("len_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.expr("size(split(text, ' '))")).cast("long").alias(
                "total_tokens"
            ),
        )
    )


def doc_length_hist_oracle() -> str:
    bucket = 100
    return f"""
        SELECT CAST(floor(length(text) / {bucket}) * {bucket} AS BIGINT)
                   AS len_bucket,
               count(*) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
        FROM documents
        GROUP BY 1
    """


def word_bigrams(df: DataFrame, top_n: int = 100) -> DataFrame:
    """X5 / n-gram generation: corpus-wide word-bigram frequencies,
    top `top_n` tie-broken by bigram text so the selected rowset is
    unique. The bigram list is built per-row with higher-order array
    functions (no UDF, no extra shuffle beyond the count aggregate);
    at scale the groupBy gets map-side partial counts and the top-N is
    a TakeOrdered — no global sort materialization."""
    return (
        df.withColumn("ws", F.split(F.lower(F.col("text")), " "))
        .where(F.expr("size(ws) >= 2"))
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 1), "
                    "i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))"
                )
            ).alias("bigram")
        )
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("bigram"))
        .limit(top_n)
    )


def word_bigrams_oracle() -> str:
    return f"""
        SELECT bigram, count(*) AS freq
        FROM (
            SELECT unnest([ws[i] || ' ' || ws[i + 1]
                           FOR i IN range(1, len(ws))]) AS bigram
            FROM (SELECT string_split(lower(text), ' ') AS ws FROM documents)
            WHERE len(ws) >= 2
        )
        GROUP BY bigram
        ORDER BY freq DESC, bigram ASC
        LIMIT 100
    """


def term_stats(df: DataFrame) -> DataFrame:
    """X5 / TF-DF term statistics (the exact core of TF-IDF scoring):
    per-term total frequency, document frequency, and a fixed-point
    tf/df ratio. Integer `div` keeps the score hash-stable across
    engines (no float log). One explode → one aggregate; vocabulary-
    sized shuffle with map-side partials. The tf·10⁶ intermediate is
    widened to DECIMAL(38,0) (same hazard class as ADVICE r6's
    temperature_mixture: a BIGINT product wraps silently past
    tf_total ≈ 9.2e12 — a head token in a ~PB corpus); the RESULT
    fits BIGINT because tf/df is bounded by a term's max per-doc
    frequency."""
    return (
        df.select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("term"),
        )
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("tf_total"),
            F.countDistinct("doc_id").alias("df_docs"),
        )
        .withColumn(
            "tf_df_fp",
            F.expr(
                "CAST(CAST(tf_total AS DECIMAL(38,0)) * 1000000"
                " div df_docs AS BIGINT)"
            ),
        )
    )


def term_stats_oracle() -> str:
    return """
        SELECT term, tf_total, df_docs,
               CAST(CAST(tf_total AS HUGEINT) * 1000000 // df_docs
                    AS BIGINT) AS tf_df_fp
        FROM (
            SELECT term, count(*) AS tf_total,
                   count(DISTINCT doc_id) AS df_docs
            FROM (
                SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
                FROM documents
            )
            GROUP BY term
        )
    """


def repetition_stats(df: DataFrame) -> DataFrame:
    """X5 (Gopher-style repetition signals): per-doc fraction of mass
    in the most frequent token and fraction of duplicated bigrams —
    the two classic boilerplate/low-quality indicators from the
    public Gopher/MassiveText filtering recipe. Pure per-row JVM
    higher-order functions: no shuffle, no Python. The per-row
    top-token scan is O(distinct·n) on a bounded document — CPU-bound
    map work that scales embarrassingly."""
    return (
        df.withColumn("toks", F.split(F.col("text"), " "))
        .withColumn(
            "bg",
            F.expr(
                "transform(sequence(0, size(toks) - 2), "
                "i -> concat(toks[i], ' ', toks[i + 1]))"
            ),
        )
        .select(
            "doc_id",
            F.expr("size(toks)").cast("long").alias("n_tokens"),
            F.expr(
                """
                round(array_max(transform(array_distinct(toks),
                      d -> size(filter(toks, x -> x = d))))
                      / size(toks), 6)
                """
            ).alias("top_token_frac"),
            F.expr(
                """
                round(CASE WHEN size(bg) > 0
                      THEN 1.0 - size(array_distinct(bg)) / size(bg)
                      ELSE 0.0 END, 6)
                """
            ).alias("dup_bigram_frac"),
        )
    )


def repetition_stats_oracle() -> str:
    return """
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ),
        b AS (
            SELECT doc_id, toks,
                   [toks[i] || ' ' || toks[i + 1]
                    FOR i IN range(1, len(toks))] AS bg
            FROM t
        )
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               round(list_max([len(list_filter(toks, x -> x = d))
                               FOR d IN list_distinct(toks)])
                     * 1.0 / len(toks), 6) AS top_token_frac,
               round(CASE WHEN len(bg) > 0
                     THEN 1.0 - len(list_distinct(bg)) * 1.0 / len(bg)
                     ELSE 0.0 END, 6) AS dup_bigram_frac
        FROM b
    """


# C4/Gopher-style heuristic gate thresholds (public recipe shapes;
# tuned to be discriminative on the synthetic corpus).
FILTER_MIN_TOKENS = 5
FILTER_MAX_TOKENS = 1_000
FILTER_MIN_MEAN_LEN = 2.0
FILTER_MAX_MEAN_LEN = 12.0
FILTER_MAX_SYMBOL_RATIO = 0.1


def heuristic_filter(df: DataFrame) -> DataFrame:
    """X5 (C4/Gopher-style quality gate): word-count bounds, mean
    token length bounds, and symbol-to-char ratio, combined into a
    keep flag plus the first failed rule (the debuggable form every
    corpus pipeline wants). One pass of per-row JVM expressions."""
    t = (
        df.withColumn("toks", F.split(F.col("text"), " "))
        .withColumn("wc", F.expr("size(toks)"))
        .withColumn(
            "mean_len",
            F.expr("aggregate(toks, 0L, (a, x) -> a + length(x)) / size(toks)"),
        )
        .withColumn(
            "sym_ratio",
            F.expr(
                "length(regexp_replace(lower(text), '[a-z0-9 ]', ''))"
                " / length(text)"
            ),
        )
    )
    reason = F.expr(
        f"""
        CASE WHEN wc < {FILTER_MIN_TOKENS} THEN 'too_short'
             WHEN wc > {FILTER_MAX_TOKENS} THEN 'too_long'
             WHEN mean_len < {FILTER_MIN_MEAN_LEN} THEN 'short_words'
             WHEN mean_len > {FILTER_MAX_MEAN_LEN} THEN 'long_words'
             WHEN sym_ratio > {FILTER_MAX_SYMBOL_RATIO} THEN 'symbol_heavy'
             ELSE NULL END
        """
    )
    return t.select(
        "doc_id",
        F.col("wc").cast("long").alias("n_tokens"),
        F.round("mean_len", 6).alias("mean_token_len"),
        F.round("sym_ratio", 6).alias("symbol_ratio"),
        reason.alias("drop_reason"),
        reason.isNull().alias("keep"),
    )


def heuristic_filter_oracle() -> str:
    return f"""
        WITH t AS (
            SELECT doc_id,
                   string_split(text, ' ') AS toks,
                   len(string_split(text, ' ')) AS wc,
                   list_sum([length(x) FOR x IN string_split(text, ' ')])
                       * 1.0 / len(string_split(text, ' ')) AS mean_len,
                   length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))
                       * 1.0 / length(text) AS sym_ratio
            FROM documents
        ),
        r AS (
            SELECT doc_id, wc, mean_len, sym_ratio,
                   CASE WHEN wc < {FILTER_MIN_TOKENS} THEN 'too_short'
                        WHEN wc > {FILTER_MAX_TOKENS} THEN 'too_long'
                        WHEN mean_len < {FILTER_MIN_MEAN_LEN} THEN 'short_words'
                        WHEN mean_len > {FILTER_MAX_MEAN_LEN} THEN 'long_words'
                        WHEN sym_ratio > {FILTER_MAX_SYMBOL_RATIO} THEN 'symbol_heavy'
                        ELSE NULL END AS drop_reason
            FROM t
        )
        SELECT doc_id,
               CAST(wc AS BIGINT)    AS n_tokens,
               round(mean_len, 6)    AS mean_token_len,
               round(sym_ratio, 6)   AS symbol_ratio,
               drop_reason,
               drop_reason IS NULL   AS keep
        FROM r
    """


PACK_CAPACITY = 256  # tokens per packed sequence


def pack_sequences(df: DataFrame) -> DataFrame:
    """North-star (sequence packing): concat-then-chunk assignment of
    documents to fixed-token-budget training sequences — the
    GPT-style packing rule. Documents are laid out in doc_id order
    within each language stream; a document starts the bin its
    cumulative token offset falls into: bin = floor((cumsum −
    n_tokens) / ``PACK_CAPACITY``). Deterministic and engine-portable
    (no greedy sequential state), and the window partitions by lang, so
    at 100 TB each language stream packs in parallel — no global
    sort, no single-partition window. Returns per-bin stats."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("lang").orderBy("doc_id")
    toks = F.expr("size(split(text, ' '))").cast("long")
    return (
        df.withColumn("n_tokens", toks)
        .withColumn("cum", F.sum("n_tokens").over(w))
        .withColumn(
            "bin",
            ((F.col("cum") - F.col("n_tokens")) / PACK_CAPACITY).cast("long"),
        )
        .groupBy("lang", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("bin_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


def pack_sequences_oracle() -> str:
    return f"""
        WITH t AS (
            SELECT doc_id, lang,
                   len(string_split(text, ' ')) AS n_tokens
            FROM documents
        ),
        c AS (
            SELECT doc_id, lang, n_tokens,
                   sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                       ROWS UNBOUNDED PRECEDING) AS cum
            FROM t
        )
        SELECT lang,
               CAST(floor((cum - n_tokens) / {PACK_CAPACITY}) AS BIGINT) AS bin,
               count(*)            AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
               min(doc_id)         AS first_doc,
               max(doc_id)         AS last_doc
        FROM c
        GROUP BY 1, 2
    """


# Per-source sampling rates (per-mille) for the mixture demo: even
# sources kept at 80%, odd at 30% — a two-tier quality mixture.
def _mixture_rate_sql(src: str) -> str:
    return f"CASE WHEN CAST(substring({src}, 4) AS INT) % 2 = 0 THEN 800 ELSE 300 END"


def mixture_sample(df: DataFrame) -> DataFrame:
    """North-star (mixture weighting): deterministic per-source
    downsampling — accept a document iff salted_hash(id) mod 1000 <
    rate(source). The reproducible way to hit target mixture
    proportions across a 100 TB corpus: membership is a pure function
    of (id, source tier), so re-runs and retries keep identical
    samples and rates compose with any partitioning. Per-source
    admitted counts + kept-token mass certify the rates."""
    from kafka_streams_pipeline_spark.functions.hashing import md5_long

    rate = F.expr(_mixture_rate_sql("source"))
    bucket = md5_long(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))) % 1000
    return (
        df.withColumn("admit", bucket < rate)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.col("admit").cast("long")).alias("n_admitted"),
            F.sum(
                F.when(F.col("admit"), F.expr("size(split(text, ' '))")).otherwise(0)
            ).cast("long").alias("admitted_tokens"),
        )
    )


def mixture_sample_oracle() -> str:
    from kafka_streams_pipeline_spark.functions.hashing import md5_long_sql

    bucket = md5_long_sql("'mix:' || CAST(doc_id AS VARCHAR)")
    return f"""
        WITH t AS (
            SELECT source,
                   len(string_split(text, ' ')) AS n_tokens,
                   ({bucket}) % 1000 < ({_mixture_rate_sql("source")}) AS admit
            FROM documents
        )
        SELECT source,
               count(*) AS n_total,
               CAST(sum(CASE WHEN admit THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_admitted,
               CAST(sum(CASE WHEN admit THEN n_tokens ELSE 0 END) AS BIGINT)
                   AS admitted_tokens
        FROM t
        GROUP BY source
    """


def write_split_corpus(df: DataFrame, path: str) -> None:
    """Materialize the training corpus as the partitioned store a
    downstream trainer reads: hash-split assignment (same salted
    bucket as q_hash_split) → parquet partitioned by (split, lang),
    sorted by doc_id within files so range reads are sequential.
    Partition directories give the trainer free pruning (read
    split=train only touches train files); per-partition sort gives
    parquet min/max stats on the id. Writer-side: one shuffle on the
    partition keys via repartition so each (split, lang) writes one
    file per task instead of a small-files explosion."""
    from kafka_streams_pipeline_spark.functions.hashing import md5_long

    bucket = md5_long(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 100
    out = df.withColumn(
        "split",
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"),
    )
    (
        out.repartition("split", "lang")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .partitionBy("split", "lang")
        .parquet(path)
    )


# --- Vocabulary build + unigram surprisal scoring --------------------------


def _spark_bitlen(x: str) -> str:
    """Integer bit length (floor(log2)+1) as a pure-integer
    expression: count the powers of two ≤ x. Float log2 is NOT used —
    Math.log boundary rounding (log2(8) → 2.9999…96) differs between
    engines; this form is bit-identical everywhere."""
    return (
        f"aggregate(transform(sequence(0, 62), k -> "
        f"CASE WHEN {x} >= shiftleft(1L, k) THEN 1 ELSE 0 END), 0, "
        f"(acc, v) -> acc + v)"
    )


def _duck_bitlen(x: str) -> str:
    return (
        f"list_sum([CASE WHEN {x} >= (1::BIGINT << k) THEN 1 ELSE 0 END "
        f"FOR k IN range(0, 63)])"
    )


def vocab_build(df: DataFrame) -> DataFrame:
    """X5 vocabulary construction: corpus token counts, a min-count
    floor, and dense frequency-ranked ids (count DESC, token ASC — the
    deterministic tie-break every tokenizer build needs so two runs
    assign identical ids). Output: (token, cnt, token_id).

    Scale shape: one explode → one vocab-sized aggregate with map-side
    partials; ranking is TWO-PHASE so no single task ever sorts the
    whole vocabulary (VERDICT r6 "What's wrong" #1 — the previous
    form was an unpartitioned ``Window.orderBy`` over every surviving
    token, a one-reducer global sort at web scale):

      1. range-repartition the pruned vocab on (cnt DESC, token ASC)
         — Spark's RangePartitioner samples boundaries, so each of
         the N shuffle partitions holds a contiguous, disjoint slice
         of the global order — then sort WITHIN partitions and take a
         per-partition ``row_number`` (parallel across N tasks);
      2. offset each partition's local ranks by the cumulative sizes
         of the partitions ahead of it. The offset table is one row
         per shuffle partition (≤ a few thousand), so its running-sum
         window is driver-trivial and the join back is a broadcast.

    The (cnt DESC, token ASC) key is unique per token, so the total
    order — and therefore every token_id — is identical to the
    single-window form and to the oracle's ``row_number``."""
    from pyspark.sql.window import Window

    spark = df.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    counts = (
        df.select(
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= 2)
    )
    # Phase 1: contiguous global slices, ranked locally in parallel.
    # RangePartitioner's boundary sampling uses a deterministic seed,
    # so recomputation of either branch below sees identical slices.
    sliced = counts.repartitionByRange(
        n_parts, F.col("cnt").desc(), F.col("token").asc()
    ).withColumn("_pid", F.spark_partition_id())
    local = sliced.withColumn(
        "_local_rank",
        F.row_number().over(
            Window.partitionBy("_pid").orderBy(F.col("cnt").desc(), "token")
        ),
    )
    # Phase 2: per-partition sizes → exclusive prefix sum. This
    # window's input is ≤ n_parts rows (one per shuffle partition),
    # not the vocabulary — a bounded, certification-tiny global sort.
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
    return (
        local.join(F.broadcast(offsets), "_pid")
        .select(
            "token",
            "cnt",
            (F.col("_offset") + F.col("_local_rank"))
            .cast("long")
            .alias("token_id"),
        )
    )


def vocab_build_oracle() -> str:
    return """
        SELECT token, cnt,
               CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT)
                   AS token_id
        FROM (
            SELECT token, count(*) AS cnt
            FROM (
                SELECT unnest(string_split(lower(text), ' ')) AS token
                FROM documents
            )
            GROUP BY token
        )
        WHERE cnt >= 2
    """


#: modulus for the order-sensitive encode checksum: per-term products
#: stay < 2^63 for any realistic vocab (id ≤ ~10^7) and document
#: length (pos ≤ ~10^6), and the per-doc SUM stays < n_tokens · 10^9
ENCODE_CHECKSUM_MOD = 1_000_000_007


def encode_documents(df: DataFrame, vocab: DataFrame | None = None) -> DataFrame:
    """X5 tokenizer APPLICATION — the step between
    :func:`vocab_build` and :func:`pack_sequences`: map every
    document to its id sequence under the corpus vocabulary
    (OOV → id 0, the UNK convention) and emit per-document
    (n_tokens, n_oov, ids_checksum).

    The id sequence itself is certified without shipping arrays
    through the differential gate: ``ids_checksum`` is the
    ORDER-SENSITIVE integer Σ ((pos₁ · (id + 1)) mod 1e9+7) over
    1-based positions — a transposed, dropped, or mis-assigned id
    anywhere in any document changes the sum, and pure-integer
    arithmetic makes both engines agree to the bit. vocab ids come
    from :func:`vocab_build`'s deterministic (cnt DESC, token ASC)
    ranking, so the encoding is reproducible across runs by
    construction.

    Scale shape: the vocabulary is corpus-bounded (min-count-pruned,
    typically ≤ ~10⁶ rows — tens of MB), so Spark broadcasts the
    encode join; the token stream never shuffles for the join and
    the only exchange is the per-document aggregate. No window, no
    sort, no arrays across stages.

    ``vocab``: a prebuilt (token, token_id) frame (a
    :func:`vocab_build` result, possibly persisted) so a composed
    pipeline that ALSO reports on the vocabulary reuses one subtree
    instead of re-deriving it; default None builds it from ``df``."""
    if vocab is None:
        vocab = vocab_build(df)
    vocab = vocab.select("token", "token_id")
    toks = df.select(
        "doc_id",
        F.posexplode(
            F.split(F.lower(F.col("text")), " ")
        ).alias("pos0", "token"),
    )
    enc = toks.join(vocab, "token", "left").select(
        "doc_id",
        "pos0",
        F.col("token_id").isNull().cast("long").alias("oov"),
        F.coalesce(F.col("token_id"), F.lit(0)).alias("id"),
    )
    return enc.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("oov").cast("long").alias("n_oov"),
        F.sum(
            ((F.col("pos0") + 1) * (F.col("id") + 1))
            % F.lit(ENCODE_CHECKSUM_MOD)
        )
        .cast("long")
        .alias("ids_checksum"),
    )


def encode_documents_oracle() -> str:
    return f"""
        WITH vocab AS ({vocab_build_oracle()}),
        tok AS (
            SELECT doc_id,
                   unnest([{{'pos1': i, 'token': ws[i]}}
                           FOR i IN range(1, len(ws) + 1)]) AS u
            FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws
                  FROM documents)
        ),
        enc AS (
            SELECT t.doc_id,
                   t.u.pos1 AS pos1,
                   v.token_id IS NULL AS oov,
                   COALESCE(v.token_id, 0) AS id
            FROM tok t LEFT JOIN vocab v ON t.u.token = v.token
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN oov THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_oov,
               CAST(sum((pos1 * (id + 1)) % {ENCODE_CHECKSUM_MOD})
                    AS BIGINT) AS ids_checksum
        FROM enc
        GROUP BY doc_id
    """


def tokenizer_pipeline(df: DataFrame) -> DataFrame:
    """North-star (round 9): the full tokenizer-prep chain —
    :func:`vocab_build` → :func:`encode_documents` →
    :func:`pack_sequences`' bin assignment — as ONE declarative
    plan, the tokenizer mirror of q_corpus_pipeline's hygiene chain.
    Per language it reports doc count, encoded token/OOV mass, the
    modular sum of the per-doc ORDER-SENSITIVE id checksums (any
    mis-assigned, dropped, or transposed id anywhere in the corpus
    flips it), the number of fixed-capacity training bins the
    encoded token mass packs into, and the corpus vocabulary size —
    so one driver row certifies all three stages end-to-end AND
    their composition.

    Scale shape: the one vocab subtree feeds both the broadcast
    encode join and the vocab_size scalar; the token stream never
    shuffles for the join; the pack window partitions by lang (no
    global sort); the only exchanges are the vocab aggregate, the
    per-doc aggregate, and the per-lang rollup. ``checksum_mod``
    sums per-doc checksums mod 1e9+7, exact in int64 up to ~9·10⁹
    documents per language."""
    from pyspark.sql.window import Window

    # vocab feeds BOTH the broadcast encode join and the vocab_size
    # scalar; left lazy, the corpus-wide tokenize + count aggregate
    # behind it runs twice. The vocabulary is min-count-pruned and
    # corpus-bounded (tens of MB at worst), so materialize it once.
    vocab = vocab_build(df).localCheckpoint(eager=True)
    enc = encode_documents(df, vocab=vocab)
    vsize = vocab.agg(F.count(F.lit(1)).cast("long").alias("vocab_size"))
    w = Window.partitionBy("lang").orderBy("doc_id")
    packed = (
        enc.join(df.select("doc_id", "lang"), "doc_id")
        .withColumn("cum", F.sum("n_tokens").over(w))
        .withColumn(
            "bin",
            ((F.col("cum") - F.col("n_tokens")) / PACK_CAPACITY).cast("long"),
        )
    )
    return (
        packed.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum("n_oov").cast("long").alias("total_oov"),
            (
                F.sum(F.col("ids_checksum") % F.lit(ENCODE_CHECKSUM_MOD))
                % F.lit(ENCODE_CHECKSUM_MOD)
            )
            .cast("long")
            .alias("checksum_mod"),
            F.countDistinct("bin").cast("long").alias("n_bins"),
        )
        .crossJoin(F.broadcast(vsize))
    )


def tokenizer_pipeline_oracle() -> str:
    return f"""
        WITH vocab AS ({vocab_build_oracle()}),
        tok AS (
            SELECT doc_id,
                   unnest([{{'pos1': i, 'token': ws[i]}}
                           FOR i IN range(1, len(ws) + 1)]) AS u
            FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws
                  FROM documents)
        ),
        enc AS (
            SELECT t.doc_id,
                   t.u.pos1 AS pos1,
                   v.token_id IS NULL AS oov,
                   COALESCE(v.token_id, 0) AS id
            FROM tok t LEFT JOIN vocab v ON t.u.token = v.token
        ),
        perdoc AS (
            SELECT doc_id,
                   count(*) AS n_tokens,
                   sum(CASE WHEN oov THEN 1 ELSE 0 END) AS n_oov,
                   sum((pos1 * (id + 1)) % {ENCODE_CHECKSUM_MOD})
                       AS ids_checksum
            FROM enc
            GROUP BY doc_id
        ),
        packed AS (
            SELECT p.doc_id, p.n_tokens, p.n_oov, p.ids_checksum, d.lang,
                   sum(p.n_tokens) OVER (PARTITION BY d.lang
                                         ORDER BY p.doc_id
                                         ROWS UNBOUNDED PRECEDING) AS cum
            FROM perdoc p JOIN documents d USING (doc_id)
        )
        SELECT lang,
               count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
               CAST(sum(n_oov) AS BIGINT) AS total_oov,
               CAST(sum(ids_checksum % {ENCODE_CHECKSUM_MOD})
                    % {ENCODE_CHECKSUM_MOD} AS BIGINT) AS checksum_mod,
               CAST(count(DISTINCT CAST(floor((cum - n_tokens)
                                              / {PACK_CAPACITY}) AS BIGINT))
                    AS BIGINT) AS n_bins,
               (SELECT CAST(count(*) AS BIGINT) FROM vocab) AS vocab_size
        FROM packed
        GROUP BY lang
    """


def unigram_surprisal(df: DataFrame) -> DataFrame:
    """X5 CCNet-shaped LM quality signal, integer-exact: score each
    EVAL-split document by mean unigram surprisal under the
    TRAIN-split unigram model (CCNet buckets documents by LM
    perplexity; the unigram form keeps the statistic engine-portable).

    Surprisal per token ≈ floor-log2(N_train / count_train) + 1 bits,
    computed with the pure-integer bit-length expression (no float
    log anywhere). Out-of-vocabulary tokens get the max penalty
    bitlen(N)+1. Output per eval doc: token count, total surprisal
    bits, and a fixed-point mean (×10⁶, integer div).

    Scale shape: the unigram table is vocab-sized and aggregated with
    map-side partials; scoring is one join keyed by token (broadcast
    when the vocab is bounded, shuffled otherwise — Spark picks by
    stats) followed by a per-doc aggregate. Splits reuse the salted
    doc_id hash, so train here is exactly q_hash_split's train."""
    from kafka_streams_pipeline_spark.operators.corpus import (
        _split_bucket_spark,
    )

    toks = df.select(
        "doc_id",
        _split_bucket_spark().alias("bucket"),
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("token"),
    )
    train_counts = (
        toks.where(F.col("bucket") < 80)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    n_train = train_counts.agg(
        F.sum("cnt").cast("long").alias("n")
    ).withColumn("max_bits", F.expr(_spark_bitlen("n")) + 1)
    ev = toks.where(F.col("bucket") >= 90).select("doc_id", "token")
    scored = (
        ev.join(train_counts, "token", "left")
        .crossJoin(F.broadcast(n_train))
        .select(
            "doc_id",
            F.when(
                F.col("cnt").isNotNull(),
                F.expr(_spark_bitlen("(n div cnt)")) + 1,
            )
            .otherwise(F.col("max_bits"))
            .cast("long")
            .alias("bits"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("bits").cast("long").alias("total_bits"),
        F.expr("CAST(sum(bits) * 1000000L div count(1) AS BIGINT)").alias(
            "mean_bits_fp"
        ),
    )


BIGRAM_BACKOFF_BITS = 2  # penalty when an unseen bigram backs off
# to the unigram model — the integer-bits analogue of stupid
# backoff's α=0.4 discount (−log2(0.4) ≈ 1.3, rounded up to keep
# every score a pure integer)


def bigram_surprisal(df: DataFrame, hash_keys: bool = False) -> DataFrame:
    """X5 LM quality signal, one order up from
    :func:`unigram_surprisal`: score each EVAL-split document by mean
    BIGRAM surprisal with stupid backoff (Brants et al. 2007, "Large
    Language Models in Machine Translation" — public literature)
    under the TRAIN-split model, integer-exactly. A token whose
    (prev, cur) bigram was seen in train costs
    bitlen(C1(prev) div C2(prev, cur)) + 1 bits (the conditional
    probability); an unseen bigram backs off to the unigram cost plus
    ``BIGRAM_BACKOFF_BITS``; a train-OOV token pays the max unigram
    penalty (+ backoff if it had a history). The first token of a
    document has no history and is scored by the unigram model
    directly. No float log anywhere — every score is an integer, so
    the DuckDB oracle is hash-exact.

    Output per eval doc: (doc_id, n_tokens, total_bits,
    mean_bits_fp) — same shape as the unigram row, directly
    comparable (bigram mean ≤ unigram mean wherever history helps).

    Scale shape: the bigram table aggregates with map-side partials
    (vocab²-bounded in principle, corpus-bounded in practice); eval
    scoring is three equi-joins keyed by token strings (broadcast
    when the model is bounded, shuffled otherwise — Spark picks by
    stats) and one per-doc aggregate. ``hash_keys=True`` is the
    100 TB production path (VERDICT r7 item 2, mirroring the hashed
    windows of ``repeated_window_stats``): tokens are mapped to
    64-bit ``xxhash64`` keys BEFORE the model aggregation and the
    three scoring joins, so the shuffles carry fixed 8-byte keys
    instead of raw strings. NULL history is preserved as NULL (a
    first token must never equi-join the bigram table), and every
    downstream expression treats the keys as opaque, so the scores
    are identical absent a 64-bit token collision (~n²/2⁶⁵ — the
    same accepted exposure as the shingle hashing in dedup.py;
    pytest proves score-identity on the fixtures). The certified row
    keeps text keys so it stays directly inspectable. Per-doc sums
    are bounded by document length, so the ×10⁶ fixed-point mean
    cannot overflow BIGINT."""
    from kafka_streams_pipeline_spark.operators.corpus import (
        _split_bucket_spark,
    )

    toks = df.select(
        "doc_id",
        _split_bucket_spark().alias("bucket"),
        F.split(F.lower(F.col("text")), " ").alias("ws"),
    ).select(
        "doc_id",
        "bucket",
        F.posexplode("ws").alias("pos0", "cur"),
        # element_at is 1-based: index pos0 = the PREVIOUS token
        F.expr(
            "CASE WHEN pos0 >= 1 THEN element_at(ws, pos0) END"
        ).alias("prev"),
    )
    if hash_keys:
        # opaque 64-bit keys from here on; NULL prev stays NULL so
        # first-token rows keep missing the bigram join exactly as
        # the text-keyed form does
        toks = toks.select(
            "doc_id",
            "bucket",
            F.when(
                F.col("prev").isNotNull(), F.xxhash64("prev")
            ).alias("prev"),
            F.xxhash64("cur").alias("cur"),
        )
    train = toks.where(F.col("bucket") < 80)
    uni = train.groupBy(F.col("cur").alias("token")).agg(
        F.count(F.lit(1)).alias("c1")
    )
    bi = (
        train.where(F.col("prev").isNotNull())
        .groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    n_train = uni.agg(F.sum("c1").cast("long").alias("n")).withColumn(
        "max_bits", F.expr(_spark_bitlen("n")) + 1
    )
    ev = toks.where(F.col("bucket") >= 90).select("doc_id", "prev", "cur")
    pen = BIGRAM_BACKOFF_BITS
    scored = (
        ev.join(bi, ["prev", "cur"], "left")
        .join(
            uni.select(F.col("token").alias("cur"), F.col("c1").alias("c1c")),
            "cur",
            "left",
        )
        .join(
            uni.select(
                F.col("token").alias("prev"), F.col("c1").alias("c1p")
            ),
            "prev",
            "left",
        )
        .crossJoin(F.broadcast(n_train))
        .select(
            "doc_id",
            F.when(
                F.col("c2").isNotNull(),
                F.expr(_spark_bitlen("(c1p div c2)")) + 1,
            )
            .when(
                F.col("prev").isNotNull() & F.col("c1c").isNotNull(),
                F.expr(_spark_bitlen("(n div c1c)")) + 1 + pen,
            )
            .when(F.col("prev").isNotNull(), F.col("max_bits") + pen)
            .when(
                F.col("c1c").isNotNull(),
                F.expr(_spark_bitlen("(n div c1c)")) + 1,
            )
            .otherwise(F.col("max_bits"))
            .cast("long")
            .alias("bits"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("bits").cast("long").alias("total_bits"),
        F.expr("CAST(sum(bits) * 1000000L div count(1) AS BIGINT)").alias(
            "mean_bits_fp"
        ),
    )


def bigram_surprisal_oracle() -> str:
    from kafka_streams_pipeline_spark.operators.corpus import (
        _split_bucket_sql,
    )

    pen = BIGRAM_BACKOFF_BITS
    return f"""
        WITH t AS (
            SELECT doc_id, {_split_bucket_sql()} AS bucket,
                   string_split(lower(text), ' ') AS ws
            FROM documents
        ),
        tok AS (
            SELECT doc_id, bucket,
                   unnest(ws) AS cur,
                   generate_subscripts(ws, 1) AS pos1,
                   ws
            FROM t
        ),
        toks AS (
            SELECT doc_id, bucket, cur,
                   CASE WHEN pos1 >= 2 THEN ws[pos1 - 1] END AS prev
            FROM tok
        ),
        uni AS (
            SELECT cur AS token, count(*) AS c1 FROM toks
            WHERE bucket < 80 GROUP BY cur
        ),
        bi AS (
            SELECT prev, cur, count(*) AS c2 FROM toks
            WHERE bucket < 80 AND prev IS NOT NULL GROUP BY prev, cur
        ),
        nt AS (
            SELECT CAST(sum(c1) AS BIGINT) AS n,
                   {_duck_bitlen('CAST(sum(c1) AS BIGINT)')} + 1 AS max_bits
            FROM uni
        ),
        scored AS (
            SELECT e.doc_id,
                   CAST(CASE
                        WHEN b.c2 IS NOT NULL
                            THEN {_duck_bitlen('(up.c1 // b.c2)')} + 1
                        WHEN e.prev IS NOT NULL AND uc.c1 IS NOT NULL
                            THEN {_duck_bitlen('(nt.n // uc.c1)')} + 1 + {pen}
                        WHEN e.prev IS NOT NULL
                            THEN nt.max_bits + {pen}
                        WHEN uc.c1 IS NOT NULL
                            THEN {_duck_bitlen('(nt.n // uc.c1)')} + 1
                        ELSE nt.max_bits END AS BIGINT) AS bits
            FROM toks e
            LEFT JOIN bi b ON e.prev = b.prev AND e.cur = b.cur
            LEFT JOIN uni uc ON e.cur = uc.token
            LEFT JOIN uni up ON e.prev = up.token
            CROSS JOIN nt
            WHERE e.bucket >= 90
        )
        SELECT doc_id,
               count(*) AS n_tokens,
               CAST(sum(bits) AS BIGINT) AS total_bits,
               CAST((sum(bits) * 1000000) // count(*) AS BIGINT)
                   AS mean_bits_fp
        FROM scored
        GROUP BY doc_id
    """


def unigram_surprisal_oracle() -> str:
    from kafka_streams_pipeline_spark.operators.corpus import (
        _split_bucket_sql,
    )

    return f"""
        WITH toks AS (
            SELECT doc_id, {_split_bucket_sql()} AS bucket,
                   unnest(string_split(lower(text), ' ')) AS token
            FROM documents
        ),
        train_counts AS (
            SELECT token, count(*) AS cnt FROM toks
            WHERE bucket < 80 GROUP BY token
        ),
        nt AS (
            SELECT CAST(sum(cnt) AS BIGINT) AS n,
                   {_duck_bitlen('CAST(sum(cnt) AS BIGINT)')} + 1 AS max_bits
            FROM train_counts
        ),
        scored AS (
            SELECT e.doc_id,
                   CAST(CASE WHEN tc.cnt IS NOT NULL
                        THEN {_duck_bitlen('(nt.n // tc.cnt)')} + 1
                        ELSE nt.max_bits END AS BIGINT) AS bits
            FROM toks e
            LEFT JOIN train_counts tc ON e.token = tc.token
            CROSS JOIN nt
            WHERE e.bucket >= 90
        )
        SELECT doc_id,
               count(*) AS n_tokens,
               CAST(sum(bits) AS BIGINT) AS total_bits,
               CAST((sum(bits) * 1000000) // count(*) AS BIGINT)
                   AS mean_bits_fp
        FROM scored
        GROUP BY doc_id
    """


# --- BM25 retrieval scoring ------------------------------------------------

BM25_TERMS = ("spark", "vector", "stream", "join")


def bm25_topk(df: DataFrame, k: int = 25) -> DataFrame:
    """X5 (retrieval scoring): Okapi BM25 top-k over the corpus for a
    fixed query term set (Robertson & Spärck Jones, public
    literature) — the relevance primitive behind retrieval-based data
    curation (e.g. selecting pretraining documents similar to a
    target domain).

    Engine-exact construction, same discipline as unigram_surprisal:
    k1 = 6/5 and b = 3/4 as exact rationals, so the per-term score is
    idf · (44·tf·total) / (20·tf·total + 6·total + 18·dl·N) — one
    IEEE division of exact BIGINT products per (doc, term). The IDF
    uses the pure-integer bit-length surrogate
    bitlen((2N+1) div (2·df+1)) ~ floor(log2((N+.5)/(df+.5)))+1 — no
    float log (Math.log boundary rounding differs between engines).
    The per-document score sums ≤|BM25_TERMS| doubles inside ONE row
    expression in fixed textual order — no cross-row float
    aggregation anywhere. Top-k orders on the rounded score with
    doc_id tiebreak and binds rank into the output so the
    order-insensitive driver hash certifies the ordering.

    Scale shape: one corpus aggregate produces the 1-row stats frame
    (broadcast); scoring is a per-row expression over the scan;
    the top-k plans TakeOrderedAndProject. Integer products stay
    below 2^63 while idf·44·tf·total < 9e18 — at true 100 TB token
    counts the fixed-point scale would drop one decimal, same
    convention as _cents_sum."""
    from pyspark.sql.window import Window

    base = df.select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    ).select(
        "doc_id",
        F.expr("size(toks)").cast("long").alias("dl"),
        *[
            F.expr(f"cast(size(filter(toks, x -> x = '{t}')) as long)").alias(
                f"tf_{i}"
            )
            for i, t in enumerate(BM25_TERMS)
        ],
    )
    # `base` (tokenize + per-term tf counts — the expensive pass over
    # the text) feeds both the corpus-stats aggregate and the scoring
    # projection; left lazy it runs twice per query. Materialize the
    # narrow (doc_id, dl, tf_*) frame once — ~50 bytes/doc vs
    # re-splitting every document's text a second time.
    base = base.localCheckpoint(eager=True)
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("total"),
    ] + [
        F.sum((F.col(f"tf_{i}") > 0).cast("long")).cast("long").alias(f"df_{i}")
        for i in range(len(BM25_TERMS))
    ]
    stats = base.agg(*aggs)
    scored = base.crossJoin(F.broadcast(stats))
    term_exprs = []
    for i in range(len(BM25_TERMS)):
        idf = _spark_bitlen(f"((2 * n_docs + 1) div (2 * df_{i} + 1))")
        term_exprs.append(
            f"(CASE WHEN tf_{i} = 0 THEN cast(0 as double) ELSE "
            f"cast(({idf}) * 44 * tf_{i} * total as double) / "
            f"cast(20 * tf_{i} * total + 6 * total + 18 * dl * n_docs "
            f"as double) END)"
        )
    out = (
        scored.select(
            "doc_id",
            F.expr(f"round({' + '.join(term_exprs)}, 6)").alias("bm25"),
        )
        .where(F.col("bm25") > 0)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(k)
    )
    w = Window.orderBy(F.col("bm25").desc(), "doc_id")
    return out.withColumn("rank", F.row_number().over(w).cast("long"))


def bm25_topk_oracle(k: int = 25) -> str:
    tf_cols = ",\n                   ".join(
        f"CAST(len(list_filter(toks, x -> x = '{t}')) AS BIGINT) AS tf_{i}"
        for i, t in enumerate(BM25_TERMS)
    )
    df_cols = ",\n                   ".join(
        f"CAST(sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) "
        f"AS df_{i}"
        for i in range(len(BM25_TERMS))
    )
    term_sqls = []
    for i in range(len(BM25_TERMS)):
        idf = _duck_bitlen(f"((2 * n_docs + 1) // (2 * df_{i} + 1))")
        term_sqls.append(
            f"(CASE WHEN tf_{i} = 0 THEN CAST(0 AS DOUBLE) ELSE "
            f"CAST(({idf}) * 44 * tf_{i} * total AS DOUBLE) / "
            f"CAST(20 * tf_{i} * total + 6 * total + 18 * dl * n_docs "
            f"AS DOUBLE) END)"
        )
    return f"""
        WITH feat AS (
            SELECT doc_id,
                   CAST(len(toks) AS BIGINT) AS dl,
                   {tf_cols}
            FROM (SELECT doc_id, string_split(text, ' ') AS toks
                  FROM documents)
        ),
        stats AS (
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(dl) AS BIGINT) AS total,
                   {df_cols}
            FROM feat
        ),
        scored AS (
            SELECT doc_id,
                   round({' + '.join(term_sqls)}, 6) AS bm25
            FROM feat, stats
        ),
        top AS (
            SELECT doc_id, bm25 FROM scored WHERE bm25 > 0
            ORDER BY bm25 DESC, doc_id LIMIT {k}
        )
        SELECT doc_id, bm25,
               CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
                    AS BIGINT) AS rank
        FROM top
    """


# --- RAG chunking + substring-level repetition (round 6) -------------------

CHUNK_SIZE = 64  # tokens per chunk
CHUNK_STRIDE = 48  # chunk_size - overlap (16-token overlap)


def rag_chunks(
    df: DataFrame,
    chunk_size: int = CHUNK_SIZE,
    stride: int = CHUNK_STRIDE,
) -> DataFrame:
    """X5 / retrieval prep: overlapping fixed-token-window chunking —
    the document → chunk explosion every RAG/embedding-index
    pipeline runs before encoding. Chunk k covers tokens
    [k·stride, k·stride + chunk_size) with starts while start < n
    (trailing partial chunks kept: the tail must be retrievable).

    Output per chunk: (doc_id, chunk_idx, start_tok, n_tok,
    chunk_md5) — the md5 binds the exact chunk CONTENT into the
    driver hash without shipping chunk text through the compare.

    Scale shape: one narrow projection + per-row array ops + explode;
    no shuffle at all — chunking is embarrassingly parallel, and
    payload text never moves between executors."""
    return (
        df.withColumn("ws", F.split(F.col("text"), " "))
        .withColumn("n", F.expr("size(ws)"))
        .where(F.col("n") >= 1)
        .select(
            "doc_id",
            "n",
            "ws",
            F.posexplode(
                F.expr(f"sequence(0, n - 1, {stride})")
            ).alias("chunk_idx", "start_tok"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.col("start_tok").cast("long").alias("start_tok"),
            F.expr(
                f"size(slice(ws, start_tok + 1, {chunk_size}))"
            ).cast("long").alias("n_tok"),
            F.md5(
                F.expr(
                    f"array_join(slice(ws, start_tok + 1, {chunk_size}), ' ')"
                )
            ).alias("chunk_md5"),
        )
    )


def rag_chunks_oracle() -> str:
    return f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS ws,
                   len(string_split(text, ' ')) AS n
            FROM documents
        ),
        starts AS (
            SELECT doc_id, ws, n,
                   unnest(generate_series(0, n - 1, {CHUNK_STRIDE})) AS start_tok,
                   generate_subscripts(
                       generate_series(0, n - 1, {CHUNK_STRIDE}), 1
                   ) - 1 AS chunk_idx
            FROM t WHERE n >= 1
        )
        SELECT doc_id,
               CAST(chunk_idx AS BIGINT) AS chunk_idx,
               CAST(start_tok AS BIGINT) AS start_tok,
               CAST(len(list_slice(ws, start_tok + 1,
                                   start_tok + {CHUNK_SIZE})) AS BIGINT)
                   AS n_tok,
               md5(list_aggregate(
                   list_slice(ws, start_tok + 1, start_tok + {CHUNK_SIZE}),
                   'string_agg', ' ')) AS chunk_md5
        FROM starts
    """


REPEAT_W = 5  # window length (tokens) for substring-repetition scan
REPEAT_TOP = 50


def _repeated_window_agg(
    df: DataFrame, hash_windows: bool, min_docs: int = 2
) -> DataFrame:
    """Shared core of :func:`repeated_ngrams` (text windows) and
    :func:`repeated_window_stats` (hashed windows): explode every
    ``REPEAT_W``-token window of ``text``, optionally hash it to a
    64-bit key BEFORE the shuffle, and
    aggregate (n_occur, n_docs) keeping windows seen in at least
    ``min_docs`` documents (2 = cross-document repeats; 1 = the full
    window-group table, used by the sweep instrumentation)."""
    wins = (
        df.withColumn("ws", F.split(F.col("text"), " "))
        .where(F.expr(f"size(ws) >= {REPEAT_W}"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(ws) - {REPEAT_W} + 1), "
                    f"i -> array_join(slice(ws, i, {REPEAT_W}), ' '))"
                )
            ).alias("win"),
        )
    )
    if hash_windows:
        # hash BEFORE the shuffle: the aggregate's key is 8 bytes,
        # not a W-token string; raw text never leaves its scan task
        wins = wins.select(
            "doc_id", F.xxhash64("win").cast("string").alias("win")
        )
    return (
        wins.groupBy("win")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occur"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
        )
        .where(F.col("n_docs") >= min_docs)
    )


def repeated_window_scaling_stats(df: DataFrame) -> dict:
    """Sweep diagnostic (VERDICT r8 item 4): the window-multiset
    cardinalities behind :func:`repeated_window_stats`, so a
    super-linear sweep point can be attributed to DATA growth (the
    repeated-window multiset itself grows super-linearly under
    corpus replication — every replica pair repeats every window)
    versus a plan problem. One aggregate over the same hashed
    window-group table the profile consumes:

    - ``total_windows``: exploded window instances (the map-side
      volume; linear in corpus tokens),
    - ``distinct_windows``: window groups (the shuffle key
      cardinality),
    - ``repeated_windows`` / ``repeated_occurrences``: the
      cross-document groups and their instance mass — the rows the
      profile's second aggregate actually processes."""
    grouped = _repeated_window_agg(df, hash_windows=True, min_docs=1)
    row = grouped.agg(
        F.count(F.lit(1)).cast("long").alias("distinct_windows"),
        F.sum("n_occur").cast("long").alias("total_windows"),
        F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0))
        .cast("long")
        .alias("repeated_windows"),
        F.sum(F.when(F.col("n_docs") >= 2, F.col("n_occur")).otherwise(0))
        .cast("long")
        .alias("repeated_occurrences"),
    ).collect()[0]
    return {k: int(v) for k, v in row.asDict().items()}


def repeated_window_stats(df: DataFrame) -> DataFrame:
    """Corpus-level repeated-passage profile: the multiset of
    (n_occur, n_docs) over EVERY cross-document repeated W-token
    window, as (n_occur, n_docs, n_windows) rows. Unlike
    :func:`repeated_ngrams` there is no TopN and no rank — two plain
    aggregates, both with map-side partials, no sort anywhere — so
    this is the form to run corpus-wide at 100 TB (windows are
    hashed, so the first aggregate shuffles 8-byte keys).
    The stats are key-representation-independent, which is what lets
    the driver certify the hashed plan against an exact text-form
    SQL oracle (q_repeated_ngrams_hashed)."""
    agg = _repeated_window_agg(df, hash_windows=True)
    return agg.groupBy("n_occur", "n_docs").agg(
        F.count(F.lit(1)).cast("long").alias("n_windows")
    )


def repeated_ngrams(df: DataFrame, top_n: int = REPEAT_TOP) -> DataFrame:
    """X2 substring-level dedup signal (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better",
    public literature): fixed ``REPEAT_W``-token windows repeated
    across the corpus. Exact-duplicate DOCUMENTS are handled by
    dedup.*; this finds repeated PASSAGES — boilerplate headers,
    license blocks, templated sentences — that survive document-level
    dedup and that substring-dedup pipelines cut before training.

    Output: top `top_n` windows by (total occurrences, text) with
    occurrence count, distinct-document count, and rank bound into
    the hash (unique rowset under ties).

    Scale shape: per-row window explosion (W· tokens rows) → one
    count/count-distinct aggregate with map-side partials → TopN as
    ``orderBy(...).limit(top_n)`` FIRST (TakeOrderedAndProject: each
    task keeps a top_n heap, the driver merges heaps — nothing ever
    globally sorts), THEN ``row_number`` over the ≤ top_n survivors
    (ADVICE r6: the old rank-then-filter form was a one-reducer
    global sort of every repeated n-gram). Windows stay text, so the
    repeated passage is directly inspectable. At 100 TB the window
    key space is what shuffles: the corpus-wide form is
    :func:`repeated_window_stats`, which shuffles 64-bit ``xxhash64``
    keys instead of raw W-token strings (the same move dedup.py makes
    for shingles); ``tests/test_extensions.py`` (the hashed-twin
    multiset test) proves both key forms aggregate the identical
    window multiset."""
    agg = _repeated_window_agg(df, hash_windows=False)
    top = agg.orderBy(F.desc("n_occur"), F.asc("win")).limit(top_n)
    from pyspark.sql.window import Window

    # row_number over the already-limited TopN result: ≤ top_n rows,
    # so this unpartitioned window is bounded by construction
    return top.select(
        "win",
        "n_occur",
        "n_docs",
        F.row_number()
        .over(Window.orderBy(F.desc("n_occur"), F.asc("win")))
        .cast("long")
        .alias("rank"),
    )


def repeated_ngrams_oracle() -> str:
    return f"""
        WITH wins AS (
            SELECT doc_id,
                   unnest([list_aggregate(list_slice(ws, i, i + {REPEAT_W} - 1),
                                          'string_agg', ' ')
                           FOR i IN range(1, len(ws) - {REPEAT_W} + 2)]) AS win
            FROM (SELECT doc_id, string_split(text, ' ') AS ws
                  FROM documents)
            WHERE len(ws) >= {REPEAT_W}
        ),
        agg AS (
            SELECT win,
                   CAST(count(*) AS BIGINT) AS n_occur,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
            FROM wins
            GROUP BY win
            HAVING count(DISTINCT doc_id) >= 2
        )
        SELECT win, n_occur, n_docs,
               CAST(row_number() OVER (ORDER BY n_occur DESC, win ASC)
                    AS BIGINT) AS rank
        FROM agg
        QUALIFY rank <= {REPEAT_TOP}
    """


def temperature_mixture(df: DataFrame) -> DataFrame:
    """X5 multilingual rebalancing: temperature sampling over
    language shares (the mT5/XLM-R p_l^α rule, public literature) at
    α = 1/2 (square root), computed
    DETERMINISTICALLY: weight_l = floor(sqrt(n_l · 10¹²)) uses IEEE
    correctly-rounded sqrt over a double product (both engines round
    the identical true value to nearest-even, so the floor matches
    bit-for-bit at every corpus size), and the target allocation is
    integer division n_total · w_l / Σw carried in DECIMAL(38,0) —
    the BIGINT product n_total·weight exceeds 2^63 past roughly
    4×10⁸ docs and would wrap silently under non-ANSI Spark
    (ADVICE r6); decimal headroom is ~10³⁸, i.e. corpora to ~10¹⁹
    docs. Low-resource languages are upsampled relative to their
    natural share — the standard fix for high-resource domination of
    a multilingual mixture.

    Output per lang: natural count, weight (micros-scaled BIGINT),
    target_docs (BIGINT). Scale shape: one tiny aggregate over the
    language dimension; the weights then drive mixture_sample-style
    admission at corpus scale."""
    counts = df.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    # double product, not BIGINT: n_docs·10¹² wraps past ~9.2e6 docs
    # as a long; as doubles both engines compute the same rounding
    w = F.floor(
        F.sqrt(F.col("n_docs").cast("double") * F.lit(1.0e12))
    ).cast("long")
    weighted = counts.select("lang", "n_docs", w.alias("weight"))
    totals = weighted.agg(
        F.sum("n_docs").cast("long").alias("n_total"),
        F.sum("weight").cast("long").alias("w_total"),
    )
    return (
        weighted.crossJoin(F.broadcast(totals))
        .select(
            "lang",
            "n_docs",
            "weight",
            # `div`, not `/ ... cast(long)`: double division truncates
            # through an FP rounding that can disagree with true
            # integer division when the quotient sits within an ulp of
            # an integer — `div` is exact; the DECIMAL(38,0) widening
            # keeps the product itself exact beyond the BIGINT range
            F.expr(
                "CAST((CAST(n_total AS DECIMAL(38,0)) * weight)"
                " div w_total AS BIGINT)"
            ).alias("target_docs"),
        )
    )


def temperature_mixture_oracle() -> str:
    return """
        WITH counts AS (
            SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
            FROM documents GROUP BY lang
        ),
        weighted AS (
            SELECT lang, n_docs,
                   CAST(floor(sqrt(CAST(n_docs AS DOUBLE) * 1e12))
                        AS BIGINT) AS weight
            FROM counts
        ),
        totals AS (
            SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
                   CAST(sum(weight) AS BIGINT) AS w_total
            FROM weighted
        )
        SELECT lang, n_docs, weight,
               CAST(CAST(n_total AS HUGEINT) * weight // w_total
                    AS BIGINT) AS target_docs
        FROM weighted, totals
    """


VOCAB_TOP_K = 24  # coverage vocabulary size (fixture-sized; a real
# tokenizer build uses 32k-256k — the plan shape is identical)


def vocab_coverage(df: DataFrame) -> DataFrame:
    """X5 tokenizer health: per-document OOV rate against the top-K
    built vocabulary — the coverage metric that decides whether a
    vocabulary (or its normalization rules) fits a corpus before a
    training run burns on it. Composes vocab_build: tokens ranked by
    (count DESC, token ASC), vocabulary = ids ≤ ``VOCAB_TOP_K``, per-doc OOV =
    tokens outside it.

    Output: (doc_id, n_tokens, n_oov, oov_rate[round 6]).

    Scale shape: the vocabulary is top-K of an already-aggregated
    count table — broadcast-joined against the exploded token stream
    (the stream never shuffles for membership), then one doc-keyed
    aggregate."""
    vocab = vocab_build(df).where(F.col("token_id") <= VOCAB_TOP_K).select("token")
    toks = df.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("token"),
    )
    flagged = toks.join(
        F.broadcast(vocab.withColumn("_in", F.lit(1))), "token", "left"
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.expr("round(n_oov / n_tokens, 6)").alias("oov_rate"),
        )
    )


def vocab_coverage_oracle() -> str:
    return f"""
        WITH vocab AS (
            SELECT token FROM (
                SELECT token,
                       row_number() OVER (ORDER BY cnt DESC, token)
                           AS token_id
                FROM (
                    SELECT token, count(*) AS cnt
                    FROM (SELECT unnest(string_split(lower(text), ' '))
                              AS token
                          FROM documents)
                    GROUP BY token
                )
                WHERE cnt >= 2
            )
            WHERE token_id <= {VOCAB_TOP_K}
        ),
        toks AS (
            SELECT doc_id,
                   unnest(string_split(lower(text), ' ')) AS token
            FROM documents
        )
        SELECT t.doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_oov,
               round(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
                     * 1.0 / count(*), 6) AS oov_rate
        FROM toks t LEFT JOIN vocab v ON v.token = t.token
        GROUP BY t.doc_id
    """


# ---------------------------------------------------------------------------
# BPE vocabulary learning (round 9). Sennrich et al. 2016 ("Neural
# Machine Translation of Rare Words with Subword Units") — the
# byte-pair-encoding merge-learning loop, re-expressed relationally
# so a DISTRIBUTED engine can run it and an unrolled-SQL oracle can
# certify it bit-for-bit (the same exactness trick as
# operators/graph.weighted_pagerank: every round is deterministic
# integer arithmetic + window functions, so Spark and DuckDB agree
# exactly, including greedy overlap handling and tie-breaks).
# ---------------------------------------------------------------------------

BPE_NUM_MERGES = 8


def bpe_train(df: DataFrame, num_merges: int = BPE_NUM_MERGES) -> DataFrame:
    """Learn ``num_merges`` BPE merge rules from the corpus and
    return one row per round:
    ``(merge_idx, left_sym, right_sym, pair_freq,
    corpus_symbols_after)``.

    Exactly the classic algorithm. The corpus first collapses to the
    WORD-FREQUENCY table (one aggregate — this is also why the loop
    scales: BPE training state is vocabulary-sized, never
    corpus-sized, which is how production tokenizer trainers operate
    too); each word carries its symbol ARRAY. Each round then:

    1. pairs:   adjacent-symbol pairs via a zip of the array with
       its tail, exploded → frequency-weighted count per pair
       (map-side partials; the only shuffle, vocabulary-bounded);
    2. argmax:  highest count, ties broken lexicographically on
       (left, right) — a 1-row collect per round (bounded scalar);
    3. merge:   greedy left-to-right non-overlapping application as
       a map-only ``aggregate`` fold: push each symbol, and when
       the accumulator top is ``a`` and the incoming symbol is
       ``b``, replace the top with ``ab``. The replaced top can
       never re-match ``a``, which IS the non-overlap rule —
       ``aaaa`` under ``(a,a)`` folds to ``aa,aa``, identical to
       the oracle's run-parity window formulation;
    4. ``localCheckpoint`` so the plan stays constant-size across
       rounds (round-2 lesson).

    ``corpus_symbols_after`` (frequency-weighted surviving symbol
    count) certifies the merge APPLICATION, not just the selection:
    a wrong overlap policy changes it immediately. Stops early if no
    pair remains. No window functions, no per-word sort — rounds are
    map-only plus one tiny pair aggregate, so round cost is
    O(vocabulary), independent of corpus size."""

    def _q(sym: str) -> str:
        return "'" + sym.replace("'", "''") + "'"

    words = (
        df.select(
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("word")
        )
        .where(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    seq = words.select(
        "freq",
        F.expr(
            "transform(sequence(1, length(word)), "
            "i -> substring(word, i, 1))"
        ).alias("syms"),
    ).localCheckpoint(eager=True)

    def _argmax(s: DataFrame) -> DataFrame:
        return (
            s.select(
                "freq",
                F.explode(
                    F.expr(
                        "arrays_zip(slice(syms, 1, size(syms) - 1), "
                        "slice(syms, 2, size(syms) - 1))"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.0").alias("a"), F.col("p.1").alias("b"))
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .limit(1)
            .select(F.lit("argmax").alias("phase"), "a", "b", "cnt")
        )

    def _after(s: DataFrame) -> DataFrame:
        return s.agg(
            F.sum(F.col("freq") * F.size("syms")).cast("long").alias("cnt")
        ).select(
            F.lit("after").alias("phase"),
            F.lit(None).cast("string").alias("a"),
            F.lit(None).cast("string").alias("b"),
            "cnt",
        )

    # One action per round (r16 optimization — the loop previously ran
    # three: eager checkpoint, argmax collect, after-count collect).
    # Round k's survivor count and round k+1's argmax both aggregate
    # the SAME merged table, so they ship as one two-branch union over
    # the lazily-checkpointed seq: the first branch's execution
    # materializes the checkpoint blocks, the second reads them, and
    # the collect returns both scalars. Selection, application, and
    # tie-breaks are untouched — the merge table is bit-identical.
    merges: list[tuple] = []
    best = _argmax(seq).collect()
    for k in range(1, num_merges + 1):
        if not best:
            break
        a, b, cnt = best[0]["a"], best[0]["b"], int(best[0]["cnt"])
        fold = (
            "aggregate(syms, cast(array() as array<string>), "
            "(acc, x) -> CASE WHEN size(acc) > 0 "
            f"AND element_at(acc, -1) = {_q(a)} AND x = {_q(b)} "
            "THEN concat(slice(acc, 1, size(acc) - 1), "
            f"array({_q(a + b)})) "
            "ELSE concat(acc, array(x)) END)"
        )
        seq = seq.select(
            "freq", F.expr(fold).alias("syms")
        ).localCheckpoint(eager=False)
        census = _after(seq)
        if k < num_merges:
            census = census.unionByName(_argmax(seq))
        rows = {r["phase"]: r for r in census.collect()}
        after = int(rows["after"]["cnt"])
        best = [rows["argmax"]] if "argmax" in rows else []
        merges.append((k, a, b, cnt, after))
    from kafka_streams_pipeline_spark.session import local_rows_df

    return local_rows_df(
        df.sparkSession,
        merges,
        "merge_idx int, left_sym string, right_sym string, "
        "pair_freq long, corpus_symbols_after long",
    )


def bpe_train_oracle() -> str:
    """DuckDB twin of :func:`bpe_train` on the ``documents`` view,
    rounds UNROLLED (one CTE chain per merge — the same fixed-K
    unroll as graph.textrank_oracle). Identical window semantics and
    tie-breaks → bit-identical merge table."""
    parts = [
        """
        WITH words AS (
            SELECT w AS word, CAST(count(*) AS BIGINT) AS freq
            FROM (
                SELECT unnest(string_split(lower(text), ' ')) AS w
                FROM documents
            )
            WHERE len(w) > 0
            GROUP BY w
        ),
        seq0 AS MATERIALIZED (
            SELECT word, freq, i AS pos, substr(word, i, 1) AS sym
            FROM words,
                 LATERAL (SELECT unnest(range(1, len(word) + 1)) AS i)
        )"""
    ]
    for k in range(1, BPE_NUM_MERGES + 1):
        p = k - 1
        parts.append(
            f"""nx{k} AS MATERIALIZED (
            SELECT *, lead(sym) OVER (PARTITION BY word ORDER BY pos)
                      AS nxt
            FROM seq{p}
        ),
        best{k} AS MATERIALIZED (
            SELECT sym AS a, nxt AS b, CAST(sum(freq) AS BIGINT) AS cnt
            FROM nx{k} WHERE nxt IS NOT NULL
            GROUP BY sym, nxt
            ORDER BY cnt DESC, a ASC, b ASC
            LIMIT 1
        ),
        m{k} AS MATERIALIZED (
            SELECT nx{k}.*,
                   (sym = best{k}.a AND nxt = best{k}.b) AS match
            FROM nx{k} CROSS JOIN best{k}
        ),
        r{k} AS MATERIALIZED (
            SELECT *, row_number() OVER (
                PARTITION BY word, match ORDER BY pos) AS rn
            FROM m{k}
        ),
        g{k} AS MATERIALIZED (
            SELECT *, min(pos) OVER (
                PARTITION BY word, match, pos - rn) AS grp_start
            FROM r{k}
        ),
        mh{k} AS MATERIALIZED (
            SELECT *, (match AND (pos - grp_start) % 2 = 0)
                      AS merged_here
            FROM g{k}
        ),
        cons{k} AS MATERIALIZED (
            SELECT *, coalesce(lag(merged_here) OVER (
                PARTITION BY word ORDER BY pos), false) AS consumed
            FROM mh{k}
        ),
        seq{k} AS MATERIALIZED (
            SELECT word, freq,
                   row_number() OVER (PARTITION BY word ORDER BY pos)
                       AS pos,
                   CASE WHEN merged_here THEN sym || nxt ELSE sym END
                       AS sym
            FROM cons{k} WHERE NOT consumed
        ),
        stat{k} AS MATERIALIZED (
            SELECT {k} AS merge_idx, a AS left_sym, b AS right_sym,
                   cnt AS pair_freq,
                   (SELECT CAST(sum(freq) AS BIGINT) FROM seq{k})
                       AS corpus_symbols_after
            FROM best{k}
        )"""
        )
    union = "\n        UNION ALL\n        ".join(
        f"SELECT * FROM stat{k}" for k in range(1, BPE_NUM_MERGES + 1)
    )
    return ",\n        ".join(parts) + f"\n        {union}"


def decode_documents(df: DataFrame) -> DataFrame:
    """X5 tokenizer round-trip — the DECODE leg closing
    vocab_build → encode → decode: every document's token stream is
    mapped to ids (OOV → 0, the UNK convention) and back through the
    REVERSE vocab join (id 0 → ``<unk>``), then reassembled in
    order. Output per document: ``n_tokens`` and the md5 of the
    reassembled text — the oracle computes the same md5 from the
    UNK-normalized SOURCE text directly (no id indirection), so the
    hash matches only if the id assignment is a bijection consistent
    across engines, the reverse join loses nothing, and reassembly
    preserves exact token order. This is how a training pipeline
    proves detokenization fidelity without shipping token arrays
    through the gate.

    Scale shape: two broadcast vocab joins (corpus-bounded vocab),
    one per-document aggregate; the only array materialization is
    per-document inside collect_list — bounded by document length,
    never corpus-sized."""
    vocab = vocab_build(df).select(
        "token", "token_id"
    )
    toks = df.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.col("text")), " ")).alias(
            "pos0", "token"
        ),
    )
    ids = toks.join(vocab, "token", "left").select(
        "doc_id",
        "pos0",
        F.coalesce(F.col("token_id"), F.lit(0)).alias("id"),
    )
    rev = vocab.select(
        F.col("token_id").alias("id"), F.col("token").alias("tok")
    )
    dec = ids.join(rev, "id", "left").select(
        "doc_id",
        "pos0",
        F.coalesce(F.col("tok"), F.lit("<unk>")).alias("tok"),
    )
    return dec.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.md5(
            F.array_join(
                F.expr(
                    "transform(array_sort(collect_list(struct(pos0, tok))),"
                    " x -> x.tok)"
                ),
                " ",
            )
        ).alias("decoded_md5"),
    )


def decode_documents_oracle() -> str:
    return f"""
        WITH vocab AS ({vocab_build_oracle()}),
        tok AS (
            SELECT doc_id,
                   unnest([{{'pos1': i, 'token': ws[i]}}
                           FOR i IN range(1, len(ws) + 1)]) AS u
            FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws
                  FROM documents)
        ),
        norm AS (
            SELECT t.doc_id, t.u.pos1 AS pos1,
                   CASE WHEN v.token IS NULL THEN '<unk>'
                        ELSE t.u.token END AS tok
            FROM tok t LEFT JOIN vocab v ON t.u.token = v.token
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               md5(string_agg(tok, ' ' ORDER BY pos1)) AS decoded_md5
        FROM norm
        GROUP BY doc_id
    """


# --- Benchmark decontamination ---------------------------------------------
# The GPT-3-appendix-C / PaLM procedure: a training document is
# CONTAMINATED if it shares any length-N token n-gram with an
# evaluation/benchmark document (production pipelines use N≈13;
# scaled to the synthetic corpus's ~40-200-token docs here). This is
# first-class training-data hygiene, distinct from dedup: the join is
# corpus × benchmark, not corpus × corpus, and the benchmark side is
# tiny by construction.

DECON_N = 8  # n-gram length (the scaled-down 13-gram convention)


def decontaminate(df: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Per contaminated training doc: how many of its distinct
    n-grams (n = ``DECON_N``) appear anywhere in the benchmark set,
    how many distinct benchmark docs it collides with, and the
    contamination fraction as parts-per-million integer (engine-exact; no floats).

    Scale shape: the benchmark n-gram set is BROADCAST (eval suites
    are thousands of examples vs a 100 TB corpus), so the corpus side
    never shuffles its text — each partition explodes to md5-hashed
    n-grams (``dedup.spark_hashed_shingles_expr``; fixed-width
    BIGINTs, one md5 per n-gram), map-side-joins the broadcast set,
    and only (doc_id, matched-count) survivors reach the one per-doc
    aggregation shuffle. Clean documents produce ZERO join output —
    at a realistic <0.1% contamination rate the shuffle is ~free.

    Returns (doc_id, matched_ngrams, eval_docs_hit, total_ngrams,
    contamination_ppm), contaminated docs only, ascending doc_id.
    """
    from kafka_streams_pipeline_spark.operators.dedup import (
        _spark_hash,
        spark_shingles_expr,
    )

    # Hash AFTER the explode, not inside the shingle lambda (round
    # 10, measured 2 ms/doc -> ~0.3 ms/doc): higher-order-function
    # lambdas are interpreted, and InferFiltersFromGenerate copies
    # the whole array expression into a scan-side Filter that
    # re-evaluates it — md5-in-the-lambda therefore ran ~3x per doc
    # in interpreted code. STRING shingles keep the lambda cheap;
    # the md5 runs once per exploded row in a codegen'd projection.
    # array_distinct on strings ≡ distinct on hashes (md5 is a
    # function), so matched/total semantics are unchanged.
    sh = spark_shingles_expr(DECON_N)
    h = _spark_hash("ng_str")
    # n-gram hashing is CPU-bound per row; a small single-file
    # parquet arrives as ONE partition, which would serialize the
    # md5 work on one core (measured: the whole explode+hash leg on
    # one task). Spread before the heavy map, same as
    # minhash_signatures (no-op when the source already has splits).
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)
    # explode_OUTER, then drop the NULL row an empty array yields:
    # InferFiltersFromGenerate cannot derive a predicate from an
    # outer generate, so the shingle array is never duplicated into
    # a scan-side Filter BELOW the repartition (measured: that
    # inferred filter rebuilt every doc's array on the ONE input
    # partition — 4x the whole query).
    bench_src = benchmark
    if bench_src.rdd.getNumPartitions() < target:
        bench_src = bench_src.repartition(target)
    corpus = (
        df.withColumn("toks", F.split(F.col("text"), " "))
        .withColumn("ngs", F.expr(sh))
        .select(
            "doc_id",
            F.expr("size(ngs)").cast("long").alias("total_ngrams"),
            F.explode_outer("ngs").alias("ng_str"),
        )
        .where(F.col("ng_str").isNotNull())
        .select("doc_id", "total_ngrams", F.expr(h).alias("ng"))
    )
    bench = (
        bench_src.withColumn("toks", F.split(F.col("text"), " "))
        .select(
            F.col("doc_id").alias("eval_id"),
            F.explode_outer(F.expr(sh)).alias("ng_str"),
        )
        .where(F.col("ng_str").isNotNull())
        .select("eval_id", F.expr(h).alias("ng"))
        .distinct()
    )
    return (
        corpus.join(F.broadcast(bench), "ng")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("ng").cast("long").alias("matched_ngrams"),
            F.countDistinct("eval_id").cast("long").alias("eval_docs_hit"),
            F.max("total_ngrams").cast("long").alias("total_ngrams"),
        )
        .select(
            "doc_id",
            "matched_ngrams",
            "eval_docs_hit",
            "total_ngrams",
            F.expr("(matched_ngrams * 1000000) div total_ngrams")
            .cast("long")
            .alias("contamination_ppm"),
        )
        .orderBy("doc_id")
    )


def decontaminate_oracle(bench_pred: str) -> str:
    """DuckDB twin; ``bench_pred`` is the SQL predicate selecting the
    benchmark slice out of ``documents`` (the registered query derives
    the benchmark deterministically from the same corpus)."""
    from kafka_streams_pipeline_spark.operators.dedup import (
        _duck_hash,
        duck_shingles_expr,
    )

    sh = duck_shingles_expr(DECON_N)
    h = _duck_hash("ng_str")
    return f"""
        WITH corpus AS (
            SELECT doc_id, {sh} AS ngs
            FROM (SELECT doc_id, string_split(text, ' ') AS toks
                  FROM documents)
        ),
        cng AS (
            SELECT doc_id, CAST(len(ngs) AS BIGINT) AS total_ngrams,
                   {h} AS ng
            FROM (SELECT doc_id, ngs, unnest(ngs) AS ng_str FROM corpus)
        ),
        bench AS (
            SELECT DISTINCT eval_id, {h} AS ng FROM (
                SELECT doc_id AS eval_id,
                       unnest({sh}) AS ng_str
                FROM (SELECT doc_id, string_split(text, ' ') AS toks
                      FROM documents WHERE {bench_pred})
            )
        )
        SELECT c.doc_id,
               CAST(count(DISTINCT c.ng) AS BIGINT) AS matched_ngrams,
               CAST(count(DISTINCT b.eval_id) AS BIGINT) AS eval_docs_hit,
               CAST(max(c.total_ngrams) AS BIGINT) AS total_ngrams,
               CAST((count(DISTINCT c.ng) * 1000000) // max(c.total_ngrams)
                   AS BIGINT) AS contamination_ppm
        FROM cng c JOIN bench b ON c.ng = b.ng
        GROUP BY c.doc_id
    """


DSIR_BUCKETS = 512  # hashed bigram feature space (paper uses 10k;
# 512 keeps the sf0.01 gate's bucket tables dense enough that both
# smoothing branches are exercised)
DSIR_TOPK = 50


def dsir_select(df: DataFrame, k: int = DSIR_TOPK) -> DataFrame:
    """X5 data selection via importance resampling (DSIR — Xie et
    al. 2023, "Data Selection for Language Models via Importance
    Resampling", public literature), integer-exact: score each
    CANDIDATE document (lang != target) by how target-like its
    hashed-bigram feature distribution is, then keep the top-k.

    Both bag-of-ngrams models use the paper's hashed-bigram
    features: bucket = md5('dsir:' || prev || ' ' || cur) mod B over
    the portable hash family. Per-bucket importance score, in
    integer surprisal bits (no float log anywhere, same bit-length
    convention as unigram_surprisal):

        score(b) = bits_raw(b) - bits_target(b)
        bits_m(b) = bitlen(N_m div (cnt_m(b) + 1)) + 1

    with Laplace add-one smoothing (N_m = total_m + B) so unseen
    buckets are defined under both models. A document's weight is
    the sum of its bigram occurrences' scores (the log importance
    ratio of the paper, up to the integer-bits quantization —
    deterministic where the paper's Gumbel resampling is not);
    selection ranks by the length-normalized fixed-point mean
    (×10⁶) with doc_id tie-break, so the draw is reproducible
    across engines, retries, and partitionings.

    Scale shape: both models collapse to ≤ B rows with map-side
    combine; scoring is one explode + a BROADCAST join against the
    B-row score table + a per-doc aggregate; top-k is
    TakeOrderedAndProject (no global sort). The raw model is built
    over ALL documents (full feature support — every candidate
    bucket is present), the target model left-joins onto it."""
    from kafka_streams_pipeline_spark.functions.hashing import md5_long

    toks = df.select(
        "doc_id",
        "lang",
        F.split(F.lower(F.col("text")), " ").alias("ws"),
    ).select(
        "doc_id",
        "lang",
        F.posexplode("ws").alias("pos0", "cur"),
        F.expr(
            "CASE WHEN pos0 >= 1 THEN element_at(ws, pos0) END"
        ).alias("prev"),
    )
    feats = toks.where(F.col("prev").isNotNull()).select(
        "doc_id",
        "lang",
        (
            md5_long(
                F.concat(
                    F.lit("dsir:"),
                    F.col("prev"),
                    F.lit(" "),
                    F.col("cur"),
                )
            )
            % DSIR_BUCKETS
        ).alias("bucket"),
    )
    raw = feats.groupBy("bucket").agg(F.count(F.lit(1)).alias("cr"))
    tgt = (
        feats.where(F.col("lang") == "en")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    totals = (
        raw.agg(F.sum("cr").cast("long").alias("sum_r"))
        .crossJoin(
            tgt.agg(F.sum("ct").cast("long").alias("sum_t"))
        )
        .select(
            (F.col("sum_r") + DSIR_BUCKETS).alias("nr"),
            (F.col("sum_t") + DSIR_BUCKETS).alias("nt"),
        )
    )
    scores = (
        raw.join(tgt, "bucket", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            (
                F.expr(_spark_bitlen("(nr div (cr + 1))"))
                - F.expr(
                    _spark_bitlen("(nt div (coalesce(ct, 0) + 1))")
                )
            )
            .cast("long")
            .alias("score"),
        )
    )
    cand = feats.where(F.col("lang") != "en")
    weighted = (
        cand.join(F.broadcast(scores), "bucket")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("score").cast("long").alias("weight_bits"),
            F.expr(
                "CAST(sum(score) * 1000000L div count(1) AS BIGINT)"
            ).alias("mean_fp"),
        )
    )
    return weighted.orderBy(
        F.col("mean_fp").desc(), F.col("doc_id").asc()
    ).limit(k)


def dsir_select_oracle() -> str:
    from kafka_streams_pipeline_spark.functions.hashing import (
        md5_long_sql,
    )

    bucket = (
        md5_long_sql("'dsir:' || prev || ' ' || cur") + f" % {DSIR_BUCKETS}"
    )
    return f"""
        WITH t AS (
            SELECT doc_id, lang, string_split(lower(text), ' ') AS ws
            FROM documents
        ),
        tok AS (
            SELECT doc_id, lang,
                   unnest(ws) AS cur,
                   generate_subscripts(ws, 1) AS pos1,
                   ws
            FROM t
        ),
        feats AS (
            SELECT doc_id, lang, {bucket} AS bucket
            FROM (
                SELECT doc_id, lang, cur,
                       CASE WHEN pos1 >= 2 THEN ws[pos1 - 1] END AS prev
                FROM tok
            )
            WHERE prev IS NOT NULL
        ),
        raw AS (
            SELECT bucket, count(*) AS cr FROM feats GROUP BY bucket
        ),
        tgt AS (
            SELECT bucket, count(*) AS ct FROM feats
            WHERE lang = 'en' GROUP BY bucket
        ),
        totals AS (
            SELECT (SELECT CAST(sum(cr) AS BIGINT) FROM raw)
                       + {DSIR_BUCKETS} AS nr,
                   (SELECT CAST(sum(ct) AS BIGINT) FROM tgt)
                       + {DSIR_BUCKETS} AS nt
        ),
        scores AS (
            SELECT raw.bucket,
                   CAST({_duck_bitlen('(nr // (cr + 1))')}
                        - {_duck_bitlen('(nt // (coalesce(ct, 0) + 1))')}
                        AS BIGINT) AS score
            FROM raw LEFT JOIN tgt ON raw.bucket = tgt.bucket
            CROSS JOIN totals
        ),
        weighted AS (
            SELECT f.doc_id, f.lang,
                   CAST(count(*) AS BIGINT) AS n_bigrams,
                   CAST(sum(score) AS BIGINT) AS weight_bits,
                   CAST((sum(score) * 1000000) // count(*) AS BIGINT)
                       AS mean_fp
            FROM feats f JOIN scores s ON f.bucket = s.bucket
            WHERE f.lang != 'en'
            GROUP BY f.doc_id, f.lang
        )
        SELECT doc_id, lang, n_bigrams, weight_bits, mean_fp
        FROM weighted
        ORDER BY mean_fp DESC, doc_id ASC
        LIMIT {DSIR_TOPK}
    """


SCRUB_N = 3  # span width; production corpora use 8-15-token spans —
# 3 keeps the sf0.01 fixture's repeated-span population dense enough
# that the removal branch is exercised (max 3-gram doc-freq is 7)
SCRUB_MIN_DOCS = 3


def boilerplate_scrub(df: DataFrame) -> DataFrame:
    """X5 boilerplate-span removal (the RefinedWeb/C4 line-dedup
    step re-expressed for newline-free corpora): any ``SCRUB_N``-token
    span appearing in ≥ ``SCRUB_MIN_DOCS`` DISTINCT documents is
    boilerplate (license headers, navigation chrome, templated
    footers); every token covered by at least one such span is
    REMOVED from every document, and the cleaned text is re-emitted
    with original token order preserved. Unlike whole-doc dedup this keeps the unique
    remainder of each page — the content the dedup family would
    throw away with the wrapper.

    Returns (doc_id, clean_text, n_tokens, n_removed), all docs,
    ascending id. n_tokens is the ORIGINAL token count.

    Scale shape: positional n-grams explode as (doc_id, pos,
    xxhash64) integer rows — text never leaves its partition; the
    hash is a pure GROUPING key (no hash value survives into the
    output, which depends only on which (doc, pos) grams are
    frequent), so the cheap engine hash is safe here while the
    DuckDB twin keeps md5: both classify the same grams as frequent
    absent a collision (~n²/2⁶⁵ — the accepted exposure of every
    hash_keys path in this repo; oracle-exact on all fixture SFs).
    The doc-frequency aggregate is one shuffle keyed by the 8-byte
    hash;
    the frequent-span set (boilerplate is by definition repeated, so
    this is vocabulary-sized, not corpus-sized) joins back WITHOUT a
    hint — AQE broadcasts it when small, same contract as
    k_anonymize; covered START positions aggregate per doc (integer
    lists, one doc-keyed shuffle) and the final join puts lists, not
    text, on the wire. The rewrite itself is one codegen'd
    higher-order filter over (position, token) pairs."""
    from kafka_streams_pipeline_spark.operators.dedup import _safe_offsets

    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)
    toks = df.withColumn("toks", F.split(F.col("text"), " "))
    parts = ", ".join(f"toks[i + {j}]" for j in range(SCRUB_N))
    grams = (
        toks.select(
            "doc_id",
            F.explode_outer(
                F.expr(
                    f"transform({_safe_offsets('toks', SCRUB_N)}, "
                    f"i -> struct(i as pos, concat_ws(' ', {parts}) as g))"
                )
            ).alias("pg"),
        )
        .where(F.col("pg").isNotNull())
        .select(
            "doc_id",
            F.col("pg.pos").alias("pos"),
            F.xxhash64("pg.g").alias("ng"),
        )
    )
    grams = grams.persist()
    freq = (
        grams.select("doc_id", "ng")
        .distinct()
        .groupBy("ng")
        .agg(F.count(F.lit(1)).alias("dfreq"))
        .where(F.col("dfreq") >= SCRUB_MIN_DOCS)
        .select("ng")
    )
    starts = (
        grams.join(freq, "ng")
        .groupBy("doc_id")
        .agg(F.collect_set("pos").alias("starts"))
    )
    out = (
        toks.join(starts, "doc_id", "left")
        .withColumn(
            "starts", F.coalesce(F.col("starts"), F.expr("array()"))
        )
        .select(
            "doc_id",
            F.expr(
                "array_join(transform(filter(transform("
                "sequence(0, size(toks) - 1), "
                "i -> struct(i as p, toks[i] as t)), "
                f"s -> NOT exists(starts, st -> st <= s.p AND s.p <= st + {SCRUB_N - 1})"
                "), s -> s.t), ' ')"
            ).alias("clean_text"),
            F.expr("size(toks)").cast("long").alias("n_tokens"),
            F.expr(
                "cast(size(filter(sequence(0, size(toks) - 1), "
                f"p -> exists(starts, st -> st <= p AND p <= st + {SCRUB_N - 1})"
                ")) as long)"
            ).alias("n_removed"),
        )
        .orderBy("doc_id")
    )
    out = out.localCheckpoint(eager=True)
    grams.unpersist()
    return out


def boilerplate_scrub_oracle() -> str:
    from kafka_streams_pipeline_spark.operators.dedup import _duck_hash

    gram = f"array_to_string(toks[i + 1:i + {SCRUB_N}], ' ')"
    return f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ),
        grams AS (
            SELECT doc_id, i AS pos, {_duck_hash(gram)} AS ng
            FROM (SELECT doc_id, toks,
                         unnest([x FOR x IN range(0, greatest(len(toks) - {SCRUB_N - 1}, 0))])
                             AS i
                  FROM t)
        ),
        freq AS (
            SELECT ng FROM (
                SELECT ng, count(DISTINCT doc_id) AS dfreq
                FROM grams GROUP BY ng
            ) WHERE dfreq >= {SCRUB_MIN_DOCS}
        ),
        starts AS (
            SELECT doc_id, list(DISTINCT pos) AS starts
            FROM grams JOIN freq USING (ng)
            GROUP BY doc_id
        )
        SELECT t.doc_id,
               coalesce(array_to_string(
                   [toks[p + 1] FOR p IN range(0, len(toks))
                    IF len(list_filter(coalesce(starts, []),
                           st -> st <= p AND p <= st + {SCRUB_N - 1})) = 0],
                   ' '), '') AS clean_text,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(len([p FOR p IN range(0, len(toks))
                    IF len(list_filter(coalesce(starts, []),
                           st -> st <= p AND p <= st + {SCRUB_N - 1})) > 0])
                   AS BIGINT) AS n_removed
        FROM t LEFT JOIN starts ON t.doc_id = starts.doc_id
        ORDER BY t.doc_id
    """


DIVERSITY_N = 2   # bigram diversity (type-token ratio at n-gram level)
DIVERSITY_K = 64  # KMV sketch size per group


def ngram_diversity(df: DataFrame) -> DataFrame:
    """X5 corpus diversity audit: per group (source/domain), the
    n-gram (n = ``DIVERSITY_N``) type-token ratio — distinct n-grams
    over total n-gram occurrences, in integer ppm — the
    self-repetition measure that flags template farms, crawler traps,
    and mode-collapsed synthetic data before they enter a training
    mix. Each row also
    carries the KMV distinct ESTIMATE next to the exact count: at
    100 TB the exact distinct is the one expensive shuffle (that
    column is this row's certification twin), while the KMV column
    is the production path — ``DIVERSITY_K`` smallest hashes per
    group merge map-side and the estimate is one division.

    Output: (group, total_ngrams, distinct_exact, distinct_kmv,
    diversity_ppm), ascending group. All counting integer; the KMV
    estimate is the repo's standard deterministic sketch (round 6),
    so the whole row is engine-exact."""
    from pyspark.sql.window import Window as _W

    from kafka_streams_pipeline_spark.operators.dedup import (
        _safe_offsets,
        _spark_hash,
    )

    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)
    parts = ", ".join(f"toks[i + {j}]" for j in range(DIVERSITY_N))
    grams = (
        df.withColumn("toks", F.split(F.col("text"), " "))
        .select(
            F.col("source").alias("grp"),
            F.explode_outer(
                F.expr(
                    f"transform({_safe_offsets('toks', DIVERSITY_N)}, "
                    f"i -> concat_ws(' ', {parts}))"
                )
            ).alias("g"),
        )
        .where(F.col("g").isNotNull())
        .select(
            "grp",
            F.expr(_spark_hash("g"))
            .bitwiseAND(F.lit((1 << 32) - 1))
            .alias("h32"),
        )
    )
    grams = grams.persist()
    totals = grams.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("total_ngrams"),
        F.countDistinct("h32").cast("long").alias("distinct_exact"),
    )
    kept = (
        grams.select("grp", "h32")
        .distinct()
        .withColumn(
            "rn",
            F.row_number().over(_W.partitionBy("grp").orderBy("h32")),
        )
        .where(F.col("rn") <= DIVERSITY_K)
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_used"),
            F.max("h32").cast("long").alias("h_k"),
        )
    )
    est = (
        f"CASE WHEN n_used < {DIVERSITY_K} THEN CAST(n_used AS DOUBLE) "
        f"ELSE ({DIVERSITY_K} - 1) * CAST(4294967296 AS DOUBLE) / h_k END"
    )
    out = (
        totals.join(kept, "grp")
        .select(
            F.col("grp").alias("source"),
            "total_ngrams",
            "distinct_exact",
            F.expr(f"round({est}, 6)").alias("distinct_kmv"),
            F.expr("(distinct_exact * 1000000) div total_ngrams")
            .cast("long")
            .alias("diversity_ppm"),
        )
        .orderBy("source")
    )
    out = out.localCheckpoint(eager=True)
    grams.unpersist()
    return out


def ngram_diversity_oracle() -> str:
    from kafka_streams_pipeline_spark.operators.dedup import _duck_hash

    gram = f"array_to_string(toks[i + 1:i + {DIVERSITY_N}], ' ')"
    est = (
        f"CASE WHEN n_used < {DIVERSITY_K} THEN CAST(n_used AS DOUBLE) "
        f"ELSE ({DIVERSITY_K} - 1) * CAST(4294967296 AS DOUBLE) / h_k END"
    )
    return f"""
        WITH grams AS (
            SELECT source AS grp,
                   ({_duck_hash(gram)} & {(1 << 32) - 1}) AS h32
            FROM (SELECT source, toks,
                         unnest([x FOR x IN
                                 range(0, greatest(len(toks) - {DIVERSITY_N - 1}, 0))])
                             AS i
                  FROM (SELECT source, string_split(text, ' ') AS toks
                        FROM documents))
        ),
        totals AS (
            SELECT grp, CAST(count(*) AS BIGINT) AS total_ngrams,
                   CAST(count(DISTINCT h32) AS BIGINT) AS distinct_exact
            FROM grams GROUP BY grp
        ),
        kept AS (
            SELECT grp, CAST(count(*) AS BIGINT) AS n_used,
                   CAST(max(h32) AS BIGINT) AS h_k
            FROM (
                SELECT grp, h32,
                       row_number() OVER (
                           PARTITION BY grp ORDER BY h32) AS rn
                FROM (SELECT DISTINCT grp, h32 FROM grams)
            ) WHERE rn <= {DIVERSITY_K}
            GROUP BY grp
        )
        SELECT grp AS source, total_ngrams, distinct_exact,
               round({est}, 6) AS distinct_kmv,
               CAST((distinct_exact * 1000000) // total_ngrams AS BIGINT)
                   AS diversity_ppm
        FROM totals JOIN kept USING (grp)
        ORDER BY grp
    """


# --- Per-document keyword extraction (round 11) -----------------------------


def keyword_extract(df: DataFrame) -> DataFrame:
    """Per-document top-3 keyword terms by a tf-idf-style rarity
    weight — the per-doc companion of bm25_topk's corpus-level
    scoring, used for tagging / routing / topic bucketing in curation
    pipelines (Spärck Jones IDF, public literature).

    Engine-exact scoring with NO float log: score_ppm =
    ``tf · 1000000 div df`` — monotone increasing in term frequency,
    decreasing in document frequency, pure BIGINT (both engines
    truncate integral division identically). Ties break (score DESC,
    term ASC) so the selected rowset is unique. Only every 20th doc
    is emitted — the scoring itself runs corpus-wide. Real corpora
    would also drop head terms by a df cap;
    the fixture's closed ~30-word vocabulary would empty under any
    such cap, so the gate is left to callers and documented here.

    Scale shape: tokenize → explode → (doc, term) count (one
    shuffle), term df derived FROM the tf frame (vocab-sized second
    aggregate), df joined back (vocab-sized side — AQE picks
    broadcast), top-k per doc is a window partitioned by doc_id —
    parallel across docs, no global sort."""
    from pyspark.sql.window import Window

    toks = df.select(
        "doc_id",
        F.explode(F.split(F.col("text"), " ")).alias("term"),
    ).where(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(dfreq, "term")
        .where(F.col("doc_id") % 20 == 0)
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.expr("tf * 1000000 div df").alias("score_ppm"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_ppm").desc(), "term"
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 3)
    )


def keyword_extract_oracle() -> str:
    return """
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents
        ),
        tf AS (
            SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
            FROM toks WHERE term != ''
            GROUP BY doc_id, term
        ),
        dfreq AS (
            SELECT term, CAST(count(*) AS BIGINT) AS df
            FROM tf GROUP BY term
        ),
        scored AS (
            SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
                   CAST(tf.tf * 1000000 // dfreq.df AS BIGINT) AS score_ppm
            FROM tf JOIN dfreq ON tf.term = dfreq.term
            WHERE tf.doc_id % 20 = 0
        ),
        ranked AS (
            SELECT doc_id, term, tf, df, score_ppm,
                   CAST(row_number() OVER (
                       PARTITION BY doc_id
                       ORDER BY score_ppm DESC, term) AS BIGINT) AS rank
            FROM scored
        )
        SELECT doc_id, term, tf, df, score_ppm, rank
        FROM ranked WHERE rank <= 3
    """


def token_cooccurrence(df: DataFrame, window: int = 3, top_n: int = 150) -> DataFrame:
    """X5 skip-gram co-occurrence counts (the word2vec/GloVe corpus
    statistic; Mikolov et al. 2013 use exactly this ±window pair
    stream): unordered token pairs within `window` positions,
    normalized (least, greatest) so (a,b) and (b,a) accumulate
    together, top `top_n` tie-broken by pair text. Distinct from
    word_bigrams: adjacency is one diagonal of this matrix.

    Plan: pair generation is PER-ROW nested array arithmetic
    (flatten·transform — no self-join on position, which is the
    naive formulation's shuffle), then one count aggregate with
    map-side partials and a TakeOrdered top-N. At 100 TB the pair
    stream is window·tokens rows feeding partial aggregation —
    the same shape as the wordcount row, scaled by the window."""
    inner = (
        f"transform(sequence(i + 1, least(i + {window}, size(ws))), "
        "j -> concat(least(element_at(ws, i), element_at(ws, j)), ' ', "
        "greatest(element_at(ws, i), element_at(ws, j))))"
    )
    return (
        df.withColumn("ws", F.split(F.lower(F.col("text")), " "))
        .where(F.expr("size(ws) >= 2"))
        .select(
            F.explode(
                F.expr(
                    f"flatten(transform(sequence(1, size(ws) - 1), i -> {inner}))"
                )
            ).alias("pair")
        )
        .groupBy("pair")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("pair"))
        .limit(top_n)
    )


def token_cooccurrence_oracle() -> str:
    return """
        SELECT pair, CAST(count(*) AS BIGINT) AS freq
        FROM (
            SELECT unnest(flatten(
                [[least(ws[i], ws[j]) || ' ' || greatest(ws[i], ws[j])
                  FOR j IN range(i + 1, least(i + 3, len(ws)) + 1)]
                 FOR i IN range(1, len(ws))])) AS pair
            FROM (SELECT string_split(lower(text), ' ') AS ws
                  FROM documents)
            WHERE len(ws) >= 2
        )
        GROUP BY pair
        ORDER BY freq DESC, pair ASC
        LIMIT 150
    """
