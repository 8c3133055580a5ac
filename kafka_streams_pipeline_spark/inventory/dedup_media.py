"""Extension operators (SURVEY.md §2.9): exact/minhash/simhash/
embedding dedup, similarity search (top-k, LSH, IVF), text metrics,
and the real-codec media decode family (WAV/BMP/AVI/JPEG/MJPEG/PNG/
MP4) with exact recurrence oracles.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_streams_pipeline_spark.inventory._registry import ORACLES, register
from kafka_streams_pipeline_spark.inventory._shared import _scratch, _t
from kafka_streams_pipeline_spark.operators import dedup as _dedup
from kafka_streams_pipeline_spark.operators import multimodal as _mm
from kafka_streams_pipeline_spark.operators import similarity as _sim
from kafka_streams_pipeline_spark.operators import text as _text

# ---------------------------------------------------------------------------
# Extension operators (SURVEY.md §2.9): dedup / similarity / text /
# multimodal — the LLM-data-pipeline family.
# ---------------------------------------------------------------------------



@register(
    "q_dedup_exact",
    oracle="""
        SELECT md5(text) AS text_md5, min(doc_id) AS keeper,
               count(*) AS n_copies
        FROM documents GROUP BY md5(text)
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1: exact dedup (hash-groupBy, keeper = lowest id)."""
    return _dedup.exact_dedup(_t(spark, sf_dir, "documents"))


@register(
    "q_dedup_normalized",
    oracle=f"""
        SELECT md5({_dedup.DUCK_NORMALIZE.format(c='text')}) AS norm_md5,
               min(doc_id) AS keeper, count(*) AS n_copies
        FROM documents GROUP BY 1
    """,
)
def q_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: normalized-text dedup (lower/strip-punct/collapse-ws)."""
    return _dedup.normalized_dedup(_t(spark, sf_dir, "documents"))


@register(
    "q_dedup_minhash",
    oracle=_dedup.minhash_pairs_oracle(),
    bench=True,
    materializes=True,
)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: MinHash+LSH near-dup pairs (shingle→minhash→band→bucket
    join→exact-Jaccard verify, threshold 0.8)."""
    return _dedup.minhash_near_dup_pairs(_t(spark, sf_dir, "documents"))


@register("q_dedup_ngram", oracle=_dedup.ngram_pairs_oracle())
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: exact n-gram Jaccard pairs via inverted shingle index —
    the exact baseline certifying the MinHash path."""
    return _dedup.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.8)


@register(
    "q_dedup_components",
    oracle=_dedup.components_oracle(),
    bench=True,
    materializes=True,
)
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: duplicate-group clustering — connected components over the
    MinHash pair graph (driver union-find under the edge cap, else
    large-star/small-star); the oracle is a recursive-CTE transitive
    closure, certifying the fixpoint."""
    return _dedup.dedup_components(_t(spark, sf_dir, "documents"), threshold=0.8)


@register(
    "q_leakage_safe_split",
    oracle=_dedup.leakage_safe_split_oracle(),
    materializes=True,
)
def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2m (round 16): leakage-safe train/val/test split — the split
    is a deterministic md5 function of the NEAR-DUP COMPONENT
    (8/1/1), so a test document's near-copy can never sit in train
    (the eval-contamination failure mode of doc-level hash splits;
    Lee et al. 2022). One row per split with doc/component counts
    and an id-checksum; every row also carries the value-matched
    naive_leaky_components diagnostic (how many components a
    DOC-level md5 split would straddle — the leak prevented) and
    the leakage_free implementation invariant recomputed from the
    doc-level assignment. Components via the certified LSH →
    exact-verify → components path; the split itself is a pure
    projection + component-keyed aggregates on top. See
    operators/dedup.leakage_safe_split."""
    return _dedup.leakage_safe_split(
        _t(spark, sf_dir, "documents")
    )


@register(
    "q_dedup_best_keeper",
    oracle=f"""
        WITH comp AS ({{COMPONENTS}}),
        q AS ({{QUALITY}}),
        j AS (
            SELECT comp.component, comp.doc_id, q.quality
            FROM comp JOIN q USING (doc_id)
        ),
        ranked AS (
            SELECT component, doc_id, quality,
                   row_number() OVER (
                       PARTITION BY component
                       ORDER BY quality DESC, doc_id DESC) AS rn,
                   count(*) OVER (PARTITION BY component) AS n_members
            FROM j
        )
        SELECT component,
               CAST(n_members AS BIGINT) AS n_members,
               doc_id AS keeper,
               quality AS keeper_quality
        FROM ranked WHERE rn = 1
    """,
    materializes=True,
)
def q_dedup_best_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 quality-aware dedup keeper selection: within each near-dup
    component (MinHash → connected components), keep the HIGHEST-
    quality member instead of the arbitrary lowest id — the policy a
    real corpus dedup actually wants (drop the worse copies). The
    arg-max is a partial/final max over a (quality, doc_id) struct —
    no window over the corpus; quality is the single-division
    integer-numerator score, so the keeper choice is deterministic
    and engine-identical (doc_id tiebreak on equal quality)."""
    docs = _t(spark, sf_dir, "documents")
    comps = _dedup.dedup_components(docs, threshold=0.8)
    q = _text.quality_score(docs)
    return (
        comps.join(q, "doc_id")
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max(F.struct(F.col("quality"), F.col("doc_id"))).alias("m"),
        )
        .select(
            "component",
            "n_members",
            F.col("m.doc_id").alias("keeper"),
            F.col("m.quality").alias("keeper_quality"),
        )
    )


# splice the sub-oracles in (both are self-contained SELECTs; the
# components one carries its own WITH RECURSIVE, legal as a nested
# CTE body)
ORACLES["q_dedup_best_keeper"] = (
    ORACLES["q_dedup_best_keeper"]
    .replace("{COMPONENTS}", _dedup.components_oracle())
    .replace("{QUALITY}", _text.quality_score_oracle())
)


@register("q_dedup_simhash", oracle=_dedup.simhash_oracle())
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: 32-bit SimHash signatures (bitwise majority of token
    hashes); near-dups land within small Hamming distance."""
    return _dedup.simhash_signatures(_t(spark, sf_dir, "documents"))


@register(
    "q_dedup_hamming",
    oracle=_dedup.simhash_hamming_oracle(),
    bench=True,
    materializes=True,
)
def q_dedup_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2m SimHash near-dup JOIN (round 11): all pairs within
    Hamming distance 3 over a 64-bit signature (two seeded 32-bit
    halves) via the Manku-Jain-Sarma multi-index pigeonhole —
    candidates from an equi-join on 4×16-bit blocks, exact popcount
    verify, output bit-identical to the oracle's brute-force
    all-pairs scan. Completes the SimHash leg: q_dedup_simhash
    certifies the signatures, this certifies the JOIN built on them.
    See operators/dedup.simhash_hamming_pairs."""
    return _dedup.simhash_hamming_pairs(_t(spark, sf_dir, "documents"))


@register("q_dedup_embed", oracle=_sim.nearest_pairs_oracle())
def q_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: embedding-cosine near-dup — top-20 closest vector pairs."""
    return _sim.nearest_pairs(_t(spark, sf_dir, "embeddings"))


@register("q_dedup_embed_lsh", oracle=_sim.nearest_pairs_lsh_oracle(), bench=True)
def q_dedup_embed_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 scale path: the same top-20 closest-pair query as
    q_dedup_embed, with the pair space pruned by banded hyperplane
    LSH (4 tables × 8 deterministic md5 planes) instead of the
    all-pairs join — single groupBy(bucket) shuffle + in-group pair
    generation, exact cosine on candidates only. ~7× faster than the
    exact baseline at sf0.1 and sub-quadratic at corpus scale."""
    return _sim.nearest_pairs_lsh(_t(spark, sf_dir, "embeddings"), top_n=20)


@register("q_sim_topk", oracle=_sim.topk_cosine_oracle(10), bench=True)
def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: exact brute-force cosine top-10 for a stored query vector."""
    return _sim.topk_cosine(_t(spark, sf_dir, "embeddings"), k=10)


@register("q_sim_ann_lsh", oracle=_sim.topk_cosine_lsh_oracle())
def q_sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: hyperplane-LSH ANN top-10 (bucket-restricted; approximate
    by construction, deterministic planes → exact oracle)."""
    return _sim.topk_cosine_lsh(_t(spark, sf_dir, "embeddings"))


@register("q_sim_ann_ivf", oracle=_sim.topk_cosine_ivf_oracle())
def q_sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: IVF-style ANN top-10 — deterministic coarse quantizer,
    nprobe=2 cell probing, exact re-rank inside probed cells (the
    second scale path beside hyperplane LSH)."""
    return _sim.topk_cosine_ivf(_t(spark, sf_dir, "embeddings"))


@register("q_array_stats", oracle=_sim.array_stats_oracle())
def q_array_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: per-vector array stats (dim, L2 norm, min/max/mean)."""
    return _sim.array_stats(_t(spark, sf_dir, "embeddings"))


@register("q_text_tokens", oracle=_text.token_stats_oracle())
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: per-document token statistics."""
    return _text.token_stats(_t(spark, sf_dir, "documents"))


@register("q_text_wordcount", oracle=_text.wordpiece_counts_oracle(), bench=True)
def q_text_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: BPE-ish regex tokenization → global term frequencies."""
    return _text.wordpiece_counts(_t(spark, sf_dir, "documents"))


@register("q_lang_id", oracle=_text.lang_id_oracle())
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: stopword-vote language-ID heuristic."""
    return _text.lang_id(_t(spark, sf_dir, "documents"))


@register("q_lang_stats", oracle=_text.lang_table_stats_oracle())
def q_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: per-language corpus statistics."""
    return _text.lang_table_stats(_t(spark, sf_dir, "documents"))


@register("q_pii_scrub", oracle=_text.pii_scrub_oracle())
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 / hygiene: PII redaction (emails, URLs, phones, long digit
    runs) — per-doc counts by type + scrubbed-text md5."""
    return _text.pii_scrub(_t(spark, sf_dir, "documents"))


@register("q_doc_length_hist", oracle=_text.doc_length_hist_oracle())
def q_doc_length_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 / profiling: document-length histogram (100-char buckets)."""
    return _text.doc_length_hist(_t(spark, sf_dir, "documents"))


@register("q_quality_score", oracle=_text.quality_score_oracle())
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: heuristic document quality score (length/diversity/shape)."""
    return _text.quality_score(_t(spark, sf_dir, "documents"))


@register("q_fingerprint", oracle=_text.fingerprints_oracle())
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: document fingerprints (md5 prefix + order-sensitive
    polynomial rolling hash)."""
    return _text.fingerprints(_t(spark, sf_dir, "documents"))


@register(
    "q_multimodal_meta",
    oracle="""
        SELECT doc_id AS asset_id,
               CASE WHEN doc_id % 3 = 0 THEN 'image'
                    WHEN doc_id % 3 = 1 THEN 'audio'
                    ELSE 'video' END AS media_type,
               CAST(octet_length(text::BLOB) AS BIGINT) AS n_bytes,
               md5(text) AS payload_md5
        FROM documents
    """,
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: opaque binary payloads + typed metadata;
    pure-JVM byte-length/md5 — the cheap pre-decode pass (decode
    itself is the real per-codec mapInPandas path certified by the
    q_media_* rows and q_media_features)."""
    media = _mm.media_from_documents(_t(spark, sf_dir, "documents"))
    return _mm.binary_meta(media)


_MEDIA_FEATURES_ORACLE = """
    WITH aud AS (
        SELECT doc_id, doc_id % 50 + 10 AS n FROM documents
        WHERE doc_id % 3 = 1
    ),
    aud_s AS (
        SELECT doc_id, n,
               (doc_id * 31 + i * 7) % 65536 - 32768 AS s
        FROM aud, unnest(generate_series(0, n - 1)) AS t(i)
    ),
    aud_f AS (
        SELECT doc_id AS asset_id, 'audio' AS media_type,
               CAST(1 AS DOUBLE) AS f0, CAST(8000 AS DOUBLE) AS f1,
               CAST(16 AS DOUBLE) AS f2, CAST(n AS DOUBLE) AS f3,
               CAST(n * 1000 // 8000 AS DOUBLE) AS f4,
               CAST(max(abs(s)) AS DOUBLE) AS f5,
               CAST(sum(s) AS DOUBLE) AS f6,
               CAST(sum(s * s) AS DOUBLE) AS f7
        FROM aud_s GROUP BY doc_id, n
    ),
    img AS (
        SELECT doc_id, doc_id % 5 + 2 AS w, doc_id % 7 + 2 AS h
        FROM documents WHERE doc_id % 3 = 0
    ),
    img_px AS (
        SELECT doc_id, w, h, k,
               (doc_id * 17 + k * 29) % 256 AS v
        FROM img, unnest(generate_series(0, h * w * 3 - 1)) AS t(k)
    ),
    img_f AS (
        SELECT doc_id AS asset_id, 'image' AS media_type,
               CAST(w AS DOUBLE) AS f0, CAST(h AS DOUBLE) AS f1,
               CAST(24 AS DOUBLE) AS f2, CAST(w * h AS DOUBLE) AS f3,
               CAST(sum(CASE WHEN k % 3 = 0 THEN v ELSE 0 END) AS DOUBLE) AS f4,
               CAST(sum(CASE WHEN k % 3 = 1 THEN v ELSE 0 END) AS DOUBLE) AS f5,
               CAST(sum(CASE WHEN k % 3 = 2 THEN v ELSE 0 END) AS DOUBLE) AS f6,
               CAST(max(v) AS DOUBLE) AS f7
        FROM img_px GROUP BY doc_id, w, h
    ),
    vid AS (
        SELECT doc_id, doc_id % 4 + 2 AS nf, doc_id % 3 + 2 AS w,
               doc_id % 5 + 2 AS h
        FROM documents WHERE doc_id % 3 = 2
    ),
    vid_px AS (
        SELECT doc_id, nf, w, h, f,
               (doc_id * 23 + f * 101 + k * 29) % 256 AS v
        FROM vid,
             unnest(generate_series(0, nf - 1)) AS tf(f),
             unnest(generate_series(0, h * w * 3 - 1)) AS tk(k)
    ),
    vid_f AS (
        SELECT doc_id AS asset_id, 'video' AS media_type,
               CAST(w AS DOUBLE) AS f0, CAST(h AS DOUBLE) AS f1,
               CAST(40000 AS DOUBLE) AS f2, CAST(nf AS DOUBLE) AS f3,
               CAST(sum(v) AS DOUBLE) AS f4,
               CAST(max(v) AS DOUBLE) AS f5,
               CAST(sum(CASE WHEN f = 0 THEN v ELSE 0 END) AS DOUBLE) AS f6,
               CAST(sum(CASE WHEN f = nf - 1 THEN v ELSE 0 END) AS DOUBLE) AS f7
        FROM vid_px GROUP BY doc_id, nf, w, h
    )
    SELECT * FROM aud_f
    UNION ALL SELECT * FROM img_f
    UNION ALL SELECT * FROM vid_f
"""


@register("q_media_features", oracle=_MEDIA_FEATURES_ORACLE)
def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature extraction, certified end-to-end: the
    mixed-modality fixture (REAL BMP/WAV/AVI payloads per doc_id % 3)
    through extract_features' per-media_type dispatch to the stdlib
    parsers, flattened to one row of 8 feature columns per asset. The
    oracle recomputes every decoded feature from the fixture's
    integer recurrences in pure SQL — so a parser that mis-walks any
    of the three containers flips the hash. See
    operators/multimodal.py extract_features/_real_features."""
    media = _mm.typed_media_from_documents(_t(spark, sf_dir, "documents"))
    feats = _mm.extract_features(media)
    return feats.select(
        "asset_id",
        "media_type",
        *[F.col("features")[i].alias(f"f{i}") for i in range(_mm.FEAT_DIM)],
    )


@register(
    "q_media_decode",
    oracle="""
        WITH base AS (
            SELECT doc_id, doc_id % 50 + 10 AS n FROM documents
        ),
        samples AS (
            SELECT doc_id, n,
                   (doc_id * 31 + i * 7) % 65536 - 32768 AS s
            FROM base, unnest(generate_series(0, n - 1)) AS t(i)
        )
        SELECT doc_id                          AS asset_id,
               CAST(1 AS BIGINT)               AS n_channels,
               CAST(8000 AS BIGINT)            AS sample_rate,
               CAST(16 AS BIGINT)              AS bits_per_sample,
               n                               AS n_samples,
               n * 1000 // 8000                AS duration_ms,
               max(abs(s))                     AS peak_abs,
               CAST(sum(s) AS BIGINT)          AS sum_samples,
               round(CAST(sum(s) AS BIGINT) / n, 6) AS mean_val
        FROM samples
        GROUP BY doc_id, n
    """,
)
def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 real decode kernel: genuine PCM16 RIFF/WAVE payloads
    synthesized per document, decoded by the stdlib chunk-walking WAV
    parser (operators/multimodal.parse_wav) inside mapInPandas —
    header fields + exact integer PCM stats. The oracle recomputes the
    decoded stats from the sample recurrence in pure SQL, so the hash
    match certifies the decode end-to-end. Payloads are built and
    decoded partition-locally: nothing but small typed columns ever
    shuffles."""
    wav = _mm.wav_from_documents(_t(spark, sf_dir, "documents"))
    dec = _mm.decode_wav(wav)
    return dec.select(
        "asset_id",
        "n_channels",
        "sample_rate",
        "bits_per_sample",
        "n_samples",
        "duration_ms",
        "peak_abs",
        "sum_samples",
        F.round(F.col("sum_samples") / F.col("n_samples"), 6).alias("mean_val"),
    )


@register(
    "q_media_audio_energy",
    oracle=f"""
        WITH base AS (
            SELECT doc_id, doc_id % 50 + 10 AS n FROM documents
        ),
        samples AS (
            SELECT doc_id, i // {_mm.ENERGY_FRAME} AS frame_idx,
                   (doc_id * 31 + i * 7) % 65536 - 32768 AS s
            FROM base, unnest(generate_series(0, n - 1)) AS t(i)
        )
        SELECT doc_id            AS asset_id,
               frame_idx,
               count(*)          AS n_samples,
               CAST(sum(s * s) AS BIGINT) AS energy,
               max(abs(s))       AS peak_abs
        FROM samples
        GROUP BY doc_id, frame_idx
    """,
)
def q_media_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 windowed audio analysis: WAV decode → fixed 20-sample
    framing → exact integer energy (Σs²) and peak per frame — the
    decode/window/feature chain before VAD or audio embedding,
    expanding 1 asset row → ceil(n/20) frame rows in the same Arrow
    pass as the decode."""
    wav = _mm.wav_from_documents(_t(spark, sf_dir, "documents"))
    return _mm.audio_frame_energy(wav)


@register(
    "q_media_image_decode",
    oracle="""
        WITH base AS (
            SELECT doc_id, doc_id % 5 + 2 AS w, doc_id % 7 + 2 AS h
            FROM documents
        ),
        comps AS (
            SELECT doc_id, w, h, k,
                   (doc_id * 17 + k * 29) % 256 AS v
            FROM base, unnest(generate_series(0, w * h * 3 - 1)) AS t(k)
        )
        SELECT doc_id                 AS asset_id,
               w                      AS width,
               h                      AS height,
               CAST(24 AS BIGINT)     AS bits_per_pixel,
               CAST(w * h AS BIGINT)  AS n_pixels,
               CAST(sum(CASE WHEN k % 3 = 0 THEN v END) AS BIGINT) AS sum_c0,
               CAST(sum(CASE WHEN k % 3 = 1 THEN v END) AS BIGINT) AS sum_c1,
               CAST(sum(CASE WHEN k % 3 = 2 THEN v END) AS BIGINT) AS sum_c2,
               CAST(sum(k * v) AS BIGINT) AS weighted_sum,
               max(v)                 AS peak
        FROM comps
        GROUP BY doc_id, w, h
    """,
)
def q_media_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 real image decode kernel: genuine 24-bit Windows BMP
    payloads (bottom-up rows, 4-byte padding) synthesized per
    document, decoded by the stdlib BMP parser
    (operators/multimodal.parse_bmp) inside mapInPandas — header
    fields + exact integer pixel stats. ``weighted_sum`` weights each
    component by its logical linear index, so a parser that
    mishandles the row flip or padding cannot hash-match. The oracle
    recomputes everything from the pixel recurrence in pure SQL."""
    bmp = _mm.bmp_from_documents(_t(spark, sf_dir, "documents"))
    return _mm.decode_bmp(bmp)


@register(
    "q_media_video_frames",
    oracle="""
        WITH base AS (
            SELECT doc_id,
                   doc_id % 4 + 2 AS nf,
                   doc_id % 3 + 2 AS w,
                   doc_id % 5 + 2 AS h
            FROM documents
        ),
        sampled AS (
            SELECT doc_id, nf, w, h, f
            FROM base, unnest(generate_series(0, nf - 1)) AS tf(f)
            WHERE f % 2 = 0
        ),
        comps AS (
            SELECT doc_id, w, h, f, k,
                   (doc_id * 23 + f * 101 + k * 29) % 256 AS v
            FROM sampled, unnest(generate_series(0, w * h * 3 - 1)) AS t(k)
        )
        SELECT doc_id            AS asset_id,
               f                 AS frame_idx,
               f * 40            AS frame_ts_ms,
               w                 AS width,
               h                 AS height,
               CAST(sum(v) AS BIGINT)     AS sum_px,
               CAST(sum(k * v) AS BIGINT) AS weighted_sum,
               max(v)            AS peak
        FROM comps
        GROUP BY doc_id, f, w, h
    """,
)
def q_media_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 real video frame-sampling kernel: genuine uncompressed AVI
    containers (RIFF nested-LIST structure, '00db' DIB frames)
    synthesized per document, parsed by the stdlib AVI reader
    (operators/multimodal.parse_avi) inside mapInPandas; every 2nd
    frame sampled with exact integer pixel stats. frame_ts_ms derives
    from the container's own dwMicroSecPerFrame (25 fps → 40 ms/
    frame), so the oracle's f*40 certifies the header was actually
    read. 1 video row → ceil(nf/2) frame rows — the row-expanding
    Arrow batch shape."""
    avi = _mm.avi_from_documents(_t(spark, sf_dir, "documents"))
    return _mm.sample_avi_frames(avi)


@register(
    "q_media_image_resize",
    oracle="""
        WITH base AS (
            SELECT doc_id, doc_id % 5 + 2 AS w, doc_id % 7 + 2 AS h
            FROM documents
        ),
        grid AS (
            SELECT doc_id,
                   (Y * 3 + X) * 3 + c AS k,
                   (doc_id * 17 +
                    ((Y * h // 3 * w + X * w // 3) * 3 + c) * 29) % 256 AS v
            FROM base,
                 unnest(generate_series(0, 2)) AS tx(X),
                 unnest(generate_series(0, 2)) AS ty(Y),
                 unnest(generate_series(0, 2)) AS tc(c)
        )
        SELECT doc_id                AS asset_id,
               CAST(3 AS BIGINT)     AS width,
               CAST(3 AS BIGINT)     AS height,
               CAST(9 AS BIGINT)     AS n_pixels,
               CAST(sum(CASE WHEN k % 3 = 0 THEN v END) AS BIGINT) AS sum_c0,
               CAST(sum(CASE WHEN k % 3 = 1 THEN v END) AS BIGINT) AS sum_c1,
               CAST(sum(CASE WHEN k % 3 = 2 THEN v END) AS BIGINT) AS sum_c2,
               CAST(sum(k * v) AS BIGINT) AS weighted_sum,
               max(v)                AS peak
        FROM grid
        GROUP BY doc_id
    """,
)
def q_media_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 real image resize: BMP decode → nearest-neighbor 3×3
    downsample (out (X, Y) ← in (X*w // 3, Y*h // 3)) → BMP re-encode
    → decode again for stats. Certifies the full decode/transform/
    re-encode loop: the oracle replicates the floor-index sampling
    over the pixel recurrence, so a hash match proves both parse and
    encode are byte-correct. Two chained mapInPandas stages, zero
    shuffles — payloads never leave their partition."""
    bmp = _mm.bmp_from_documents(_t(spark, sf_dir, "documents"))
    small = _mm.resize_bmp(bmp, width=3, height=3)
    return _mm.decode_bmp(small, payload_col="resized").select(
        "asset_id",
        "width",
        "height",
        "n_pixels",
        "sum_c0",
        "sum_c1",
        "sum_c2",
        "weighted_sum",
        "peak",
    )


@register(
    "q_media_jpeg_decode",
    oracle="""
        WITH base AS (
            SELECT doc_id,
                   8 * (doc_id % 3 + 1) AS w,
                   8 * (doc_id % 2 + 1) AS h
            FROM documents
        ),
        dims AS (
            SELECT doc_id, w, h,
                   w // 8                  AS nbx,
                   (w // 8) * (h // 8)     AS nb
            FROM base
        ),
        blocks AS (
            SELECT doc_id, w, h, nb, c, b,
                   (doc_id * 31 + (c * nb + b) * 17) % 256 AS v,
                   b // nbx AS brow, b % nbx AS bcol
            FROM dims,
                 unnest(generate_series(0, 2)) AS tc(c),
                 unnest(generate_series(0, nb - 1)) AS tb(b)
        )
        SELECT doc_id                AS asset_id,
               w                     AS width,
               h                     AS height,
               CAST(3 AS BIGINT)     AS n_components,
               CAST(w * h AS BIGINT) AS n_pixels,
               CAST(sum(CASE WHEN c = 0 THEN 64 * v END) AS BIGINT) AS sum_c0,
               CAST(sum(CASE WHEN c = 1 THEN 64 * v END) AS BIGINT) AS sum_c1,
               CAST(sum(CASE WHEN c = 2 THEN 64 * v END) AS BIGINT) AS sum_c2,
               CAST(sum(v * (c * w * h * 64 + 512 * w * brow + 224 * w
                             + 512 * bcol + 224)) AS BIGINT) AS spatial_sum,
               max(v)                AS peak
        FROM blocks
        GROUP BY doc_id, w, h
    """,
)
def q_media_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 real COMPRESSED-image decode: genuine baseline sequential
    JPEG payloads (T.81 entropy coding — canonical Huffman, DC
    prediction, zigzag, quantization, DCT) synthesized per document
    and decoded by the stdlib codec (operators/multimodal.parse_jpeg)
    inside mapInPandas. The fixture's blocks are constant-valued, for
    which the flat q=8 table makes the lossy codec bit-exact (DC-only
    blocks; see the codec section header), so the oracle recomputes
    the DECODED pixel stats from the generating recurrence in pure
    SQL. ``spatial_sum`` weights every pixel by (c·h·w + y·w + x):
    a decoder that misplaces blocks, swaps planes, or mis-walks the
    zigzag cannot hash-match. A constant-block sum over an 8×8 tile
    collapses to v·(64·c·h·w + 512·w·brow + 224·w + 512·bcol + 224)."""
    jpg = _mm.jpeg_from_documents(_t(spark, sf_dir, "documents"))
    return _mm.decode_jpeg(jpg)


@register(
    "q_media_mjpeg_frames",
    oracle="""
        WITH base AS (
            SELECT doc_id,
                   doc_id % 3 + 1       AS nf,
                   8 * (doc_id % 2 + 1) AS w,
                   8                    AS h,
                   doc_id % 2 + 1       AS nb
            FROM documents
        ),
        cells AS (
            SELECT doc_id, nf, w, h, nb, f, c, b,
                   (doc_id * 37 + f * 113 + (c * nb + b) * 17) % 256 AS v
            FROM base,
                 unnest(generate_series(0, nf - 1)) AS tf(f),
                 unnest(generate_series(0, 2)) AS tc(c),
                 unnest(generate_series(0, nb - 1)) AS tb(b)
        )
        SELECT doc_id                 AS asset_id,
               f                      AS frame_idx,
               CAST(f * 40 AS BIGINT) AS frame_ts_ms,
               w                      AS width,
               CAST(h AS BIGINT)      AS height,
               CAST(sum(64 * v) AS BIGINT) AS sum_px,
               CAST(sum(v * (64 * c * h * w + 224 * w + 512 * b + 224))
                    AS BIGINT)        AS spatial_sum,
               max(v)                 AS peak
        FROM cells
        GROUP BY doc_id, f, w, h
    """,
)
def q_media_mjpeg_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 real COMPRESSED-video decode: Motion-JPEG AVIs (fourcc
    'MJPG', one complete baseline JPEG per '00dc' chunk) synthesized
    per document, decoded by composing the two real kernels — the
    RIFF LIST walker and the T.81 JPEG entropy decoder — inside
    mapInPandas (operators/multimodal.parse_mjpeg_avi). Frames are
    block-constant so the JPEG layer is exact at flat q=8 and the
    oracle recomputes per-frame decoded stats from the recurrence;
    frame_ts_ms comes from the container's own dwMicroSecPerFrame.
    Single-block-row frames collapse the spatial weight to
    v·(64·c·h·w + 224·w + 512·b + 224)."""
    avi = _mm.mjpeg_from_documents(_t(spark, sf_dir, "documents"))
    return _mm.decode_mjpeg_frames(avi)


@register(
    "q_media_mp4_frames",
    oracle="""
        WITH base AS (
            SELECT doc_id,
                   doc_id % 3 + 1       AS nf,
                   8 * (doc_id % 2 + 1) AS w,
                   8                    AS h,
                   doc_id % 2 + 1       AS nb
            FROM documents
        ),
        cells AS (
            SELECT doc_id, nf, w, h, nb, f, c, b,
                   (doc_id * 41 + f * 131 + (c * nb + b) * 19) % 256 AS v
            FROM base,
                 unnest(generate_series(0, nf - 1)) AS tf(f),
                 unnest(generate_series(0, 2)) AS tc(c),
                 unnest(generate_series(0, nb - 1)) AS tb(b)
        )
        SELECT doc_id                 AS asset_id,
               f                      AS frame_idx,
               CAST(f * 40 AS BIGINT) AS frame_ts_ms,
               w                      AS width,
               CAST(h AS BIGINT)      AS height,
               CAST(sum(64 * v) AS BIGINT) AS sum_px,
               CAST(sum(v * (64 * c * h * w + 224 * w + 512 * b + 224))
                    AS BIGINT)        AS spatial_sum,
               max(v)                 AS peak
        FROM cells
        GROUP BY doc_id, f, w, h
    """,
)
def q_media_mp4_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 real MP4 video decode: MJPEG-in-MP4 (ISO/IEC 14496-12
    box tree, Photo-JPEG samples located via the stsd/stts/stsc/
    stsz/stco sample tables — samples packed two per chunk so the
    sample→chunk map is non-trivial) synthesized per document and
    decoded by composing the ISO-BMFF walker with the T.81 JPEG
    entropy decoder inside mapInPandas
    (operators/multimodal.parse_mp4). Same block-constant exactness
    construction as q_media_mjpeg_frames (different constants);
    frame_ts_ms comes from the container's own stts deltas over the
    mdhd timescale. The reference has no media path at all
    (SURVEY.md §2.9 X4) — this closes the last container format in
    the extension surface; H.264 entropy decode remains explicitly
    rejected (no ffmpeg in this container)."""
    mp4 = _mm.mp4_from_documents(_t(spark, sf_dir, "documents"))
    return _mm.decode_mp4_frames(mp4)


@register(
    "q_media_png_decode",
    oracle="""
        WITH base AS (
            SELECT doc_id, doc_id % 6 + 2 AS w, doc_id % 4 + 2 AS h
            FROM documents
        ),
        comps AS (
            SELECT doc_id, w, h, k,
                   (doc_id * 19 + k * 41) % 256 AS v
            FROM base, unnest(generate_series(0, w * h * 3 - 1)) AS t(k)
        )
        SELECT doc_id                 AS asset_id,
               w                      AS width,
               h                      AS height,
               CAST(24 AS BIGINT)     AS bits_per_pixel,
               CAST(w * h AS BIGINT)  AS n_pixels,
               CAST(sum(CASE WHEN k % 3 = 0 THEN v END) AS BIGINT) AS sum_c0,
               CAST(sum(CASE WHEN k % 3 = 1 THEN v END) AS BIGINT) AS sum_c1,
               CAST(sum(CASE WHEN k % 3 = 2 THEN v END) AS BIGINT) AS sum_c2,
               CAST(sum(k * v) AS BIGINT) AS weighted_sum,
               max(v)                 AS peak
        FROM comps
        GROUP BY doc_id, w, h
    """,
)
def q_media_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 real PNG decode: genuine truecolor PNGs (zlib-inflated
    scanlines, per-chunk CRC-32, row filters CYCLING through all five
    predictors None/Sub/Up/Average/Paeth) synthesized per document
    and decoded by the stdlib parser
    (operators/multimodal.parse_png) inside mapInPandas. PNG is
    lossless, so the oracle recomputes every decoded stat from the
    arbitrary pixel recurrence; a decoder that botches any filter
    inverse, the CRC frame, or row order cannot hash-match."""
    png = _mm.png_from_documents(_t(spark, sf_dir, "documents"))
    return _mm.decode_png(png)




@register(
    "q_media_binary_source",
    oracle="""
        WITH base AS (
            SELECT doc_id, doc_id % 50 + 10 AS n
            FROM documents WHERE doc_id < 200
        ),
        samples AS (
            SELECT doc_id, n,
                   (doc_id * 31 + i * 7) % 65536 - 32768 AS s
            FROM base, unnest(generate_series(0, n - 1)) AS t(i)
        )
        SELECT doc_id AS asset_id,
               CAST(44 + 2 * n
                    + CASE WHEN doc_id % 4 = 0 THEN 26 ELSE 0 END
                    AS BIGINT) AS file_bytes,
               n AS n_samples,
               max(abs(s)) AS peak_abs,
               CAST(sum(s) AS BIGINT) AS sum_samples
        FROM samples
        GROUP BY doc_id, n
    """,
    materializes=True,
)
def q_media_binary_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1b for raw media: Spark's native ``binaryFile`` source — THE
    ingestion path for image/audio/video files at scale — exercised
    end-to-end. WAV payloads are synthesized from the deterministic
    sample recurrence, written as individual ``.wav`` FILES, read
    back via ``spark.read.format("binaryFile")`` (path /
    modificationTime / length / content), the asset id recovered
    from the filename with a JVM-side regexp, and the content column
    decoded by the stdlib WAV parser. The oracle recomputes both the
    decoded PCM stats AND the exact on-disk byte size (44-byte
    header + 2n PCM + 26-byte LIST chunk on every 4th asset) from
    the recurrence, so the hash match certifies the source's
    ``length`` metadata, the file round-trip, and the decode in one
    row. Bounded to 200 assets — fixture materialization, like the
    other replay rows; at scale the write step IS the upstream
    producer and everything from ``binaryFile`` on is this exact
    plan (payloads never shuffle: decode emits typed columns
    partition-locally)."""
    docs = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 200)
        .select("doc_id")
    )
    with _scratch("binsrc") as base:
        for r in _mm.wav_from_documents(docs).collect():
            with open(
                os.path.join(base, f"a{int(r['asset_id']):06d}.wav"), "wb"
            ) as f:
                f.write(bytes(r["payload"]))
        bf = spark.read.format("binaryFile").load(base + "/*.wav")
        assets = bf.select(
            F.regexp_extract(F.col("path"), r"a(\d{6})\.wav$", 1)
            .cast("long")
            .alias("asset_id"),
            F.col("length").alias("file_bytes"),
            F.col("content").alias("payload"),
        )
        dec = _mm.decode_wav(assets.select("asset_id", "payload"))
        out = (
            dec.join(assets.select("asset_id", "file_bytes"), "asset_id")
            .select(
                "asset_id",
                F.col("file_bytes").cast("long").alias("file_bytes"),
                "n_samples",
                "peak_abs",
                "sum_samples",
            )
        )
        rows = out.collect()
        schema = out.schema
    return spark.createDataFrame(rows, schema)


@register(
    "q_dedup_recall",
    oracle=f"""
        WITH lsh AS ({_dedup.minhash_pairs_oracle()}),
        exact AS ({_dedup.ngram_pairs_oracle()})
        SELECT CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_exact,
               CAST((SELECT count(*) FROM lsh) AS BIGINT) AS n_lsh,
               CAST((SELECT count(*)
                     FROM lsh JOIN exact
                       ON lsh.id_a = exact.id_a
                      AND lsh.id_b = exact.id_b) AS BIGINT) AS n_both,
               round((SELECT count(*)
                      FROM lsh JOIN exact
                        ON lsh.id_a = exact.id_a
                       AND lsh.id_b = exact.id_b) * 1.0
                     / (SELECT count(*) FROM exact), 6) AS recall
    """,
    materializes=True,
)
def q_dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 quality certification: MinHash-LSH recall measured against
    the exact all-pairs baseline at the same threshold — the number a
    dedup deployment must report before trusting banded LSH at scale
    (banding trades recall for sub-quadratic cost; 8 hashes / 4
    bands at t=0.8 keeps recall 1.0 on this fixture's 0.07-wide
    jaccard gap). Both sides are the registered operators' own
    builders; the oracle recomposes both pair sets in SQL, so a
    recall regression — a banding change that silently loses pairs —
    flips the hash."""
    docs = _t(spark, sf_dir, "documents")
    lsh = _dedup.minhash_near_dup_pairs(docs).select("id_a", "id_b")
    exact = _dedup.ngram_jaccard_pairs(docs).select("id_a", "id_b")
    n_lsh = lsh.count()
    n_exact = exact.count()
    n_both = lsh.join(exact, ["id_a", "id_b"]).count()
    recall = round(n_both / n_exact, 6) if n_exact else None
    return spark.createDataFrame(
        [(n_exact, n_lsh, n_both, recall)],
        "n_exact long, n_lsh long, n_both long, recall double",
    )


@register(
    "q_media_gif_frames",
    oracle="""
        WITH base AS (
            SELECT doc_id,
                   doc_id % 3 + 2 AS nf,
                   doc_id % 5 + 2 AS w,
                   doc_id % 4 + 2 AS h
            FROM documents
        ),
        sampled AS (
            SELECT doc_id, nf, w, h, f
            FROM base, unnest(generate_series(0, nf - 1)) AS tf(f)
            WHERE f % 2 = 0
        ),
        comps AS (
            SELECT doc_id, w, h, f, k,
                   (doc_id * 37 + f * 59 + k * 13) % 256 AS v
            FROM sampled, unnest(generate_series(0, w * h - 1)) AS t(k)
        )
        SELECT doc_id            AS asset_id,
               f                 AS frame_idx,
               f * 70            AS frame_ts_ms,
               w                 AS width,
               h                 AS height,
               CAST(sum(v) AS BIGINT)     AS sum_px,
               CAST(sum(k * v) AS BIGINT) AS weighted_sum,
               max(v)            AS peak
        FROM comps
        GROUP BY doc_id, f, w, h
    """,
)
def q_media_gif_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 real animated-GIF decode (round 9): genuine GIF89a
    payloads — logical screen descriptor, 256-entry global color
    table, per-frame Graphic Control Extensions and REAL GIF-LZW
    compression (variable code width, clear/end codes, KwKwK,
    dictionary reset; encoder verified against a hand-computed
    per-spec byte vector) — synthesized per document and decoded by
    the stdlib parser (operators/multimodal.parse_gif) inside
    mapInPandas; every 2nd frame sampled with exact integer
    palette-index stats. frame_ts_ms derives from the container's
    own GCE delay (7 cs → 70 ms/frame), so the oracle's f*70
    certifies the extension block was actually read. Completes the
    lossless-codec coverage: dictionary coding (LZW) alongside
    DEFLATE (PNG) and raw (BMP/AVI)."""
    gif = _mm.gif_from_documents(_t(spark, sf_dir, "documents"))
    return _mm.sample_gif_frames(gif)


def _doc_member(doc_id: int) -> str:
    return f"{doc_id:08d}.txt"


def _doc_uri(doc_id: int) -> str:
    return f"https://corpus.example/doc/{doc_id}"


def _shard_roundtrip(
    spark: SparkSession,
    sf_dir: str,
    name_of: Callable[[int], str],
    build: Callable[[list[tuple[str, bytes]]], bytes],
    ext: str,
    explode: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """The shard rows' shared round-trip: documents with doc_id < 200,
    25 per shard (shard_id = doc_id // 25) as (``name_of(doc_id)``,
    text bytes) members, each shard written by ``build`` to
    ``shard<id>.<ext>`` in a scratch directory, read back with Spark's
    binaryFile source (shard_id from the file name), exploded by
    ``explode`` and collected before the directory goes."""
    docs = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 200)
        .select("doc_id", "text")
        .collect()
    )
    shards: dict[int, list] = {}
    for r in sorted(docs, key=lambda r: r["doc_id"]):
        shards.setdefault(r["doc_id"] // 25, []).append(
            (name_of(r["doc_id"]), r["text"].encode())
        )
    with _scratch("shards") as base:
        for sid, members in shards.items():
            with open(os.path.join(base, f"shard{sid:05d}.{ext}"), "wb") as f:
                f.write(build(members))
        bf = spark.read.format("binaryFile").load(f"{base}/*.{ext}")
        pattern = r"shard(\d{5})\." + ext.replace(".", r"\.") + "$"
        out = explode(
            bf.select(
                F.regexp_extract(F.col("path"), pattern, 1)
                .cast("long")
                .alias("shard_id"),
                F.col("content").alias("payload"),
            )
        )
        rows = out.collect()
        schema = out.schema
    return spark.createDataFrame(rows, schema)


@register(
    "q_media_tar_shards",
    oracle="""
        SELECT CAST(doc_id // 25 AS BIGINT) AS shard_id,
               printf('%08d.txt', doc_id) AS name,
               CAST(length(text) AS BIGINT) AS n_bytes,
               md5(text) AS payload_md5
        FROM documents WHERE doc_id < 200
    """,
    materializes=True,
)
def q_media_tar_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style shard ingestion (round 9): documents packed
    into byte-deterministic ustar TAR SHARDS (25 members each — the
    de-facto container for web-scale training data), written as
    .tar files, read back via Spark's native binaryFile source, and
    exploded by the mapInPandas tar parser — full POSIX header walk
    WITH checksum verification, so a corrupted shard fails loudly
    rather than yielding silent partial samples. Every member's
    (shard, name, byte length, payload md5) is hash-bound against
    the oracle's recomputation from the source text — the member
    NAMING, the size fields, and the payload bytes all certify in
    one row. The writer/parser pair is externally anchored: pytest
    round-trips both directions against Python's tarfile module.
    Payloads never shuffle (partition-local codec boundary, as with
    every media decode). See operators/multimodal.py
    build_tar_shard/parse_tar_members/untar_members."""
    return _shard_roundtrip(
        spark, sf_dir, _doc_member, _mm.build_tar_shard, "tar", _mm.untar_members
    )


@register("q_ivf_pq_topk", oracle=_sim.ivf_pq_topk_oracle())
def q_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed production ANN (round 9): IVF coarse restriction +
    PQ asymmetric-distance scoring — the FAISS IVFPQ serving shape.
    The query probes its nprobe nearest cells; only those cells'
    member CODES are scored against the broadcast M·K distance
    table (full-precision corpus vectors never move). Exact
    integers end-to-end, so the COMPOSITION — cell boundaries, code
    assignment, table lookup, tie-broken top-k — is oracle-
    certified, not just the parts (q_sim_ann_ivf, q_pq_adc_topk).
    See operators/similarity.ivf_pq_topk."""
    return _sim.ivf_pq_topk(_t(spark, sf_dir, "embeddings"))


@register("q_maxsim_topk", oracle=_sim.maxsim_scores_oracle())
def q_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 late-interaction retrieval: ColBERT MaxSim top-5 — the
    label groups of the embeddings table act as multi-vector
    documents, label 0's full vector set is the query, and
    score(Q,D) = Σ_q max_d cos(q,d) with every pairwise cosine
    quantized to integer micro-units before max/sum so the score is
    engine-exact. Query vectors broadcast; the corpus side never
    self-joins. See operators/similarity.maxsim_scores."""
    return _sim.maxsim_scores(_t(spark, sf_dir, "embeddings"))


@register(
    "q_dedup_containment",
    oracle=_dedup.containment_pairs_oracle(),
    materializes=True,
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2j one-sided near-dup: shingle-set CONTAINMENT pairs — the
    smaller document ≥80% contained in the other (integer ppm).
    Catches quoted/wrapped copies that symmetric Jaccard scores near
    zero (union dominated by the long side). Exact inverted-index
    baseline, same honest small-scale label as q_dedup_ngram; the
    100 TB refinement is the size-ordered prefix filter documented
    on the operator. See operators/dedup.containment_pairs."""
    return _dedup.containment_pairs(_t(spark, sf_dir, "documents"))


@register("q_ivf_knn_join", oracle=_sim.ivf_knn_join_oracle())
def q_ivf_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3l multi-query IVF ANN (round 10): the FAISS-shaped
    production batch search — knn_join restricted to each query's
    nprobe nearest coarse cells. Corpus assigned to cells ONCE
    (broadcast centroids, partial/final argmax), candidates shrink
    ~nprobe/N_CLUSTERS, corpus never self-joins; rank bound into the
    rows certifies ordering. See operators/similarity.ivf_knn_join."""
    return _sim.ivf_knn_join(_t(spark, sf_dir, "embeddings"))


@register("q_ivf_recall", oracle=_sim.ivf_recall_oracle())
def q_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3f ANN quality certification (round 10): per-query recall@5
    of the IVF search vs the exact kNN join — the trust-the-index
    number, as exact ppm integers (mirrors q_dedup_recall for the
    LSH family). A centroid/assignment/probing drift moves some
    query's hit count and flips the hash. See
    operators/similarity.ivf_recall."""
    return _sim.ivf_recall(_t(spark, sf_dir, "embeddings"))


@register("q_hard_negatives", oracle=_sim.hard_negatives_oracle())
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3m hard-negative mining (round 11): per anchor, top-5 corpus
    vectors with cosine in [0.15, 0.93) — informative negatives below
    the near-dup ceiling (false-negative guard), the DPR/ANCE mining
    step; uniform complement is q_negative_sampling. One broadcast
    scoring pass, band filter before the only shuffle. See
    operators/similarity.hard_negatives."""
    return _sim.hard_negatives(_t(spark, sf_dir, "embeddings"))


@register(
    "q_media_warc_shards",
    oracle="""
        SELECT CAST(doc_id // 25 AS BIGINT) AS shard_id,
               'https://corpus.example/doc/' || CAST(doc_id AS VARCHAR)
                   AS uri,
               CAST(length(text) AS BIGINT) AS n_bytes,
               md5(text) AS payload_md5
        FROM documents WHERE doc_id < 200
    """,
    materializes=True,
)
def q_media_warc_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4k WARC shard ingestion (round 11): documents packed into
    byte-deterministic WARC/1.0 shards (ISO 28500 — the Common Crawl
    container, the raw-input format of web-scale text curation), 25
    response records per shard behind a warcinfo record, written as
    .warc files, read back via Spark's native binaryFile source and
    exploded by the mapInPandas WARC walker — strict version-line /
    Content-Length / CRLFCRLF framing, so a truncated or corrupted
    shard fails loudly instead of yielding a silently partial
    corpus. Every response record's (shard, target-uri, block
    length, block md5) hash-binds against the oracle's recomputation
    from source text. warcinfo records are consumed and skipped —
    the oracle seeing ONLY the 200 response rows certifies the
    type filter too. Payloads never shuffle (partition-local codec
    boundary). See operators/multimodal.py build_warc_shard/
    parse_warc_records/unwarc_records."""
    return _shard_roundtrip(
        spark, sf_dir, _doc_uri, _mm.build_warc_shard, "warc", _mm.unwarc_records
    )


@register(
    "q_media_warc_gz",
    oracle="""
        SELECT CAST(doc_id // 25 AS BIGINT) AS shard_id,
               CAST(doc_id % 25 + 1 AS BIGINT) AS member_idx,
               'https://corpus.example/doc/' || CAST(doc_id AS VARCHAR)
                   AS uri,
               CAST(length(text) AS BIGINT) AS n_bytes,
               md5(text) AS payload_md5
        FROM documents WHERE doc_id < 200
    """,
    materializes=True,
)
def q_media_warc_gz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4m gzip-member WARC ingestion (VERDICT r11 item 3): the same
    200 documents as q_media_warc_shards packed as .warc.gz — each
    WARC record an INDEPENDENT gzip member (the actual Common Crawl
    layout; per-record members are what make web-scale WARC
    splittable/seekable), written byte-deterministically (mtime 0,
    fixed level), read back via binaryFile and the strict
    member-wise walker: gzip magic per member, zlib eof check
    (truncation raises), exactly one WARC record per member, then
    the plain walker's version/Content-Length/CRLFCRLF framing on
    the inflated bytes. The oracle binds MEMBER BOUNDARIES as well
    as content: member_idx = doc's physical position in the member
    chain (warcinfo is member 0, so response k sits at k+1), plus
    the (shard, uri, length, block md5) binding of the plain row.
    Round-trip + gunzip-concatenation-equivalence + corruption
    pytests in test_extensions. See operators/multimodal.py
    build_warc_gz_shard/parse_warc_gz_records/unwarc_gz_records."""
    return _shard_roundtrip(
        spark, sf_dir, _doc_uri, _mm.build_warc_gz_shard, "warc.gz",
        _mm.unwarc_gz_records,
    )


@register(
    "q_warc_cdx",
    oracle="""
        SELECT CAST(doc_id // 25 AS BIGINT) AS shard_id,
               CAST(doc_id % 25 + 1 AS BIGINT) AS member_idx,
               'https://corpus.example/doc/' || CAST(doc_id AS VARCHAR)
                   AS uri,
               CAST(length(text) AS BIGINT) AS n_bytes,
               md5(text) AS payload_md5,
               TRUE AS seek_ok
        FROM documents WHERE doc_id < 200
    """,
    materializes=True,
)
def q_warc_cdx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4n CDX random-access index over .warc.gz (round 12): the
    Common Crawl access pattern — a CDX entry's (offset, length)
    addresses one gzip member so a reader inflates ONE record via a
    byte-range fetch. The certified row carries the index's
    oracle-exact fields (shard, member position, uri, block length,
    block md5) plus ``seek_ok``: each entry is VERIFIED by
    re-slicing exactly payload[offset:offset+length], inflating that
    slice alone, and md5-matching the block against the full-walk
    record — offsets are not oracle-expressible (DuckDB cannot
    gzip), so the round-trip proof is in the row where a wrong byte
    range flips the pinned-TRUE bit. See operators/multimodal.py
    warc_gz_cdx/_warc_gz_members."""
    return _shard_roundtrip(
        spark, sf_dir, _doc_uri, _mm.build_warc_gz_shard, "warc.gz",
        _mm.warc_gz_cdx,
    )


@register(
    "q_media_zip_shards",
    oracle="""
        SELECT CAST(doc_id // 25 AS BIGINT) AS shard_id,
               printf('%08d.txt', doc_id) AS name,
               CAST(length(text) AS BIGINT) AS n_bytes,
               md5(text) AS payload_md5
        FROM documents WHERE doc_id < 200
    """,
    materializes=True,
)
def q_media_zip_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4l ZIP shard ingestion (round 11): documents packed into
    byte-deterministic STORED zip shards (PKZIP APPNOTE — the other
    container training corpora arrive in), read back via binaryFile
    and exploded by the central-directory walker with per-member
    CRC-32 verification (corruption raises, never a silently partial
    shard; DEFLATE entries also supported read-side). Same
    (shard, name, length, md5) oracle binding as the tar row. The
    writer/parser pair is externally anchored BOTH directions
    against Python's stdlib zipfile in pytest, including DEFLATE.
    Payloads never shuffle. See operators/multimodal.py
    build_zip_shard/parse_zip_members/unzip_members."""
    return _shard_roundtrip(
        spark, sf_dir, _doc_member, _mm.build_zip_shard, "zip", _mm.unzip_members
    )


@register("q_cosine_pairs", oracle=_sim.cosine_pairs_oracle())
def q_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2/X3 sparse all-pairs similarity (round 14): every document
    pair with trigram-shingle TF-IDF cosine ≥ 0.5, candidates from
    an INVERTED-INDEX equi-join on shingle (Bayardo et al., WWW
    2007; exact — non-shared shingles contribute 0 to the dot
    product) — the sparse-text complement of q_dedup_embed's dense
    cosine and the WEIGHTED complement of q_dedup_ngram's unweighted
    Jaccard. Integer rarity weights (tf·10⁶ div df, the
    keyword_extract convention) keep dot products and norms exact;
    the threshold is the pure-integer gate dot²·q² ≥ p²·|a|²·|b|² in
    DECIMAL(38,0), so the identical-definition DuckDB oracle
    hash-matches. Shingling (not unigrams) is the scale valve: the
    fixture's 31-word vocabulary makes every unigram a stopword
    (224M candidate posting-pairs at sf0.1) while its 27k-shingle
    vocabulary has max df 25 (1.4M, 160×); the df cap bounds
    boilerplate shingles at corpus scale. See
    operators/similarity.cosine_pairs."""
    return _sim.cosine_pairs(_t(spark, sf_dir, "documents"))
