"""Per-batch inverted text index for the versioned corpus store:
term-level search without a full-corpus text scan (the posting-list
complement of the Bloom index's exact-key pruning).

Why an engine for 100 TB needs this: "find every document containing
these terms" — takedown audits, eval-contamination spot checks,
targeted re-annotation — is a full text scan per query on a store
with no index. An inverted index holds (token, key) postings per
immutable batch; a conjunctive term query then (1) prunes to the
batches whose index contains ALL query terms, (2) resolves matching
keys from the candidate batches' postings alone, and (3) scans ONLY
those batches' payloads for the matched keys. Text is tokenized
once, at index build — never again at query time.

Layout: ``store/_indexes/text_<col>/b000001/`` — one parquet
directory per batch holding (token, key) rows, distinct per
document, sorted by token so term predicates prune parquet row
groups. Index directories are immutable like their batches, written
atomically (temp dir + rename), consulted only through the
manifest's batch list, and incremental by construction: each
maintenance call indexes NEW batches only (O(delta), the same
posture as the store's upsert path).

Reference frame: the reference serves only key/time/space-addressed
reads (querying/QueryingController.java:98-167); content-addressed
search over the stored corpus is an extension the training-data
mandate needs.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_streams_pipeline_spark.sources.versioned import batch_dirs

# Files per batch's posting directory: bounds write parallelism and
# file count, never correctness — scale it with batch size.
INDEX_PARTITIONS = 2


def _tindex_dir(store_dir: str, text_col: str) -> str:
    return os.path.join(store_dir, "_indexes", f"text_{text_col}")


def _build_postings(spark: SparkSession, store_dir: str, idir: str, postings) -> int:
    """Write ``postings(batch rows)`` as ``idir/<batch>/`` for each
    batch of the latest version that has no index directory yet (temp
    dir, then rename); return how many were written."""
    os.makedirs(idir, exist_ok=True)
    built = 0
    for d in batch_dirs(store_dir):
        b = os.path.basename(d)
        out = os.path.join(idir, b)
        if os.path.exists(out):
            continue
        tmp = os.path.join(idir, f".tmp_{b}")
        shutil.rmtree(tmp, ignore_errors=True)
        (
            postings(spark.read.parquet(d))
            .repartitionByRange(INDEX_PARTITIONS, "token")
            .sortWithinPartitions("token")
            .write.mode("overwrite")
            .parquet(tmp)
        )
        os.rename(tmp, out)
        built += 1
    return built


def _term_candidates(
    spark: SparkSession,
    store_dir: str,
    idir: str,
    terms: list[str],
    kind: str,
) -> tuple[DataFrame, dict[str, str], list[str]]:
    """Stage 1 of a term search: (postings of ``terms`` tagged with
    their batch name ``_b``, {batch name: data dir} of every batch
    whose index holds ALL ``terms``, every batch dir of the latest
    version). Raises if a batch has no ``kind`` index: a partial
    index would return partial results."""
    dirs = batch_dirs(store_dir)
    names = [os.path.basename(d) for d in dirs]
    missing = [b for b in names if not os.path.isdir(os.path.join(idir, b))]
    if missing:
        raise ValueError(
            f"{kind} index missing for batches {missing}; run "
            f"build_{kind}_index first (a partial index would return "
            "partial results)"
        )
    idx = (
        spark.read.parquet(*[os.path.join(idir, b) for b in names])
        .where(F.col("token").isin(terms))
        .withColumn(
            "_b",
            F.regexp_extract(
                F.col("_metadata.file_path"), r"/(b\d{6})/[^/]+$", 1
            ),
        )
    )
    per_batch = (
        idx.groupBy("_b")
        .agg(F.countDistinct("token").alias("nt"))
        .where(F.col("nt") == len(terms))
        .collect()
    )
    by_name = dict(zip(names, dirs))
    cand = {b: by_name[b] for b in sorted(r["_b"] for r in per_batch)}
    return idx, cand, dirs


def _payload(spark: SparkSession, dirs: list[str]) -> DataFrame:
    return spark.read.option("mergeSchema", "true").parquet(*dirs)


def build_text_index(spark: SparkSession, store_dir: str) -> int:
    """Index every batch of the latest version that lacks an index;
    returns how many batches were newly indexed. Each
    batch's postings are one scan of THAT batch: lowercase
    whitespace tokens, distinct per document (`array_distinct`
    before the explode — the index answers membership, not term
    frequency), range-partitioned and sorted by token so a term
    predicate reads only the row groups that can contain it;
    ``INDEX_PARTITIONS`` sizes the per-batch posting files."""
    text_col = "text"
    return _build_postings(
        spark,
        store_dir,
        _tindex_dir(store_dir, text_col),
        lambda src: src.where(F.col(text_col).isNotNull())
        .select(
            F.col("doc_id"),
            F.explode(
                F.array_distinct(F.split(F.lower(F.col(text_col)), " "))
            ).alias("token"),
        )
        .select("token", "doc_id"),
    )


def search_text_index(
    spark: SparkSession,
    store_dir: str,
    terms: list[str],
) -> tuple[DataFrame, dict]:
    """Conjunctive (AND) term search through the latest version's
    index: returns
    (matched payload rows, stats). Three stages, none of which
    touches text:

    1. **Batch pruning**: one read of the posting lists with the
       term IN-list pushed into the token-sorted parquet — a batch
       is a candidate only if its index contains EVERY query term
       (necessary condition; kilobyte-bounded decision, computed
       where partition pruning is: on the driver).
    2. **Key resolution**: within candidate batches, a document
       matches when its distinct-token postings cover all terms —
       group by doc_id, countDistinct(token) == len(terms). Postings
       only; no false positives to verify away.
    3. **Payload fetch**: scan ONLY the candidate batches' data
       directories, semi-joined to the matched keys.

    Raises if any batch of the version lacks an index — a silently
    partial index would return silently partial results."""
    if not terms:
        raise ValueError("empty term list")
    terms_lc = sorted({t.lower() for t in terms})
    idx, cand, dirs = _term_candidates(
        spark, store_dir, _tindex_dir(store_dir, "text"),
        terms_lc, "text",
    )
    stats = {
        "batches_total": len(dirs),
        "batches_scanned": len(cand),
    }
    if not cand:
        return _payload(spark, dirs).limit(0), stats
    matched = (
        idx.where(F.col("_b").isin(list(cand)))
        .groupBy("doc_id")
        .agg(F.countDistinct("token").alias("nt"))
        .where(F.col("nt") == len(terms_lc))
        .select("doc_id")
    )
    payload = _payload(spark, list(cand.values())).join(matched, "doc_id", "left_semi")
    return payload, stats


# --- Positional index + phrase search (round 11) ----------------------------


def _pindex_dir(store_dir: str, text_col: str) -> str:
    return os.path.join(store_dir, "_indexes", f"pos_{text_col}")


def build_positional_index(spark: SparkSession, store_dir: str) -> int:
    """Positional postings (token, doc_id, pos) per batch — the phrase-
    search upgrade of the membership index: token positions from ONE
    posexplode at build time mean phrase adjacency is decided from
    postings alone, text never re-tokenized. Same lifecycle contract
    as build_text_index: immutable per-batch directories, atomic
    rename, incremental (new batches only), token-sorted for row-
    group pruning."""
    text_col = "text"
    return _build_postings(
        spark,
        store_dir,
        _pindex_dir(store_dir, text_col),
        lambda src: src.where(F.col(text_col).isNotNull())
        .select(
            F.col("doc_id"),
            F.posexplode(F.split(F.lower(F.col(text_col)), " ")).alias(
                "pos", "token"
            ),
        )
        .select("token", "doc_id", F.col("pos").cast("long").alias("pos")),
    )


def search_phrase(
    spark: SparkSession,
    store_dir: str,
    phrase: list[str],
) -> tuple[DataFrame, dict]:
    """Exact phrase search through the latest version's positional
    index: documents
    where the phrase tokens occur CONSECUTIVELY. Four stages, text
    touched only for the final payload fetch:

    1. **Batch pruning** — identical necessary condition to the
       conjunctive search (a batch must index every phrase term).
    2. **Candidate docs** — docs whose postings cover all distinct
       terms (the conjunctive answer; counted into stats so the
       adjacency filter's effect is measurable).
    3. **Adjacency verify from postings alone** — anchors = positions
       of the first term; each subsequent term i semi-joins anchors
       on (doc_id, anchor_pos + i = pos). Hash equi-joins only; a
       surviving anchor IS a phrase occurrence.
    4. **Payload fetch** from candidate batches, semi-joined to the
       matched keys.

    Raises on a partial index, same as search_text_index."""
    if not phrase or any(not t for t in phrase):
        raise ValueError("empty phrase or empty term")
    terms_lc = [t.lower() for t in phrase]
    uniq = sorted(set(terms_lc))
    idx, cand, dirs = _term_candidates(
        spark, store_dir, _pindex_dir(store_dir, "text"),
        uniq, "positional",
    )
    stats = {
        "batches_total": len(dirs),
        "batches_scanned": len(cand),
        "candidate_docs": 0,
        "matched_docs": 0,
    }
    if not cand:
        return _payload(spark, dirs).limit(0), stats
    cidx = idx.where(F.col("_b").isin(list(cand)))
    stats["candidate_docs"] = (
        cidx.groupBy("doc_id")
        .agg(F.countDistinct("token").alias("nt"))
        .where(F.col("nt") == len(uniq))
        .count()
    )
    anchors = cidx.where(F.col("token") == terms_lc[0]).select(
        F.col("doc_id").alias("k"), F.col("pos").alias("p")
    )
    for i, t in enumerate(terms_lc[1:], start=1):
        nxt = cidx.where(F.col("token") == t).select(
            F.col("doc_id").alias("k"), (F.col("pos") - i).alias("p")
        )
        anchors = anchors.join(nxt, ["k", "p"], "left_semi")
    matched = anchors.select(F.col("k").alias("doc_id")).distinct()
    stats["matched_docs"] = matched.count()
    payload = _payload(spark, list(cand.values())).join(matched, "doc_id", "left_semi")
    return payload, stats
