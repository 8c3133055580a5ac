"""Per-batch Bloom secondary index for the versioned corpus store:
point-lookup batch pruning (the Iceberg/Delta file-skipping move for
non-partition keys, built from this repo's portable md5 double-
hashing family so the pruning decision itself is oracle-checkable).

Why an engine for 100 TB needs this: a versioned store accumulates
many immutable batch directories, and a point lookup ("fetch these
17 doc_ids for audit / takedown / eval-contamination checks") has no
partition column to prune on — without an index it scans every
batch. A per-batch Bloom filter over the lookup key is O(kilobytes)
of metadata per batch, lives next to the manifests, and reduces the
lookup to the few batches that can possibly contain the probes (no
false negatives by construction; false positives only cost an extra
batch scan, never wrong results).

Layout: ``store/_indexes/bloom_<key>/b000001.json`` — one small JSON
per batch holding the SORTED distinct bit positions of the batch's
keys (``k``=3 affine functions over the portable 32-bit md5, modulus
``INDEX_MBITS``). Index files are immutable like their batches,
written atomically (temp + link), and consulted only through the
manifest's batch list — index debris for vacuumed batches is ignored.
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_streams_pipeline_spark.operators.sketches import (
    BLOOM_A,
    BLOOM_B,
    BLOOM_K,
    _bloom_pos_spark,
)
from kafka_streams_pipeline_spark.sources.versioned import (
    _publish_json,
    batch_dirs,
    latest_version,
    read_corpus,
)

# 65536 bits (8 KiB of positions at worst): batch-sized blooms must
# stay sparse for pruning to bite — at ~2000 distinct keys per batch
# the fill is ~9% and the false-positive rate ~7e-4. Batches bigger
# than ~10k distinct keys should rebuild with a larger modulus; the
# index records its modulus so a mixed store fails loudly rather
# than silently mis-pruning.
INDEX_MBITS = 65536


def _index_dir(store_dir: str, key: str) -> str:
    return os.path.join(store_dir, "_indexes", f"bloom_{key}")


def _minmax_dir(store_dir: str, col: str) -> str:
    return os.path.join(store_dir, "_indexes", f"minmax_{col}")


def _build_index(store_dir: str, idir: str, record) -> int:
    """Publish ``record(batch_dir)`` as ``idir/<batch>.json`` for each
    batch of the latest version that has no index file yet; return how
    many were written."""
    os.makedirs(idir, exist_ok=True)
    built = 0
    for d in batch_dirs(store_dir):
        out = os.path.join(idir, f"{os.path.basename(d)}.json")
        if not os.path.exists(out):
            _publish_json(out, record(d))  # refuses to clobber
            built += 1
    return built


def _indexed_batches(
    store_dir: str, version: int, idir: str
) -> list[tuple[str, dict | None]]:
    """(batch dir, its index record or None) for each batch of
    ``version``."""
    out = []
    for d in batch_dirs(store_dir, version):
        path = os.path.join(idir, f"{os.path.basename(d)}.json")
        record = None
        if os.path.exists(path):
            with open(path) as f:
                record = json.load(f)
        out.append((d, record))
    return out


def _scan(
    spark: SparkSession,
    store_dir: str,
    version: int | None,
    dirs: list[str],
    pred,
) -> DataFrame:
    """``pred`` over the batch directories ``dirs``; an empty frame
    with the version's schema when none is left."""
    if not dirs:
        return read_corpus(spark, store_dir, version).where(F.lit(False))
    return spark.read.parquet(*dirs).where(pred)


def _probe_positions(value) -> list[int]:
    """Driver-side twin of the engines' md5-affine positions: the
    probe set is user-provided and tiny, so the pruning decision is
    computed where partition pruning is — on the driver. Must stay
    bit-identical to ``_bloom_pos_spark``/``_bloom_pos_duck``
    (same str() rendering, same affine family)."""
    h = int(hashlib.md5(str(value).encode()).hexdigest()[:8], 16)
    return [
        (BLOOM_A[i] * h + BLOOM_B[i]) % INDEX_MBITS for i in range(BLOOM_K)
    ]


def build_bloom_index(spark: SparkSession, store_dir: str, key: str) -> int:
    """Index every batch of the latest version that lacks one;
    returns how many batches were newly indexed. INCREMENTAL by
    construction: batches are immutable, so an existing index file is
    forever valid and each maintenance call costs one scan of the NEW
    batches only — the same O(delta) posture as the store's upsert
    path. Each batch's positions come from one distinct-key scan
    (the per-batch set is collected — bounded by ``INDEX_MBITS``
    positions, i.e. kilobytes, never data-sized)."""
    pos_arr = (
        "array("
        + ", ".join(
            _bloom_pos_spark("k", i, INDEX_MBITS) for i in range(BLOOM_K)
        )
        + ")"
    )

    def record(d: str) -> dict:
        bits = (
            spark.read.parquet(d)
            .where(F.col(key).isNotNull())
            .select(F.col(key).alias("k"))
            .distinct()
            .select(F.explode(F.expr(pos_arr)).alias("p"))
            .distinct()
            .collect()
        )
        return {
            "batch": os.path.basename(d),
            "key": key,
            "mbits": INDEX_MBITS,
            "bits": sorted(r["p"] for r in bits),
        }

    return _build_index(store_dir, _index_dir(store_dir, key), record)


def candidate_batches(store_dir: str, key: str, values) -> tuple[list[str], int]:
    """(batches that may contain ANY probe value, total batches) for
    the latest version — the pruning decision. A batch WITHOUT an index
    file is always a candidate (correctness over pruning: an
    unindexed batch must be scanned, mirroring how engines treat
    files without stats); a batch indexed under a different modulus
    fails loudly instead of mis-pruning."""
    dirs, total = _candidate_dirs(store_dir, key, values, latest_version(store_dir))
    return [os.path.basename(d) for d in dirs], total


def _candidate_dirs(
    store_dir: str, key: str, values, version: int
) -> tuple[list[str], int]:
    probe_pos = [_probe_positions(v) for v in values]
    indexed = _indexed_batches(store_dir, version, _index_dir(store_dir, key))
    keep: list[str] = []
    for d, record in indexed:
        if record is None:
            keep.append(d)
            continue
        if record["mbits"] != INDEX_MBITS:
            raise ValueError(
                f"index for batch {os.path.basename(d)!r} built with mbits="
                f"{record['mbits']}, expected {INDEX_MBITS}; rebuild "
                "the index directory"
            )
        bits = set(record["bits"])
        if any(all(p in bits for p in pp) for pp in probe_pos):
            keep.append(d)
    return keep, len(indexed)


def lookup_corpus(
    spark: SparkSession,
    store_dir: str,
    key: str,
    values,
) -> tuple[DataFrame, dict]:
    """Point lookup through the Bloom index: scan ONLY the candidate
    batches of the latest version, with the IN-list predicate pushed into those scans.
    Returns (rows frame, stats) where stats records the pruning —
    ``batches_scanned`` / ``batches_total`` — so callers (and the
    certified row) can hold the index to its claim. No false
    negatives: a key's own batch always passes its own positions."""
    values = list(values)
    version = latest_version(store_dir)
    cands, total = _candidate_dirs(store_dir, key, values, version)
    stats = {"batches_scanned": len(cands), "batches_total": total}
    return _scan(spark, store_dir, version, cands, F.col(key).isin(values)), stats


def build_minmax_index(spark: SparkSession, store_dir: str, col: str) -> int:
    """Per-batch min/max column stats — the RANGE-pruning complement
    to the Bloom point index (Iceberg keeps exactly this in its
    manifest entries; parquet keeps it per row group — this level
    prunes whole BATCH DIRECTORIES before any file is even listed).
    Same incremental contract as the Bloom build: immutable batches,
    index-once, O(delta) maintenance. Stats come from one min/max
    aggregate per new batch; an all-NULL batch records nulls and is
    never pruned (conservative)."""

    def record(d: str) -> dict:
        row = (
            spark.read.parquet(d)
            .agg(F.min(col).alias("lo"), F.max(col).alias("hi"))
            .collect()[0]
        )
        return {
            "batch": os.path.basename(d),
            "col": col,
            "lo": row["lo"],
            "hi": row["hi"],
        }

    return _build_index(store_dir, _minmax_dir(store_dir, col), record)


def range_scan_corpus(
    spark: SparkSession,
    store_dir: str,
    col: str,
    lo,
    hi,
) -> tuple[DataFrame, dict]:
    """Range query ``lo <= col <= hi`` over the latest version through
    the min/max index: scan only batches whose recorded [lo, hi] interval intersects
    the predicate (un-indexed or all-NULL batches always scanned —
    correctness over pruning), with the range predicate pushed into
    the surviving scans. Returns (rows frame, pruning stats)."""
    version = latest_version(store_dir)
    indexed = _indexed_batches(store_dir, version, _minmax_dir(store_dir, col))
    keep = [
        d
        for d, rec in indexed
        if rec is None
        or rec["lo"] is None
        or rec["hi"] is None
        or (rec["lo"] <= hi and lo <= rec["hi"])
    ]
    stats = {"batches_scanned": len(keep), "batches_total": len(indexed)}
    return _scan(spark, store_dir, version, keep, F.col(col).between(lo, hi)), stats
