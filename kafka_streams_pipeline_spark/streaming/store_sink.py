"""Streaming ingest INTO the versioned corpus store: a foreachBatch
sink whose micro-batch commits are idempotent on the micro-batch id
— the documented Structured Streaming pattern for end-to-end
exactly-once delivery into a transactional table (checkpoint gives
deterministic replay of a failed batch; the sink recognizes the
replay and skips it), here targeting this repo's manifest-pinned
store instead of a table format.

Why this matters at 100 TB: continuous ingestion and reproducible
training snapshots meet exactly here. Every micro-batch becomes one
immutable store batch, so a training run can pin "the corpus as of
version N" while ingest keeps streaming, and a crash at ANY point —
before the commit, between commit and checkpoint advance, after —
yields either a clean retry or a recognized replay, never a
duplicated or half-visible batch.
"""

from __future__ import annotations

import json
import os

from kafka_streams_pipeline_spark.sources.versioned import (
    _failed_checks,
    commit_corpus,
    store_history_rows,
    upsert_corpus,
)


def committed_stream_notes(store_dir: str, note_prefix: str) -> set[str]:
    """Notes of every committed version matching the sink's prefix —
    read from the manifests (O(versions) metadata, never data). The
    idempotence ledger IS the store's own commit log: no side state
    to desync."""
    return {
        note
        for _, _, _, note in store_history_rows(store_dir)
        if note.startswith(note_prefix)
    }


def _ledger_note(df, note_prefix: str, batch_id: int) -> str:
    """The idempotence-ledger key for one micro-batch. Namespaced by
    the streaming QUERY id (ADVICE r9): a ledger keyed on
    (note_prefix, batch_id) alone confuses two different streams
    writing the same store under the same/overlapping prefix, and —
    worse — a checkpoint reset restarts batch ids at 0, so a
    brand-new micro-batch would read as a replay and be silently
    dropped. The query id is minted at the stream's FIRST start,
    persisted in the checkpoint (stable across restarts — replays
    still dedup), and re-minted on a checkpoint reset (fresh
    namespace — nothing is mistaken for a replay). Read via the
    stream-execution thread's local property, the documented
    channel; when absent (sink invoked outside a streaming query,
    e.g. a manual backfill) the note falls back to the bare prefix
    and the one-sink-per-prefix-per-store contract applies."""
    qid = df.sparkSession.sparkContext.getLocalProperty(
        "sql.streaming.queryId"
    )
    ns = f"-q{qid[:8]}" if qid else ""
    return f"{note_prefix}{ns}-batch-{batch_id:06d}"


def _exactly_once(store_dir: str, note_prefix: str, stats: dict, commit):
    """The ``foreachBatch`` body both store sinks share: skip empty
    micro-batches (availableNow bookkeeping triggers), skip a batch
    whose ledger note the store already holds (a checkpoint replay),
    otherwise ``commit(df, batch_id, note)``, which returns whether
    it committed. ``stats`` counts ``committed`` and ``skipped``."""
    stats.setdefault("committed", 0)
    stats.setdefault("skipped", 0)

    def sink(df, batch_id: int) -> None:
        if not df.take(1):
            return
        note = _ledger_note(df, note_prefix, batch_id)
        if note in committed_stream_notes(store_dir, note_prefix):
            stats["skipped"] += 1
        elif commit(df, batch_id, note):
            stats["committed"] += 1

    return sink


def make_store_upsert_sink(
    store_dir: str,
    key: str,
    note_prefix: str = "stream-upsert",
    stats: dict | None = None,
):
    """The MERGE-on-read variant of the commit sink: a stream of
    CORRECTIONS (re-scores, retractions as ``_deleted`` tombstones)
    lands as O(delta) upsert batches with the same micro-batch-id
    idempotence — exactly-once CDC apply into the store.
    ``read_corpus_latest`` then serves the corrected view;
    ``compact_corpus`` folds the accumulated deltas on whatever
    cadence the read tax warrants. Contract inherited from
    ``upsert_corpus``: ``key`` unique within each micro-batch."""
    return _exactly_once(
        store_dir,
        note_prefix,
        {} if stats is None else stats,
        lambda df, _batch_id, note: (
            upsert_corpus(df, store_dir, key, note=note) >= 1
        ),
    )


def make_store_commit_sink(
    store_dir: str,
    note_prefix: str = "stream",
    stats: dict | None = None,
    checks: list | None = None,
    quarantine_dir: str | None = None,
):
    """A ``foreachBatch`` function committing each micro-batch as one
    store batch, EXACTLY-ONCE: the commit note encodes the
    micro-batch id, and a batch whose note already exists in the
    manifest log is a checkpoint replay (crash landed between commit
    and checkpoint advance) — skipped, because the engine guarantees
    the replayed batch has identical content. Empty micro-batches
    (availableNow bookkeeping triggers) are skipped too, so the
    version count equals the data-batch count deterministically.

    ``checks`` + ``quarantine_dir``: the streaming leg of commit-time
    governance. A micro-batch failing any check is DEAD-LETTERED —
    written under ``quarantine_dir/batch-<id>/`` (rows as parquet,
    the per-check violation counts as ``violations.json``) and NOT
    committed, so one poisoned batch cannot stop the stream OR
    corrupt the store; the quarantine is idempotent under replay
    (overwrite of the same batch directory). ``checks`` without a
    ``quarantine_dir`` raises up front: silently dropping a failing
    batch is never an option.

    ``stats`` (optional dict) accumulates ``committed`` /
    ``skipped`` / ``quarantined`` counts so harnesses can assert
    each path was actually exercised rather than assumed."""
    if checks and quarantine_dir is None:
        raise ValueError(
            "checks require a quarantine_dir — a failing micro-batch "
            "must land somewhere auditable, never be dropped"
        )
    if stats is None:
        stats = {}
    stats.setdefault("quarantined", 0)

    def commit(df, batch_id: int, note: str) -> bool:
        failed = _failed_checks(df, checks) if checks else {}
        if failed:
            qdir = os.path.join(quarantine_dir, f"batch-{batch_id:06d}")
            df.write.mode("overwrite").parquet(os.path.join(qdir, "rows"))
            with open(os.path.join(qdir, "violations.json"), "w") as f:
                json.dump({"batch_id": batch_id, "failed": failed}, f)
            stats["quarantined"] += 1
            return False
        commit_corpus(df, store_dir, note=note)
        return True

    return _exactly_once(store_dir, note_prefix, stats, commit)
