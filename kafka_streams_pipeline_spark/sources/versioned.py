"""Versioned corpus store: append-only snapshots with manifest-pinned
time travel (a transaction-log-lite in the spirit of Delta/Iceberg,
built on plain parquet + JSON manifests — public design, no table
format dependency).

Why an engine for training data needs this: a training run must be
able to pin "the corpus as of version N" and get byte-identical
inputs months later, while ingestion keeps appending. Commits are
append-only batches; version N is defined as the union of batches
1..N, recorded in an immutable per-version manifest.

Layout:

    store/
      data/b000001/part-*.parquet     (immutable batch directories)
      data/b000002/...
      _manifests/v000001.json         {"version":1,"batches":[...],"note":...}
      _manifests/v000002.json

This module alone reads and writes that layout; other modules locate a
version's data through ``batch_dirs``.

Scale posture: manifests list DIRECTORIES (O(versions) metadata, not
O(files)); data files are immutable, so a version is reproducible
forever and concurrent readers never see partial state (the manifest
is written to a temp name and atomically renamed AFTER its batch
directory is fully written). Readers do one parquet scan over the
pinned batch dirs — partition pruning and column projection work as
on any parquet table.
"""

from __future__ import annotations

import json
import os
import shutil
import socket
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

_MANIFESTS = "_manifests"
_DATA = "data"


class StoreLockedError(RuntimeError):
    """Another committer holds (or a dead one left) the store's
    exclusive commit lock."""


class ConcurrentCommitError(RuntimeError):
    """The store advanced past the version a history-rewriting commit
    was built from — committing would silently drop the peer's batch
    from forward lineage."""


def _acquire_lock(store_dir: str, tag: str) -> str:
    """Take the store's exclusive commit lock (O_CREAT|O_EXCL —
    atomic on POSIX and NFSv3+) and return the lock path.

    Stale-lock recovery (VERDICT r8): the lock records ``pid`` and
    ``host``. If the lock already exists, was written by THIS host,
    and its pid is no longer alive (``os.kill(pid, 0)`` → ESRCH), it
    is crash debris — reclaim it and retry the exclusive create once
    (a live racer can still win the retry, which then fails loudly
    as usual). A lock from another host, or one whose holder is
    alive, raises ``StoreLockedError`` naming the holder; removing a
    foreign host's lock is a human decision, never automatic.

    Reclaim TOCTOU (ADVICE r9): the read-check-unlink-create
    sequence is serialized through an ``flock``'d sidecar
    (``.commit.lock.guard``) so two same-host contenders can never
    BOTH read the same dead-pid lock and have the slower one unlink
    the fresh lock the faster one just re-created. The guard is
    held only for the microseconds of acquisition (never across the
    commit itself), is kernel-released if the holder dies, and is
    never unlinked, so it cannot itself go stale. Cross-host mutual
    exclusion still rests solely on the O_EXCL create — foreign
    locks are never reclaimed, so only same-host processes race on
    the unlink, and those all funnel through the guard."""
    import fcntl

    os.makedirs(os.path.join(store_dir, _MANIFESTS), exist_ok=True)
    lock = os.path.join(store_dir, _MANIFESTS, ".commit.lock")
    gfd = os.open(lock + ".guard", os.O_CREAT | os.O_WRONLY, 0o644)
    try:
        fcntl.flock(gfd, fcntl.LOCK_EX)
        for attempt in (0, 1):
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                try:
                    with open(lock) as f:
                        holder = f.read().strip() or "unknown"
                except OSError:
                    holder = "unknown"
                fields = dict(
                    kv.split("=", 1) for kv in holder.split() if "=" in kv
                )
                pid = fields.get("pid", "")
                same_host = fields.get("host") == socket.gethostname()
                if attempt == 0 and same_host and pid.isdigit():
                    try:
                        os.kill(int(pid), 0)
                    except ProcessLookupError:
                        # dead local holder: crash debris, reclaim
                        try:
                            os.unlink(lock)
                        except OSError:
                            pass
                        continue
                    except PermissionError:
                        pass  # alive under another uid
                raise StoreLockedError(
                    f"store {store_dir!r} has an active (or stale) commit "
                    f"lock {lock!r} held by [{holder}]; if the holder is "
                    "dead, remove the lock file and retry"
                )
            os.write(
                fd,
                f"pid={os.getpid()} host={socket.gethostname()} "
                f"op={tag}".encode(),
            )
            os.close(fd)
            return lock
        raise AssertionError("unreachable")
    finally:
        os.close(gfd)  # releases the flock


@contextmanager
def _commit_lock(store_dir: str, tag: str):
    """Hold the store's exclusive commit lock for the ``with`` body."""
    lock = _acquire_lock(store_dir, tag)
    try:
        yield
    finally:
        try:
            os.unlink(lock)
        except OSError:
            pass


def _manifest_path(store_dir: str, version: int) -> str:
    return os.path.join(store_dir, _MANIFESTS, f"v{version:06d}.json")


def _versions(store_dir: str) -> list[int]:
    """Every version whose manifest exists (vacuumed ones do not),
    ascending."""
    mdir = os.path.join(store_dir, _MANIFESTS)
    if not os.path.isdir(mdir):
        return []
    return sorted(
        int(f[1:7])
        for f in os.listdir(mdir)
        if f.startswith("v") and f.endswith(".json")
    )


def _manifest(store_dir: str, version: int) -> dict:
    with open(_manifest_path(store_dir, version)) as f:
        return json.load(f)


def _batches(store_dir: str, version: int | None = None) -> list[str]:
    """Names of the batches ``version`` (default latest) pins, in
    commit order."""
    if version is None:
        version = latest_version(store_dir)
    if version < 1:
        raise ValueError(f"no committed version in {store_dir!r}")
    return _manifest(store_dir, version)["batches"]


def batch_dirs(store_dir: str, version: int | None = None) -> list[str]:
    """The data directories of the batches ``version`` (default
    latest) pins, in commit order. Each directory's name is its batch
    name (``b000001``…). Modules that index or scan a version's
    batches locate them here, never from the manifest files."""
    return [os.path.join(store_dir, _DATA, b) for b in _batches(store_dir, version)]


def _publish_json(path: str, record: dict, replace: bool = False) -> None:
    """Write ``record`` to ``path`` atomically: a temp write, then
    ``os.link`` (which fails if ``path`` exists, where a rename would
    silently clobber it) or, with ``replace``, a rename over it."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(record, f)
    if replace:
        os.replace(tmp, path)
    else:
        os.link(tmp, path)
        os.unlink(tmp)


def latest_version(store_dir: str) -> int:
    """Highest committed version, 0 if the store is empty/new."""
    return max(_versions(store_dir), default=0)


def version_at(store_dir: str, ts: float) -> int:
    """TIMESTAMP AS OF: the highest version committed at or before
    wall-clock ``ts`` (epoch seconds) — Delta's timestamp time
    travel on the manifest log. Versions are scanned newest-first;
    a manifest without a recorded ``ts`` (pre-feature commits) is
    treated as arbitrarily old, so legacy stores resolve to their
    newest legacy version. Raises ``ValueError`` if nothing
    READABLE was committed by ``ts`` — an explicit error beats
    silently serving a later corpus to a reproducibility-sensitive
    caller. Only versions whose manifests still exist are scanned
    (ADVICE r9): on a vacuumed store, a ``ts`` predating the oldest
    retained version falls through to the documented ValueError
    instead of surfacing a FileNotFoundError from a pruned
    manifest."""
    for v in reversed(_versions(store_dir)):
        committed = _manifest(store_dir, v).get("ts")
        if committed is None or committed <= ts:
            return v
    raise ValueError(
        f"no version of {store_dir!r} existed at timestamp {ts}"
    )


def commit_corpus(
    df: DataFrame,
    store_dir: str,
    note: str = "",
    replace_history: bool = False,
    expect_latest: int | None = None,
) -> int:
    """Append ``df`` as a new immutable batch and return the new
    version number. The batch is written under a dot-temp name and
    renamed into place only when complete, and the manifest appears
    (its own temp-write + atomic rename) only after that — so a crash
    at ANY point leaves either an invisible temp dir or an
    unreferenced batch dir, never a version that references missing
    data. Both kinds of debris sit at exactly the names the NEXT
    commit of the same version would use, so it clears them first —
    without that, a crash between batch write and manifest rename
    would wedge the store permanently (``errorifexists`` failing on
    the orphan at every retry; ADVICE r6). Unreferenced-by
    -construction: a batch dir becomes referenced atomically with its
    manifest, so an existing ``b{latest+1}`` can only be crash debris.

    Writer contract (ADVICE r7): commits are serialized by an
    exclusive lock file (``_manifests/.commit.lock``, O_CREAT|O_EXCL
    — atomic on POSIX and on NFSv3+). A concurrent commit fails
    LOUDLY with ``StoreLockedError`` instead of racing the
    debris-clearing rmtree into a peer's completed-but-unmanifested
    batch; the manifest is published with ``os.link`` (fails on an
    existing name) rather than ``os.rename`` (which silently
    overwrites). A committer killed mid-commit leaves a stale lock;
    the error message names it and the holder pid — after verifying
    no live committer, remove the lock and the next commit clears
    the batch debris as before. That trade (explicit unlock after a
    crash vs silently deleting a concurrent peer's data) is the
    point of the lock. A stale lock left by a DEAD process on this
    host is reclaimed automatically (pid-liveness probe in
    ``_acquire_lock``); foreign-host locks are never auto-removed.

    ``expect_latest`` (ADVICE r8): optimistic-concurrency guard for
    commits DERIVED from a read of the store (checkpoint_corpus).
    The caller pins the version its input was built from; if a peer
    commit advanced the store past it before this commit took the
    lock, raise ``ConcurrentCommitError`` instead of publishing a
    lineage that silently omits the peer's batch."""
    return _commit(
        df.write.mode("errorifexists").parquet,
        store_dir,
        note,
        replace_history=replace_history,
        expect_latest=expect_latest,
    )


def _commit(
    write,
    store_dir: str,
    note: str,
    replace_history: bool = False,
    expect_latest: int | None = None,
    spec: list[str] | None = None,
) -> int:
    """The one commit sequence behind ``commit_corpus`` and
    ``commit_corpus_partitioned`` (contract on ``commit_corpus``):
    lock → debris clear → ``write(temp batch dir)`` → rename into
    place → link-publish the manifest. ``spec`` records the batch's
    partition columns; the specs of the batches a version keeps carry
    forward."""
    with _commit_lock(store_dir, "commit"):
        current = latest_version(store_dir)
        if expect_latest is not None and current != expect_latest:
            raise ConcurrentCommitError(
                f"store {store_dir!r} advanced to v{current} but this "
                f"commit was derived from v{expect_latest}; rebuild "
                "from the current version and retry"
            )
        version = current + 1
        batch = f"b{version:06d}"
        batch_dir = os.path.join(store_dir, _DATA, batch)
        tmp_batch_dir = os.path.join(store_dir, _DATA, f".tmp-{batch}")
        for debris in (tmp_batch_dir, batch_dir):
            if os.path.exists(debris):
                shutil.rmtree(debris)
        write(tmp_batch_dir)
        os.rename(tmp_batch_dir, batch_dir)
        prior = {}
        if current and not replace_history:
            prior = _manifest(store_dir, current)
        specs = dict(prior.get("specs", {}))
        if spec:
            specs[batch] = list(spec)
        manifest = {
            "version": version,
            "batches": [*prior.get("batches", []), batch],
            "note": note,
            # wall-clock commit time: powers TIMESTAMP-AS-OF time
            # travel (version_at). Informational only — ordering
            # authority is always the version number
            "ts": time.time(),
        }
        if specs:
            manifest["specs"] = specs
        _publish_json(_manifest_path(store_dir, version), manifest)
        return version


def read_corpus(
    spark: SparkSession,
    store_dir: str,
    version: int | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Read the corpus AS OF ``version`` (default: latest). The
    returned frame is reproducible for as long as the store exists:
    batch directories are immutable and the manifest pins exactly
    which of them constitute the version.

    ``merge_schema=True`` enables additive SCHEMA EVOLUTION across
    batches (the Delta/Iceberg mergeSchema semantics on plain
    parquet): a later batch may carry columns earlier batches lack;
    the merged read unions the footers' schemas and earlier batches'
    rows surface NULL for the added columns. Because batches are
    immutable and a version pins its batch list, evolution is also
    TIME-TRAVEL-CONSISTENT: reading as-of an old version never sees
    a column added later, merged or not. Default False: a
    homogeneous store skips the footer-merge job, and an accidental
    schema drift fails loudly instead of being silently null-padded
    — turn it on deliberately."""
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(*batch_dirs(store_dir, version))


def checkpoint_corpus(spark: SparkSession, store_dir: str) -> int:
    """Consolidate the CURRENT corpus into one batch and commit it as
    the next version whose manifest references ONLY that batch — the
    transaction-log checkpoint move (Delta's checkpoint / Iceberg's
    snapshot rewrite, on plain parquet). Why at 100 TB: a store fed
    by many small commits accumulates a manifest of many batch
    directories, and every read plans a multi-directory scan over
    ever-smaller files; the checkpoint restores one big sorted batch
    and an O(1) manifest, and commits AFTER it chain from the short
    list. Old versions stay pinned and readable forever: their batch
    directories are untouched and their manifests still name them —
    checkpointing changes the lineage going FORWARD only. (Storage
    is additive by design, as with every append-only log; reclaiming
    pre-checkpoint batches is an explicit retention decision outside
    this module's append-only contract.)

    Concurrency (ADVICE r8): the consolidated batch is derived from
    a PINNED version read outside the commit lock, so the pin is
    passed to ``commit_corpus(expect_latest=...)`` — if a peer commit
    lands between the read and the lock, the checkpoint raises
    ``ConcurrentCommitError`` (and leaves no manifest) instead of
    silently dropping the peer's batch from all forward lineage.
    Retry by calling checkpoint_corpus again."""
    pinned = latest_version(store_dir)
    return commit_corpus(
        read_corpus(spark, store_dir, version=pinned), store_dir, "checkpoint",
        replace_history=True, expect_latest=pinned,
    )


def vacuum_corpus(store_dir: str, keep_from_version: int) -> dict:
    """Explicit RETENTION: drop batches and manifests that only
    versions OLDER than ``keep_from_version`` reference — the Delta
    ``VACUUM`` analogue, and the one deliberately destructive
    operation in this module. Time travel to versions ≥
    ``keep_from_version`` keeps working bit-for-bit (their batches
    are retained); reading an older version afterwards fails LOUDLY
    (its manifest is gone) instead of returning partial data — the
    manifests are removed FIRST so a crash mid-vacuum can orphan
    batch files (harmless, reclaimed on retry) but can never leave a
    readable manifest pointing at deleted data. Serialized against
    committers by the same exclusive lock as commit_corpus, and
    ``latest_version`` / the keep-set are computed INSIDE the lock
    (ADVICE r8) — a commit that completes just before the vacuum is
    always in the keep set, so the newest manifest can never be left
    referencing a deleted batch.

    Reader contract (VERDICT r8): the manifests-first ordering
    protects readers that PLAN after the vacuum — they either see
    the manifest and all its batches, or no manifest at all. It
    cannot protect a Spark job that already planned its scan over a
    pre-``keep_from_version`` manifest before the vacuum ran: its
    file list is fixed at plan time, and materializing after the
    rmtree fails mid-job with FileNotFound (the same in-flight-reader
    race Delta mitigates with a retention interval). Operate vacuum
    like Delta's: only pass a ``keep_from_version`` old enough that
    no job could still be reading below it. Within those semantics
    the failure mode is loud, never silent partial data.

    Returns {"batches_removed": n, "manifests_removed": m}."""
    with _commit_lock(store_dir, "vacuum"):
        latest = latest_version(store_dir)
        if not 1 <= keep_from_version <= latest:
            raise ValueError(
                f"keep_from_version must be in [1, {latest}], "
                f"got {keep_from_version}"
            )
        # tags are PROMISES of reproducibility: refuse to drop a
        # version a named ref still points at (checked inside the
        # lock, so a concurrent tag_corpus of an old version either
        # lands before this check or fails its own readability probe
        # after the manifest is gone)
        tagged_below = {
            n: v
            for n, v in list_tags(store_dir).items()
            if v < keep_from_version
        }
        if tagged_below:
            raise ValueError(
                f"vacuum would drop versions still pinned by tags "
                f"{tagged_below}; delete the tags first or raise "
                "keep_from_version past them"
            )
        keep: set[str] = set()
        for v in range(keep_from_version, latest + 1):
            keep.update(_batches(store_dir, v))
        manifests_removed = 0
        for v in range(1, keep_from_version):
            path = _manifest_path(store_dir, v)
            if os.path.exists(path):
                os.unlink(path)  # manifests first: no dangling reads
                manifests_removed += 1
        batches_removed = 0
        data_dir = os.path.join(store_dir, _DATA)
        for b in sorted(os.listdir(data_dir)):
            if b.startswith("b") and b not in keep:
                shutil.rmtree(os.path.join(data_dir, b))
                batches_removed += 1
        return {
            "batches_removed": batches_removed,
            "manifests_removed": manifests_removed,
        }


TOMBSTONE = "_deleted"
_SEQ = "_seq"


class CommitRejectedError(RuntimeError):
    """A gated commit was refused — schema drift or failed quality
    checks. ``violations`` maps check name → violation count."""

    def __init__(self, msg: str, violations: dict[str, int] | None = None):
        super().__init__(msg)
        self.violations = violations or {}


def _failed_checks(df: DataFrame, checks: list) -> dict[str, int]:
    """Check name → violation count of every failing
    ``operators.quality`` check, from one aggregate pass over ``df``."""
    from kafka_streams_pipeline_spark.operators.quality import run_checks

    return {
        r["check_name"]: r["violations"]
        for r in run_checks(df, checks).collect()
        if not r["passed"]
    }


def commit_corpus_checked(
    df: DataFrame,
    store_dir: str,
    checks: list,
    note: str = "",
    evolve: bool = False,
) -> int:
    """Governed ingest: Delta-style SCHEMA ENFORCEMENT plus a
    declarative quality gate, evaluated BEFORE anything is written —
    a rejected batch leaves the store untouched (no version, no
    batch directory, nothing to vacuum).

    Schema enforcement: on a non-empty store the incoming frame must
    carry every existing column with the identical type; extra
    columns are rejected unless ``evolve=True`` (additive evolution
    only — the ``read_corpus(merge_schema=True)`` contract; a TYPE
    change is never accepted because null-padding can't reconcile
    it). Quality gate: ``checks`` are ``operators.quality.Check``
    constraints compiled into one aggregate pass over the batch
    (``run_checks``); any failing check raises
    ``CommitRejectedError`` carrying the per-check violation counts,
    so ingestion pipelines can quarantine the batch with its audit
    trail. Why at 100 TB: a poisoned batch caught at commit time
    costs one O(delta) scan; caught downstream it costs a
    time-travel rollback and a re-derivation of everything built on
    the corrupted version."""
    current = latest_version(store_dir)
    if current >= 1:
        store_schema = df.sparkSession.read.parquet(
            batch_dirs(store_dir, current)[0]
        ).schema
        have = {f.name: f.dataType for f in df.schema.fields}
        want = {f.name: f.dataType for f in store_schema.fields}
        missing = [c for c in want if c not in have]
        drifted = [
            c for c in want if c in have and have[c] != want[c]
        ]
        extra = [c for c in have if c not in want]
        if missing or drifted or (extra and not evolve):
            raise CommitRejectedError(
                f"schema drift vs store {store_dir!r}: "
                f"missing={missing} type_changed={drifted} "
                f"extra={extra} (extra columns need evolve=True)"
            )
    if checks:
        failed = _failed_checks(df, checks)
        if failed:
            raise CommitRejectedError(
                f"quality gate failed for {len(failed)} check(s): "
                f"{failed}",
                violations=failed,
            )
    return commit_corpus(df, store_dir, note=note)


def upsert_corpus(
    df: DataFrame, store_dir: str, key: str, note: str = ""
) -> int:
    """Commit ``df`` as an UPSERT DELTA batch: merge-on-read MERGE
    semantics (Hudi MoR / the LSM write path) on the append-only
    store. The write is O(delta) — exactly one appended batch, no
    rewrite of any existing data — and the merge is deferred to
    ``read_corpus_latest``, which resolves each key to its
    newest-batch row. Deletes are rows whose ``_deleted`` column
    (``TOMBSTONE``) is true; the column is added as ``false`` when
    absent so plain upserts never need to carry it.

    Contract: ``key`` must be unique WITHIN the batch (two rows for
    one key in the same commit have no defined order — the same
    rule every LSM gives a single memtable flush). Across batches,
    newer commits win per key; ``compact_corpus`` folds the deltas
    back into one base batch when the read-side window tax is worth
    reclaiming.

    Why an engine for training data needs this: corpus curation is
    not append-only — documents get re-scored, re-filtered, and
    retracted (takedowns), and a full-corpus rewrite per correction
    is a 100 TB job for a 1 MB change. Merge-on-read makes the
    correction O(delta) while time travel keeps every pre-correction
    version bit-reproducible."""
    if key not in df.columns:
        raise ValueError(f"upsert frame has no key column {key!r}")
    if TOMBSTONE not in df.columns:
        from pyspark.sql import functions as F

        df = df.withColumn(TOMBSTONE, F.lit(False))
    return commit_corpus(df, store_dir, note=note)


def read_corpus_log(
    spark: SparkSession, store_dir: str, version: int | None = None
) -> DataFrame:
    """The version's raw batch LOG in commit order: every batch the
    manifest pins, union-by-name (missing columns null-padded, so
    schema evolution and tombstone-bearing deltas coexist), with a
    ``_seq`` column = the batch's position in the lineage. This is
    the substrate for both merged reads (latest ``_seq`` wins) and
    CDC reads (``_seq`` range). ONE multi-directory parquet scan
    (mergeSchema — the union-by-name semantics), with ``_seq``
    derived from each row's file path via the batch directory name:
    a 65-delta chain must not become 65 scan nodes (measured 25 s vs
    2.5 s for the merged read of a 2M-row store — per-scan overhead
    dominated; the one-scan form is the plan that survives long
    chains)."""
    from itertools import chain

    from pyspark.sql import functions as F

    batches = _batches(store_dir, version)
    seq_map = F.create_map(
        *chain.from_iterable(
            (F.lit(b), F.lit(i)) for i, b in enumerate(batches)
        )
    )
    # _metadata.file_path, NOT input_file_name(): the latter is
    # classified NONDETERMINISTIC, and a nondeterministic projection
    # blocks ALL predicate pushdown into the scan (caught by the
    # projection/pushdown plan contract — the one-scan rewrite would
    # otherwise have traded scan count for pushdown). The hidden
    # metadata struct is a proper deterministic metadata column;
    # filters push through it and column pruning is unaffected.
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(*[os.path.join(store_dir, _DATA, b) for b in batches])
        .withColumn(
            _SEQ,
            seq_map[
                F.regexp_extract(
                    F.col("_metadata.file_path"), r"/(b\d{6})/[^/]+$", 1
                )
            ].cast("int"),
        )
    )


def read_corpus_latest(
    spark: SparkSession,
    store_dir: str,
    key: str,
    version: int | None = None,
) -> DataFrame:
    """MERGED read: the corpus AS OF ``version`` under latest-wins
    upsert semantics — for each ``key``, the row from the newest
    batch that mentions it, with tombstoned keys absent. This is the
    merge-on-read MERGE INTO resolution (Hudi MoR snapshot read):
    one window over the batch log partitioned by key, ordered by
    batch sequence descending.

    Scale posture: ONE hash shuffle on the key — the standing MoR
    read tax, identical in shape to any LSM merge — and the window
    is a per-key top-1 (no global sort). When the delta chain grows
    long, ``compact_corpus`` folds it into a single base batch and
    the merged read degenerates to a plain scan. Composes with time
    travel: ``version=N`` merges exactly the batches manifest N
    pins, so pre-correction snapshots replay bit-identically.

    Contract note: keys are assumed unique WITHIN each batch (the
    ``upsert_corpus`` contract). On contract-violating single-batch
    stores the plain-scan path surfaces the duplicate keys as-is,
    where the windowed path returned one arbitrary row per key —
    enforce uniqueness at commit time if that matters upstream."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    # Pin the version BEFORE reading the log: resolving latest twice
    # (once inside read_corpus_log, once for the manifest check) lets
    # a commit/compact land between the calls, making n_batches
    # describe a different manifest than the one the log was read
    # from — the fast path could then return a raw multi-batch log.
    if version is None:
        version = latest_version(store_dir)
    log = read_corpus_log(spark, store_dir, version)
    if key not in log.columns:
        raise ValueError(f"store batches have no key column {key!r}")
    if len(_batches(store_dir, version)) == 1:
        # MoR → CoW degeneration (the docstring's promise, now the
        # plan's shape): a single-batch lineage — fresh store, or
        # anything after compact/checkpoint — has exactly one row
        # per key by the same within-batch-unique-key contract the
        # windowed path's arbitrary _SEQ tie-break already assumes,
        # so latest-wins is the identity and the merged read is a
        # plain scan + tombstone filter: no exchange, no sort.
        out = log.drop(_SEQ)
    else:
        w = Window.partitionBy(key).orderBy(F.col(_SEQ).desc())
        out = (
            log.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn", _SEQ)
        )
    if TOMBSTONE in out.columns:
        out = out.where(
            ~F.coalesce(F.col(TOMBSTONE), F.lit(False))
        ).drop(TOMBSTONE)
    return out


def read_corpus_changes(
    spark: SparkSession,
    store_dir: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """CDC / incremental read: the raw rows COMMITTED AFTER
    ``from_version`` up to ``to_version`` (default latest) — the
    batches in the target manifest that the source manifest does not
    reference, in commit order with their ``_seq``. Tombstone rows
    are included as-is: a downstream incremental consumer needs the
    retractions, not just the additions (the Debezium-style change
    feed). O(changed batches) scan — never re-reads the base.

    Fails LOUDLY if the source manifest's batches are not a subset
    of the target's (a checkpoint/compact rewrote lineage in
    between): batch set difference would then misreport the
    consolidated base as "new data", so the caller must fall back
    to a full read. This is the same contract Delta's change-data
    feed has across history-rewriting operations."""
    from pyspark.sql import functions as F

    if to_version is None:
        to_version = latest_version(store_dir)
    from_batches = _batches(store_dir, from_version)
    to_batches = _batches(store_dir, to_version)
    if not set(from_batches) <= set(to_batches):
        raise ValueError(
            f"lineage of v{to_version} does not contain v{from_version} "
            "(a checkpoint/compact rewrote history between them); "
            "incremental read is undefined — do a full read instead"
        )
    log = read_corpus_log(spark, store_dir, to_version)
    new_from = min(
        i for i, b in enumerate(to_batches) if b not in set(from_batches)
    ) if set(to_batches) - set(from_batches) else len(to_batches)
    return log.where(F.col(_SEQ) >= F.lit(new_from))


def compact_corpus(spark: SparkSession, store_dir: str, key: str) -> int:
    """Fold the upsert-delta chain into ONE materialized base batch:
    the merge-on-read → copy-on-write compaction (Hudi's compactor,
    Delta's OPTIMIZE-after-MERGE). Commits the RESOLVED corpus
    (``read_corpus_latest`` — tombstones applied and dropped) as a
    replace-history version, so subsequent merged reads are plain
    scans until new deltas arrive. Pinned + optimistic-concurrency
    guarded exactly like ``checkpoint_corpus``: a peer commit landing
    mid-compact raises ``ConcurrentCommitError`` rather than being
    silently dropped from forward lineage. Old versions stay
    readable (append-only storage; reclaiming them is vacuum's
    job)."""
    pinned = latest_version(store_dir)
    return commit_corpus(
        read_corpus_latest(spark, store_dir, key, version=pinned),
        store_dir,
        "compact",
        replace_history=True,
        expect_latest=pinned,
    )


_US_PER_HOUR = 3_600_000_000
_US_PER_DAY = 24 * _US_PER_HOUR
_GRAIN_RANK = {"raw": 0, "hour": 1, "day": 2}


def retention_rollup(
    spark: SparkSession,
    store_dir: str,
    hour_cutoff_us: int,
    day_cutoff_us: int,
) -> int:
    """TimescaleDB-style retention/downsampling policy as a store
    lifecycle operation (VERDICT r11 item 7) — the move a TSDB makes
    above the reference's hourly view shape
    (ingestion/KafkaStreamsAggregator.java:103-105): raw samples age
    into hourly aggregates, hourly into daily, and the reclaimed raw
    batches are vacuum's job afterwards.

    Schema convention (multi-grain hypertable rows):
    ``(user_id, bucket_us, grain, n, sum_cents, min_cents,
    max_cents)`` with ``grain ∈ {raw, hour, day}`` — raw samples are
    degenerate aggregates (n=1, sum=min=max). All four measures are
    ALGEBRAIC, so hour→day is a re-aggregation of hour rows, never a
    re-read of raw.

    Policy: a row whose bucket start is older than ``day_cutoff_us``
    must be at day grain; older than ``hour_cutoff_us`` at least
    hour grain (``day_cutoff_us < hour_cutoff_us`` — the day
    boundary is further in the past). A row never REFINES: the
    target grain is the coarsest of its current grain and the
    age-mandated one, which makes the operation IDEMPOTENT — rolling
    an already-rolled store is the identity (pinned in pytest and in
    the certified row's invariant column).

    Plan: ONE aggregation pass over the pinned version — grain/bucket
    reassignment is a per-row expression, then a single hash shuffle
    on (series, grain, bucket). The result commits with
    ``replace_history=True`` (the checkpoint lineage cut), so a
    subsequent ``vacuum_corpus(keep_from_version=<returned>)``
    reclaims every pre-rollup raw batch — and the vacuum's
    pinned-tag guard applies unchanged: a tag still naming a
    pre-rollup version blocks the reclaim loudly.

    CHUNK ALIGNMENT: each cutoff is floor-aligned to its target
    grain's boundary (day cutoff to a day start, hour cutoff to an
    hour start — the TimescaleDB rule: retention drops whole chunks,
    never partial ones). Without alignment the operation is not
    idempotent: a sample just above the day cutoff can land in an
    hour bucket whose START is below the cutoff, and the next rollup
    would re-roll that hour into a day — aligned cutoffs make
    "sample older than cutoff" and "bucket starts before cutoff"
    the same predicate at every grain.

    Returns the committed version number."""
    from pyspark.sql import functions as F

    if not day_cutoff_us < hour_cutoff_us:
        raise ValueError(
            "day_cutoff_us must be older (smaller) than hour_cutoff_us"
        )
    day_cutoff_us -= day_cutoff_us % _US_PER_DAY
    hour_cutoff_us -= hour_cutoff_us % _US_PER_HOUR
    pinned = latest_version(store_dir)
    df = read_corpus(spark, store_dir, pinned)
    rank = (
        F.when(F.col("grain") == "day", 2)
        .when(F.col("grain") == "hour", 1)
        .otherwise(0)
    )
    mandated = (
        F.when(F.col("bucket_us") < day_cutoff_us, 2)
        .when(F.col("bucket_us") < hour_cutoff_us, 1)
        .otherwise(0)
    )
    tgt = F.greatest(rank, mandated)
    rolled = (
        df.withColumn("__tgt", tgt)
        .select(
            "user_id",
            F.when(F.col("__tgt") == 2, F.lit("day"))
            .when(F.col("__tgt") == 1, F.lit("hour"))
            .otherwise(F.lit("raw"))
            .alias("grain"),
            F.when(
                F.col("__tgt") == 2,
                F.expr(f"(bucket_us div {_US_PER_DAY}) * {_US_PER_DAY}"),
            )
            .when(
                F.col("__tgt") == 1,
                F.expr(f"(bucket_us div {_US_PER_HOUR}) * {_US_PER_HOUR}"),
            )
            .otherwise(F.col("bucket_us"))
            .alias("bucket_us"),
            "n",
            "sum_cents",
            "min_cents",
            "max_cents",
        )
        .groupBy("user_id", "grain", "bucket_us")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("sum_cents").cast("long").alias("sum_cents"),
            F.min("min_cents").cast("long").alias("min_cents"),
            F.max("max_cents").cast("long").alias("max_cents"),
        )
    )
    return commit_corpus(
        rolled,
        store_dir,
        "retention-rollup",
        replace_history=True,
        expect_latest=pinned,
    )


def store_history_rows(store_dir: str) -> list[tuple]:
    """Driver-only leg of ``store_history``: the (version, n_batches,
    batches_added, note) tuples, straight from the manifests with no
    Spark job. Callers that only need a history FACT (an assertion on
    the head row, a lineage-length probe) should use this and skip
    the DataFrame round-trip entirely."""
    batches_by_version: dict[int, list[str]] = {}
    rows = []
    for v in _versions(store_dir):
        manifest = _manifest(store_dir, v)
        batches = list(manifest["batches"])
        batches_by_version[v] = batches
        prev = batches_by_version.get(v - 1)
        added = (
            len(set(batches) - set(prev)) if prev is not None else len(batches)
        )
        rows.append((v, len(batches), added, manifest.get("note", "")))
    return rows


def store_history(spark: SparkSession, store_dir: str) -> DataFrame:
    """The store's commit log as a queryable frame — the DESCRIBE
    HISTORY analogue: one row per READABLE version (vacuumed
    versions are absent, exactly as their manifests are) with the
    manifest's batch count, the number of batches the version added
    over its predecessor's lineage (an append and a checkpoint both
    add exactly one; a checkpoint is the row whose ``n_batches``
    RESETS to 1 while its predecessor's lineage was longer), and the
    commit note. Driver-side work is one manifest-directory listing
    + one small JSON read per version — O(versions) metadata, never
    data — then a
    ``createDataFrame`` of the summary rows, so the result composes
    with any query (join against audit tables, filter by note)."""
    from kafka_streams_pipeline_spark.session import local_rows_df

    return local_rows_df(
        spark,
        store_history_rows(store_dir),
        "version int, n_batches long, batches_added long, note string",
    )


# --- Named refs (tags) ------------------------------------------------------
# Iceberg/Delta-style TAGS: immutable named pointers into the version
# log, so a training run can pin "corpus@prod-2024-q3" instead of a
# raw version number — and retention cannot silently delete the data
# a tag promises (vacuum refuses while a tag references a
# to-be-dropped version).

import re as _re

_TAG_NAME = _re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]{0,63}$")


def _tag_path(store_dir: str, name: str) -> str:
    return os.path.join(store_dir, _MANIFESTS, f"tag.{name}.json")


def tag_corpus(
    store_dir: str,
    name: str,
    version: int | None = None,
    force: bool = False,
) -> int:
    """Point tag ``name`` at ``version`` (default: current latest)
    and return the tagged version. Tags are immutable by default —
    retagging an existing name raises unless ``force=True`` (moving
    a ref a training job may already have resolved is a human
    decision). The tag file is temp-written + atomically renamed,
    same as manifests, and the readability probe + write happen
    under the store's commit lock — a concurrent vacuum can
    therefore never interleave between "version v is readable" and
    the tag landing (vacuum checks tags inside the same lock)."""
    if not _TAG_NAME.match(name):
        raise ValueError(f"invalid tag name {name!r}")
    with _commit_lock(store_dir, f"tag:{name}"):
        latest = latest_version(store_dir)
        v = latest if version is None else version
        if not 1 <= v <= latest or not os.path.exists(
            _manifest_path(store_dir, v)
        ):
            raise ValueError(
                f"cannot tag version {v}: not a readable version of "
                f"{store_dir!r} (latest = {latest})"
            )
        path = _tag_path(store_dir, name)
        if os.path.exists(path) and not force:
            raise ValueError(
                f"tag {name!r} already exists (at version "
                f"{list_tags(store_dir)[name]}); pass force=True to move it"
            )
        _publish_json(
            path, {"name": name, "version": v, "ts": time.time()}, replace=force
        )
        return v


def list_tags(store_dir: str) -> dict[str, int]:
    """{tag name: version}, every tag of the store — O(tags)
    metadata reads, no data scan."""
    mdir = os.path.join(store_dir, _MANIFESTS)
    out: dict[str, int] = {}
    if not os.path.isdir(mdir):
        return out
    for f in sorted(os.listdir(mdir)):
        if f.startswith("tag.") and f.endswith(".json"):
            with open(os.path.join(mdir, f)) as fh:
                rec = json.load(fh)
            out[rec["name"]] = int(rec["version"])
    return out


def delete_tag(store_dir: str, name: str) -> None:
    """Drop a tag (the version log itself is untouched)."""
    try:
        os.unlink(_tag_path(store_dir, name))
    except FileNotFoundError:
        raise ValueError(f"tag {name!r} does not exist") from None


def read_corpus_tag(
    spark: SparkSession, store_dir: str, name: str
) -> DataFrame:
    """Read the store AS OF the tagged version — bit-identical to
    ``read_corpus(spark, store, version)`` for the version the tag
    pins, forever (tags are immutable and vacuum-protected)."""
    tags = list_tags(store_dir)
    if name not in tags:
        raise ValueError(
            f"tag {name!r} does not exist on {store_dir!r}; "
            f"known tags: {sorted(tags)}"
        )
    return read_corpus(spark, store_dir, tags[name])


def version_diff(
    spark: SparkSession,
    store_dir: str,
    key: str,
    v_from: int,
    v_to: int,
) -> DataFrame:
    """Semantic diff between two store versions under MoR merge
    semantics — the "what changed between Monday's corpus and
    today's" audit (Delta CDF's version-range summary, computed from
    snapshots instead of a change log, so it works across compaction
    and checkpoint boundaries where per-batch CDC lineage resets).

    Each version resolves via ``read_corpus_latest`` (latest-wins,
    tombstones absent); keys are classified added / removed /
    changed / unchanged by a FULL OUTER join of the two snapshots
    reduced to (key, md5-of-non-key-columns) pairs — payload columns
    hash PARTITION-LOCAL before the join, so the diff of a 100 TB
    corpus ships 8-byte keys + 32-char digests, never text. Output
    is the bounded summary (change_type, n_rows, key_checksum),
    ascending change_type; key_checksum (sum of keys) pins
    MEMBERSHIP per class, so one misclassified row flips the hash.
    """
    from pyspark.sql import functions as F

    cols = None
    frames = []
    for v in (v_from, v_to):
        snap = read_corpus_latest(spark, store_dir, key, v)
        snap_cols = sorted(c for c in snap.columns if c not in (key, TOMBSTONE))
        if cols is None:
            cols = snap_cols
        else:
            cols = [c for c in cols if c in snap_cols]
        frames.append(snap)
    def keyed(df: DataFrame, side: str) -> DataFrame:
        return df.select(
            F.col(key).alias(f"k_{side}"),
            F.md5(
                F.concat_ws(
                    "\x1f",
                    *[
                        F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                        for c in cols
                    ],
                )
            ).alias(f"h_{side}"),
        )
    a = keyed(frames[0], "a")
    b = keyed(frames[1], "b")
    j = a.join(b, a["k_a"] == b["k_b"], "full")
    return (
        j.select(
            F.when(F.col("k_a").isNull(), F.lit("added"))
            .when(F.col("k_b").isNull(), F.lit("removed"))
            .when(F.col("h_a") != F.col("h_b"), F.lit("changed"))
            .otherwise(F.lit("unchanged"))
            .alias("change_type"),
            F.coalesce(F.col("k_a"), F.col("k_b")).alias("k"),
        )
        .groupBy("change_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("k").cast("long").alias("key_checksum"),
        )
        .orderBy("change_type")
    )


# --- Partition-spec evolution (round 11) ------------------------------------


def commit_corpus_partitioned(
    df: DataFrame,
    store_dir: str,
    partition_by: list[str],
    note: str = "",
) -> int:
    """Append a batch written under a HIVE partition layout
    (``partitionBy``) and record the batch's partition spec in the
    manifest — Iceberg-style partition-spec EVOLUTION: each batch
    carries its own spec, old batches are never rewritten, and the
    read path prunes each batch by whatever spec it was written
    under. Same commit sequence as commit_corpus."""
    if not partition_by:
        raise ValueError("partition_by must be non-empty; use "
                         "commit_corpus for unpartitioned batches")
    return _commit(
        df.write.mode("errorifexists").partitionBy(*partition_by).parquet,
        store_dir,
        note,
        spec=partition_by,
    )


def read_corpus_pruned(
    spark: SparkSession,
    store_dir: str,
    filters: dict[str, str],
) -> tuple[DataFrame, dict]:
    """Read the latest version applying EQUALITY filters with per-batch
    partition pruning under each batch's OWN spec: a batch written
    under (source) prunes by source only (its matching directory
    still holds every lang); a batch written under (source, lang)
    prunes by both; an unpartitioned batch cannot prune. All filters
    are ALSO applied in the plan (pruning is an IO reduction, never
    the correctness mechanism), so the result equals the unpruned
    filtered read exactly.

    Returns (rows, stats) where stats counts leaf partition
    directories total vs scanned — the pruning decision, exposed so
    the registry oracle can recompute it from the data (a wrong
    pruning decision flips the certified hash, same discipline as
    the text/Bloom indexes)."""
    from pyspark.sql import functions as F

    manifest = _manifest(store_dir, latest_version(store_dir))
    batches = manifest["batches"]
    specs: dict[str, list[str]] = manifest.get("specs", {})

    def leaf_dirs(base: str, spec: list[str]) -> list[str]:
        dirs = [base]
        for col in spec:
            nxt: list[str] = []
            for d in dirs:
                for entry in sorted(os.listdir(d)):
                    if entry.startswith(f"{col}="):
                        nxt.append(os.path.join(d, entry))
            dirs = nxt
        return dirs

    total = scanned = 0
    frames: list[DataFrame] = []
    for b in batches:
        base = os.path.join(store_dir, _DATA, b)
        spec = specs.get(b, [])
        if not spec:
            total += 1
            scanned += 1
            frames.append(spark.read.parquet(base))
            continue
        leaves = leaf_dirs(base, spec)
        total += len(leaves)
        keep = []
        for leaf in leaves:
            rel = os.path.relpath(leaf, base)
            ok = True
            for seg in rel.split(os.sep):
                col, _, val = seg.partition("=")
                if col in filters and filters[col] != val:
                    ok = False
                    break
            if ok:
                keep.append(leaf)
        scanned += len(keep)
        if keep:
            frames.append(
                spark.read.option("basePath", base).parquet(*keep)
            )
    stats = {
        "batches": len(batches),
        "dirs_total": total,
        "dirs_scanned": scanned,
    }
    out = None
    for fr in frames:
        out = fr if out is None else out.unionByName(fr)
    if out is None:
        raise ValueError("empty store version")
    for col, val in filters.items():
        out = out.where(F.col(col) == val)
    return out, stats
