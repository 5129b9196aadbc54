"""Log-structured keyed table: merge-on-read upserts with O(batch)
commits — the ACID-table-format economics (Delta/Iceberg MERGE) without
new dependencies.

The directory-versioned upsert sink (streaming/events.py
``stream_upsert_events``) rewrites the FULL state every micro-batch:
correct and replay-safe, but the per-batch cost is O(state) — the cost
ceiling SCALE.md calls out, and the first thing a platform team swaps
for a table format. This module implements that swap in-repo, using only
parquet + the Hadoop FS API (sources/fs.py), with the same layout ideas
the real formats use:

    root/
      _log/v{N}.commit  tiny JSON commit record: batch id, kind, and the
                        unique data dir of commit N. The filename IS the
                        version slot — concurrent writers collide on the
                        atomic rename and exactly one wins. Reading the
                        log is one listing + one ~100-byte read per
                        commit.
      data/a{tok}/      immutable row files for one commit ATTEMPT (an
                        upsert batch, delete tombstones, or the full
                        compacted snapshot). The name is a version-free
                        unique token — the slot isn't known until the
                        log rename wins, and the uniqueness means racing
                        writers can never touch each other's files; the
                        winning v{N}.commit record points at its dir.

* **Commit protocol** (``_commit``): write the unique data dir first,
  then publish the log record via the table's ``CommitBackend`` —
  by default write-tmp + atomic rename (three metadata RPCs — no
  Spark job; a first cut wrote each record as a one-row parquet dir
  and paid a ~4s job submission per commit). A crash in between
  leaves an orphan data dir no committed log entry references —
  invisible to readers, garbage a vacuum could sweep; a crash
  mid-publish leaves only the dot-prefixed tmp file, which the log
  parser ignores. The backend contract is PUT-IF-ABSENT on the slot
  file: rename-to-existing FAILS on HDFS/local, so a writer that
  loses the version-slot race deletes its attempt and retries on the
  next slot (a racing REPLAY of the same batch id resolves to the
  normal replay no-op). On S3-family stores plain rename is
  copy+delete and OVERWRITES — it silently breaks the contract; swap
  in a backend built on a conditional put (If-None-Match) or a
  catalog commit instead. ``OverwritePlusVerifyBackend`` models the
  broken-rename store adversarially so the race test can prove the
  protocol detects a clobbered slot.
* **Merge-on-read snapshot**: union every committed data version since
  the latest compaction with its version stamped on, then keep the
  newest row per key (ROW_NUMBER over (key) ORDER BY version DESC —
  within a version keys are unique because commits dedupe their batch).
  One shuffle on the key, proportional to LIVE data — never a rewrite.
* **Replay safety**: foreachBatch is at-least-once and a blind append is
  NOT idempotent, so commits record their batch id and a replayed batch
  whose id is already the newest committed entry no-ops — the same rule
  the count-min sink uses (``_merge_batch_into_versioned_state``).
* **Compaction**: ``compact()`` materializes the snapshot as one new
  data version and logs a ``kind='compact'`` commit; readers then union
  only versions ≥ the newest compaction. Run it on whatever cadence
  bounds the live-version count (the real formats' OPTIMIZE).

Reference parity note: the reference engine (a Go DFS) has no mutable
tables at all; this is the forward-looking scale surface the r5 verdict
ranked as missing item 3.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hdfs_mapreduce_spark.sources import fs as hfs


_KINDS = ("upsert", "delete", "merge", "compact")

# Attempts before giving up when racing other writers for a version slot.
_COMMIT_RETRIES = 5

# Auto-checkpoint cadence: every K-th version slot also writes a log
# checkpoint, so the per-commit log read stays O(K) forever without any
# manual maintenance call.
_CHECKPOINT_EVERY = 32


class CommitBackend:
    """The single collision point of the commit protocol, made pluggable:
    publish ``payload`` into the version-slot file at ``path`` with
    PUT-IF-ABSENT semantics — return True iff OUR record owns the slot
    afterwards, False if another writer's record does. Everything else
    in the protocol (unique attempt data dirs, replay detection, retry
    on the next slot) is storage-agnostic; this one primitive is what
    differs between HDFS/local (atomic rename), S3 (conditional put /
    catalog commit), and a metastore."""

    def put_if_absent(
        self, spark: SparkSession, path: str, payload: str
    ) -> bool:
        raise NotImplementedError


class RenameCommitBackend(CommitBackend):
    """HDFS/local semantics: write a unique dot-prefixed tmp sibling,
    then rename — rename-to-existing FAILS, so rename success IS slot
    ownership, with no read-back needed. The default backend."""

    def put_if_absent(
        self, spark: SparkSession, path: str, payload: str
    ) -> bool:
        return hfs.write_text_atomic(spark, path, payload)


class OverwritePlusVerifyBackend(CommitBackend):
    """Adversarial model of an object store whose rename is copy+delete
    and silently OVERWRITES an existing destination (S3A without
    conditional writes): the put is a blind overwrite, so ownership can
    only be learned by reading the slot back. ``on_between`` lets a
    race test inject a competing writer between the write and the
    read-back — exactly the window where a real S3A deployment loses a
    commit without noticing.

    NOT a production backend: read-after-overwrite is detection, not
    prevention (the read-back itself can race), and S3's read-after-
    update consistency makes even detection best-effort. It exists to
    prove the PROTOCOL recovers when put_if_absent reports a lost slot
    — the production S3 swap is a backend whose put really is
    conditional (S3 If-None-Match put, DynamoDB/metastore commit),
    which restores the same contract rename gives on HDFS."""

    def __init__(self, on_between=None):
        self.on_between = on_between

    def put_if_absent(
        self, spark: SparkSession, path: str, payload: str
    ) -> bool:
        fs, p = hfs.fs_and_path(spark, path)
        out = fs.create(p, True)  # True = overwrite: the S3A hazard
        out.write(bytearray(payload.encode("utf-8")))
        out.close()
        if self.on_between is not None:
            self.on_between(path)
        return hfs.read_text(spark, path) == payload


DEFAULT_BACKEND = RenameCommitBackend()


class CorruptCommitError(RuntimeError):
    """A committed ``v{N}.commit`` record exists but cannot be parsed.
    This must fail LOUDLY: skipping it would silently drop committed
    rows from every snapshot and wedge writers into phantom slot races.
    (Checkpoints degrade gracefully instead — raw commits are their
    source of truth.)"""


class ConcurrentCommitError(RuntimeError):
    """Raised when a writer repeatedly loses the version-slot race."""


def _log_versions(
    spark: SparkSession, root: str
) -> list[tuple[int, int | None, str, str, str | None, float | None]]:
    """Committed log entries ascending by version:
    ``(version, batch_id or None, kind, data_dir_name, writer or None,
    commit wall-clock ts or None)`` — ts is None for pre-r8 commits and
    legacy filename-only entries.

    Current grammar: one ``v{N}.commit`` file per version — the FILENAME
    is the version slot (so two concurrent writers of version N collide
    on the atomic rename and exactly one wins), the JSON body carries
    batch id, kind, and the unique data directory that commit's rows
    live in. A log CHECKPOINT (``c{N}.checkpoint``, written by
    ``checkpoint_log`` — the real formats' _last_checkpoint) summarizes
    every entry ≤ N in one file, so a long-lived table's log read is one
    listing + ONE checkpoint read + one read per commit SINCE the
    checkpoint — bounded regardless of table age. Legacy entries
    (``v{N}[_b{B}].{kind}`` — round-6 first half, all metadata in the
    name, data at ``data/v{N}``) still parse, content-free. Malformed
    or dot-prefixed names (in-flight tmp files) are invisible."""
    import json

    log_dir = hfs.join(root, "_log")
    names = hfs.list_child_names(spark, log_dir)
    ckpts = sorted(
        int(n[1:].split(".")[0])
        for n in names
        if n.startswith("c")
        and n.endswith(".checkpoint")
        and n[1:].split(".")[0].isdigit()
    )
    out = []
    floor = -1
    # Newest READABLE checkpoint wins: an unreadable one falls back to
    # the next older checkpoint, not straight to floor=-1 — if commits
    # ≤ an old checkpoint were ever swept, the raw-commit fallback would
    # silently drop committed rows, contradicting the CorruptCommitError
    # fail-loud policy. With the full commit history present (the
    # default — sweeping is manual) every fallback level reads the same
    # truth, just more slowly.
    for cand in reversed(ckpts):
        try:
            recs = json.loads(
                hfs.read_text(
                    spark, hfs.join(log_dir, f"c{cand}.checkpoint")
                )
            )
            # Validate record shape like raw commits are validated: a
            # parseable-but-corrupt checkpoint (bogus kind, missing
            # version/data) must fall back to the next older checkpoint
            # exactly as an unreadable one does, or the fail-loud policy
            # is only as strong as JSON syntax.
            for rec in recs:
                if rec.get("kind") not in _KINDS:
                    raise ValueError(f"bad kind {rec.get('kind')!r}")
                if not isinstance(rec.get("version"), int) or not rec.get(
                    "data"
                ):
                    raise ValueError(f"bad checkpoint record {rec!r}")
            out = [
                (
                    rec["version"],
                    rec.get("batch_id"),
                    rec["kind"],
                    rec["data"],
                    rec.get("writer"),
                    rec.get("ts"),
                )
                for rec in recs
            ]
            floor = cand
            break
        except Exception:
            # Includes JVM-side read failures (Py4JJavaError wrapping
            # IOException / ChecksumException), not just local OSError:
            # checkpoints are derived artifacts and degrade gracefully —
            # unlike commit records, whose parse failures raise
            # CorruptCommitError below (fail-loud).
            out = []
            continue
    for name in names:
        if name.startswith(".") or "." not in name:
            continue
        core, kind = name.rsplit(".", 1)
        if not core.startswith("v"):
            continue
        if kind == "commit":
            if not core[1:].isdigit() or int(core[1:]) <= floor:
                continue
            try:
                rec = json.loads(
                    hfs.read_text(spark, hfs.join(log_dir, name))
                )
                if rec.get("kind") not in _KINDS:
                    raise ValueError(f"bad kind {rec.get('kind')!r}")
            except (OSError, ValueError) as exc:
                # A COMMITTED record that cannot be parsed is corruption,
                # not absence: skipping it would silently drop committed
                # rows from snapshots and wedge writers into a phantom
                # slot race at this version.
                raise CorruptCommitError(
                    f"{hfs.join(log_dir, name)}: {exc}"
                ) from exc
            out.append(
                (
                    int(core[1:]),
                    rec.get("batch_id"),
                    rec["kind"],
                    rec.get("data") or f"v{int(core[1:])}",
                    rec.get("writer"),
                    rec.get("ts"),
                )
            )
        elif kind in _KINDS:  # legacy filename-only entries
            vpart, _, btag = core[1:].partition("_b")
            if not vpart.isdigit() or (btag and not btag.isdigit()):
                continue
            if int(vpart) <= floor:
                continue
            out.append(
                (
                    int(vpart),
                    int(btag) if btag else None,
                    kind,
                    f"v{int(vpart)}",
                    None,
                    None,
                )
            )
    return sorted(out, key=lambda e: e[0])


def checkpoint_log(spark: SparkSession, root: str) -> int | None:
    """Summarize every committed log entry into ONE
    ``_log/c{N}.checkpoint`` file (N = the newest version it covers) —
    the real formats' _last_checkpoint: afterwards a log read costs one
    listing + one checkpoint read + one read per commit newer than N,
    bounded no matter how many commits the table has accumulated.
    Published with the same write-tmp + atomic-rename discipline; a
    concurrent checkpoint of the same N produces identical content, so
    losing that rename is success. Commit files stay (they are the
    source of truth the checkpoint is derived from). A vacuum-style
    sweep of commits ≤ an older checkpoint is kept manual, and is only
    safe while every NEWER checkpoint stays readable: the log reader
    falls back checkpoint-by-checkpoint to the newest readable one, so
    after a sweep the swept floor's checkpoint must remain the last
    line of defense — it can degrade to older checkpoints, never to
    raw commits that no longer exist. Returns N, or None for an empty
    log."""
    import json

    entries = _log_versions(spark, root)
    if not entries:
        return None
    n = entries[-1][0]
    payload = json.dumps(
        [
            {
                "version": v,
                "batch_id": b,
                "kind": k,
                "data": d,
                "writer": w,
                "ts": ts,
            }
            for v, b, k, d, w, ts in entries
        ]
    )
    # Losing the rename means a same-N checkpoint (identical content by
    # construction) already exists: success either way. The tmp name is
    # unique per attempt (write_text_atomic), so concurrent
    # checkpointers can never truncate each other mid-write.
    hfs.write_text_atomic(
        spark, hfs.join(root, "_log", f"c{n}.checkpoint"), payload
    )
    return n


def upsert_batch(
    batch_df: DataFrame,
    batch_id: int,
    root: str,
    key_col: str,
    writer: str | None = None,
    backend: CommitBackend | None = None,
) -> bool:
    """Commit one upsert batch: O(batch) work, no state read or rewrite.
    Returns False on a skipped at-least-once replay (THIS writer's
    newest committed entry already carries this batch id), True when a
    commit landed. Streams sharing one table must pass distinct
    ``writer`` ids — their epoch-based batch counters all start at 0
    and would otherwise shadow each other's replay detection."""
    batch = batch_df.dropDuplicates([key_col])
    return (
        _commit(
            batch.sparkSession, root, batch, batch_id, "upsert", writer,
            backend,
        )
        is not None
    )


def _is_replay(
    entries: list, batch_id: int | None, writer: str | None
) -> bool:
    """At-least-once replay test, scoped to THIS writer's commits: Spark
    only ever re-runs a foreachBatch writer's NEWEST uncommitted batch,
    so a batch id matching the writer's newest committed entry is a
    replay. Scoping by writer is what makes multiple streams sharing a
    table safe — their independent epoch counters (both start at 0)
    must never shadow each other (an unscoped newest-entry test silently
    DROPPED a second writer's batch whenever the ids collided).
    Compactions are skipped: ``compact()`` commits with writer=None /
    batch_id=None, so for a default writer=None stream an interleaved
    compaction would otherwise become the writer's "newest" entry and
    defeat the test — a replayed batch would re-commit, burning a
    version slot and breaking the one-commit-per-batch-id invariant."""
    if batch_id is None:
        return False
    for e in reversed(entries):
        if e[2] == "compact":
            continue
        if e[4] == writer:
            return e[1] == batch_id
    return False


def _delete_data_dir(spark: SparkSession, root: str, data_name: str) -> None:
    fs, path = hfs.fs_and_path(spark, hfs.join(root, "data", data_name))
    fs.delete(path, True)


def _commit(
    spark: SparkSession,
    root: str,
    rows: DataFrame,
    batch_id: int | None,
    kind: str,
    writer: str | None = None,
    backend: CommitBackend | None = None,
) -> int | None:
    """The concurrent-writer-safe commit. The rows are written ONCE to a
    version-free UNIQUE data directory (``data/a{token}`` — racing
    writers can never touch each other's files, and losing a slot race
    never re-runs the expensive write); the retry loop then spins only
    on the cheap log publish: pick the next version slot, publish
    ``_log/v{N}.commit`` through the backend's put-if-absent. With the
    default rename backend exactly one writer wins each slot
    (rename-to-existing fails on HDFS/local); a loser re-reads the log
    — a racing replay of this writer's batch id resolves to the replay
    no-op (the orphan attempt dir is deleted) — and otherwise retries
    the next slot. A non-rename store (S3) plugs in a backend whose
    put really is conditional; the protocol only needs put_if_absent
    to report slot ownership truthfully. Every
    ``_CHECKPOINT_EVERY``-th slot also writes a log checkpoint,
    keeping the per-commit log read O(K) forever with no manual
    maintenance."""
    import json
    import uuid

    backend = backend or DEFAULT_BACKEND
    entries = _log_versions(spark, root)
    if _is_replay(entries, batch_id, writer):
        return None
    data_name = f"a{uuid.uuid4().hex[:12]}"
    rows.write.mode("overwrite").parquet(hfs.join(root, "data", data_name))
    log_dir = hfs.join(root, "_log")
    hfs.mkdirs(spark, log_dir)
    for attempt in range(_COMMIT_RETRIES):
        if attempt:
            entries = _log_versions(spark, root)
            if _is_replay(entries, batch_id, writer):
                _delete_data_dir(spark, root, data_name)
                return None
        next_v = entries[-1][0] + 1 if entries else 0
        record = {
            "version": next_v,
            "batch_id": batch_id,
            "kind": kind,
            "data": data_name,
            "writer": writer,
            # wall-clock commit time: powers vacuum(older_than_s=…);
            # nothing CORRECTNESS-bearing reads it (snapshots/CDF/replay
            # are version-ordered), so clock skew costs only retention
            # precision — the same contract Delta's timestamps carry.
            "ts": time.time(),
        }
        if backend.put_if_absent(
            spark,
            hfs.join(log_dir, f"v{next_v}.commit"),
            json.dumps(record),
        ):
            if next_v % _CHECKPOINT_EVERY == _CHECKPOINT_EVERY - 1:
                checkpoint_log(spark, root)
            return next_v
    _delete_data_dir(spark, root, data_name)
    raise ConcurrentCommitError(
        f"lost the commit race {_COMMIT_RETRIES} times at {root}"
    )


def delete_batch(
    keys_df: DataFrame,
    batch_id: int,
    root: str,
    key_col: str,
    writer: str | None = None,
    backend: CommitBackend | None = None,
) -> bool:
    """Commit one delete batch: a tombstone version holding only the key
    column plus ``_deleted = true``. O(batch) like upserts — no state
    read; the snapshot's newest-row-per-key rule makes a tombstone shadow
    every earlier row for its key, and the final filter drops it (the
    merge-on-read DELETE of the real formats). ``_deleted``, ``_v`` and
    ``_rn`` are reserved column names. Same replay rule as upserts; a
    stream batch makes ONE commit (upsert or delete), so its id appears
    once."""
    spark = keys_df.sparkSession
    tomb = (
        keys_df.select(key_col)
        .dropDuplicates([key_col])
        .withColumn("_deleted", F.lit(True))
    )
    return (
        _commit(spark, root, tomb, batch_id, "delete", writer, backend)
        is not None
    )


def merge_batch(
    batch_df: DataFrame,
    batch_id: int,
    root: str,
    key_col: str,
    delete_col: str,
    writer: str | None = None,
    backend: CommitBackend | None = None,
) -> bool:
    """Commit one MIXED CDC batch — upserts and deletes together — as
    ONE version: the real formats' ``MERGE INTO`` applied to a change
    feed. Rows whose ``delete_col`` is true land as tombstones (data
    columns nulled, ``_deleted = true``); the rest land as ordinary
    upsert images. The snapshot's newest-row-per-key rule plus its
    ``_deleted`` filter already give these rows DELETE/UPSERT semantics
    with no reader change, and one commit per batch preserves the
    one-commit-per-batch-id replay invariant a two-commit split
    (upserts then deletes) would break — under at-least-once delivery
    the replay test would see only the second commit's id and re-apply
    the first half. O(batch), no state read, same replay rule as
    upserts. A key may appear once per batch (``dropDuplicates``, like
    ``upsert_batch``); emit intra-batch last-writer-wins upstream."""
    spark = batch_df.sparkSession
    is_del = F.coalesce(F.col(delete_col), F.lit(False))
    data_cols = [
        c for c in batch_df.columns if c not in (key_col, delete_col)
    ]
    mixed = batch_df.dropDuplicates([key_col]).select(
        key_col,
        *[F.when(~is_del, F.col(c)).alias(c) for c in data_cols],
        is_del.alias("_deleted"),
    )
    return (
        _commit(spark, root, mixed, batch_id, "merge", writer, backend)
        is not None
    )


def snapshot(
    spark: SparkSession,
    root: str,
    key_col: str,
    as_of: int | None = None,
) -> DataFrame:
    """Merge-on-read state: newest row per key across every committed
    version since the latest compaction, minus tombstoned keys.
    ``as_of`` reads the table AS OF that commit version (time travel —
    only commits ≤ as_of participate, including the compaction floor
    rule; reading below a vacuumed horizon fails at read time, the same
    contract the real formats have). Versions merge by column NAME with
    missing columns null-filled, so columns added by later writers
    evolve the schema instead of breaking old versions. Returns None for
    an empty table (no schema to synthesize a relation from).

    All live versions are read by ONE multi-path scan instead of one
    read per version unioned together, so plan build stays a single
    schema merge as the version count grows: each row's version comes
    from its file's parent dir name through a literal dir → version map.
    The root is glob-escaped because Hadoop globs read paths, so roots
    containing ``{ } [ ] * ?`` read correctly. ``mergeSchema`` orders
    columns like ``unionByName(allowMissingColumns=True)`` over the
    versions in order: the oldest version's columns first, later
    additions after. A column keeps its type across versions: parquet
    schema merging rejects a changed type (int in one version, long in
    another) where a per-version union would have widened it."""
    entries = _log_versions(spark, root)
    if as_of is not None:
        entries = [e for e in entries if e[0] <= as_of]
    if not entries:
        return None
    compactions = [e[0] for e in entries if e[2] == "compact"]
    floor = max(compactions) if compactions else 0
    live = {e[3]: e[0] for e in entries if e[0] >= floor}
    data = hfs.join(hfs.glob_escape(root), "data")
    allrows = spark.read.option("mergeSchema", "true").parquet(
        *[hfs.join(data, d) for d in sorted(live, key=live.get)]
    )
    version_of = F.create_map(
        *[F.lit(x) for d, v in live.items() for x in (d, v)]
    )
    parent = F.element_at(F.split(F.col("_metadata.file_path"), "/"), -2)
    allrows = allrows.withColumn("_v", version_of[parent])
    w = Window.partitionBy(key_col).orderBy(F.col("_v").desc())
    out = (
        allrows.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_v")
    )
    if "_deleted" in out.columns:
        out = out.filter(
            ~F.coalesce(F.col("_deleted"), F.lit(False))
        ).drop("_deleted")
    return out


def vacuum(
    spark: SparkSession,
    root: str,
    sweep_orphans: bool = False,
    retain_last: int | None = None,
    older_than_s: float | None = None,
) -> list[int]:
    """Physically delete data versions BELOW the latest compaction — the
    snapshot never reads them (the compaction carries their net effect),
    they only serve time travel, and this is the one irreversible
    operation the format exposes (the real formats' VACUUM). Log entries
    stay (cheap, and they document history); ``snapshot(as_of=
    <vacuumed>)`` fails at scan time thereafter, same as Delta.

    ``retain_last=N`` is the retention policy counted in commits;
    ``older_than_s=S`` is Delta's RETAIN clause proper — only data
    whose commit wall-clock ts is older than S seconds ago is
    deletable. Both mean "time travel inside the retained window must
    keep working": a snapshot as-of version v reads every data version
    from its compaction floor up, so the deletable set is everything
    below the newest compaction that is itself ≤ the retention horizon
    — deleting anything above that compaction would break an as-of
    INSIDE the retained window, not just below it. With no compaction
    at or below the horizon nothing is deletable, exactly like Delta
    when no checkpoint predates the retention boundary. When both
    policies are given, a version is retained if EITHER retains it
    (the stricter horizon wins). Commits with no ts (pre-r8 tables,
    legacy entries) are never dated and therefore never deletable by
    the clock policy — never delete what you can't date. Default
    (None, None) retains nothing below the newest compaction — the
    pre-r8 behavior.

    ``sweep_orphans=True`` additionally deletes data dirs no committed
    log entry references — the residue of attempts that crashed between
    the parquet write and the log publish (without a sweep they
    accumulate forever, since every attempt dir is unique). Only run it
    when no writer is active: an in-flight commit's dir looks exactly
    like an orphan (the same caveat Delta's VACUUM carries for its
    retention window). Returns the removed versions (orphan dirs have
    no version and are not reported)."""
    if retain_last is not None and retain_last < 1:
        raise ValueError(
            f"retain_last must be >= 1 (the current snapshot is always "
            f"retained), got {retain_last}"
        )
    entries = _log_versions(spark, root)
    compactions = [e[0] for e in entries if e[2] == "compact"]
    removed = []
    horizons = []
    if retain_last is not None:
        # Horizon = oldest version inside the retained window.
        horizons.append(
            entries[-retain_last][0]
            if len(entries) >= retain_last
            else (entries[0][0] if entries else 0)
        )
    if older_than_s is not None:
        cutoff = time.time() - older_than_s
        young = [e[0] for e in entries if e[5] is None or e[5] >= cutoff]
        horizons.append(
            min(young) if young else (entries[-1][0] + 1 if entries else 0)
        )
    if horizons:
        horizon = min(horizons)  # stricter policy wins
        compactions = [c for c in compactions if c <= horizon]
    if compactions:
        floor = max(compactions)
        for e in entries:
            if e[0] < floor:
                fs, path = hfs.fs_and_path(
                    spark, hfs.join(root, "data", e[3])
                )
                if fs.exists(path):
                    fs.delete(path, True)
                    removed.append(e[0])
    if sweep_orphans:
        referenced = {e[3] for e in entries}
        data_dir = hfs.join(root, "data")
        for name in hfs.list_child_names(spark, data_dir):
            if name not in referenced:
                fs, path = hfs.fs_and_path(spark, hfs.join(data_dir, name))
                fs.delete(path, True)
    return removed


def compact(
    spark: SparkSession,
    root: str,
    key_col: str,
    backend: CommitBackend | None = None,
    cluster_by: tuple[str, str] | None = None,
    n_partitions: int = 8,
) -> int | None:
    """Materialize the snapshot as one new data version and log it as a
    compaction: readers thereafter union a single version until new
    upserts land. Returns the compaction's version, or None on an empty
    table. Earlier data dirs become dead weight a vacuum can delete —
    exactly the real formats' OPTIMIZE/VACUUM split; kept out of scope
    here because deletion is irreversible and orthogonal to reads.

    ``cluster_by=(col_a, col_b)`` re-lays the compacted rows along the
    Z curve of two non-negative integer columns before writing (the
    real formats' OPTIMIZE ZORDER BY, via operators/layout.py):
    compaction already rewrites the whole live state, so the clustering
    shuffle replaces — not adds to — the write's, and every snapshot
    scan between compactions then prunes parquet row groups on BOTH
    columns. Merge-on-read semantics are unaffected (the snapshot's
    newest-row-per-key window doesn't care about row order)."""
    snap = snapshot(spark, root, key_col)
    if snap is None:
        return None
    if cluster_by is not None:
        from hdfs_mapreduce_spark.operators.layout import zorder_layout

        snap = zorder_layout(snap, *cluster_by, n_partitions=n_partitions)
    return _commit(spark, root, snap, None, "compact", None, backend)


def stream_upsert_events_logtable(
    spark: SparkSession,
    sf_dir: str,
    root: str,
    checkpoint_dir: str | None = None,
    stream: DataFrame | None = None,
    compact_every: int | None = None,
):
    """``stream_upsert_events`` with log-table state: the IDENTICAL
    dataflow and terminal relation, but each micro-batch commits O(batch)
    appended rows instead of rewriting O(state) — the swap SCALE.md
    promises ("an ACID format's MERGE INTO ... dataflow unchanged"),
    performed in-repo. Read the current state with ``snapshot``.

    ``compact_every=K`` makes the stream SELF-MAINTAINING: every K-th
    micro-batch the sink also runs ``compact()``, so a long-running
    stream bounds its own live-version count (snapshot unions ≤ K+1
    versions: K upserts + the compaction, plus the in-flight batch) with
    no external cron — the real formats' auto-OPTIMIZE. Log length is
    already self-bounded by the every-32-slots auto-checkpoint inside
    ``_commit``. The trigger is the batch COUNTER, not the version
    number, so replays (which commit nothing) don't double-compact; the
    compaction itself is invisible to replay detection (``_is_replay``
    skips compact entries), so the one-commit-per-batch-id invariant
    holds across interleaved maintenance."""
    from hdfs_mapreduce_spark.streaming.events import (
        _checkpointed,
        _events_stream,
    )

    if stream is None:
        stream = _events_stream(spark, sf_dir)
    # Writer identity = this sink's role; a second stream sharing the
    # table would pass its own id so the per-writer replay detection
    # (epoch batch counters both starting at 0) can't cross-shadow.
    sink = make_upsert_sink(
        root,
        "event_id",
        writer="events_upsert_stream",
        compact_every=compact_every,
    )
    return _checkpointed(stream.writeStream.foreachBatch(sink), checkpoint_dir)


def make_upsert_sink(
    root: str,
    key_col: str,
    writer: str | None = None,
    compact_every: int | None = None,
    backend: CommitBackend | None = None,
    vacuum_after_compact: bool = False,
):
    """The foreachBatch callable behind the log-table upsert streams,
    exposed so tests (and other sinks) drive the EXACT production code
    path: commit the batch, and — when ``compact_every=K`` — run
    ``compact()`` after every K-th COMMITTED batch. Keyed on the batch
    id, not the version number, so replays (which commit nothing) never
    double-compact; a compaction that crashes after the upsert commit is
    just skipped maintenance, retried K batches later (the data loses no
    durability — compaction is an optimization commit).

    ``vacuum_after_compact=True`` additionally vacuums superseded data
    versions right after each compaction, so a long-running stream
    bounds its DISK footprint as well as its read set. Safe here where
    the general vacuum caveat bites, because the sink is the table's
    only writer and foreachBatch runs it serially — there is no
    in-flight attempt dir to mistake for garbage (orphan sweeping is
    still left to an explicit offline vacuum). The trade is documented
    vacuum semantics: time travel below the newest compaction dies;
    leave it off for tables whose history must stay queryable."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        committed = upsert_batch(
            batch_df, batch_id, root, key_col, writer=writer,
            backend=backend,
        )
        if (
            compact_every
            and committed
            and batch_id % compact_every == compact_every - 1
        ):
            spark = batch_df.sparkSession
            compact(spark, root, key_col, backend=backend)
            if vacuum_after_compact:
                vacuum(spark, root)

    return _sink


def table_changes(
    spark: SparkSession,
    root: str,
    key_col: str,
    v_from: int,
    v_to: int,
) -> DataFrame | None:
    """Change data feed between two committed versions (the real
    formats' CDF / ``table_changes``), computed as a snapshot diff: one
    row per key whose VISIBLE state differs between ``as_of=v_from`` and
    ``as_of=v_to``, labeled ``insert`` / ``update`` / ``delete``, every
    non-key column emitted as ``<col>_before`` / ``<col>_after``. Keys
    whose state is identical (including insert-then-delete churn that
    nets out inside the window) do not appear — net-effect semantics,
    like Delta's CDF with per-version granularity collapsed.

    Scale: two merge-on-read snapshot plans and ONE full-outer join on
    the table key — cost tracks live data, never log history length
    (replaying per-version deltas would). Null-safe comparison (<=>)
    detects updates, so NULL-valued columns diff correctly. Both
    snapshots must share a schema; diff across a schema-evolution
    boundary by reading the narrower side through the wider snapshot
    (snapshot() null-fills old versions already).

    Returns None when both endpoints are empty.
    """
    before = snapshot(spark, root, key_col, as_of=v_from)
    after = snapshot(spark, root, key_col, as_of=v_to)
    if before is None and after is None:
        return None
    ref = after if after is not None else before
    cols = [c for c in ref.columns if c != key_col]

    def _side(df, suffix):
        if df is None:
            empty = spark.createDataFrame([], ref.schema)
            df = empty
        return df.select(
            F.col(key_col),
            F.lit(True).alias(f"_in_{suffix}"),
            *[F.col(c).alias(f"{c}_{suffix}") for c in cols],
        )

    j = _side(before, "before").join(
        _side(after, "after"), key_col, "full_outer"
    )
    differs = F.lit(False)
    for c in cols:
        differs = differs | ~F.col(f"{c}_before").eqNullSafe(
            F.col(f"{c}_after")
        )
    change = (
        F.when(F.col("_in_before").isNull(), F.lit("insert"))
        .when(F.col("_in_after").isNull(), F.lit("delete"))
        .when(differs, F.lit("update"))
    )
    return (
        j.withColumn("change_type", change)
        .where(F.col("change_type").isNotNull())
        .select(
            key_col,
            "change_type",
            *[f"{c}_{s}" for c in cols for s in ("before", "after")],
        )
    )
