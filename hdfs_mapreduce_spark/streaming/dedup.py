"""Online dedup ingest: Structured Streaming + the incremental MinHash
probe, closed into a loop.

The reference has no streaming at all; this is the production shape of
the capability its batch jobs imply — documents arrive continuously, and
each micro-batch must be admitted or rejected against EVERYTHING accepted
before it, without ever re-deduplicating the corpus against itself:

    stream → foreachBatch:
        1. probe the materialized corpus sketch
           (operators/dedup.incremental_pairs_against_sketch — the
           batch-side sketch broadcasts, the corpus side is a map probe);
        2. drop within-batch near-dups (keep the lowest id — the same
           canonical-survivor rule every dedup query in this repo uses);
        3. append the survivors to the accepted table AND their banded
           sketch rows to the corpus sketch, so batch N+1 probes
           batch N's survivors.

State is two unkeyed logtables (streaming/logtable.py) under the state
dir, ``accepted`` and ``sketch``: each batch writes one unique attempt
dir per table, then publishes the accepted record and, last, the sketch
record. The sketch record is the batch's commit point. A batch whose id
is already the sketch log's newest batch id is a replay and returns at
once; any other probe reads only the live sketch dirs that log names,
which never hold the batch's own rows. A crash between the two
publishes replays into ``_publish``'s replay skip of the accepted
record, then lands the sketch record; an attempt dir no record names
stays invisible. Compaction and resketch are log commits too: a
``kind='compact'`` record names the dirs it replaces, so no rename swap
or marker file is needed.

The state's lifetime b/r point is a log fact: every ingest sketch
record and every resketch record carries ``meta={"n_perm", "n_bands"}``,
and the shape is the ``meta`` of the newest sketch record that has one
(compaction records carry none). The ingest learns it from the sketch
log read it already makes, with no Spark job. An empty first batch
still publishes its 0-row sketch record, so it pins the shape too; a
resketch moves the shape in its one commit.

At 100 TB the sketch table is the only state that grows, it is
band-bucketed parquet (probe = scan of matching band rows), and the
accepted table is the corpus itself — exactly the nightly-batch
materialize-then-probe pattern (operators/materialize.py), just driven
by a stream clock instead of cron.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hdfs_mapreduce_spark.operators.dedup import (
    AUTO_WIDE_MIN_DOCS,
    N_BANDS,
    N_PERM,
    WIDE_BANDS,
    WIDE_PERM,
    _banded_sketch,
    _probe_pairs_from_sketches,
    _verified_pairs,
)
from hdfs_mapreduce_spark.sources import fs as hfs
from hdfs_mapreduce_spark.streaming.logtable import (
    LogEntry,
    _is_replay,
    _live,
    _log_versions,
    _publish,
    _scan,
    _write_attempt,
    snapshot,
)


def _recorded_shape(sketch_log: list[LogEntry]) -> tuple[int, int] | None:
    """The state's (n_perm, n_bands): the ``meta`` of the newest sketch
    record that has one, or None before the first ingest."""
    for e in reversed(sketch_log):
        if e.meta is not None:
            return e.meta["n_perm"], e.meta["n_bands"]
    return None


def dedup_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    n_perm: int | None = None,
    n_bands: int | None = None,
) -> None:
    """One micro-batch of the online dedup loop (usable directly for a
    cron-driven nightly ingest too — the stream is just a clock).

    ``n_perm``/``n_bands`` choose the b/r point for the STATE sketch —
    a LIFETIME property of ``state_dir``, not a per-batch choice: every
    batch's sketch rows join against every earlier batch's, so mixed
    shapes under one state root would silently partition the candidate
    space. The rule here makes that impossible: once state exists, the
    shape its sketch log records is ADOPTED (an explicit mismatch raises
    before anything is written); only the FIRST batch's caller picks
    the point, defaulting to the module constants (16×8 — ingest
    batches are far below the auto-wide bound, so count-probing each
    batch would never choose wide; a billion-doc deployment passes
    n_perm=32, n_bands=8 once at stream start and every later batch —
    and restart — inherits it from the state itself)."""
    spark = batch_df.sparkSession
    accepted_root = hfs.join(state_dir, "accepted")
    sketch_root = hfs.join(state_dir, "sketch")
    # The sketch log is read ONCE per batch: its newest batch id says
    # whether this batch already committed, and the same entries name
    # the live dirs the corpus probe reads.
    sketch_log = _log_versions(spark, sketch_root)
    if _is_replay(sketch_log, batch_id, None):
        return
    if (n_perm is None) != (n_bands is None):
        raise ValueError("pass BOTH n_perm and n_bands or neither")
    # The same log read gives the state's lifetime shape: the caller's
    # choice (or the module default) only on the first ingest, and an
    # explicit mismatch raises before anything is written.
    pinned = _recorded_shape(sketch_log)
    if pinned is not None and n_perm is not None and (n_perm, n_bands) != pinned:
        raise ValueError(
            f"corpus sketch shape mismatch: state {state_dir} is pinned "
            f"at (n_perm, n_bands)={pinned} but the caller passed "
            f"({n_perm}, {n_bands}) — probe with the state's "
            "configuration or resketch_state first"
        )
    if pinned is None and sketch_log:
        raise ValueError(
            f"the sketch log of {state_dir} records no b/r shape (a state "
            "written before sketch records carried one) — run "
            "resketch_state once to record it"
        )
    n_perm, n_bands = pinned or (
        (n_perm, n_bands) if n_perm is not None else (N_PERM, N_BANDS)
    )
    corpus_sketch = _scan(spark, sketch_root, _live(sketch_log))
    # The batch's banded sketch is built ONCE (round 11: the previous
    # shape ran the shingle scan + signature groupBy THREE times per
    # micro-batch), and — r13 — the three batch-bounded relations the
    # two state writes share (the sketch itself + the two reject sets)
    # are LAZILY localCheckpoint'ed (eager=False) instead of persist()ed:
    # no job runs here; the first action that reads a relation computes
    # and stores its blocks. Compute-once under the concurrent writes
    # below relies on the block manager's per-block write lock — a task
    # that finds a block being written waits for it and reads it rather
    # than recomputing the partition. persist
    # caches the DATA but every later action still re-ANALYZES the full
    # logical subtree (shingle explode + 16-32 MIN aggregates +
    # posexplode + the corpus probe join): Spark analyzes eagerly per
    # transformation, and the r13 decomposition measured this loop as
    # majority driver-side gaps (stream_dedup_maintained: 10.4s gaps vs
    # 5.4s job time, 50 jobs; the accepted write alone took 13.4s, most
    # of it analysis of the nested plan). Checkpointing
    # truncates every downstream plan to a LogicalRDD leaf (guide §3.3:
    # materialising an intermediate truncates the plan; §5:
    # localCheckpoint as the cheap lineage cut). All three relations are
    # batch-bounded by the ingest contract, so executor-local checkpoint
    # storage costs what the replaced persist cost, and the
    # CheckpointJanitor frees every block before return (the repo's
    # no-cache-outlives-the-call rule; lost checkpoint blocks on a dying
    # executor fail the batch, which replays idempotently — the same
    # recovery path any mid-batch failure already takes).
    # Every reject set below is duplicate-id-sized (bounded by the batch),
    # so each anti-join hints its reject side as a broadcast build: the
    # default planner shaped all four of them as SortMergeJoin LeftAnti
    # — two exchanges + two sorts per join, per micro-batch (the
    # dedup_ingest_batch:* rows of tests/plan_budget.json now pin two
    # broadcast exchanges per write) — to anti-join a
    # relation the ingest contract bounds at batch size. Broadcast is the
    # scale-correct strategy at ANY corpus size for the same reason the
    # corpus probe already broadcasts the batch sketch (guide §3.1).
    from hdfs_mapreduce_spark.functions.checkpoints import CheckpointJanitor

    janitor = CheckpointJanitor(spark)
    try:
        batch_bands = _banded_sketch(
            batch_df, id_col, text_col, n_perm, n_bands
        ).localCheckpoint(eager=False)
        survivors = batch_df
        surv_bands = batch_bands
        if corpus_sketch is not None:
            dup_vs_corpus = (
                _probe_pairs_from_sketches(
                    corpus_sketch, batch_bands, threshold
                )
                .select(F.col("new_doc").alias(id_col))
                .distinct()
                .localCheckpoint(eager=False)
            )
            survivors = survivors.join(
                F.broadcast(dup_vs_corpus), id_col, "left_anti"
            )
            surv_bands = surv_bands.join(
                F.broadcast(dup_vs_corpus.select(F.col(id_col).alias("doc"))),
                "doc",
                "left_anti",
            )
        # Within-batch policy: reject any document that has a SMALLER
        # near-dup neighbor in the same batch (pairs come as doc_a <
        # doc_b; every doc_b drops). For clique-shaped duplicate groups
        # this keeps exactly the cluster minimum; for chain shapes it is
        # conservative — the tail of a chain is rejected even though its
        # own duplicate was also rejected (A-B, B-C drops both B and C).
        # That bias is deliberate for an ingest gate (never admit
        # anything with an already-seen smaller near-dup); when maximal
        # recall of unique content matters, run cluster-canonical
        # admission instead (operators/components.canonical_assignment
        # keeps one doc per connected component).
        within_rejects = (
            _verified_pairs(surv_bands, threshold, broadcast_right=True)
            .select(F.col("doc_b").alias(id_col))
            .distinct()
            .localCheckpoint(eager=False)
        )
        survivors = survivors.join(
            F.broadcast(within_rejects), id_col, "left_anti"
        )
        # The two attempt writes are independent jobs over the
        # checkpointed relations (different unique dirs, no shared
        # mutable state), so they are submitted CONCURRENTLY on the
        # shared bounded driver pool (guide §2.6; functions/driverpool.py
        # explains why a persistent pool, never per-use threads — py4j
        # pinned mode leaks one parked JVM thread per exited Python
        # thread). Each write's driver-side analysis/codegen overlaps
        # the other's executor work. No record names either dir yet, so
        # a crash here leaves only invisible orphans.
        sketch_out = surv_bands.join(
            F.broadcast(
                within_rejects.select(F.col(id_col).alias("doc"))
            ),
            "doc",
            "left_anti",
        )
        from hdfs_mapreduce_spark.functions.driverpool import (
            run_concurrently,
        )

        attempt = {}

        def write(root: str, rows: DataFrame) -> None:
            attempt[root] = _write_attempt(root, rows)

        run_concurrently(
            [
                lambda: write(accepted_root, survivors),
                lambda: write(sketch_root, sketch_out),
            ]
        )
    finally:
        janitor.free_all()
    # The accepted record lands first and the sketch record, the
    # batch's commit point, last; the sketch record carries the shape.
    accepted_log = _log_versions(spark, accepted_root)
    for root, log, meta in (
        (accepted_root, accepted_log, None),
        (sketch_root, sketch_log, {"n_perm": n_perm, "n_bands": n_bands}),
    ):
        _publish(
            spark, root, attempt[root], log, batch_id, "append", meta=meta
        )


def dedup_ingest_batch_maintained(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    n_perm: int | None = None,
    n_bands: int | None = None,
    compact_every: int | None = None,
    compact_max_batches: int | None = None,
    on_resketch_recommended=None,
    resketch_min_docs: int | None = None,
) -> None:
    """``dedup_ingest_batch`` plus the logtable sink's self-maintenance
    discipline (streaming/logtable.py ``make_upsert_sink`` —
    ``compact_every=K``): every K committed batches the state compacts
    in-sink, so a long-lived stream's live-version count stays bounded
    without an operator ever stopping it. Safe by the same argument the
    logtable used: foreachBatch is the sole serial writer, so between
    two batches the stopped-stream precondition holds by construction.
    Replay-aware by construction too — a replayed batch no-ops on the
    sketch log's batch id (compaction commits carry none, so they never
    hide it) and re-triggers the cadence, whose merge then finds fewer
    than two live versions and no-ops. An in-sink compaction that
    crashes fails the batch and leaves only invisible attempt dirs, or
    one table merged and the other not — both valid states — so the
    batch's replay no-ops its ingest and re-runs the merge.

    ``on_resketch_recommended`` (optional callable, receives the state
    dir) runs on the same cadence and fires when the accumulated corpus
    has outgrown the state's b/r point — the advisory hook a deployment
    wires to its alerting; None skips the check entirely (its probe
    costs one sketch log read + one bounded count)."""
    dedup_ingest_batch(
        batch_df, batch_id, state_dir, id_col, text_col, threshold,
        n_perm=n_perm, n_bands=n_bands,
    )
    if compact_every is not None and (batch_id + 1) % compact_every == 0:
        compact_state(
            batch_df.sparkSession,
            state_dir,
            max_batches_per_run=compact_max_batches,
        )
        if on_resketch_recommended is not None and resketch_recommended(
            batch_df.sparkSession, state_dir, wide_min_docs=resketch_min_docs
        ):
            on_resketch_recommended(state_dir)


def stream_dedup_ingest(
    stream_docs: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    n_perm: int | None = None,
    n_bands: int | None = None,
    compact_every: int | None = None,
    compact_max_batches: int | None = None,
    on_resketch_recommended=None,
    resketch_min_docs: int | None = None,
):
    """writeStream wiring for the online dedup loop; call ``.start()`` on
    the result. Read the admitted corpus with ``read_accepted``.
    ``n_perm``/``n_bands`` select the state sketch's b/r point on FIRST
    use (see dedup_ingest_batch — existing state's shape always wins,
    so restarts can omit them). ``compact_every=K`` turns on in-sink
    state compaction every K committed batches (see
    ``dedup_ingest_batch_maintained``); the default None keeps the
    maintenance operator-driven exactly as before."""
    return (
        stream_docs.writeStream.foreachBatch(
            lambda df, bid: dedup_ingest_batch_maintained(
                df, bid, state_dir, id_col, text_col, threshold,
                n_perm=n_perm, n_bands=n_bands,
                compact_every=compact_every,
                compact_max_batches=compact_max_batches,
                on_resketch_recommended=on_resketch_recommended,
                resketch_min_docs=resketch_min_docs,
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )


def read_accepted(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """The admitted (deduplicated) corpus across all completed batches."""
    return snapshot(spark, hfs.join(state_dir, "accepted"), None)


def resketch_state(
    spark: SparkSession,
    state_dir: str,
    n_perm: int,
    n_bands: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[int, int]:
    """Migrate the state sketch to a new b/r point by rebuilding it from
    the ``accepted`` corpus — the missing verb for a deployment whose
    accumulated state outgrew its first batch's choice (the lifetime
    point defaults from batch 0, so a stream started small keeps the
    narrow 16×8 sketch even past AUTO_WIDE_MIN_DOCS docs;
    ``resketch_recommended`` is the advisory that surfaces this).

    Run with the STREAM STOPPED. The rebuild is ONE Spark pass over the
    accepted corpus, committed as a full-state replace of the sketch
    table (a ``kind='compact'`` record that replaces every sketch dir
    live at the sketch log read that precedes the accepted read, and
    carries no batch id, so a post-restart replay of the last
    micro-batch still finds its own batch id in the sketch log and
    no-ops). A batch whose sketch record lands during the rebuild takes
    the replace's slot: the resketch raises ``ConcurrentCommitError``
    and commits nothing, and a rerun sees that batch. A crash before
    the record lands leaves the old sketch live and an invisible
    attempt dir, so the probe can never see a mixed-shape sketch. The
    record carries the new shape, so the migration moves the state's
    recorded shape in the same commit.

    Returns the (n_perm, n_bands) now recorded in the state."""
    if n_perm % n_bands:
        raise ValueError(f"n_perm={n_perm} not divisible by n_bands={n_bands}")
    # Sketch log first: a batch's accepted record lands before its
    # sketch record, so every batch this read names is in the accepted
    # read below, and any later batch takes the replace's slot.
    sketch_root = hfs.join(state_dir, "sketch")
    entries = _log_versions(spark, sketch_root)
    accepted = read_accepted(spark, state_dir)
    if accepted is None:
        raise ValueError(
            f"no accepted state under {state_dir} — nothing to resketch"
        )
    bands = _banded_sketch(accepted, id_col, text_col, n_perm, n_bands)
    _publish(
        spark, sketch_root, _write_attempt(sketch_root, bands), entries,
        None, "compact", meta={"n_perm": n_perm, "n_bands": n_bands},
    )
    return n_perm, n_bands


def compact_state(
    spark: SparkSession,
    state_dir: str,
    max_batches_per_run: int | None = None,
) -> list[int]:
    """Merge the live versions of each state table into one — the
    logtable compaction applied to the dedup state. The online loop
    commits one version per micro-batch to BOTH ``accepted`` and
    ``sketch``; the probe's scan (one data dir and parquet footer per
    version) and the log read grow LINEARLY with stream age — at a year
    of 5-minute batches that is ~100k dirs scanned per micro-batch.
    Compaction writes the live rows of a table as one attempt dir and
    publishes a ``kind='compact'`` record that replaces the merged
    versions, so the live-version count stays bounded regardless of
    stream age.

    Admission semantics are UNCHANGED by construction: the merged
    version holds exactly the rows it replaces, and the record carries
    no batch id, so replay detection still finds each batch's own
    record in the log — every version can be merged, the newest one
    included.

    ``max_batches_per_run`` bounds each run to the N smallest live
    versions of a table (size-tiered, LSM-style): small fresh versions
    fold together first, and a previously merged big version is only
    re-read once its peers have grown to match — amortized O(N log N)
    bytes over the stream's life, never O(N²), and no single
    maintenance window reads more than the tier. Repeated tiered runs
    converge to the same single live version as one untiered run. None
    (the default) merges every live version.

    Run with the stream stopped (same contract as resketch_state) — or
    let the sink run it between committed batches via
    ``stream_dedup_ingest(..., compact_every=K)``, which is equivalent
    because foreachBatch is the sole serial writer. A crash before a
    table's record lands leaves only an invisible attempt dir. Returns
    the batch ids whose rows were merged ([] when no table has two live
    versions — nothing to do)."""
    if max_batches_per_run is not None and max_batches_per_run < 2:
        raise ValueError("max_batches_per_run must be >= 2 (a merge)")
    merged: set[int] = set()
    for sub in ("accepted", "sketch"):
        root = hfs.join(state_dir, sub)
        entries = _log_versions(spark, root)
        live = _live(entries)
        if max_batches_per_run is not None and len(live) > max_batches_per_run:
            size = {
                e.data: hfs.dir_size(spark, hfs.join(root, "data", e.data))
                for e in live
            }
            live = sorted(
                sorted(live, key=lambda e: (size[e.data], e.version))[
                    :max_batches_per_run
                ]
            )
        if len(live) < 2:
            continue
        attempt = _write_attempt(root, _scan(spark, root, live))
        replaces = [e.data for e in live]
        _publish(
            spark, root, attempt, entries, None, "compact", replaces=replaces
        )
        ids = _batch_ids(entries)
        merged.update(i for d in replaces for i in ids[d])
    return sorted(merged)


def _batch_ids(entries: list[LogEntry]) -> dict[str, set[int]]:
    """Data dir name → the ids of the batches whose rows it holds: its
    own batch id, or for a compaction the ids of the dirs it replaced."""
    ids: dict[str, set[int]] = {}
    for e in entries:
        if e.batch_id is not None:
            ids[e.data] = {e.batch_id}
        else:
            ids[e.data] = set().union(*(ids[d] for d in e.replaces))
    return ids


def resketch_recommended(
    spark: SparkSession,
    state_dir: str,
    wide_min_docs: int | None = None,
) -> bool:
    """Advisory for the online dedup state (the ann_index
    ``rebuild_recommended`` discipline): True when the ACCUMULATED
    accepted corpus has crossed the auto-wide bound while the state
    sketch still sits at a narrower b/r point than the wide production
    config — i.e. exactly the deployment that should schedule
    ``resketch_state(..., WIDE_PERM, WIDE_BANDS)``. Cost: one sketch log
    read (the recorded shape) + a ``limit(bound + 1)`` count probe that
    stops as soon as the bound is exceeded; run it on the ingest
    owner's maintenance cadence, not per micro-batch."""
    bound = AUTO_WIDE_MIN_DOCS if wide_min_docs is None else wide_min_docs
    shape = _recorded_shape(
        _log_versions(spark, hfs.join(state_dir, "sketch"))
    )
    if shape is None:
        return False
    n_perm, n_bands = shape
    if n_perm // n_bands >= WIDE_PERM // WIDE_BANDS:
        return False
    accepted = read_accepted(spark, state_dir)
    if accepted is None:
        return False
    n = accepted.select(F.lit(1).alias("one")).limit(bound + 1).count()
    return n > bound
