"""Declared STREAMING queries: each runs a Structured Streaming pipeline
to completion (``availableNow`` trigger — process everything staged, then
stop) and returns its TERMINAL-STATE relation as an ordinary DataFrame,
so the driver's DuckDB hash gate certifies the stream's end state exactly
like any batch query. This converts the stream ≡ batch equalities the
pytest suite proves (tests/test_streaming.py) into registry rows with
hash oracles (r4 verdict item 6).

Determinism contract per query (what makes a hash oracle possible):

* windowed / sliding aggs emit exactly the CLOSED windows — append mode
  emits a window only once the watermark (max event time − 1h) passes its
  end, so the terminal sink equals the batch agg restricted to
  ``window_end <= max(ts) − 1h``. The declared relation applies that
  restriction explicitly (idempotent — it IS the emission rule), so the
  result is well-defined even if a source ever split into several
  micro-batches with different interim watermarks.
* the stream-stream attribution join is restricted to the closed region
  ``purchase_ts <= max(ts) − 2h`` (watermark + window): the stream is
  guaranteed complete there and emits nothing extra, so terminal ∩ closed
  == batch ∩ closed.
* the upsert sink's terminal snapshot is one row per event_id regardless
  of batch boundaries (the anti-join merge is idempotent); the staged
  source feeds every event TWICE across two micro-batches so the merge
  path genuinely runs, and event_id is unique in the events table, so the
  snapshot equals the events relation itself.
* Misra-Gries heavy hitters: the maintained state depends on batch
  boundaries, so the declared relation is the bound AUDIT in the
  q16/q17 style (relational.py:331): booleans over exact counts that the
  oracle pins with literal TRUEs — the hash passes iff the state honors
  the N/(k+1) MG guarantee [Misra & Gries '82].
* the online dedup ingest stages the corpus as three fixed micro-batches
  (doc_id % 3 == 0, 1, 2 in that order); the admitted set is then a pure
  function of the data, and the oracle unrolls the same three
  probe-then-admit rounds over the shared MinHash CTEs.

Scale: the streams themselves carry the scale posture (watermarked
bounded state, broadcast batch sketches, versioned idempotent sinks —
see streaming/events.py and streaming/dedup.py); this module only stages
sources, drives the run, and reads the terminal state. Running a stream
inside a ``queries()`` callable is the availableNow backfill pattern — a
production deployment starts the same writer without the trigger and
lets it run forever.
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from hdfs_mapreduce_spark.sources.catalog import load_table

STREAM_TIMEOUT_SEC = 600

# Unique per-invocation scratch suffix: a re-invocation (fresh RAW call in
# the same session) must never point a fresh checkpoint at an existing
# state/sink directory. itertools.count's __next__ is a single C call —
# atomic under the GIL — so two threads building streaming plans
# concurrently can never draw the same suffix (a bare ``global += 1``
# races between the read and the write).
_INVOCATION = itertools.count(1)


def _scratch(spark: SparkSession, name: str, sf_dir: str) -> str:
    from hdfs_mapreduce_spark.operators.materialize import session_scratch_dir

    d = os.path.join(
        session_scratch_dir(spark),
        f"stream_{name}_{os.path.basename(sf_dir.rstrip('/'))}"
        f"_{next(_INVOCATION)}",
    )
    os.makedirs(d, exist_ok=True)
    return d


def _run(writer, sink_dir: str | None, ckpt: str) -> None:
    """Drive a DataStreamWriter to completion with availableNow."""
    if sink_dir is not None:
        writer = writer.format("parquet").option("path", sink_dir)
    q = writer.option("checkpointLocation", ckpt).trigger(
        availableNow=True
    ).start()
    if not q.awaitTermination(STREAM_TIMEOUT_SEC):
        q.stop()
        raise TimeoutError(f"stream did not finish in {STREAM_TIMEOUT_SEC}s")


def _max_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-row (max_ts) relation, broadcast into the closed-region filters —
    the cutoff stays declarative instead of a driver-side collect."""
    return load_table(spark, sf_dir, "events").agg(
        F.max("ts").alias("max_ts")
    )


def _closed_region(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    writer,
    keep: Column,
    order: tuple[str, ...],
) -> DataFrame:
    """Drive an append-mode writer into a parquet sink and return the
    rows of its terminal state that lie in the closed region: every
    TIMESTAMP column read back as NTZ (the events table's type), the
    broadcast 1-row ``_max_ts`` cross-joined in, ``keep`` applied as the
    per-query predicate over the row and ``max_ts``, then ``max_ts``
    dropped and the rows ordered by ``order``."""
    root = _scratch(spark, name, sf_dir)
    sink = os.path.join(root, "sink")
    _run(writer, sink, os.path.join(root, "ckpt"))
    out = spark.read.parquet(sink)
    out = out.select(
        *[
            F.col(f.name).cast("timestamp_ntz").alias(f.name)
            if isinstance(f.dataType, TimestampType)
            else F.col(f.name)
            for f in out.schema.fields
        ]
    )
    closed = out.crossJoin(F.broadcast(_max_ts(spark, sf_dir))).filter(keep)
    return closed.drop("max_ts").orderBy(*order)


def stream_windowed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Terminal state of the watermarked tumbling-window stream
    (streaming/events.py:stream_windowed_event_stats): closed 1h windows
    per event_type. Oracle = the events_windowed batch SQL restricted to
    the closed region."""
    from hdfs_mapreduce_spark.streaming.events import (
        stream_windowed_event_stats,
    )

    return _closed_region(
        spark,
        sf_dir,
        "windowed",
        stream_windowed_event_stats(spark, sf_dir),
        F.col("window_start") + F.expr("INTERVAL 1 HOUR")
        <= F.col("max_ts") - F.expr("INTERVAL 1 HOUR"),
        ("window_start", "event_type"),
    )


def stream_sliding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Terminal state of the sliding-window stream (30 min / 10 min):
    closed windows only, same emission rule as the tumbling twin."""
    from hdfs_mapreduce_spark.streaming.events import (
        SLIDE_DUR_MIN,
        stream_sliding_event_stats,
    )

    return _closed_region(
        spark,
        sf_dir,
        "sliding",
        stream_sliding_event_stats(spark, sf_dir),
        F.col("window_start") + F.expr(f"INTERVAL {SLIDE_DUR_MIN} MINUTES")
        <= F.col("max_ts") - F.expr("INTERVAL 1 HOUR"),
        ("window_start", "event_type"),
    )


def stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Terminal state of the stream-stream click→purchase join, restricted
    to the closed region (purchase_ts ≤ max(ts) − watermark − window =
    2h): the stream is provably complete and exact there (inner join
    emits only real matches; the watermark guarantees nothing in the
    closed region is still buffered when the stream drains)."""
    from hdfs_mapreduce_spark.streaming.events import (
        stream_click_attribution,
    )

    return _closed_region(
        spark,
        sf_dir,
        "attrib",
        stream_click_attribution(spark, sf_dir),
        F.col("purchase_ts") <= F.col("max_ts") - F.expr("INTERVAL 2 HOURS"),
        ("user_id", "purchase_id", "click_id"),
    )


def stream_upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Terminal snapshot of the versioned upsert sink after feeding every
    event TWICE across two micro-batches (maxFilesPerTrigger=1 over two
    staged copies): batch 0 seeds the state, batch 1's rows all hit the
    anti-join — the merge path runs for real, and the terminal snapshot
    must still be exactly one row per event_id (= the events relation,
    event_id being unique)."""
    from hdfs_mapreduce_spark.streaming.events import (
        _events_stream,
        read_upsert_state,
        stream_upsert_events,
    )

    root = _scratch(spark, "upsert", sf_dir)
    _run(
        stream_upsert_events(
            spark,
            sf_dir,
            os.path.join(root, "state"),
            stream=_events_stream(spark, sf_dir, copies=2),
        ),
        None,
        os.path.join(root, "ckpt"),
    )
    snap = read_upsert_state(spark, os.path.join(root, "state"))
    return snap.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
    ).orderBy("event_id")


def stream_upsert_log_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Terminal snapshot of the LOG-STRUCTURED upsert table
    (streaming/logtable.py): the same two-batch duplicate feed as
    stream_upsert_snapshot, but each micro-batch COMMITS O(batch)
    appended rows to an immutable data version + an atomic log entry
    instead of rewriting the whole state — the ACID-table-format
    (Delta/Iceberg MERGE) economics, in-repo. After the stream drains,
    one ``compact()`` materializes the merge-on-read snapshot as a single
    version (exercising both the multi-version newest-row-per-key read
    and the OPTIMIZE path), and the declared relation is the snapshot —
    which must equal the events relation exactly, same oracle as the
    rewrite sink."""
    from hdfs_mapreduce_spark.streaming.events import _events_stream
    from hdfs_mapreduce_spark.streaming.logtable import (
        compact,
        snapshot,
        stream_upsert_events_logtable,
    )

    root = _scratch(spark, "upsert_log", sf_dir)
    table_root = os.path.join(root, "table")
    _run(
        stream_upsert_events_logtable(
            spark,
            sf_dir,
            table_root,
            stream=_events_stream(spark, sf_dir, copies=2),
        ),
        None,
        os.path.join(root, "ckpt"),
    )
    compact(spark, table_root, "event_id")
    snap = snapshot(spark, table_root, "event_id")
    return snap.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
    ).orderBy("event_id")


# logtable_cdf staging: three deterministic commits over the events
# table, then the change feed between the first and last. Both faces
# share these constants so the expected change set is pure SQL.
CDF_C0, CDF_C1, CDF_C2 = 4000, 6000, 8000
CDF_DEL_MOD = 37
CDF_BUMP = 10.0


def _stage_cdf_table(spark: SparkSession, sf_dir: str, name: str) -> str:
    """The shared three-commit logtable fixture: v0 = events[id < C1],
    v1 = events[C0 <= id < C2] with value bumped (+CDF_BUMP -> updates
    on the overlap, inserts above C1), v2 = tombstones for
    id % CDF_DEL_MOD == 0 below C2. Each commit is O(batch): write one
    immutable version + one atomic rename."""
    from hdfs_mapreduce_spark.streaming.logtable import (
        delete_batch,
        upsert_batch,
    )

    root = os.path.join(_scratch(spark, name, sf_dir), "table")
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    eid = F.col("event_id")
    upsert_batch(events.where(eid < CDF_C1), 0, root, "event_id")
    upsert_batch(
        events.where((eid >= CDF_C0) & (eid < CDF_C2)).withColumn(
            "value", F.col("value") + CDF_BUMP
        ),
        1,
        root,
        "event_id",
    )
    delete_batch(
        events.where((eid % CDF_DEL_MOD == 0) & (eid < CDF_C2)).select(
            "event_id"
        ),
        2,
        root,
        "event_id",
    )
    return root


def logtable_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed over the log-structured table
    (streaming/logtable.py table_changes — the real formats' CDF):
    the three-commit fixture (_stage_cdf_table), then the net change set
    between as_of=0 and as_of=2 — inserts that survived, updates not
    shadowed by a delete, deletes of rows visible at v0 (insert-then-
    delete churn nets out, exactly the CDF contract). Exercises upsert,
    tombstone, time travel, and the snapshot-diff read end-to-end under
    the driver's hash.

    Scale: each commit is O(batch) (write + one atomic rename); the diff
    is two merge-on-read snapshots + ONE full-outer join on the key —
    cost tracks live data, never log length."""
    from hdfs_mapreduce_spark.streaming.logtable import table_changes

    root = _stage_cdf_table(spark, sf_dir, "cdf")
    ch = table_changes(spark, root, "event_id", 0, 2)
    return ch.select(
        "event_id", "change_type", "value_before", "value_after"
    ).orderBy("event_id")


def _apply_cdf_delta(agg: DataFrame, ch: DataFrame) -> DataFrame:
    """One IVM step: fold a change-feed relation into a maintained
    (event_type, n_events, sum_value) aggregate. Updates contribute to
    BOTH sides (retract before-image from its group, add after-image to
    its group), so group-migrating updates are handled; the merge is a
    full-outer join on the group key — cost tracks |delta| + |groups|,
    never the base table."""
    neg = ch.where(F.col("change_type").isin("update", "delete")).select(
        F.col("event_type_before").alias("event_type"),
        F.lit(-1).cast("long").alias("dn"),
        (-F.col("value_before")).alias("dv"),
    )
    pos = ch.where(F.col("change_type").isin("update", "insert")).select(
        F.col("event_type_after").alias("event_type"),
        F.lit(1).cast("long").alias("dn"),
        F.col("value_after").alias("dv"),
    )
    delta = (
        neg.unionAll(pos)
        .groupBy("event_type")
        .agg(F.sum("dn").alias("dn"), F.sum("dv").alias("dv"))
    )
    return (
        agg.join(delta, "event_type", "full_outer")
        .select(
            "event_type",
            (
                F.coalesce(F.col("n_events"), F.lit(0))
                + F.coalesce(F.col("dn"), F.lit(0))
            ).alias("n_events"),
            (
                F.coalesce(F.col("sum_value"), F.lit(0.0))
                + F.coalesce(F.col("dv"), F.lit(0.0))
            ).alias("sum_value"),
        )
    )


def logtable_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance from the change feed:
    seed a per-event_type (count, sum) aggregate from the v0 snapshot,
    then fold the v0→v1 and v1→v2 CDFs into it — never rescanning the
    base table. Groups whose count reaches 0 drop out, matching a
    direct recompute (pytest proves incremental ≡ snapshot(as_of=2)
    recompute exactly on counts). This is the downstream-view economics
    the real table formats sell: maintenance cost tracks |delta|, not
    |table|. Oracle = the final visible state computed closed-form from
    the shared commit constants."""
    from hdfs_mapreduce_spark.streaming.logtable import (
        snapshot,
        table_changes,
    )

    root = _stage_cdf_table(spark, sf_dir, "ivm")
    agg = (
        snapshot(spark, root, "event_id", as_of=0)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
    )
    # NOTE (r13, negative result kept for the record): materializing
    # the two change feeds to session scratch before folding (the
    # components_logrounds flattening) was tried to cut the 1.6s of
    # eager plan analysis the decomposition measured here — it
    # verified hash-exact but measured SLOWER under the bench
    # protocol (3.55s -> 4.61s min-of-2: the two delta writes cost
    # more than the saved re-analysis at sf0.1), so the fold stays
    # on the raw snapshot-diff subtrees. At real scale an IVM
    # deployment persists its deltas anyway — but that is the
    # deployment's write, not this query's.
    for v in (1, 2):
        ch = table_changes(spark, root, "event_id", v - 1, v)
        if ch is not None:
            agg = _apply_cdf_delta(agg, ch)
    return agg.where(F.col("n_events") > 0).orderBy("event_type")


def _day2_feed(day2: DataFrame, mod: int) -> DataFrame:
    """The day-2 fifth as an ordered three-micro-batch stream
    (``ordered_feed``). Disjoint-key upserts make the final snapshot
    order-independent, but the pinned mtimes keep the batch_id ↔ content
    mapping guaranteed rather than mtime-incidental."""
    from hdfs_mapreduce_spark.streaming.events import ordered_feed

    return ordered_feed(
        day2.sparkSession,
        [
            day2.select("vec_id", "embedding").filter(
                ((F.col("vec_id") / mod).cast("long") % 3) == i
            )
            for i in range(3)
        ],
    )


def stream_ann_ingest_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of the persisted ANN index
    (operators/ann_index.py + streaming/logtable.py composed): the
    day-1 corpus (vec_id % 5 ≠ 0) builds the frozen IVF-PQ model and
    codes; the day-2 fifth ARRIVES AS A STREAM in three micro-batches,
    each encoded inside foreachBatch with the frozen model
    (encode_with_model) and committed to a codes LOGTABLE keyed by
    vector id — the logtable's replay detection is what makes the
    at-least-once append idempotent (a blind ``mode=append`` parquet
    write would duplicate every replayed batch's codes and silently
    corrupt distances). The probe then serves from {frozen model,
    day-1 codes ∪ logtable snapshot} — by the frozen-model contract
    this equals ann_probe_appended's relation, so the SAME closed-form
    oracle hashes it. This is the 100 TB shape for continuous
    embedding ingest: model retrain is a deliberate rebuild; between
    rebuilds the index follows the corpus with O(batch) commits."""
    from hdfs_mapreduce_spark.operators.ann_index import (
        ann_probe_ivfpq,
        build_ivfpq_index,
        encode_with_model,
    )
    from hdfs_mapreduce_spark.plans.similarity_plans import (
        APPEND_MOD,
        IVF_NLIST,
        IVF_NPROBE,
        QUERY_IDS,
        TOP_K,
    )
    from hdfs_mapreduce_spark.streaming.logtable import (
        snapshot,
        upsert_batch,
    )

    root = _scratch(spark, "ann_ingest", sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    day1 = emb.filter(F.col("vec_id") % APPEND_MOD != 0)
    day2 = emb.filter(F.col("vec_id") % APPEND_MOD == 0)
    index = build_ivfpq_index(
        day1,
        nlist=IVF_NLIST,
        name=f"ivfpq_stream_{os.path.basename(sf_dir.rstrip('/'))}"
        f"_{next(_INVOCATION)}",
    )

    table_root = os.path.join(root, "codes_table")

    def _sink(batch_df, batch_id):
        upsert_batch(
            encode_with_model(index, batch_df),
            batch_id,
            table_root,
            "id",
            writer="ann_codes_stream",
        )

    _run(
        _day2_feed(day2, APPEND_MOD).writeStream.foreachBatch(_sink),
        None,
        os.path.join(root, "ckpt"),
    )
    streamed_codes = snapshot(spark, table_root, "id")
    combined = {
        **index, "codes": index["codes"].unionByName(streamed_codes)
    }
    queries = emb.filter(F.col("vec_id").isin(QUERY_IDS))
    return ann_probe_ivfpq(combined, queries, TOP_K, nprobe=IVF_NPROBE)


def stream_ann_ingest_fenced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_ann_ingest_topk against a MANAGED generation with the
    EPOCH FENCE live (operators/ann_index.py fenced_codes_sink —
    round-10's mechanical enforcement of the drain-before-flip
    contract): day-2 arrives in three micro-batches through the fenced
    sink beside manifest v1 (the fence reads one manifest record per
    commit and is transparent while v1 is current), then the owner
    REBUILDS on the full corpus (flip to v2) and the contract is
    enforced at plan build: the forgotten writer's next commit must
    raise IndexEpochError and commit nothing (both checked — a raise
    of the wrong kind or a silent commit fails the query red). The
    declared relation probes the POST-flip v2 composition through a
    FRESH open_managed_ivfpq handle (round-10 verdict item 3: the old
    form probed pre-flip and threw the full-corpus rebuild away —
    half the query's cost certifying nothing), so the rebuild it pays
    is exactly what the driver hashes: rebuild ≡ build of the current
    corpus, the plain full-corpus oracle (the ann_probe_vacuumed
    pattern). Pre-flip probe continuity through the old handle stays
    pinned in tests/test_ann_index.py."""
    from hdfs_mapreduce_spark.operators.ann_index import (
        IndexEpochError,
        ann_probe_ivfpq,
        create_managed_ivfpq,
        fenced_codes_sink,
        open_managed_ivfpq,
        rebuild_ivfpq_index,
    )
    from hdfs_mapreduce_spark.plans.similarity_plans import (
        APPEND_MOD,
        IVF_NLIST,
        IVF_NPROBE,
        QUERY_IDS,
        TOP_K,
    )
    from hdfs_mapreduce_spark.streaming.logtable import snapshot

    root = _scratch(spark, "ann_ingest_fenced", sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    day1 = emb.filter(F.col("vec_id") % APPEND_MOD != 0)
    day2 = emb.filter(F.col("vec_id") % APPEND_MOD == 0)
    index = create_managed_ivfpq(
        day1, os.path.join(root, "idx"), nlist=IVF_NLIST
    )

    table_root = os.path.join(root, "codes_table")
    sink = fenced_codes_sink(index, table_root)
    _run(
        _day2_feed(day2, APPEND_MOD).writeStream.foreachBatch(sink),
        None,
        os.path.join(root, "ckpt"),
    )
    streamed_codes = snapshot(spark, table_root, "id")

    # Flip: rebuild on the full current corpus (streamed rows included —
    # the rebuild-covers-streamed-ingest contract), then enforce that
    # the forgotten v1 writer fails loudly and commits nothing.
    rebuild_ivfpq_index(
        open_managed_ivfpq(spark, os.path.join(root, "idx")), emb
    )
    n_before = streamed_codes.count()
    try:
        sink(day2.select("vec_id", "embedding").limit(1), 999)
    except IndexEpochError:
        pass
    else:
        raise RuntimeError(
            "epoch fence FAILED to trip: a post-flip commit beside the "
            "dead generation went through silently"
        )
    if snapshot(spark, table_root, "id").count() != n_before:
        raise RuntimeError(
            "epoch fence tripped but the batch still committed — the "
            "fence must run before the upsert, not after"
        )

    # Probe the rebuilt generation through a FRESH handle: certifies the
    # published post-flip state read back from disk, not the in-memory
    # return value of the rebuild call.
    handle = open_managed_ivfpq(spark, os.path.join(root, "idx"))
    if handle["version"] != 2:
        raise RuntimeError(
            f"rebuild did not flip the manifest: current is "
            f"v{handle['version']}, expected v2"
        )
    queries = emb.filter(F.col("vec_id").isin(QUERY_IDS))
    return ann_probe_ivfpq(handle, queries, TOP_K, nprobe=IVF_NPROBE)


# stream_cdc_apply constants: residue-class batching of the events keys
# into three CDC micro-batches, with mod-6 updates (a subset of batch
# 0's inserts) and mod-9 deletes (likewise), so the final state is a
# pure-SQL function of the events table.
CDC_BUMP = 100.0
CDC_UPD_MOD = 6
CDC_DEL_MOD = 9


def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC ingest: a stream whose micro-batches MIX upserts and deletes,
    each applied as ONE logtable commit via ``merge_batch`` — the real
    formats' ``foreachBatch + MERGE INTO`` pattern (streaming/logtable.py).
    Batch 0 inserts the event_id % 3 == 0 third; batch 1 inserts the
    % 3 == 1 third AND updates the % 6 == 0 keys (value + CDC_BUMP);
    batch 2 inserts the % 3 == 2 third AND deletes the % 9 == 0 keys.
    A two-commit split per batch (upserts, then deletes) would break
    the one-commit-per-batch-id replay invariant — under at-least-once
    delivery the replay test would only see the second commit and
    re-apply the first half; the merge commit is what makes mixed CDC
    batches idempotent (pytest proves the replay). The declared
    relation is the terminal snapshot; the oracle computes the final
    state closed-form from the residue classes."""
    from hdfs_mapreduce_spark.streaming.events import ordered_feed
    from hdfs_mapreduce_spark.streaming.logtable import (
        merge_batch,
        snapshot,
    )

    root = _scratch(spark, "cdc_apply", sf_dir)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    eid = F.col("event_id")
    batches = [
        events.where(eid % 3 == 0).withColumn("is_delete", F.lit(False)),
        events.where(eid % 3 == 1)
        .withColumn("is_delete", F.lit(False))
        .unionByName(
            events.where(eid % CDC_UPD_MOD == 0)
            .withColumn("value", F.col("value") + CDC_BUMP)
            .withColumn("is_delete", F.lit(False))
        ),
        events.where(eid % 3 == 2)
        .withColumn("is_delete", F.lit(False))
        .unionByName(
            events.where(eid % CDC_DEL_MOD == 0).withColumn(
                "is_delete", F.lit(True)
            )
        ),
    ]

    table_root = os.path.join(root, "table")

    def _sink(batch_df, batch_id):
        merge_batch(
            batch_df,
            batch_id,
            table_root,
            "event_id",
            "is_delete",
            writer="cdc_stream",
        )

    _run(
        ordered_feed(spark, batches).writeStream.foreachBatch(_sink),
        None,
        os.path.join(root, "ckpt"),
    )
    return snapshot(spark, table_root, "event_id").orderBy("event_id")


def dq_checks_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental data-quality maintenance over the change feed
    (operators/dq.py incremental_row_checks — the Deequ-on-Delta
    pattern): seed the row-level expectations report from the v0
    snapshot of the shared three-commit logtable fixture, then fold the
    v0→v1 and v1→v2 CDFs into the violation counters — after-images
    add violations, before-images retract them — WITHOUT rescanning the
    table. The value_at_least_bump check exercises both directions on
    real data: thousands of v0 rows violate the floor, the v1 bump
    retracts the overlap's violations, the v2 tombstones retract their
    share; the other two checks pin the all-green path. Equivalent to
    running dq_checks' full-rescan pass on snapshot(as_of=2) — the
    closed-form oracle computes exactly that, and the pytest proves the
    equivalence relationally.

    Scale: maintenance cost tracks |delta| + O(1) merge rows per fold;
    the rescan twin pays O(|table|) per audit run. Uniqueness/RI checks
    are not row-local and stay full-scan (dq_checks)."""
    from hdfs_mapreduce_spark.operators.dq import (
        EVENT_TYPE_DOMAIN,
        incremental_row_checks,
    )
    from hdfs_mapreduce_spark.streaming.logtable import (
        snapshot,
        table_changes,
    )

    root = _stage_cdf_table(spark, sf_dir, "dqinc")
    checks = {
        "event_type_in_domain": lambda c: c("event_type").isNull()
        | ~c("event_type").isin(*EVENT_TYPE_DOMAIN),
        "value_at_least_bump": lambda c: c("value").isNull()
        | (c("value") < CDF_BUMP),
        "value_positive": lambda c: c("value").isNull()
        | (c("value") <= 0),
    }
    # Same negative result as logtable_ivm (r13): scratch-
    # materializing the change feeds measured SLOWER min-of-2
    # (3.21s -> 4.30s) despite the smaller final plan; reverted.
    return incremental_row_checks(
        snapshot(spark, root, "event_id", as_of=0),
        [
            table_changes(spark, root, "event_id", 0, 1),
            table_changes(spark, root, "event_id", 1, 2),
        ],
        "events_logtable",
        checks,
    ).orderBy("check")


MG_K = 64


def stream_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Terminal state of the watermarked native session-window stream
    (streaming/events.py:stream_session_window_stats): gap-merged
    per-user sessions restricted to the closed region. A session is
    provably final once its end (last event + gap) is strictly before
    max_ts − watermark: no event that could extend or merge it can still
    be admitted, and the watermark has passed it so append mode emitted
    it. Strict ``<`` keeps the one boundary case (session end exactly at
    the final watermark, whose emission depends on the engine's >= vs >
    eviction test) out of BOTH sides. Oracle = gaps-and-islands over
    events with the same strict-gap rule."""
    from hdfs_mapreduce_spark.streaming.events import (
        stream_session_window_stats,
    )

    return _closed_region(
        spark,
        sf_dir,
        "session",
        stream_session_window_stats(spark, sf_dir),
        F.col("session_end") < F.col("max_ts") - F.expr("INTERVAL 1 HOUR"),
        ("user_id", "session_start"),
    )


def stream_heavy_hitters_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries heavy-hitter state audited against exact counts: one
    row of (n, state_bounded, heavy_all_present, estimates_within_bound)
    where the booleans certify |state| ≤ k, every true heavy hitter
    (exact > N/(k+1)) present, and every estimate within
    [exact − N/(k+1), exact]. The oracle pins the exact count and literal
    TRUEs — engine-specific state contents never enter the hash."""
    from hdfs_mapreduce_spark.streaming.events import (
        read_upsert_state,
        stream_heavy_hitters,
    )

    root = _scratch(spark, "mg", sf_dir)
    state = os.path.join(root, "state")
    _run(
        stream_heavy_hitters(spark, sf_dir, state, k=MG_K),
        None,
        os.path.join(root, "ckpt"),
    )
    mg = read_upsert_state(spark, state)
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.col("user_id").alias("item"))
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
    )
    totals = exact.agg(F.sum("exact_cnt").alias("n"))
    joined = exact.join(F.broadcast(mg), "item", "left_outer").crossJoin(
        F.broadcast(totals)
    )
    # Integer arithmetic throughout (cnt * (k+1) vs n) — no float division
    # to drift between engines. F.min over booleans is logical AND;
    # non-qualifying rows contribute NULL, which min skips.
    heavy = F.col("exact_cnt") * (MG_K + 1) > F.col("n")
    in_state = F.col("cnt").isNotNull()
    est_ok = (F.col("cnt") <= F.col("exact_cnt")) & (
        (F.col("exact_cnt") - F.col("cnt")) * (MG_K + 1) <= F.col("n")
    )
    return joined.agg(
        F.max("n").alias("n"),
        (F.count("cnt") <= F.lit(MG_K)).alias("state_bounded"),
        F.coalesce(
            F.min(F.when(heavy, in_state)), F.lit(True)
        ).alias("heavy_all_present"),
        F.coalesce(
            F.min(F.when(in_state, est_ok)), F.lit(True)
        ).alias("estimates_within_bound"),
    )


def stream_dedup_admitted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Terminal admitted corpus of the online dedup ingest loop
    (streaming/dedup.py): the documents table streamed as three fixed
    micro-batches (doc_id % 3 == 0, 1, 2 — one file each,
    maxFilesPerTrigger=1 preserves order), each probed against everything
    accepted before it. The oracle unrolls the same three rounds over the
    shared MinHash band/base CTEs."""
    from hdfs_mapreduce_spark.streaming.dedup import (
        read_accepted,
        stream_dedup_ingest,
    )
    from hdfs_mapreduce_spark.streaming.events import ordered_feed

    root = _scratch(spark, "dedup_ingest", sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    stream_in = ordered_feed(
        spark, [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    )
    state = os.path.join(root, "state")
    ckpt = os.path.join(root, "ckpt")
    _run(stream_dedup_ingest(stream_in, state, ckpt), None, ckpt)
    return (
        read_accepted(spark, state)
        .select("doc_id")
        .orderBy("doc_id")
    )


def stream_dedup_resketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Admitted corpus across a MID-STREAM b/r migration — the round-11
    resketch verb certified as a declared relation: two micro-batches
    ingest at the default 16×8 point (driven through dedup_ingest_batch
    directly, the documented cron shape of the online loop), then
    ``resketch_state`` rebuilds the state sketch at the wide 32×8
    production point (the billion-doc migration: state that outgrew its
    first batch's choice), and batch 2 ingests AGAINST THE MIGRATED
    state — adopting the wide shape for its corpus probe, within-batch
    check, and sketch write. The oracle unrolls the same three rounds
    with round 0/1 admissions over the DEFAULT band CTEs and round 2
    over the WIDE band CTEs, so the driver hash certifies both that the
    migration preserves earlier decisions and that post-migration
    admissions are exactly the wide-sketch semantics."""
    from hdfs_mapreduce_spark.operators.dedup import WIDE_BANDS, WIDE_PERM
    from hdfs_mapreduce_spark.streaming.dedup import (
        dedup_ingest_batch,
        read_accepted,
        resketch_state,
    )

    root = _scratch(spark, "dedup_resketch", sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    state = os.path.join(root, "state")
    for i in range(2):
        dedup_ingest_batch(docs.filter(F.col("doc_id") % 3 == i), i, state)
    resketch_state(spark, state, WIDE_PERM, WIDE_BANDS)
    dedup_ingest_batch(docs.filter(F.col("doc_id") % 3 == 2), 2, state)
    return read_accepted(spark, state).select("doc_id").orderBy("doc_id")


def stream_dedup_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Admitted corpus across a MID-STREAM state compaction — the
    round-11 compact_state verb certified as a declared relation: three
    micro-batches ingest (doc_id % 4 == 0, 1, 2), ``compact_state``
    folds batches 0–1 into one merged dir (keep_last=1 retains batch 2,
    the replay tail), then batch 3 ingests AGAINST THE COMPACTED state —
    its corpus probe reads the merged dir through the same below-cut
    that covered its constituents. The oracle is the SAME admitted
    closed form at mod 4 (the shared ``_dedup_admitted_sql`` generator):
    compaction is observable only in dir counts, never in decisions, and
    the driver hash is what holds that claim."""
    from hdfs_mapreduce_spark.streaming.dedup import (
        compact_state,
        dedup_ingest_batch,
        read_accepted,
    )

    root = _scratch(spark, "dedup_compacted", sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    state = os.path.join(root, "state")
    for i in range(3):
        dedup_ingest_batch(docs.filter(F.col("doc_id") % 4 == i), i, state)
    compacted = compact_state(spark, state, keep_last=1)
    if compacted != [0, 1]:
        raise RuntimeError(
            f"compact_state folded {compacted}, expected [0, 1] — the "
            "retention tail or committed-id listing is broken"
        )
    dedup_ingest_batch(docs.filter(F.col("doc_id") % 4 == 3), 3, state)
    return read_accepted(spark, state).select("doc_id").orderBy("doc_id")


def stream_dedup_maintained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SELF-MAINTAINING production sink certified end-to-end: four
    micro-batches (doc_id % 4, one file each, maxFilesPerTrigger=1)
    through ``stream_dedup_ingest(compact_every=2, keep_last=1)`` — the
    round-12 sink-integrated maintenance, where compaction fires INSIDE
    foreachBatch every 2 committed batches with no operator stopping the
    stream. After batch 3 the cadence merges batches 0-2 into one dir;
    the plan asserts the post-stream state holds exactly 2 committed
    accepted dirs (merged + retained replay tail) so the query fails red
    if the in-sink cadence silently stops firing. The oracle is the SAME
    admitted closed form at mod 4 as stream_dedup_compacted: in-sink
    maintenance is observable in dir counts, never in decisions."""
    from hdfs_mapreduce_spark.streaming.dedup import (
        committed_batch_ids,
        read_accepted,
        stream_dedup_ingest,
    )
    from hdfs_mapreduce_spark.streaming.events import ordered_feed

    root = _scratch(spark, "dedup_maintained", sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    stream_in = ordered_feed(
        spark, [docs.filter(F.col("doc_id") % 4 == i) for i in range(4)]
    )
    state = os.path.join(root, "state")
    ckpt = os.path.join(root, "ckpt")
    _run(
        stream_dedup_ingest(
            stream_in, state, ckpt, compact_every=2, compact_keep_last=1
        ),
        None,
        ckpt,
    )
    committed = committed_batch_ids(spark, os.path.join(state, "accepted"))
    if len(committed) != 2:
        raise RuntimeError(
            f"expected 2 committed accepted dirs after in-sink maintenance "
            f"(merged 0-2 + retained tail 3), found batch ids {committed} — "
            "the compact_every cadence did not fire"
        )
    return read_accepted(spark, state).select("doc_id").orderBy("doc_id")


QUERIES = {
    "logtable_cdf": logtable_cdf,
    "logtable_ivm": logtable_ivm,
    "dq_checks_incremental": dq_checks_incremental,
    "stream_ann_ingest_topk": stream_ann_ingest_topk,
    "stream_ann_ingest_fenced": stream_ann_ingest_fenced,
    "stream_cdc_apply": stream_cdc_apply,
    "stream_windowed_stats": stream_windowed_stats,
    "stream_sliding_stats": stream_sliding_stats,
    "stream_attribution": stream_attribution,
    "stream_upsert_snapshot": stream_upsert_snapshot,
    "stream_upsert_log_snapshot": stream_upsert_log_snapshot,
    "stream_session_stats": stream_session_stats,
    "stream_heavy_hitters_audit": stream_heavy_hitters_audit,
    "stream_dedup_admitted": stream_dedup_admitted,
    "stream_dedup_resketch": stream_dedup_resketch,
    "stream_dedup_compacted": stream_dedup_compacted,
    "stream_dedup_maintained": stream_dedup_maintained,
}


def _dedup_admitted_sql(mod: int = 3) -> str:
    """Unrolls ``mod`` probe-then-admit rounds over the shared MinHash
    CTEs (dedup_plans): ``pairs`` is the full near-dup pair relation
    (band collision + exact Jaccard ≥ t — a per-pair property, so pairs
    WITHIN any subset are just the filtered relation); each round drops
    batch docs with an accepted near-dup (either direction, via ``sym``)
    then applies the within-batch smaller-neighbor rule on survivors.
    Parameterized by the residue-class batch count (the 3-batch admitted
    query and the 4-batch compacted variant share this one generator, so
    the round formula can never diverge between them)."""
    from hdfs_mapreduce_spark.plans.dedup_plans import (
        MINHASH_THRESHOLD,
        _BANDS_CTE,
        _BASE_CTE,
    )

    rounds = [
        f"""
        acc0 AS (
            SELECT doc FROM base WHERE doc % {mod} = 0 AND doc NOT IN (
                SELECT p.b FROM pairs p
                WHERE p.a % {mod} = 0 AND p.b % {mod} = 0)
        )"""
    ]
    prev_union = "SELECT doc FROM acc0"
    for k in range(1, mod):
        rounds.append(f"""
        prev{k} AS ({prev_union}),
        s{k} AS (
            SELECT doc FROM base WHERE doc % {mod} = {k} AND doc NOT IN (
                SELECT s.a FROM sym s JOIN prev{k} c ON s.b = c.doc)
        ),
        acc{k} AS (
            SELECT doc FROM s{k} WHERE doc NOT IN (
                SELECT p.b FROM pairs p
                WHERE p.a IN (SELECT doc FROM s{k})
                  AND p.b IN (SELECT doc FROM s{k}))
        )""")
        prev_union += f" UNION ALL SELECT doc FROM acc{k}"
    return f"""
        WITH {_BASE_CTE},
        {_BANDS_CTE},
        cand AS (
            SELECT DISTINCT l.doc AS a, r.doc AS b
            FROM bands l JOIN bands r
              ON l.band_idx = r.band_idx AND l.band_key = r.band_key
             AND l.doc < r.doc
        ),
        pairs AS (
            SELECT a, b FROM (
                SELECT c.a, c.b,
                       CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
                           / len(list_distinct(x.sh || y.sh)) AS j
                FROM cand c
                JOIN base x ON x.doc = c.a
                JOIN base y ON y.doc = c.b
            ) WHERE j >= {MINHASH_THRESHOLD}
        ),
        sym AS (
            SELECT a, b FROM pairs
            UNION ALL SELECT b AS a, a AS b FROM pairs
        ),
        {','.join(rounds)}
        SELECT doc AS doc_id FROM (
            {prev_union}
        ) ORDER BY doc_id
    """


def _dedup_resketch_sql() -> str:
    """The admitted unroll across the mid-stream b/r migration: rounds
    0/1 admit over the DEFAULT (16×8) pair relation, the resketch flips
    the state to the wide point, round 2 admits over the WIDE (32×8)
    pair relation — both generated from the same `_base_cte`/`_bands_cte`
    builders as their standalone declared twins, so neither shape's
    formula can diverge from its already-verified form."""
    from hdfs_mapreduce_spark.plans.dedup_plans import (
        MINHASH_THRESHOLD,
        _BANDS_CTE,
        _BASE_CTE,
        _WBANDS_CTE,
        _WBASE_CTE,
    )

    return f"""
        WITH {_BASE_CTE},
        {_BANDS_CTE},
        {_WBASE_CTE},
        {_WBANDS_CTE},
        cand AS (
            SELECT DISTINCT l.doc AS a, r.doc AS b
            FROM bands l JOIN bands r
              ON l.band_idx = r.band_idx AND l.band_key = r.band_key
             AND l.doc < r.doc
        ),
        pairs AS (
            SELECT a, b FROM (
                SELECT c.a, c.b,
                       CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
                           / len(list_distinct(x.sh || y.sh)) AS j
                FROM cand c
                JOIN base x ON x.doc = c.a
                JOIN base y ON y.doc = c.b
            ) WHERE j >= {MINHASH_THRESHOLD}
        ),
        candw AS (
            SELECT DISTINCT l.doc AS a, r.doc AS b
            FROM wbands l JOIN wbands r
              ON l.band_idx = r.band_idx AND l.band_key = r.band_key
             AND l.doc < r.doc
        ),
        pairsw AS (
            SELECT a, b FROM (
                SELECT c.a, c.b,
                       CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
                           / len(list_distinct(x.sh || y.sh)) AS j
                FROM candw c
                JOIN wbase x ON x.doc = c.a
                JOIN wbase y ON y.doc = c.b
            ) WHERE j >= {MINHASH_THRESHOLD}
        ),
        symw AS (
            SELECT a, b FROM pairsw
            UNION ALL SELECT b AS a, a AS b FROM pairsw
        ),
        acc0 AS (
            SELECT doc FROM base WHERE doc % 3 = 0 AND doc NOT IN (
                SELECT p.b FROM pairs p WHERE p.a % 3 = 0 AND p.b % 3 = 0)
        ),
        s1 AS (
            SELECT doc FROM base WHERE doc % 3 = 1 AND doc NOT IN (
                SELECT s.a FROM (
                    SELECT a, b FROM pairs
                    UNION ALL SELECT b AS a, a AS b FROM pairs
                ) s JOIN acc0 c ON s.b = c.doc)
        ),
        acc1 AS (
            SELECT doc FROM s1 WHERE doc NOT IN (
                SELECT p.b FROM pairs p
                WHERE p.a IN (SELECT doc FROM s1)
                  AND p.b IN (SELECT doc FROM s1))
        ),
        acc01 AS (
            SELECT doc FROM acc0 UNION ALL SELECT doc FROM acc1
        ),
        s2 AS (
            SELECT doc FROM base WHERE doc % 3 = 2 AND doc NOT IN (
                SELECT s.a FROM symw s JOIN acc01 c ON s.b = c.doc)
        ),
        acc2 AS (
            SELECT doc FROM s2 WHERE doc NOT IN (
                SELECT p.b FROM pairsw p
                WHERE p.a IN (SELECT doc FROM s2)
                  AND p.b IN (SELECT doc FROM s2))
        )
        SELECT doc AS doc_id FROM (
            SELECT doc FROM acc01 UNION ALL SELECT doc FROM acc2
        ) ORDER BY doc_id
    """


def _oracle_sql() -> dict[str, str]:
    from hdfs_mapreduce_spark.operators.dq import EVENT_TYPE_DOMAIN
    from hdfs_mapreduce_spark.plans.similarity_plans import (
        APPEND_MOD,
        _ann_ivfpq_sql,
    )
    from hdfs_mapreduce_spark.streaming.events import (
        ATTRIB_WINDOW_MIN,
        SESSION_GAP_MIN,
        SLIDE_DUR_MIN,
        SLIDE_STEP_MIN,
    )

    _DQ_DOM_SQL = ", ".join(f"'{t}'" for t in EVENT_TYPE_DOMAIN)

    return {
        # Streaming ingest lands exactly where the batch append lands
        # (frozen model over day-1, codes over everything) — the
        # ann_probe_appended oracle hashes the streamed result too.
        "stream_ann_ingest_topk": _ann_ivfpq_sql(
            model_rel=f"(SELECT * FROM embeddings"
            f" WHERE vec_id % {APPEND_MOD} <> 0)"
        ),
        # The fenced variant probes the POST-flip v2 generation — a
        # full-corpus rebuild — through a fresh handle, so the plain
        # full-corpus closed form hashes it (rebuild ≡ build of current
        # data; the fence contract is enforced by raises inside the
        # query builder).
        "stream_ann_ingest_fenced": _ann_ivfpq_sql(),
        # CDC final state closed-form: every key except the deleted
        # mod-9 class, with the mod-6 class carrying the batch-1 bump.
        "stream_cdc_apply": f"""
            SELECT event_id, event_type,
                   CASE WHEN event_id % {CDC_UPD_MOD} = 0
                        THEN value + {CDC_BUMP} ELSE value END AS value
            FROM events
            WHERE event_id % {CDC_DEL_MOD} <> 0
            ORDER BY event_id
        """,
        # The expected net change set, derived in pure SQL from the same
        # constants the Spark face commits with: inserts = the above-C1
        # slice that survives the delete, updates = the bumped overlap
        # minus deletes, deletes = v0-visible rows (original value as
        # the before image — as_of=0 predates the bump).
        "logtable_cdf": f"""
            SELECT event_id, 'insert' AS change_type,
                   CAST(NULL AS DOUBLE) AS value_before,
                   value + {CDF_BUMP} AS value_after
            FROM events
            WHERE event_id >= {CDF_C1} AND event_id < {CDF_C2}
              AND event_id % {CDF_DEL_MOD} <> 0
            UNION ALL
            SELECT event_id, 'update', value, value + {CDF_BUMP}
            FROM events
            WHERE event_id >= {CDF_C0} AND event_id < {CDF_C1}
              AND event_id % {CDF_DEL_MOD} <> 0
            UNION ALL
            SELECT event_id, 'delete', value, CAST(NULL AS DOUBLE)
            FROM events
            WHERE event_id < {CDF_C1} AND event_id % {CDF_DEL_MOD} = 0
            ORDER BY event_id
        """,
        # Final visible state in closed form from the shared commit
        # constants: live keys = id < C2 surviving the delete; value
        # bumped iff the v1 batch wrote it (C0 <= id < C2).
        "logtable_ivm": f"""
            SELECT event_type, COUNT(*) AS n_events,
                   SUM(CASE WHEN event_id >= {CDF_C0}
                            THEN value + {CDF_BUMP} ELSE value END)
                       AS sum_value
            FROM events
            WHERE event_id < {CDF_C2} AND event_id % {CDF_DEL_MOD} <> 0
            GROUP BY event_type ORDER BY event_type
        """,
        # The incremental fold must land exactly where a full rescan of
        # the FINAL visible state lands (same closed form as the ivm
        # oracle: live keys survive the delete, values bumped iff the v1
        # batch wrote them) — the equivalence IS the check's contract.
        "dq_checks_incremental": f"""
            WITH final AS (
                SELECT event_type,
                       CASE WHEN event_id >= {CDF_C0}
                            THEN value + {CDF_BUMP} ELSE value END AS value
                FROM events
                WHERE event_id < {CDF_C2} AND event_id % {CDF_DEL_MOD} <> 0
            ),
            agg AS (
                SELECT COUNT(*) AS n_rows,
                       CAST(SUM(CASE WHEN event_type IS NULL OR
                                event_type NOT IN ({_DQ_DOM_SQL})
                                THEN 1 ELSE 0 END) AS BIGINT)
                           AS event_type_in_domain,
                       CAST(SUM(CASE WHEN value IS NULL OR
                                value < {CDF_BUMP}
                                THEN 1 ELSE 0 END) AS BIGINT)
                           AS value_at_least_bump,
                       CAST(SUM(CASE WHEN value IS NULL OR value <= 0
                                THEN 1 ELSE 0 END) AS BIGINT)
                           AS value_positive
                FROM final
            )
            SELECT 'events_logtable' AS tbl, "check", n_rows,
                   violations, violations = 0 AS "pass"
            FROM (
                SELECT n_rows, 'event_type_in_domain' AS "check",
                       event_type_in_domain AS violations FROM agg
                UNION ALL
                SELECT n_rows, 'value_at_least_bump',
                       value_at_least_bump FROM agg
                UNION ALL
                SELECT n_rows, 'value_positive', value_positive FROM agg
            )
            ORDER BY "check"
        """,
        "stream_windowed_stats": """
            SELECT * FROM (
                SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
                       event_type, COUNT(*) AS n_events,
                       SUM(value) AS sum_value
                FROM events GROUP BY 1, 2
            )
            WHERE window_start + INTERVAL 1 HOUR
                  <= (SELECT MAX(ts) FROM events) - INTERVAL 1 HOUR
            ORDER BY window_start, event_type
        """,
        "stream_sliding_stats": f"""
            SELECT * FROM (
                SELECT window_start, event_type,
                       COUNT(*) AS n_events, SUM(value) AS sum_value
                FROM (
                    SELECT e.*,
                           time_bucket(INTERVAL '{SLIDE_STEP_MIN} minutes', ts)
                               - k * INTERVAL '{SLIDE_STEP_MIN} minutes'
                               AS window_start
                    FROM events e,
                         (SELECT unnest(generate_series(
                              0, {SLIDE_DUR_MIN // SLIDE_STEP_MIN - 1})) AS k) ks
                )
                WHERE window_start > ts - INTERVAL '{SLIDE_DUR_MIN} minutes'
                GROUP BY 1, 2
            )
            WHERE window_start + INTERVAL {SLIDE_DUR_MIN} MINUTES
                  <= (SELECT MAX(ts) FROM events) - INTERVAL 1 HOUR
            ORDER BY window_start, event_type
        """,
        # Gaps-and-islands with the engine-verified strict-gap rule: an
        # event exactly gap after its predecessor merges, > gap splits;
        # session end = last event + gap. Closed region strict <, same
        # as the Spark face.
        "stream_session_stats": f"""
            WITH marked AS (
                SELECT user_id, event_id, ts, value,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR ts > lag(ts) OVER w
                                    + INTERVAL {SESSION_GAP_MIN} MINUTES
                            THEN 1 ELSE 0 END AS new_s
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            islands AS (
                SELECT user_id, ts, value,
                       SUM(new_s) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id
                                        ROWS UNBOUNDED PRECEDING) AS seq
                FROM marked
            ),
            sess AS (
                SELECT user_id,
                       MIN(ts) AS session_start,
                       MAX(ts) + INTERVAL {SESSION_GAP_MIN} MINUTES
                           AS session_end,
                       COUNT(*) AS n_events,
                       SUM(value) AS sum_value
                FROM islands GROUP BY user_id, seq
            )
            SELECT session_start, session_end, user_id, n_events, sum_value
            FROM sess
            WHERE session_end
                  < (SELECT MAX(ts) FROM events) - INTERVAL 1 HOUR
            ORDER BY user_id, session_start
        """,
        "stream_attribution": f"""
            SELECT p.user_id, c.event_id AS click_id,
                   p.event_id AS purchase_id,
                   c.ts AS click_ts, p.ts AS purchase_ts
            FROM events p JOIN events c ON c.user_id = p.user_id
            WHERE p.event_type = 'purchase' AND c.event_type = 'click'
              AND c.ts <= p.ts
              AND c.ts > p.ts - INTERVAL {ATTRIB_WINDOW_MIN} MINUTES
              AND p.ts <= (SELECT MAX(ts) FROM events) - INTERVAL 2 HOURS
            ORDER BY p.user_id, purchase_id, click_id
        """,
        # event_id is unique in the events table (asserted in pytest), so
        # the upsert sink's terminal snapshot — whatever the batch
        # boundaries — is the events relation itself.
        "stream_upsert_snapshot": """
            SELECT event_id, user_id, event_type, value, ts
            FROM events ORDER BY event_id
        """,
        # same invariant, log-structured state: whatever the batch/commit
        # boundaries, newest-row-per-key over a unique key IS the relation
        "stream_upsert_log_snapshot": """
            SELECT event_id, user_id, event_type, value, ts
            FROM events ORDER BY event_id
        """,
        # MG state contents are batch-boundary-specific; the relation is
        # the bound audit, pinned by exact count + literal TRUEs.
        "stream_heavy_hitters_audit": """
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   TRUE AS state_bounded,
                   TRUE AS heavy_all_present,
                   TRUE AS estimates_within_bound
            FROM events
        """,
        "stream_dedup_admitted": _dedup_admitted_sql(),
        "stream_dedup_resketch": _dedup_resketch_sql(),
        "stream_dedup_compacted": _dedup_admitted_sql(mod=4),
        "stream_dedup_maintained": _dedup_admitted_sql(mod=4),
    }


ORACLE_SQL = _oracle_sql()
