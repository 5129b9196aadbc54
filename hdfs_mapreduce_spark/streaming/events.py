"""Structured Streaming over the events table.

The reference is batch-only (SURVEY §2.10 — its 5-second heartbeat loop is
cluster management, not data streaming). This module adds the streaming
surface a pipeline needs, with the batch/stream duality Spark makes natural:
the SAME windowed aggregation runs as a batch DataFrame (oracle-checkable
against DuckDB time_bucket) and as a ``readStream`` with watermarking
(tested with the availableNow trigger: stream result == batch result).

Sessionization is the classic "custom stateful operator" and ships in both
forms: relationally (lag + gap > threshold + running sum — batchable, with a
DuckDB oracle; what you'd backfill with) and incrementally
(``stream_sessionize``: ``applyInPandasWithState`` keyed by user, event-time
state eviction). The test proves the two produce identical session ids.
"""

from __future__ import annotations

import glob
import itertools
import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
    TimestampNTZType,
)
from pyspark.sql.window import Window

from hdfs_mapreduce_spark.sources.catalog import _nanos_timestamp_cols, load_table
from hdfs_mapreduce_spark.streaming.logtable import replace_batch

SESSION_GAP_MIN = 30


def _epoch_sec(c: Column) -> Column:
    """Whole seconds since epoch, truncating sub-second parts — the same
    boundary semantics as DuckDB ``date_diff('second', a, b)`` when used in
    differences. Accepts TIMESTAMP or TIMESTAMP_NTZ (parquet `timestamp[us]`
    without tz reads as NTZ under Spark 4, and numeric casts reject NTZ);
    the NTZ→LTZ cast shifts by the session-zone offset, which is a whole
    number of seconds, so truncation commutes and differences are identical
    under any session timezone."""
    return F.floor(F.unix_micros(c.cast("timestamp")) / F.lit(1_000_000))


def _windowed_agg(events: DataFrame) -> DataFrame:
    """1-hour tumbling windows per event_type: count + sum(value)."""
    return (
        events.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def windowed_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form (the backfill path; oracle = DuckDB time_bucket)."""
    events = load_table(spark, sf_dir, "events")
    return _windowed_agg(events).orderBy("window_start", "event_type")


def _checkpointed(writer, checkpoint_dir: str | None):
    """``writer`` with ``checkpoint_dir`` as its checkpoint location, when
    one is given (the caller may set it later, as the declared queries'
    drain does)."""
    if checkpoint_dir:
        return writer.option("checkpointLocation", checkpoint_dir)
    return writer


_FEEDS = itertools.count(1)


def ordered_feed(
    spark: SparkSession,
    parts: list[DataFrame | str],
    schema: StructType | None = None,
) -> DataFrame:
    """Stage ``parts`` as one file each under a fresh session-scratch dir
    and return the ``maxFilesPerTrigger=1`` readStream over them, so part
    ``i`` is micro-batch ``i``. A DataFrame part is written as ONE parquet
    file; a str part is an existing parquet file, linked rather than
    rewritten (no write job). FileStreamSource orders files by mtime, so
    written parts get strictly increasing fixed mtimes, stamped after the
    move so write completion order cannot reorder the batches; a link
    keeps its source's mtime, so a feed of links is ordered only when the
    linked files are interchangeable (copies of one file). The writes are
    independent Spark jobs, submitted concurrently on the shared bounded
    pool (never per-use threads: py4j pinned mode leaks one parked JVM
    thread per exited Python thread — driverpool.py). ``schema`` defaults
    to the first part's. Driver-local os calls on fixture staging only;
    state and table dirs go through the Hadoop FS API."""
    from hdfs_mapreduce_spark.functions.driverpool import run_concurrently
    from hdfs_mapreduce_spark.operators.materialize import session_scratch_dir

    stage = os.path.join(session_scratch_dir(spark), f"feed_{next(_FEEDS)}")
    os.makedirs(stage)

    def _write(i: int, part: DataFrame, dst: str) -> None:
        tmp = os.path.join(stage, f"_tmp{i}")  # "_": invisible to the source
        part.coalesce(1).write.parquet(tmp)
        shutil.move(glob.glob(os.path.join(tmp, "part-*.parquet"))[0], dst)
        shutil.rmtree(tmp)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    writes = []
    for i, part in enumerate(parts):
        dst = os.path.join(stage, f"p{i}.parquet")
        if isinstance(part, str):
            os.symlink(os.path.abspath(part), dst)
        else:
            writes.append(lambda i=i, part=part, dst=dst: _write(i, part, dst))
    if writes:
        run_concurrently(writes)
    return (
        spark.readStream.schema(schema or parts[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )


def _events_stream(spark: SparkSession, sf_dir: str, copies: int = 1) -> DataFrame:
    """readStream over ``copies`` links of the events file, one micro-batch
    each (``ordered_feed``), with the batch loader's exact timestamp
    semantics. Mirrors ``load_table``'s unit detection: TIMESTAMP(NANOS)
    files (which Spark cannot decode natively) are stream-read as
    nanosecond longs and converted with the same exact DIV-1000
    truncation; micro/milli files stream with the batch schema."""
    src = os.path.join(sf_dir, "events.parquet")
    batch_schema = load_table(spark, sf_dir, "events").schema
    ns_cols = _nanos_timestamp_cols(src)
    schema = batch_schema
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        schema = StructType(
            [
                StructField(f.name, LongType(), f.nullable) if f.name in ns_cols else f
                for f in batch_schema.fields
            ]
        )
    stream = ordered_feed(spark, [src] * copies, schema)
    for f in batch_schema.fields:
        if f.name in ns_cols:
            stream = stream.withColumn(
                f.name, F.timestamp_micros(F.expr(f"`{f.name}` DIV 1000"))
            )
        elif isinstance(f.dataType, TimestampNTZType):
            # Watermarks demand TIMESTAMP (LTZ); micros-without-tz parquet
            # reads as NTZ, so promote. The session zone is UTC
            # (session.py), making the promoted values identical to the
            # batch twin's NTZ wall times.
            stream = stream.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return stream


def stream_windowed_event_stats(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str | None = None
):
    """Streaming form: parquet source → 1h watermark → tumbling window agg.

    Returns the DataStreamWriter (caller picks sink + trigger). Watermark
    means late events beyond 1 hour are dropped and window state is evicted —
    bounded state at any scale. With ``trigger(availableNow=True)`` this
    processes the existing files and stops: used by tests to prove
    stream ≡ batch.
    """
    stream = _events_stream(spark, sf_dir)
    agg = _windowed_agg(stream.withWatermark("ts", "1 hour"))
    return _checkpointed(agg.writeStream.outputMode("append"), checkpoint_dir)


# Sliding-window layout: 30-minute windows every 10 minutes — each event
# belongs to exactly SLIDE_DUR_MIN / SLIDE_STEP_MIN = 3 windows. Shared by
# the batch query, the streaming twin, and the generated DuckDB oracle.
SLIDE_DUR_MIN = 30
SLIDE_STEP_MIN = 10


def _sliding_agg(events: DataFrame) -> DataFrame:
    """Sliding windows per event_type: count + sum(value). Spark plans the
    window explode as an Expand (dur/step rows per event) feeding a
    partial+final hash aggregate — the replication happens map-side, the
    shuffle carries only (window, type) partials."""
    return (
        events.groupBy(
            F.window(
                "ts", f"{SLIDE_DUR_MIN} minutes", f"{SLIDE_STEP_MIN} minutes"
            ).alias("w"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form (backfill path; oracle enumerates the dur/step offsets of
    each event's time_bucket)."""
    events = load_table(spark, sf_dir, "events")
    return _sliding_agg(events).orderBy("window_start", "event_type")


def stream_sliding_event_stats(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str | None = None
):
    """Streaming twin: watermark bounds how many open sliding windows live
    in state (dur/step per key plus the late-data horizon), exactly as the
    tumbling form."""
    stream = _events_stream(spark, sf_dir)
    agg = _sliding_agg(stream.withWatermark("ts", "1 hour"))
    return _checkpointed(agg.writeStream.outputMode("append"), checkpoint_dir)


def sessionize(events: DataFrame, gap_min: int = SESSION_GAP_MIN) -> DataFrame:
    """Assign session ids per user: a new session starts when the gap from
    the previous event exceeds ``gap_min`` minutes. lag → gap flag → running
    sum, all windowed by user — one shuffle on user_id, codegen'd end-to-end.
    session_id is (user_id, session_seq) with session_seq 1-based."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    new_session = (
        prev_ts.isNull()
        | (_epoch_sec(F.col("ts")) - _epoch_sec(prev_ts) > gap_min * 60)
    ).cast("int")
    return events.select(
        "event_id",
        "user_id",
        "ts",
        F.sum(new_session)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_seq"),
    )


def stream_sessionize(
    spark: SparkSession,
    sf_dir: str,
    checkpoint_dir: str | None = None,
    gap_min: int = SESSION_GAP_MIN,
):
    """Incremental sessionization — the custom stateful streaming operator
    (`applyInPandasWithState`, keyed by user).

    Per-user state is two numbers: (last event time, current session seq).
    Each micro-batch sorts its rows per user, carries the gap rule across the
    batch boundary through the state, and emits every event with its session
    id. Event-time timeout evicts a user's state one gap past the watermark —
    bounded state no matter how many users accumulate over time. The batch
    twin (``sessionize``) produces identical ids on the same data; the test
    proves stream ≡ batch over the driver's events table.

    Returns the DataStreamWriter (caller picks sink + trigger).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_sec = gap_min * 60
    stream = _events_stream(spark, sf_dir).withWatermark("ts", "1 hour")

    def assign(key, pdfs, state: GroupState):
        import numpy as np
        import pandas as pd

        if state.hasTimedOut:
            # One gap past the watermark with no new events: the session can
            # never continue — drop the state.
            state.remove()
            return
        last_ts, seq = state.get if state.exists else (None, 0)
        # A key's micro-batch rows arrive as multiple Arrow chunks (bounded
        # by maxRecordsPerBatch) in storage order, NOT time order — the gap
        # rule is only correct over the key's batch as one time-sorted run,
        # so materialize every chunk first and sort ONCE. Per-chunk sorting
        # with carried (last_ts, seq) computes gaps against the wrong
        # predecessor whenever a user's rows span chunks.
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True)
            pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
            # datetime64[s] truncation is unit-agnostic (ns-era and us-era
            # testdata both pass through here) and matches _epoch_sec.
            ts_sec = pdf["ts"].to_numpy().astype("datetime64[s]").astype(np.int64)
            prev = np.concatenate(
                [[last_ts if last_ts is not None else np.iinfo(np.int64).min // 2], ts_sec[:-1]]
            )
            new_session = (ts_sec - prev) > gap_sec
            if last_ts is None:
                new_session[0] = True
            seqs = seq + np.cumsum(new_session.astype(np.int64))
            last_ts, seq = int(ts_sec[-1]), int(seqs[-1])
            yield pd.DataFrame(
                {
                    "event_id": pdf["event_id"],
                    "user_id": pdf["user_id"],
                    "ts": pdf["ts"],
                    "session_seq": seqs,
                }
            )
        if last_ts is not None:
            state.update((last_ts, seq))
            state.setTimeoutTimestamp((last_ts + gap_sec) * 1000)

    out = stream.groupBy("user_id").applyInPandasWithState(
        assign,
        outputStructType="event_id long, user_id long, ts timestamp, session_seq long",
        stateStructType="last_ts long, session_seq long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return _checkpointed(out.writeStream.outputMode("append"), checkpoint_dir)


def stream_dedup_events(
    spark: SparkSession,
    sf_dir: str,
    checkpoint_dir: str | None = None,
    extra_copies: int = 0,
):
    """Streaming exactly-once dedup on event_id:
    ``dropDuplicatesWithinWatermark`` keeps one row per id and evicts dedup
    state once the watermark passes an id's event time — bounded state, the
    streaming twin of batch ``dropDuplicates``. This is the at-least-once →
    exactly-once repair stage every event pipeline needs in front of a
    training-data sink.

    ``extra_copies`` feeds the events file N extra times, one micro-batch
    per copy (tests use it to prove duplicates actually collapse). Returns
    the DataStreamWriter.
    """
    stream = _events_stream(spark, sf_dir, copies=extra_copies + 1)
    deduped = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "ts", "event_type", "value")
    )
    return _checkpointed(deduped.writeStream.outputMode("append"), checkpoint_dir)


# --- streaming count-min sketch ---------------------------------------------------
def stream_cm_sketch(
    spark: SparkSession,
    sf_dir: str,
    state_dir: str,
    checkpoint_dir: str | None = None,
    col: str = "user_id",
    depth: int = 4,
    width: int = 1024,
):
    """Maintain a count-min sketch of a streaming column via foreachBatch:
    each micro-batch's sketch (depth x width, tiny) merges cell-wise into
    the state — the exact mergeability the sketch guarantees, so the
    maintained state equals the batch sketch of everything seen (tested
    cell for cell). This is the streaming form of frequency monitoring
    (heavy-hitter users, trending tokens) whose state stays
    O(depth x width) forever while the stream is unbounded.

    The state is a logtable (streaming/logtable.py) whose every commit
    is the full merged sketch. Recovery: the additive merge is NOT
    idempotent, so each commit records the batch that produced it;
    under foreachBatch's at-least-once contract a replay re-delivers the
    LAST batch, and a batch id already committed is skipped instead of
    double-counted. A crash mid-commit leaves an attempt dir no log
    record names, invisible to the next merge. The state_dir is bound
    to one checkpoint lineage — restarting the stream with a FRESH
    checkpoint over an existing state_dir re-counts from batch 0 and is
    undefined."""

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        cm_merge_batch_into_state(
            spark, batch_df, state_dir, batch_id, col, depth, width
        )

    stream = _events_stream(spark, sf_dir)
    return _checkpointed(stream.writeStream.foreachBatch(merge), checkpoint_dir)


def cm_merge_batch_into_state(
    spark: SparkSession,
    batch_df: DataFrame,
    state_dir: str,
    batch_id: int,
    col: str = "user_id",
    depth: int = 4,
    width: int = 1024,
) -> bool:
    """One additive count-min merge: the batch's sketch plus the latest
    state, committed as the next full state (logtable
    ``replace_batch``). Returns False on a skipped replay."""
    from hdfs_mapreduce_spark.operators.sketches import cm_merge, cm_sketch

    batch = cm_sketch(
        batch_df.select(F.col(col).cast("string").alias("item")),
        "item",
        depth,
        width,
    )
    return replace_batch(batch, batch_id, state_dir, merge=cm_merge)


def mg_merge_batch_into_state(
    spark: SparkSession,
    batch_df: DataFrame,
    state_dir: str,
    batch_id: int,
    col: str = "user_id",
    k: int = 64,
) -> bool:
    """One Misra-Gries merge: the batch's summary merged into the latest
    state, committed as the next full state (logtable
    ``replace_batch``). Returns False on a skipped replay."""
    from hdfs_mapreduce_spark.operators.sketches import mg_merge, mg_summary

    return replace_batch(
        mg_summary(batch_df, col, k=k),
        batch_id,
        state_dir,
        merge=lambda prev, batch: mg_merge(prev, batch, k=k),
    )


def stream_heavy_hitters(
    spark: SparkSession,
    sf_dir: str,
    state_dir: str,
    checkpoint_dir: str | None = None,
    col: str = "user_id",
    k: int = 64,
):
    """Streaming Misra-Gries heavy hitters via foreachBatch: each batch's
    MG summary merges into the maintained <= k-row state with the
    PODS'12 rule, so the state's error bound telescopes to N/(k+1) over
    everything the stream has seen while staying O(k) forever. Unlike
    the count-min state, the summary depends on batch boundaries, so the
    maintained state is bound-tested, not equality-tested, against the
    batch truth. Same recovery contract as stream_cm_sketch: commits
    record the producing batch id (the subtract-merge is not
    idempotent), and crashed attempts are invisible."""

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        mg_merge_batch_into_state(
            spark, batch_df, state_dir, batch_id, col=col, k=k
        )

    stream = _events_stream(spark, sf_dir)
    return _checkpointed(stream.writeStream.foreachBatch(merge), checkpoint_dir)


# --- bucketed upsert state (the 100 TB swap, wired) -------------------------------
def _bucketed_versions(spark: SparkSession, state_table: str) -> list[int]:
    prefix = f"{state_table}_v"
    return sorted(
        int(t.name[len(prefix):])
        for t in spark.catalog.listTables()
        if t.name.startswith(prefix) and t.name[len(prefix):].isdigit()
    )


def upsert_batch_into_bucketed_state(
    spark: SparkSession,
    batch_df: DataFrame,
    state_table: str,
    key: str = "event_id",
    n_buckets: int = 32,
) -> int:
    """One upsert merge against a BUCKETED state table (new rows win).
    Returns the version number written.

    Each batch rewrites the state, but the state versions are managed
    tables bucketed on the key (sources/catalog.write_bucketed), so the
    per-batch anti-join reads the state side with its bucket
    partitioning intact — NO Exchange ever touches the state relation,
    only the micro-batch (orders of magnitude smaller) hashes to align
    with it (tests/test_streaming.py asserts the Exchange count). Readers see
    v{N} or v{N+1}, never a mix, and a failed batch leaves v{N} intact."""
    from hdfs_mapreduce_spark.sources.catalog import write_bucketed

    batch = batch_df.dropDuplicates([key])
    versions = _bucketed_versions(spark, state_table)
    if versions:
        state = spark.table(f"{state_table}_v{versions[-1]}")
        merged = state.join(
            batch.select(key), key, "left_anti"
        ).unionByName(batch)
        next_v = versions[-1] + 1
    else:
        merged, next_v = batch, 0
    write_bucketed(
        merged, f"{state_table}_v{next_v}", [key], n_buckets=n_buckets
    )
    return next_v


def stream_upsert_events_bucketed(
    spark: SparkSession,
    sf_dir: str,
    state_table: str,
    checkpoint_dir: str | None = None,
    n_buckets: int = 32,
):
    """Incremental upsert sink with bucketed managed-table state: the
    steady-state merge join is exchange-free on the state side (see
    upsert_batch_into_bucketed_state)."""

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        upsert_batch_into_bucketed_state(
            spark, batch_df, state_table, n_buckets=n_buckets
        )

    stream = _events_stream(spark, sf_dir)
    return _checkpointed(stream.writeStream.foreachBatch(merge), checkpoint_dir)


def read_bucketed_upsert_state(
    spark: SparkSession, state_table: str
) -> DataFrame | None:
    """Latest snapshot of a bucketed upsert state table, or None when no
    version has been written yet."""
    versions = _bucketed_versions(spark, state_table)
    if not versions:
        return None
    return spark.table(f"{state_table}_v{versions[-1]}")


ATTRIB_WINDOW_MIN = 60


def _attribution_pairs(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    """Shared join shape for batch and stream: every purchase matched to
    each click by the same user within the preceding ATTRIB_WINDOW_MIN."""
    return purchases.join(
        clicks,
        F.expr(
            f"""
            c_user = p_user
            AND click_ts <= purchase_ts
            AND click_ts > purchase_ts - INTERVAL {ATTRIB_WINDOW_MIN} MINUTES
            """
        ),
    ).select(
        F.col("p_user").alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
    )


def _split_clicks_purchases(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return clicks, purchases


def attribution_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream attribution join (the backfill path)."""
    events = load_table(spark, sf_dir, "events")
    clicks, purchases = _split_clicks_purchases(events)
    return _attribution_pairs(clicks, purchases)


def stream_click_attribution(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str | None = None
):
    """Stream-stream inner join with an event-time range condition — the
    §2.10 operator the windowed agg and sessionizer don't cover: purchases
    join clicks of the same user within the previous ATTRIB_WINDOW_MIN.

    Both sides carry a 1-hour watermark and the join predicate bounds
    click_ts to a closed interval around purchase_ts, so Spark can evict
    buffered rows once the watermark passes the interval — state stays
    bounded on both sides no matter how long the streams run (without the
    time bound, a stream-stream join must buffer a side forever). The batch
    twin (``attribution_pairs``) shares the exact join expression; the test
    proves stream ≡ batch on the closed region.
    """
    clicks, purchases = _split_clicks_purchases(_events_stream(spark, sf_dir))
    joined = _attribution_pairs(
        clicks.withWatermark("click_ts", "1 hour"),
        purchases.withWatermark("purchase_ts", "1 hour"),
    )
    return _checkpointed(joined.writeStream.outputMode("append"), checkpoint_dir)


def _session_window_agg(events: DataFrame) -> DataFrame:
    """Native gap-merged session windows per user: count + sum(value).

    Spark's ``session_window`` merges an event into the open session iff
    its timestamp is at most ``gap`` past the previous event (verified:
    an event exactly gap after its predecessor MERGES; diff > gap starts
    a new session) — the identical rule to the lag-based batch
    ``sessionize``, so the gaps-and-islands SQL oracle uses strict
    ``> gap``. The emitted window is [first_ts, last_ts + gap)."""
    return (
        events.groupBy(
            F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("sw"),
            "user_id",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the session-window aggregate (the backfill path)."""
    events = load_table(spark, sf_dir, "events")
    return _session_window_agg(events).orderBy("user_id", "session_start")


def stream_session_window_stats(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str | None = None
):
    """Streaming form: parquet source → 1h watermark → session-window agg.

    Unlike tumbling/sliding windows, session windows have data-dependent
    extents: the state store keeps one open session per (user, session)
    and MERGES sessions when a new event bridges two of them — Spark's
    native stateful session operator, not the applyInPandasWithState
    custom one (``stream_sessionize``, which emits per-event ids; this
    emits per-session aggregates). Watermark closes a session once no
    event within the gap can still arrive, bounding state at any scale.

    Returns the DataStreamWriter (caller picks sink + trigger)."""
    stream = _events_stream(spark, sf_dir)
    agg = _session_window_agg(stream.withWatermark("ts", "1 hour"))
    return _checkpointed(agg.writeStream.outputMode("append"), checkpoint_dir)


def session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session stats: event count and duration seconds."""
    events = load_table(spark, sf_dir, "events")
    s = sessionize(events)
    return (
        s.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.max(_epoch_sec(F.col("ts"))) - F.min(_epoch_sec(F.col("ts")))).alias(
                "duration_sec"
            ),
        )
        .orderBy("user_id", "session_seq")
    )


# --- stream-static enrichment join ----------------------------------------------
def _nation_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⋈ nation collapsed to the (c_custkey → n_name) lookup —
    dimension tables are bounded (customers ≪ events at any SF), so the
    stream side joins them as a broadcast static relation."""
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    ).select("c_custkey", "n_name")


def _enriched_agg(events: DataFrame, dims: DataFrame) -> DataFrame:
    """events enriched with the user's nation, then 1-hour windows per
    nation: the stream-static join shape (static side broadcast; no state,
    no watermark needed for the join itself — only the downstream window
    aggregate holds state)."""
    return (
        events.join(F.broadcast(dims), events.user_id == dims.c_custkey)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("n_name"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_name",
            "n_events",
            "sum_value",
        )
    )


def enriched_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-static enrichment (oracle-checked)."""
    events = load_table(spark, sf_dir, "events")
    return _enriched_agg(events, _nation_dims(spark, sf_dir)).orderBy(
        "window_start", "n_name"
    )


def stream_enriched_event_stats(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str | None = None
):
    """Streaming form: parquet event stream → broadcast join against the
    static customer⋈nation lookup → watermarked tumbling-window aggregate.
    Stream-static joins are stateless on the stream side (each micro-batch
    probes the broadcast hash relation); the 1-hour watermark bounds only
    the window state, exactly as in stream_windowed_event_stats."""
    stream = _events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = _enriched_agg(stream, _nation_dims(spark, sf_dir))
    return _checkpointed(agg.writeStream.outputMode("append"), checkpoint_dir)
