"""Structured Streaming: the streaming windowed agg must equal its batch twin
(availableNow trigger over the same parquet)."""

from __future__ import annotations

import tempfile

from hdfs_mapreduce_spark.streaming.events import (
    sessionize,
    stream_windowed_event_stats,
    windowed_event_stats,
)

SF = "/root/testdata/sf0.001"


def test_stream_equals_batch(spark):
    from datetime import timedelta

    from pyspark.sql import functions as F

    from hdfs_mapreduce_spark.sources.catalog import load_table

    batch_rows = windowed_event_stats(spark, SF).collect()
    batch = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in batch_rows
    }
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            stream_windowed_event_stats(spark, SF, checkpoint_dir=ckpt)
            .format("memory")
            .queryName("windowed_stream")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), 'stream did not finish in time'
    stream = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM windowed_stream").collect()
    }
    # Append mode emits a window only once the watermark passes its end —
    # windows newer than (max_ts - 1h watermark) stay in state when the
    # stream drains. Closed windows must match batch exactly.
    max_ts = load_table(spark, SF, "events").agg(F.max("ts")).collect()[0][0]
    closed = {
        k: v
        for k, v in batch.items()
        if k[0] + timedelta(hours=1) <= max_ts - timedelta(hours=1)
    }
    assert stream == closed
    assert len(closed) > 100


def test_stream_sessionize_equals_batch(spark):
    """The stateful streaming sessionizer (applyInPandasWithState) must
    assign exactly the ids the relational batch form assigns — including
    when a user's micro-batch rows span multiple Arrow chunks (forced via a
    tiny maxRecordsPerBatch), where per-chunk gap logic would compute gaps
    against the wrong predecessor."""
    from hdfs_mapreduce_spark.sources.catalog import load_table
    from hdfs_mapreduce_spark.streaming.events import stream_sessionize

    events = load_table(spark, SF, "events")
    batch = {
        r["event_id"]: (r["user_id"], r["session_seq"])
        for r in sessionize(events).collect()
    }
    prev_max = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        with tempfile.TemporaryDirectory() as ckpt:
            q = (
                stream_sessionize(spark, SF, checkpoint_dir=ckpt)
                .format("memory")
                .queryName("session_stream")
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(120), 'stream did not finish in time'
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", prev_max
        )
    stream = {
        r["event_id"]: (r["user_id"], r["session_seq"])
        for r in spark.sql("SELECT * FROM session_stream").collect()
    }
    assert len(stream) == len(batch) > 0
    assert stream == batch


def test_sessionize_gap_semantics(spark):
    from datetime import datetime

    rows = [
        (1, 10, datetime(2024, 1, 1, 0, 0)),
        (2, 10, datetime(2024, 1, 1, 0, 10)),  # same session (10 min gap)
        (3, 10, datetime(2024, 1, 1, 1, 0)),  # new session (50 min gap)
        (4, 20, datetime(2024, 1, 1, 0, 0)),  # other user
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    out = {r["event_id"]: r["session_seq"] for r in sessionize(df, 30).collect()}
    assert out == {1: 1, 2: 1, 3: 2, 4: 1}

def test_stream_attribution_equals_batch(spark):
    """Stream-stream join with event-time range condition: the streaming
    click→purchase attribution must emit exactly the batch join's pairs for
    the watermark-closed region (purchases old enough that no late click
    could still match)."""
    from datetime import timedelta

    from pyspark.sql import functions as F

    from hdfs_mapreduce_spark.sources.catalog import load_table
    from hdfs_mapreduce_spark.streaming.events import (
        attribution_pairs,
        stream_click_attribution,
    )

    batch = {
        (r["click_id"], r["purchase_id"])
        for r in attribution_pairs(spark, SF).collect()
    }
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            stream_click_attribution(spark, SF, checkpoint_dir=ckpt)
            .format("memory")
            .queryName("attrib_stream")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), 'stream did not finish in time'
    stream_rows = spark.sql("SELECT * FROM attrib_stream").collect()
    stream = {(r["click_id"], r["purchase_id"]) for r in stream_rows}
    # Everything the stream emitted must be a real batch pair, and the
    # closed region (older than max_ts - watermark - window) must be
    # complete.
    assert stream <= batch
    max_ts = load_table(spark, SF, "events").agg(F.max("ts")).collect()[0][0]
    cutoff = max_ts - timedelta(hours=2)
    closed = {
        (r["click_id"], r["purchase_id"])
        for r in attribution_pairs(spark, SF).collect()
        if r["purchase_ts"] <= cutoff
    }
    assert closed <= stream
    assert len(closed) > 0


def test_stream_dedup_collapses_duplicates(spark):
    """Feed every event twice (source staged 2x); dropDuplicatesWithinWatermark
    must emit each event_id exactly once — equal to the batch distinct count."""
    from hdfs_mapreduce_spark.sources.catalog import load_table
    from hdfs_mapreduce_spark.streaming.events import stream_dedup_events

    batch_n = load_table(spark, SF, "events").count()
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            stream_dedup_events(spark, SF, checkpoint_dir=ckpt, extra_copies=1)
            .format("memory")
            .queryName("dedup_stream")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), 'stream did not finish in time'
    out = spark.sql(
        "SELECT COUNT(*) AS n, COUNT(DISTINCT event_id) AS d FROM dedup_stream"
    ).collect()[0]
    assert out["n"] == out["d"] == batch_n


def test_stream_sliding_equals_batch(spark):
    from datetime import timedelta

    from pyspark.sql import functions as F

    from hdfs_mapreduce_spark.sources.catalog import load_table
    from hdfs_mapreduce_spark.streaming.events import (
        SLIDE_DUR_MIN,
        sliding_event_stats,
        stream_sliding_event_stats,
    )

    batch = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in sliding_event_stats(spark, SF).collect()
    }
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            stream_sliding_event_stats(spark, SF, checkpoint_dir=ckpt)
            .format("memory")
            .queryName("sliding_stream")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), 'stream did not finish in time'
    stream = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM sliding_stream").collect()
    }
    max_ts = load_table(spark, SF, "events").agg(F.max("ts")).collect()[0][0]
    closed = {
        k: v
        for k, v in batch.items()
        if k[0] + timedelta(minutes=SLIDE_DUR_MIN) <= max_ts - timedelta(hours=1)
    }
    assert stream == closed
    assert len(closed) > 100


def test_stream_upsert_builds_latest_snapshot(spark):
    from hdfs_mapreduce_spark.sources.catalog import load_table
    from hdfs_mapreduce_spark.streaming.logtable import (
        snapshot,
        stream_upsert_events_logtable,
    )

    with tempfile.TemporaryDirectory() as root:
        state = f"{root}/state"
        q = (
            stream_upsert_events_logtable(
                spark, SF, state, checkpoint_dir=f"{root}/ckpt"
            )
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), 'stream did not finish in time'
        snap = snapshot(spark, state, "event_id")
        batch = load_table(spark, SF, "events")
        assert snap.count() == batch.select("event_id").distinct().count()
        # snapshot content equals the batch table exactly (both directions)
        cols = ["event_id", "user_id", "event_type", "value"]
        assert snap.select(cols).exceptAll(batch.select(cols)).count() == 0
        assert batch.select(cols).exceptAll(snap.select(cols)).count() == 0
        # re-running the same stream over the same source is a no-op: a
        # second availableNow pass with a fresh checkpoint restarts its
        # batch ids at 0 over the same rows, and the snapshot must not grow
        q2 = (
            stream_upsert_events_logtable(
                spark, SF, state, checkpoint_dir=f"{root}/ckpt2"
            )
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination(120)
        assert snapshot(spark, state, "event_id").count() == snap.count()


def test_stream_static_enrichment_equals_batch(spark):
    """Stream-static join: the streaming enrichment (event stream ⋈
    broadcast customer⋈nation) must equal its batch twin on every window
    the watermark has closed."""
    from datetime import timedelta

    from pyspark.sql import functions as F

    from hdfs_mapreduce_spark.sources.catalog import load_table
    from hdfs_mapreduce_spark.streaming.events import (
        enriched_event_stats,
        stream_enriched_event_stats,
    )

    batch = {
        (r["window_start"], r["n_name"]): (r["n_events"], r["sum_value"])
        for r in enriched_event_stats(spark, SF).collect()
    }
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            stream_enriched_event_stats(spark, SF, checkpoint_dir=ckpt)
            .format("memory")
            .queryName("enriched_stream")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), 'stream did not finish in time'
    stream = {
        (r["window_start"], r["n_name"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM enriched_stream").collect()
    }
    max_ts = load_table(spark, SF, "events").agg(F.max("ts")).collect()[0][0]
    closed = {
        k: v
        for k, v in batch.items()
        if k[0] + timedelta(hours=1) <= max_ts - timedelta(hours=1)
    }
    assert closed, "fixture must close at least one window"
    for k, v in closed.items():
        assert stream[k] == v
    assert set(stream).issubset(set(batch))


def test_bucketed_upsert_state_join_is_exchange_free_on_state_side(spark):
    """r2 verdict item 10: with state versions as bucketed managed tables,
    the per-batch anti-join must not shuffle the state relation — only
    the micro-batch hashes to align with the buckets. Broadcast is
    disabled so the assertion exercises the bucket path, not a broadcast
    join; a plain-parquet control state shows the Exchange the bucketing
    removes."""
    from pyspark.sql import functions as F

    from hdfs_mapreduce_spark.sources.catalog import load_table
    from hdfs_mapreduce_spark.streaming.events import (
        upsert_batch_into_bucketed_state,
    )

    events = load_table(spark, SF, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    b1 = events.filter(F.col("event_id") % 3 != 0)
    b2 = events.filter(F.col("event_id") % 2 == 0).withColumn(
        "value", F.col("value") + 1000.0
    )
    tbl = "upsert_bucket_test"
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        assert upsert_batch_into_bucketed_state(spark, b1, tbl, n_buckets=8) == 0
        assert upsert_batch_into_bucketed_state(spark, b2, tbl, n_buckets=8) == 1

        # correctness: batch-2 rows win on overlap, batch-1 rows survive
        snap = {r["event_id"]: r["value"] for r in spark.table(f"{tbl}_v1").collect()}
        expect = {r["event_id"]: r["value"] for r in b1.collect()}
        expect.update({r["event_id"]: r["value"] for r in b2.collect()})
        assert snap == expect

        # steady-state merge plan: bucketed state side shuffles nothing
        batch_keys = b2.select("event_id")
        bucketed_plan = (
            spark.table(f"{tbl}_v1")
            .join(batch_keys, "event_id", "left_anti")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert bucketed_plan.count("Exchange") == 1  # batch side only
        # control: identical join over unbucketed parquet state
        import tempfile

        with tempfile.TemporaryDirectory() as d:
            spark.table(f"{tbl}_v1").write.parquet(f"{d}/flat")
            flat_plan = (
                spark.read.parquet(f"{d}/flat")
                .join(batch_keys, "event_id", "left_anti")
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            assert flat_plan.count("Exchange") == 2  # both sides shuffle
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        for t in list(spark.catalog.listTables()):
            if t.name.startswith(tbl):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def test_bucketed_upsert_stream_equals_batch_distinct(spark):
    """End-to-end: the bucketed foreachBatch sink builds the same latest
    snapshot as the directory-versioned variant (batch table distinct)."""
    from hdfs_mapreduce_spark.sources.catalog import load_table
    from hdfs_mapreduce_spark.streaming.events import (
        read_bucketed_upsert_state,
        stream_upsert_events_bucketed,
    )

    tbl = "upsert_stream_bucket_test"
    try:
        with tempfile.TemporaryDirectory() as root:
            q = (
                stream_upsert_events_bucketed(
                    spark, SF, tbl, checkpoint_dir=f"{root}/ckpt", n_buckets=8
                )
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(120), 'stream did not finish in time'
            snap = read_bucketed_upsert_state(spark, tbl)
            batch = load_table(spark, SF, "events")
            assert snap.count() == batch.select("event_id").distinct().count()
            cols = ["event_id", "user_id", "event_type", "value"]
            assert snap.select(cols).exceptAll(batch.select(cols)).count() == 0
    finally:
        for t in list(spark.catalog.listTables()):
            if t.name.startswith(tbl):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def test_stream_cm_sketch_equals_batch_sketch_exactly(spark):
    """The streamed, per-batch-merged count-min sketch must equal the
    batch sketch of the whole events table cell for cell — mergeability
    carried through a live foreachBatch pipeline."""
    from pyspark.sql import functions as F

    from hdfs_mapreduce_spark.operators.sketches import cm_sketch
    from hdfs_mapreduce_spark.sources.catalog import load_table
    from hdfs_mapreduce_spark.streaming.events import stream_cm_sketch
    from hdfs_mapreduce_spark.streaming.logtable import latest_state

    with tempfile.TemporaryDirectory() as root:
        state = f"{root}/state"
        q = (
            stream_cm_sketch(spark, SF, state, checkpoint_dir=f"{root}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), 'stream did not finish in time'
        streamed = {
            (r["row"], r["bucket"]): r["cnt"]
            for r in latest_state(spark, state).collect()
        }
        events = load_table(spark, SF, "events")
        batch = {
            (r["row"], r["bucket"]): r["cnt"]
            for r in cm_sketch(
                events.select(
                    F.col("user_id").cast("string").alias("item")
                ),
                "item",
            ).collect()
        }
        assert streamed == batch


def test_cm_state_replay_and_partial_writes_are_safe(spark, tmp_path):
    """Recovery semantics of the additive sketch state: a replayed batch
    (same id as the newest committed version) must NOT double-count, a
    later batch must merge, and a partial write (an attempt dir no log
    record names — a crash mid-commit) must be invisible to both readers
    and mergers. A state with no committed version reads as None, not an
    IndexError."""
    import os

    from pyspark.sql import functions as F

    from hdfs_mapreduce_spark.streaming.events import (
        cm_merge_batch_into_state,
        read_bucketed_upsert_state,
    )
    from hdfs_mapreduce_spark.streaming.logtable import (
        _log_versions,
        latest_state,
    )

    def orphan(name):
        # a crashed attempt: real sketch rows, but no log record
        spark.createDataFrame(
            [(0, 0, 10**6)], "row int, bucket int, cnt long"
        ).write.parquet(os.path.join(state, "data", name))

    state = str(tmp_path / "cm_state")
    # nothing committed yet (an availableNow run that saw no files)
    assert latest_state(spark, state) is None
    assert read_bucketed_upsert_state(spark, "cm_state_never_written") is None
    # only a partial first commit (crash mid-commit of batch 0)
    orphan("a000000000000")
    assert latest_state(spark, state) is None
    b0 = spark.range(100).select(F.col("id").alias("user_id"))
    assert cm_merge_batch_into_state(spark, b0, state, batch_id=0)
    snap0 = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in latest_state(spark, state).collect()
    }
    # at-least-once replay of batch 0: skipped, state unchanged
    assert not cm_merge_batch_into_state(spark, b0, state, batch_id=0)
    assert {
        (r["row"], r["bucket"]): r["cnt"]
        for r in latest_state(spark, state).collect()
    } == snap0
    # a partial commit (crash mid-commit: no log record) is invisible
    orphan("a999999999999")
    assert [e[0] for e in _log_versions(spark, state)] == [0]
    # batch 1 merges on top of the committed v0, ignoring the partial
    b1 = spark.range(50).select(F.col("id").alias("user_id"))
    assert cm_merge_batch_into_state(spark, b1, state, batch_id=1)
    total0 = sum(snap0.values())
    total1 = sum(
        r["cnt"] for r in latest_state(spark, state).collect()
    )
    assert total1 == total0 + 50 * 4  # depth=4 cells per item


def test_stream_heavy_hitters_respects_mg_bounds(spark):
    """The streamed Misra-Gries state must honor the global MG contract
    against the batch truth: <= k rows, never overestimates, error
    within N/(k+1), every above-threshold item present."""
    from pyspark.sql import functions as F

    from hdfs_mapreduce_spark.sources.catalog import load_table
    from hdfs_mapreduce_spark.streaming.events import stream_heavy_hitters
    from hdfs_mapreduce_spark.streaming.logtable import latest_state

    k = 8
    with tempfile.TemporaryDirectory() as root:
        q = (
            stream_heavy_hitters(
                spark, SF, f"{root}/state",
                checkpoint_dir=f"{root}/ckpt", col="event_type", k=k,
            )
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), 'stream did not finish in time'
        got = {
            r["item"]: r["cnt"]
            for r in latest_state(spark, f"{root}/state").collect()
        }
        events = load_table(spark, SF, "events")
        truth = {
            str(r["event_type"]): r["n"]
            for r in events.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        n_total = sum(truth.values())
        bound = n_total // (k + 1)
        assert len(got) <= k
        for item, est in got.items():
            assert est <= truth[item]
            assert truth[item] - est <= bound
        for item, n in truth.items():
            if n > bound:
                assert item in got


def test_mg_state_replay_is_skipped(spark, tmp_path):
    """The Misra-Gries sink commits through the logtable like the
    count-min sink: a replayed batch (same id as the newest committed
    version) must not re-subtract into the state."""
    from pyspark.sql import functions as F

    from hdfs_mapreduce_spark.streaming.events import mg_merge_batch_into_state
    from hdfs_mapreduce_spark.streaming.logtable import latest_state

    state = str(tmp_path / "mg_state")
    b0 = spark.range(100).select((F.col("id") % 5).alias("user_id"))
    assert mg_merge_batch_into_state(spark, b0, state, batch_id=0, k=8)
    snap = {
        r["item"]: r["cnt"]
        for r in latest_state(spark, state).collect()
    }
    assert not mg_merge_batch_into_state(spark, b0, state, batch_id=0, k=8)
    assert {
        r["item"]: r["cnt"]
        for r in latest_state(spark, state).collect()
    } == snap
    assert mg_merge_batch_into_state(spark, b0, state, batch_id=1, k=8)
    grown = {
        r["item"]: r["cnt"]
        for r in latest_state(spark, state).collect()
    }
    assert sum(grown.values()) > sum(snap.values())


def test_stream_pq_encode_equals_batch(spark):
    """PQ encode is map-only, so it composes with Structured Streaming
    unchanged: streaming the embeddings parquet through the same
    mapInPandas kernel yields exactly the batch codes. (Codebooks come
    from the batch table — the fit-once-broadcast model discipline; the
    stream is the data plane only.)"""
    import os
    import shutil
    import tempfile

    from hdfs_mapreduce_spark.operators.similarity import pq_encode
    from hdfs_mapreduce_spark.sources.catalog import load_table

    batch_df = load_table(spark, SF, "embeddings")
    batch = {
        (r["vid"], r["s"]): (r["code"], r["sq_err"])
        for r in pq_encode(batch_df).collect()
    }
    with tempfile.TemporaryDirectory() as work:
        # file streams need a DIRECTORY source
        src = os.path.join(work, "stream_src")
        os.makedirs(src)
        shutil.copyfile(
            f"{SF}/embeddings.parquet", os.path.join(src, "part-0.parquet")
        )
        ckpt = os.path.join(work, "ckpt")
        stream_in = (
            spark.readStream.schema(batch_df.schema)
            .format("parquet")
            .load(src)
        )
        q = (
            pq_encode(stream_in, codebook_source=batch_df)
            .writeStream.format("memory")
            .queryName("pq_stream")
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), 'stream did not finish in time'
    stream = {
        (r["vid"], r["s"]): (r["code"], r["sq_err"])
        for r in spark.sql("SELECT * FROM pq_stream").collect()
    }
    assert stream == batch and len(batch) > 0


def test_stream_dedup_ingest_admits_exactly_the_sequential_result(spark):
    """The online dedup loop: 3 micro-batches streamed through
    foreachBatch must admit exactly the docs the same operators admit
    when applied sequentially batch-by-batch; replaying a batch must not
    change the state (its batch id is already in the sketch log)."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from hdfs_mapreduce_spark.operators.dedup import (
        _banded_sketch,
        incremental_pairs_against_sketch,
        minhash_pairs,
    )
    from hdfs_mapreduce_spark.sources.catalog import load_table
    from hdfs_mapreduce_spark.streaming.dedup import (
        dedup_ingest_batch,
        read_accepted,
        stream_dedup_ingest,
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    n = docs.count()
    thirds = [
        docs.filter(F.col("doc_id") % 3 == i).persist() for i in range(3)
    ]
    # sequential reference: same operators, driven by hand
    admitted = []
    corpus = None
    survs = []  # unpersisted at the end — the corpus lineage reads them
    for part in thirds:
        surv = part
        if corpus is not None:
            dup = incremental_pairs_against_sketch(
                corpus, surv, "doc_id", "text", 0.5
            ).select(F.col("new_doc").alias("doc_id")).distinct()
            surv = surv.join(dup, "doc_id", "left_anti")
        pairs = minhash_pairs(surv, "doc_id", "text", 0.5)
        surv = surv.join(
            pairs.select(F.col("doc_b").alias("doc_id")).distinct(),
            "doc_id",
            "left_anti",
        ).persist()
        survs.append(surv)
        admitted.extend(r["doc_id"] for r in surv.select("doc_id").collect())
        sk = _banded_sketch(surv, "doc_id", "text")
        corpus = sk if corpus is None else corpus.unionByName(sk)
    expected = sorted(admitted)
    assert 0 < len(expected) <= n

    with tempfile.TemporaryDirectory() as work:
        src = os.path.join(work, "src")
        os.makedirs(src)
        # one file per third → maxFilesPerTrigger=1 gives 3 micro-batches
        # in file order (batch ids 0, 1, 2)
        for i, part in enumerate(thirds):
            part.coalesce(1).write.parquet(os.path.join(work, f"tmp{i}"))
            pf = [
                f
                for f in os.listdir(os.path.join(work, f"tmp{i}"))
                if f.endswith(".parquet")
            ][0]
            shutil.copyfile(
                os.path.join(work, f"tmp{i}", pf),
                os.path.join(src, f"part-{i}.parquet"),
            )
        state = os.path.join(work, "state")
        stream_in = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = stream_dedup_ingest(
            stream_in, state, os.path.join(work, "ckpt")
        ).trigger(availableNow=True).start()
        assert q.awaitTermination(180), 'stream did not finish in time'
        got = sorted(
            r["doc_id"]
            for r in read_accepted(spark, state).select("doc_id").collect()
        )
        assert got == expected
        # replay batch 2 (crash-recovery path): state must be unchanged
        dedup_ingest_batch(thirds[2], 2, state, "doc_id", "text", 0.5)
        again = sorted(
            r["doc_id"]
            for r in read_accepted(spark, state).select("doc_id").collect()
        )
        assert again == got
    for t in thirds + survs:
        t.unpersist()


def test_concurrent_scratch_dirs_never_collide(spark):
    """plans/streaming_plans._scratch draws its per-invocation suffix from
    itertools.count (GIL-atomic next()); two threads building streaming
    plans concurrently must get distinct scratch dirs (round-5 verdict:
    the previous bare ``global += 1`` could race between read and
    write)."""
    import threading

    from hdfs_mapreduce_spark.plans.streaming_plans import _scratch

    dirs: list[str] = []
    lock = threading.Lock()

    def build():
        got = [_scratch(spark, "racecheck", SF) for _ in range(50)]
        with lock:
            dirs.extend(got)

    threads = [threading.Thread(target=build) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(dirs) == 200
    assert len(set(dirs)) == 200, "scratch suffix collision across threads"


def test_state_dirs_accept_file_scheme_uris(spark, tmp_path):
    """Round-5 verdict item 2: state management must work against any
    Hadoop-resolvable URI, not just local paths. Driving the upsert sink
    and the online dedup loop with ``file://`` state dirs proves no
    ``os.*`` call remains on the state path (os.listdir("file:///x")
    would raise FileNotFoundError — the scheme prefix is opaque to the
    local-FS functions, so only the Hadoop FS API can resolve it)."""
    import os

    from pyspark.sql import functions as F

    from hdfs_mapreduce_spark.sources.catalog import load_table
    from hdfs_mapreduce_spark.streaming.dedup import (
        dedup_ingest_batch,
        read_accepted,
    )
    from hdfs_mapreduce_spark.streaming.logtable import (
        _log_versions,
        snapshot,
        stream_upsert_events_logtable,
    )

    # --- upsert sink, state behind file:// ---------------------------------
    state_uri = f"file://{tmp_path}/upsert_state"
    q = (
        stream_upsert_events_logtable(
            spark, SF, state_uri, checkpoint_dir=str(tmp_path / "ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    n_events = load_table(spark, SF, "events").count()
    snap = snapshot(spark, state_uri, "event_id")
    assert snap.count() == n_events
    assert snap.select("event_id").distinct().count() == n_events
    # a partial commit (an attempt dir no log record names) behind the
    # URI stays invisible
    os.makedirs(tmp_path / "upsert_state" / "data" / "a9", exist_ok=True)
    assert [e[0] for e in _log_versions(spark, state_uri)] == [0]
    assert snapshot(spark, state_uri, "event_id").count() == n_events

    # --- online dedup loop, state behind file:// ---------------------------
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    dstate = f"file://{tmp_path}/dedup_state"
    halves = [docs.filter(F.col("doc_id") % 2 == i) for i in range(2)]
    dedup_ingest_batch(halves[0], 0, dstate)
    dedup_ingest_batch(halves[1], 1, dstate)
    accepted = read_accepted(spark, dstate)
    assert accepted is not None
    n_accepted = accepted.count()
    assert 0 < n_accepted <= docs.count()
    # replay of batch 1 must be a content no-op through the URI as well
    dedup_ingest_batch(halves[1], 1, dstate)
    assert read_accepted(spark, dstate).count() == n_accepted


def test_stream_session_window_equals_batch(spark):
    """Native session_window streaming agg ≡ its batch twin on the closed
    region (sessions whose end is strictly before max_ts − watermark)."""
    from datetime import timedelta

    from pyspark.sql import functions as F

    from hdfs_mapreduce_spark.sources.catalog import load_table
    from hdfs_mapreduce_spark.streaming.events import (
        session_window_stats,
        stream_session_window_stats,
    )

    batch = {
        (r["user_id"], r["session_start"]): (
            r["session_end"],
            r["n_events"],
            r["sum_value"],
        )
        for r in session_window_stats(spark, SF).collect()
    }
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            stream_session_window_stats(spark, SF, checkpoint_dir=ckpt)
            .format("memory")
            .queryName("session_window_stream")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "stream did not finish in time"
    stream = {
        (r["user_id"], r["session_start"]): (
            r["session_end"],
            r["n_events"],
            r["sum_value"],
        )
        for r in spark.sql("SELECT * FROM session_window_stream").collect()
    }
    from pyspark.sql import functions as F  # noqa: F811

    max_ts = load_table(spark, SF, "events").agg(F.max("ts")).collect()[0][0]
    closed = {
        k: v for k, v in batch.items() if v[0] < max_ts - timedelta(hours=1)
    }
    # every closed session must have been emitted identically; the stream
    # may additionally hold back nothing else on the closed region
    assert {k: stream[k] for k in closed} == closed
    assert all(k in stream for k in closed)
    assert len(closed) > 50


def test_dedup_ingest_state_pins_its_band_shape(spark, tmp_path):
    """The state sketch's b/r point is a LIFETIME property of the state
    dir: the first batch picks it (wide 32x8 here), later batches that
    omit the shape ADOPT it from the stored state (so restarts need no
    config), and a later batch passing a mismatched explicit shape
    raises through the probe gate instead of silently partitioning the
    candidate space."""
    import pytest
    from pyspark.sql import functions as F

    import hdfs_mapreduce_spark.operators.dedup as dd
    from hdfs_mapreduce_spark.sources.catalog import load_table
    from hdfs_mapreduce_spark.streaming.dedup import dedup_ingest_batch
    from hdfs_mapreduce_spark.streaming.logtable import latest_state

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    halves = [docs.filter(F.col("doc_id") % 2 == i) for i in range(2)]
    state = str(tmp_path / "wide_state")
    dedup_ingest_batch(
        halves[0], 0, state, n_perm=dd.WIDE_PERM, n_bands=dd.WIDE_BANDS
    )
    sk = latest_state(spark, state + "/sketch")
    row = sk.select("rpb", "bkeys").limit(1).collect()[0]
    assert (row["rpb"] * len(row["bkeys"]), len(row["bkeys"])) == (
        dd.WIDE_PERM,
        dd.WIDE_BANDS,
    )
    # omitted shape: adopted from state — batch 1's sketch is wide too
    dedup_ingest_batch(halves[1], 1, state)
    sk1 = latest_state(spark, state + "/sketch")
    row1 = sk1.select("rpb", "bkeys").limit(1).collect()[0]
    assert row1["rpb"] == dd.WIDE_PERM // dd.WIDE_BANDS
    assert len(row1["bkeys"]) == dd.WIDE_BANDS
    # mismatched explicit shape on existing state: loud failure
    with pytest.raises(ValueError, match="shape mismatch"):
        dedup_ingest_batch(
            halves[1], 2, state, n_perm=dd.N_PERM, n_bands=dd.N_BANDS
        )


def test_dedup_ingest_empty_first_batch_does_not_wedge(spark, tmp_path):
    """Round-10 ADVICE: an empty micro-batch 0 commits a 0-row sketch
    version; later default-shape batches must fall back to the module
    defaults instead of failing shape adoption forever (the raise would
    recur on every replay — a permanently wedged stream). The first
    NON-empty batch is what fixes the state's lifetime b/r point."""
    from pyspark.sql import functions as F

    import hdfs_mapreduce_spark.operators.dedup as dd
    from hdfs_mapreduce_spark.sources.catalog import load_table
    from hdfs_mapreduce_spark.streaming.dedup import (
        dedup_ingest_batch,
        read_accepted,
    )
    from hdfs_mapreduce_spark.streaming.logtable import latest_state, snapshot

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    state = str(tmp_path / "empty_first")
    dedup_ingest_batch(docs.filter(F.lit(False)), 0, state)  # empty batch
    dedup_ingest_batch(docs, 1, state)  # must not raise
    sk1 = latest_state(spark, state + "/sketch")
    row = sk1.select("rpb", "bkeys").limit(1).collect()[0]
    assert row["rpb"] == dd.N_PERM // dd.N_BANDS
    assert len(row["bkeys"]) == dd.N_BANDS
    assert read_accepted(spark, state).count() > 0
    # and adoption works from then on (batch 2 omits the shape too)
    dedup_ingest_batch(docs.filter("doc_id % 7 = 0"), 2, state)
    assert snapshot(spark, state + "/sketch", None) is not None


def test_dedup_ingest_empty_batch_preserves_wide_pin_across_restart(
    spark, tmp_path
):
    """r11 ADVICE: the lifetime b/r point is recorded in the sketch
    record on FIRST ingest even when the batch is empty, so a restart that
    omits the explicit wide values adopts the pinned shape instead of
    silently downgrading to the narrow default — and an explicit
    mismatch after an empty first batch raises instead of re-pinning."""
    import pytest
    from pyspark.sql import functions as F

    import hdfs_mapreduce_spark.operators.dedup as dd
    from hdfs_mapreduce_spark.sources.catalog import load_table
    from hdfs_mapreduce_spark.streaming.dedup import dedup_ingest_batch
    from hdfs_mapreduce_spark.streaming.logtable import latest_state

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    state = str(tmp_path / "wide_empty_first")
    # stream start: explicit wide, but batch 0 admits nothing
    dedup_ingest_batch(
        docs.filter(F.lit(False)), 0, state,
        n_perm=dd.WIDE_PERM, n_bands=dd.WIDE_BANDS,
    )
    # restart omits the shape (the documented deployment pattern)
    dedup_ingest_batch(docs, 1, state)
    sk1 = latest_state(spark, state + "/sketch")
    row = sk1.select("rpb", "bkeys").limit(1).collect()[0]
    assert row["rpb"] == dd.WIDE_PERM // dd.WIDE_BANDS
    assert len(row["bkeys"]) == dd.WIDE_BANDS
    # explicit narrow against the pinned-but-still-rowless state: loud
    state2 = str(tmp_path / "wide_empty_mismatch")
    dedup_ingest_batch(
        docs.filter(F.lit(False)), 0, state2,
        n_perm=dd.WIDE_PERM, n_bands=dd.WIDE_BANDS,
    )
    with pytest.raises(ValueError, match="shape mismatch"):
        dedup_ingest_batch(
            docs, 1, state2, n_perm=dd.N_PERM, n_bands=dd.N_BANDS
        )


def test_dedup_ingest_state_without_recorded_shape_raises_until_resketched(
    spark, tmp_path
):
    """A sketch log whose records carry no b/r shape (a state written
    before sketch records recorded one) fails the ingest loudly before
    anything is written, instead of probing at a guessed shape that
    could join nothing; resketch_state records the shape and the ingest
    then proceeds."""
    import json
    import os

    import pytest
    from pyspark.sql import functions as F

    import hdfs_mapreduce_spark.operators.dedup as dd
    from hdfs_mapreduce_spark.sources.catalog import load_table
    from hdfs_mapreduce_spark.streaming.dedup import (
        dedup_ingest_batch,
        read_accepted,
        resketch_state,
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    halves = [docs.filter(F.col("doc_id") % 2 == i) for i in range(2)]
    state = str(tmp_path / "unrecorded")
    dedup_ingest_batch(halves[0], 0, state)
    record = os.path.join(state, "sketch", "_log", "v0.commit")
    with open(record) as f:
        rec = json.load(f)
    del rec["meta"]
    with open(record, "w") as f:
        json.dump(rec, f)
    # the plain-Python rewrite invalidates Hadoop LocalFS's .crc sidecar
    crc = os.path.join(state, "sketch", "_log", ".v0.commit.crc")
    if os.path.exists(crc):
        os.remove(crc)
    n_accepted = read_accepted(spark, state).count()
    with pytest.raises(ValueError, match="records no b/r shape"):
        dedup_ingest_batch(halves[1], 1, state)
    assert read_accepted(spark, state).count() == n_accepted
    resketch_state(spark, state, dd.N_PERM, dd.N_BANDS)
    dedup_ingest_batch(halves[1], 1, state)
    assert read_accepted(spark, state).count() > n_accepted


def test_dedup_state_dir_with_glob_metacharacters(spark, tmp_path):
    """r11 ADVICE: the state log's scans escape the literal state root,
    so state dirs named with { } [ ] — legal in file names — read their
    live versions correctly instead of being parsed as a pattern, and a
    replayed batch no-ops there as well."""
    from pyspark.sql import functions as F

    from hdfs_mapreduce_spark.sources.catalog import load_table
    from hdfs_mapreduce_spark.streaming.dedup import (
        dedup_ingest_batch,
        read_accepted,
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    halves = [docs.filter(F.col("doc_id") % 2 == i) for i in range(2)]
    state = str(tmp_path / "run{a}[0]")
    dedup_ingest_batch(halves[0], 0, state)
    dedup_ingest_batch(halves[1], 1, state)
    dedup_ingest_batch(halves[1], 1, state)  # replay: a no-op
    plain = str(tmp_path / "run_plain")
    dedup_ingest_batch(halves[0], 0, plain)
    dedup_ingest_batch(halves[1], 1, plain)
    got = [r["doc_id"] for r in read_accepted(spark, state).collect()]
    want = [r["doc_id"] for r in read_accepted(spark, plain).collect()]
    assert sorted(got) == sorted(want) and got, (
        "metachar state dir diverged from plain"
    )


def test_dedup_ingest_batch_resolves_shape_once(spark, tmp_path, monkeypatch):
    """No driver-side shape probe per micro-batch: dedup_ingest_batch
    reads the state's b/r shape from the sketch log it already reads
    (resolve_sketch_shape is called 0 times, under any name), builds the
    batch sketch exactly once, and derives the corpus probe from the
    pre-built sketch (no sample job, no re-sketching)."""
    from pyspark.sql import functions as F

    import hdfs_mapreduce_spark.operators.dedup as dd
    import hdfs_mapreduce_spark.streaming.dedup as sd
    from hdfs_mapreduce_spark.sources.catalog import load_table

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    halves = [docs.filter(F.col("doc_id") % 2 == i) for i in range(2)]
    state = str(tmp_path / "probe_once")
    sd.dedup_ingest_batch(halves[0], 0, state)

    calls = {"resolve": 0, "sketch": 0, "probe": 0}
    orig_resolve = dd.resolve_sketch_shape
    orig_sketch = sd._banded_sketch
    orig_probe = sd._probe_pairs_from_sketches

    def counting_resolve(*a, **k):
        calls["resolve"] += 1
        return orig_resolve(*a, **k)

    def counting_sketch(*a, **k):
        calls["sketch"] += 1
        return orig_sketch(*a, **k)

    def counting_probe(*a, **k):
        calls["probe"] += 1
        return orig_probe(*a, **k)

    for mod in (dd, sd):
        if hasattr(mod, "resolve_sketch_shape"):
            monkeypatch.setattr(mod, "resolve_sketch_shape", counting_resolve)
    monkeypatch.setattr(sd, "_banded_sketch", counting_sketch)
    monkeypatch.setattr(sd, "_probe_pairs_from_sketches", counting_probe)
    sd.dedup_ingest_batch(halves[1], 1, state)
    assert calls == {"resolve": 0, "sketch": 1, "probe": 1}


def test_resketch_state_matches_wide_from_scratch(spark, tmp_path):
    """resketch_state migrates the state sketch to the wide b/r point:
    after resketching a default-shape state, subsequent admission
    decisions equal a state that ran WIDE from scratch; the rebuilt
    sketch is one full-state version whose log record carries the new
    shape;
    replay idempotence survives the migration; and
    resketch_recommended flags exactly the narrow-state-past-bound
    case."""
    from pyspark.sql import functions as F

    import hdfs_mapreduce_spark.operators.dedup as dd
    from hdfs_mapreduce_spark.sources.catalog import load_table
    from hdfs_mapreduce_spark.streaming.dedup import (
        dedup_ingest_batch,
        read_accepted,
        resketch_recommended,
        resketch_state,
    )
    from hdfs_mapreduce_spark.streaming.logtable import (
        _live,
        _log_versions,
        snapshot,
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    thirds = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]

    def accepted_ids(state):
        return sorted(
            r["doc_id"]
            for r in read_accepted(spark, state).select("doc_id").collect()
        )

    # reference: wide point from the very first batch
    wide = str(tmp_path / "wide")
    for i in range(3):
        dedup_ingest_batch(
            thirds[i], i, wide, n_perm=dd.WIDE_PERM, n_bands=dd.WIDE_BANDS
        )

    # migrated: two default-shape batches, resketch, then batch 2
    mig = str(tmp_path / "mig")
    dedup_ingest_batch(thirds[0], 0, mig)
    dedup_ingest_batch(thirds[1], 1, mig)
    # narrow state below the bound: no advisory; past the bound: advisory
    assert resketch_recommended(spark, mig) is False
    assert resketch_recommended(spark, mig, wide_min_docs=1) is True
    assert resketch_state(
        spark, mig, dd.WIDE_PERM, dd.WIDE_BANDS
    ) == (dd.WIDE_PERM, dd.WIDE_BANDS)
    # stored shape is wide now: one live full-state sketch version, and
    # its log record carries the shape
    sk = snapshot(spark, mig + "/sketch", None)
    assert dd.resolve_sketch_shape(sk) == (dd.WIDE_PERM, dd.WIDE_BANDS)
    sketch_log = _log_versions(spark, mig + "/sketch")
    assert len(_live(sketch_log)) == 1
    assert sketch_log[-1].meta == {
        "n_perm": dd.WIDE_PERM,
        "n_bands": dd.WIDE_BANDS,
    }
    # a wide state never recommends again
    assert resketch_recommended(spark, mig, wide_min_docs=1) is False
    dedup_ingest_batch(thirds[2], 2, mig)  # adopts the wide shape
    assert accepted_ids(mig) == accepted_ids(wide)
    # replay of the last batch after migration is still a no-op
    dedup_ingest_batch(thirds[2], 2, mig)
    assert accepted_ids(mig) == accepted_ids(wide)


def test_resketch_interrupted_swap_guards_and_recovers(
    spark, tmp_path, monkeypatch
):
    """A resketch that crashes after its rebuild is written but before
    its log record lands leaves the old sketch live and the rebuild an
    invisible attempt dir: the probe never sees a mixed-shape sketch (a
    single-row shape sample cannot detect one), and re-running
    resketch_state completes the migration."""
    import os

    import pytest
    from pyspark.sql import functions as F

    import hdfs_mapreduce_spark.operators.dedup as dd
    import hdfs_mapreduce_spark.streaming.dedup as sd
    import hdfs_mapreduce_spark.streaming.logtable as lt
    from hdfs_mapreduce_spark.sources.catalog import load_table
    from hdfs_mapreduce_spark.streaming.dedup import (
        dedup_ingest_batch,
        resketch_state,
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    state = str(tmp_path / "interrupted")
    dedup_ingest_batch(docs.filter(F.col("doc_id") % 2 == 0), 0, state)

    def crash(*a, **k):
        raise RuntimeError("injected crash before the resketch record")

    # resketch_state publishes its record through the _publish that
    # streaming/dedup.py imports
    monkeypatch.setattr(sd, "_publish", crash)
    with pytest.raises(RuntimeError, match="injected"):
        resketch_state(spark, state, dd.WIDE_PERM, dd.WIDE_BANDS)
    monkeypatch.undo()
    # the rebuild's attempt dir exists but the live sketch is the old one
    assert len(os.listdir(os.path.join(state, "sketch", "data"))) == 2
    sk = lt.snapshot(spark, state + "/sketch", None)
    assert dd.resolve_sketch_shape(sk) == (dd.N_PERM, dd.N_BANDS)
    # re-running the verb completes the migration
    resketch_state(spark, state, dd.WIDE_PERM, dd.WIDE_BANDS)
    sk = lt.snapshot(spark, state + "/sketch", None)
    assert dd.resolve_sketch_shape(sk) == (dd.WIDE_PERM, dd.WIDE_BANDS)
    # ingest adopts the migrated shape
    dedup_ingest_batch(docs.filter(F.col("doc_id") % 2 == 1), 1, state)
    sk1 = lt.latest_state(spark, state + "/sketch")
    row = sk1.select("rpb", "bkeys").limit(1).collect()[0]
    assert len(row["bkeys"]) == dd.WIDE_BANDS


def test_compact_state_preserves_admissions_and_bounds_dirs(spark, tmp_path):
    """compact_state merges each state table's live versions into one
    compaction commit: admission decisions are unchanged (the merged
    version holds exactly the rows it replaces), the live-version count
    drops to one per table, a second run finds nothing to merge, and a
    replay of the newest batch is still a no-op."""
    from pyspark.sql import functions as F

    from hdfs_mapreduce_spark.sources.catalog import load_table
    from hdfs_mapreduce_spark.streaming.dedup import (
        compact_state,
        dedup_ingest_batch,
        read_accepted,
    )
    from hdfs_mapreduce_spark.streaming.logtable import _live, _log_versions

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    parts = [docs.filter(F.col("doc_id") % 4 == i) for i in range(4)]

    def ids(state):
        return sorted(
            r["doc_id"]
            for r in read_accepted(spark, state).select("doc_id").collect()
        )

    plain = str(tmp_path / "plain")
    for i in range(4):
        dedup_ingest_batch(parts[i], i, plain)

    comp = str(tmp_path / "comp")
    for i in range(3):
        dedup_ingest_batch(parts[i], i, comp)
    assert compact_state(spark, comp) == [0, 1, 2]
    for sub in ("accepted", "sketch"):
        live = _live(_log_versions(spark, f"{comp}/{sub}"))
        assert [e[2] for e in live] == ["compact"], (sub, live)
    assert compact_state(spark, comp) == []  # one live version: no-op
    dedup_ingest_batch(parts[2], 2, comp)  # replay after compaction
    assert len(_log_versions(spark, f"{comp}/sketch")) == 4
    dedup_ingest_batch(parts[3], 3, comp)
    assert ids(comp) == ids(plain)
    dedup_ingest_batch(parts[3], 3, comp)  # replay: still a no-op
    assert ids(comp) == ids(plain)


def test_compact_state_interrupted_swap_guards_and_recovers(
    spark, tmp_path, monkeypatch
):
    """A compaction that crashes after the accepted table's compaction
    record lands and before the sketch table's leaves one table merged
    and the other not, plus an invisible attempt dir: ingest runs on
    with admissions unchanged, and re-running compact_state finishes
    the merge."""
    import pytest
    from pyspark.sql import functions as F

    import hdfs_mapreduce_spark.streaming.dedup as sd
    from hdfs_mapreduce_spark.sources.catalog import load_table
    from hdfs_mapreduce_spark.streaming.logtable import _live, _log_versions

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    parts = [docs.filter(F.col("doc_id") % 4 == i) for i in range(4)]

    plain = str(tmp_path / "plain")
    comp = str(tmp_path / "comp")
    for i in range(3):
        dedup = sd.dedup_ingest_batch
        dedup(parts[i], i, plain)
        dedup(parts[i], i, comp)

    real_publish = sd._publish

    def crashing_publish(spark_, root, *a, **k):
        if root.endswith("sketch"):
            raise RuntimeError("injected crash between the two records")
        return real_publish(spark_, root, *a, **k)

    monkeypatch.setattr(sd, "_publish", crashing_publish)
    with pytest.raises(RuntimeError, match="injected"):
        sd.compact_state(spark, comp)
    monkeypatch.setattr(sd, "_publish", real_publish)

    def n_live(state, sub):
        return len(_live(_log_versions(spark, f"{state}/{sub}")))

    assert (n_live(comp, "accepted"), n_live(comp, "sketch")) == (1, 3)
    sd.dedup_ingest_batch(parts[3], 3, comp)
    sd.dedup_ingest_batch(parts[3], 3, plain)
    assert sd.compact_state(spark, comp) == [0, 1, 2, 3]
    assert (n_live(comp, "accepted"), n_live(comp, "sketch")) == (1, 1)

    def ids(state):
        return sorted(
            r["doc_id"]
            for r in sd.read_accepted(spark, state).select("doc_id").collect()
        )

    assert ids(comp) == ids(plain)


def test_maintenance_verbs_compose_with_empty_batches(spark, tmp_path):
    """The round-11 maintenance verbs compose on one state dir, through
    the awkward corners: empty early batches (no shape recorded), a
    resketch over a state whose early versions hold no rows, then a
    compaction that merges the resketch's full-state version with a
    later batch and the accepted table's empty versions, then more
    ingest — admissions must equal a plain wide-from-scratch run
    throughout."""
    from pyspark.sql import functions as F

    import hdfs_mapreduce_spark.operators.dedup as dd
    from hdfs_mapreduce_spark.sources.catalog import load_table
    from hdfs_mapreduce_spark.streaming.dedup import (
        compact_state,
        dedup_ingest_batch,
        read_accepted,
        resketch_state,
    )
    from hdfs_mapreduce_spark.streaming.logtable import snapshot

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    empty = docs.filter(F.lit(False))
    halves = [docs.filter(F.col("doc_id") % 2 == i) for i in range(2)]

    state = str(tmp_path / "compose")
    dedup_ingest_batch(empty, 0, state)  # defaults apply, nothing stored
    dedup_ingest_batch(empty, 1, state)
    dedup_ingest_batch(halves[0], 2, state)
    resketch_state(spark, state, dd.WIDE_PERM, dd.WIDE_BANDS)
    dedup_ingest_batch(halves[1], 3, state)
    # the sketch's live versions are the resketch (batches 0-2) and
    # batch 3; the accepted table's are batches 0-3
    assert compact_state(spark, state) == [0, 1, 2, 3]
    sk = snapshot(spark, state + "/sketch", None)
    assert dd.resolve_sketch_shape(sk) == (dd.WIDE_PERM, dd.WIDE_BANDS)
    dedup_ingest_batch(halves[0], 4, state)  # replays half 0: all dups

    wide = str(tmp_path / "wide_ref")
    dedup_ingest_batch(
        halves[0], 0, wide, n_perm=dd.WIDE_PERM, n_bands=dd.WIDE_BANDS
    )
    dedup_ingest_batch(halves[1], 1, wide)

    def ids(st):
        return sorted(
            r["doc_id"]
            for r in read_accepted(spark, st).select("doc_id").collect()
        )

    assert ids(state) == ids(wide)


def test_tiered_compact_bounds_per_run_input_and_converges(spark, tmp_path):
    """r11 verdict 'What's missing' #4: max_batches_per_run bounds each
    compaction to the N smallest live versions of a table (size-tiered),
    repeated tiered runs converge to the same single live version as one
    untiered run, and admissions are unchanged throughout."""
    from pyspark.sql import functions as F

    from hdfs_mapreduce_spark.sources.catalog import load_table
    from hdfs_mapreduce_spark.streaming.dedup import (
        compact_state,
        dedup_ingest_batch,
        read_accepted,
    )
    from hdfs_mapreduce_spark.streaming.logtable import _live, _log_versions

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    parts = [docs.filter(F.col("doc_id") % 6 == i) for i in range(6)]

    plain = str(tmp_path / "plain")
    tier = str(tmp_path / "tier")
    for i in range(6):
        dedup_ingest_batch(parts[i], i, plain)
        dedup_ingest_batch(parts[i], i, tier)

    def ids(state):
        return sorted(
            r["doc_id"]
            for r in read_accepted(spark, state).select("doc_id").collect()
        )

    def n_live(sub):
        return len(_live(_log_versions(spark, f"{tier}/{sub}")))

    want = ids(plain)
    runs = []
    while True:
        before = {sub: n_live(sub) for sub in ("accepted", "sketch")}
        merged = compact_state(spark, tier, max_batches_per_run=2)
        if not merged:
            break
        runs.append(merged)
        for sub, n in before.items():
            # a merge of at most 2 versions removes at most 1 live one
            assert n - n_live(sub) <= 1, f"tier bound violated in {sub}"
        assert ids(tier) == want, f"admissions changed after {merged}"
    # 6 live versions at tier 2 -> strictly more than one run needed,
    # and the end state matches the one-shot full merge: a single live
    # version per table
    assert len(runs) >= 2
    assert (n_live("accepted"), n_live("sketch")) == (1, 1)
    # future ingest over the tiered state is unaffected
    dedup_ingest_batch(parts[0], 6, tier)  # pure replay content: all dups
    assert ids(tier) == want
    import pytest

    with pytest.raises(ValueError, match="max_batches_per_run"):
        compact_state(spark, tier, max_batches_per_run=1)


def test_sink_self_compaction_bounds_dirs_with_admissions_unchanged(
    spark, tmp_path
):
    """Sink-integrated maintenance (r11 verdict Next #3): a long stream
    of micro-batches through dedup_ingest_batch_maintained with
    compact_every=K keeps the live-version count bounded (never more
    than K live accepted versions) while admitting exactly what the
    unmaintained sink admits; a replayed batch id never double-compacts
    (the cadence re-fires into a no-op and the log does not grow)."""
    from pyspark.sql import functions as F

    from hdfs_mapreduce_spark.sources.catalog import load_table
    from hdfs_mapreduce_spark.streaming.dedup import (
        dedup_ingest_batch,
        dedup_ingest_batch_maintained,
        read_accepted,
    )
    from hdfs_mapreduce_spark.streaming.logtable import _live, _log_versions

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    n_batches, k = 12, 3
    parts = [
        docs.filter(F.col("doc_id") % n_batches == i) for i in range(n_batches)
    ]

    plain = str(tmp_path / "plain")
    kept = str(tmp_path / "maintained")
    max_live = 0
    for i in range(n_batches):
        dedup_ingest_batch(parts[i], i, plain)
        dedup_ingest_batch_maintained(
            parts[i], i, kept, compact_every=k, compact_max_batches=4
        )
        n_live = len(_live(_log_versions(spark, kept + "/accepted")))
        max_live = max(max_live, n_live)
    assert max_live <= k, f"live versions unbounded: peaked at {max_live}"

    def ids(state):
        return sorted(
            r["doc_id"]
            for r in read_accepted(spark, state).select("doc_id").collect()
        )

    assert ids(kept) == ids(plain)
    # replay of the cadence batch: ingest no-ops on its own committed
    # batch id, compact re-fires into a no-op
    def log_lengths():
        return [
            len(_log_versions(spark, f"{kept}/{t}"))
            for t in ("accepted", "sketch")
        ]

    logs = log_lengths()
    last = n_batches - 1
    dedup_ingest_batch_maintained(
        parts[last], last, kept, compact_every=k, compact_max_batches=4
    )
    assert log_lengths() == logs
    assert ids(kept) == ids(plain)


def test_sink_self_heals_interrupted_in_sink_compaction(
    spark, tmp_path, monkeypatch
):
    """An in-sink compaction that crashes after the batch committed fails
    the batch; the stream's replay of that batch no-ops the ingest on
    its committed batch id, re-fires the cadence, and finishes the
    merge — the stream heals without an operator."""
    import pytest
    from pyspark.sql import functions as F

    import hdfs_mapreduce_spark.streaming.dedup as sd
    from hdfs_mapreduce_spark.sources.catalog import load_table
    from hdfs_mapreduce_spark.streaming.logtable import _live, _log_versions

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    parts = [docs.filter(F.col("doc_id") % 4 == i) for i in range(4)]

    plain = str(tmp_path / "plain")
    state = str(tmp_path / "healing")
    for i in range(3):
        sd.dedup_ingest_batch(parts[i], i, plain)
    for i in range(2):
        sd.dedup_ingest_batch_maintained(parts[i], i, state, compact_every=3)

    real_publish = sd._publish

    def crashing_publish(spark_, root, data, entries, bid, kind, *a, **k):
        if kind == "compact" and root.endswith("sketch"):
            raise RuntimeError("injected crash mid-compaction")
        return real_publish(spark_, root, data, entries, bid, kind, *a, **k)

    monkeypatch.setattr(sd, "_publish", crashing_publish)
    with pytest.raises(RuntimeError, match="injected"):
        sd.dedup_ingest_batch_maintained(parts[2], 2, state, compact_every=3)
    monkeypatch.setattr(sd, "_publish", real_publish)
    # the replay heals: ingest no-ops, the cadence merges the sketch
    sd.dedup_ingest_batch_maintained(parts[2], 2, state, compact_every=3)
    for sub in ("accepted", "sketch"):
        assert len(_live(_log_versions(spark, f"{state}/{sub}"))) == 1, sub
    sd.dedup_ingest_batch_maintained(parts[3], 3, state, compact_every=3)
    sd.dedup_ingest_batch(parts[3], 3, plain)

    def ids(st):
        return sorted(
            r["doc_id"]
            for r in sd.read_accepted(spark, st).select("doc_id").collect()
        )

    assert ids(state) == ids(plain)


def test_sink_resketch_advisory_fires_on_cadence(spark, tmp_path):
    """The opt-in resketch advisory runs on the compaction cadence and
    fires exactly when the accumulated corpus has outgrown the state's
    narrow b/r point (resketch_min_docs stands in for the production
    auto-wide bound)."""
    from pyspark.sql import functions as F

    from hdfs_mapreduce_spark.sources.catalog import load_table
    from hdfs_mapreduce_spark.streaming.dedup import (
        dedup_ingest_batch_maintained,
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    parts = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    state = str(tmp_path / "advised")
    fired = []
    for i in range(3):
        dedup_ingest_batch_maintained(
            parts[i], i, state,
            compact_every=1,
            on_resketch_recommended=fired.append,
            resketch_min_docs=5,
        )
    assert fired and all(f == state for f in fired)
    # a wide-pinned state never advises
    wide = str(tmp_path / "wide")
    fired_wide = []
    import hdfs_mapreduce_spark.operators.dedup as dd

    for i in range(2):
        dedup_ingest_batch_maintained(
            parts[i], i, wide,
            n_perm=dd.WIDE_PERM, n_bands=dd.WIDE_BANDS,
            compact_every=1,
            on_resketch_recommended=fired_wide.append,
            resketch_min_docs=5,
        )
    assert fired_wide == []


def test_dedup_state_log_crash_windows_on_a_small_corpus(
    spark, tmp_path, monkeypatch
):
    """The dedup state's crash windows on a small in-memory corpus: a
    crash after the accepted record and before the sketch record,
    replayed, admits exactly what an uninterrupted run admits (the set
    follows from how the corpus is built, and the accepted record is
    not landed twice); orphan attempt dirs under either table stay
    invisible; and a batch replayed after an in-sink compaction is a
    no-op."""
    import random

    import pytest
    from pyspark.sql import functions as F

    import hdfs_mapreduce_spark.streaming.dedup as sd
    from hdfs_mapreduce_spark.streaming.logtable import _log_versions

    # batch 0 holds the even ids, batch 1 the odd ones. Docs 0-23 are
    # random; docs 0-11 get a near-dup (one word changed) in the other
    # batch, and docs 0-7 an exact copy in their own batch. Batch 0
    # admits its 12 docs and the 6 near-dups of docs 1-11; batch 1
    # admits only docs 13-23, the ones without a near-dup.
    rng = random.Random(7)
    words = [f"w{i}" for i in range(400)]
    rows = []
    for i in range(24):
        text = [rng.choice(words) for _ in range(40)]
        rows.append((i, " ".join(text)))
        if i < 8:
            rows.append((i + 60, " ".join(text)))
        if i < 12:
            text[5] = "changed"
            rows.append((i + 31, " ".join(text)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    halves = [docs.filter(F.col("doc_id") % 2 == i) for i in range(2)]
    want = sorted(
        [i for i in range(24) if i % 2 == 0 or i > 12]
        + [i + 31 for i in range(1, 12, 2)]
    )

    def ids(state):
        return sorted(
            r["doc_id"] for r in sd.read_accepted(spark, state).collect()
        )

    state = str(tmp_path / "crashy")

    def maintained(i):
        sd.dedup_ingest_batch_maintained(halves[i], i, state, compact_every=2)

    maintained(0)
    # orphans: attempt dirs no record names, holding batch 1's rows and
    # sketch — read by mistake, they would add rejected ids to the
    # admitted set and reject every batch-1 doc in the probe
    halves[1].write.parquet(f"{state}/accepted/data/aorphan")
    orphan_sketch = sd._banded_sketch(
        halves[1], "doc_id", "text", sd.N_PERM, sd.N_BANDS
    )
    orphan_sketch.write.parquet(f"{state}/sketch/data/aorphan")
    real_publish = sd._publish

    def crash_before_sketch(spark_, root, *a, **k):
        if root.endswith("sketch"):
            raise RuntimeError("injected crash before the sketch record")
        return real_publish(spark_, root, *a, **k)

    monkeypatch.setattr(sd, "_publish", crash_before_sketch)
    with pytest.raises(RuntimeError, match="injected"):
        maintained(1)
    monkeypatch.setattr(sd, "_publish", real_publish)
    maintained(1)  # the replay lands the sketch record, then compacts
    assert [e[1] for e in _log_versions(spark, state + "/accepted")] == [
        0, 1, None
    ]
    assert ids(state) == want

    def log_lengths():
        return [
            len(_log_versions(spark, f"{state}/{t}"))
            for t in ("accepted", "sketch")
        ]

    logs = log_lengths()
    maintained(1)  # replay after the in-sink compaction
    assert log_lengths() == logs
    assert ids(state) == want
