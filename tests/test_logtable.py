"""Log-structured merge-on-read table (streaming/logtable.py): O(batch)
commits, newest-row-per-key snapshots, replay safety, crash invisibility,
compaction, and Hadoop-FS URIs — the in-repo ACID-table-format swap for
the rewrite upsert sink (r5 verdict missing item 3)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from hdfs_mapreduce_spark.streaming.logtable import (
    _log_versions,
    compact,
    snapshot,
    upsert_batch,
)


def _batch(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def test_upsert_snapshot_newest_row_per_key(spark, tmp_path):
    root = str(tmp_path / "t")
    assert upsert_batch(_batch(spark, [(1, "a"), (2, "b")]), 0, root, "k")
    assert upsert_batch(_batch(spark, [(2, "B2"), (3, "c")]), 1, root, "k")
    assert upsert_batch(_batch(spark, [(1, "A3")]), 2, root, "k")
    snap = {r["k"]: r["v"] for r in snapshot(spark, root, "k").collect()}
    assert snap == {1: "A3", 2: "B2", 3: "c"}


def test_replayed_batch_is_skipped_not_double_applied(spark, tmp_path):
    root = str(tmp_path / "t")
    assert upsert_batch(_batch(spark, [(1, "a")]), 0, root, "k")
    assert upsert_batch(_batch(spark, [(1, "a2")]), 1, root, "k")
    # at-least-once replay of the newest batch: no new commit
    assert not upsert_batch(_batch(spark, [(1, "a2")]), 1, root, "k")
    assert [e[0] for e in _log_versions(spark, root)] == [0, 1]
    assert {r["k"]: r["v"] for r in snapshot(spark, root, "k").collect()} == {
        1: "a2"
    }


def test_uncommitted_data_dir_is_invisible(spark, tmp_path):
    """Crash between data write and log publish: the orphan data dir has
    no committed log entry and must never surface in a snapshot."""
    root = str(tmp_path / "t")
    upsert_batch(_batch(spark, [(1, "a")]), 0, root, "k")
    # simulate the crash: data for v1 lands, log entry never does
    _batch(spark, [(9, "ghost")]).write.parquet(
        os.path.join(root, "data", "v1")
    )
    snap = {r["k"]: r["v"] for r in snapshot(spark, root, "k").collect()}
    assert snap == {1: "a"}
    # the replayed batch takes version 1 and overwrites the orphan
    assert upsert_batch(_batch(spark, [(9, "real")]), 1, root, "k")
    snap = {r["k"]: r["v"] for r in snapshot(spark, root, "k").collect()}
    assert snap == {1: "a", 9: "real"}


def test_compaction_bounds_the_read_set_and_preserves_state(spark, tmp_path):
    root = str(tmp_path / "t")
    for i in range(4):
        upsert_batch(_batch(spark, [(i, f"v{i}"), (0, f"zero{i}")]), i, root, "k")
    before = {r["k"]: r["v"] for r in snapshot(spark, root, "k").collect()}
    cv = compact(spark, root, "k")
    assert cv == 4
    after = {r["k"]: r["v"] for r in snapshot(spark, root, "k").collect()}
    assert after == before
    assert after[0] == "zero3"  # newest wins across all pre-compaction versions
    # post-compaction snapshot reads ONE data version (the floor) — the
    # unique dir the v4 commit record points at
    compact_dir = [e[3] for e in _log_versions(spark, root) if e[0] == 4][0]
    snap_files = snapshot(spark, root, "k").inputFiles()
    assert snap_files and all(f"data/{compact_dir}" in f for f in snap_files)
    # upserts after compaction stack on top of the floor
    upsert_batch(_batch(spark, [(0, "zeroN")]), 99, root, "k")
    final = {r["k"]: r["v"] for r in snapshot(spark, root, "k").collect()}
    assert final[0] == "zeroN" and final[3] == "v3"


def test_logtable_accepts_file_scheme_uris(spark, tmp_path):
    """All metadata goes through sources/fs.py, so the table root may be
    any Hadoop-resolvable URI — proven with file:// exactly like the
    other state sinks."""
    root = f"file://{tmp_path}/t"
    upsert_batch(_batch(spark, [(1, "a")]), 0, root, "k")
    upsert_batch(_batch(spark, [(1, "b")]), 1, root, "k")
    compact(spark, root, "k")
    assert {r["k"]: r["v"] for r in snapshot(spark, root, "k").collect()} == {
        1: "b"
    }


def test_empty_table_snapshot_and_compact(spark, tmp_path):
    root = str(tmp_path / "t")
    assert snapshot(spark, root, "k") is None
    assert compact(spark, root, "k") is None


def test_stream_logtable_equals_rewrite_sink_relation(spark):
    """The declared query's core equality: the log-table terminal
    snapshot of a duplicated two-batch feed equals the events relation
    (one row per event_id), same as the rewrite sink."""
    from hdfs_mapreduce_spark.plans.streaming_plans import (
        stream_upsert_log_snapshot,
    )
    from hdfs_mapreduce_spark.sources.catalog import load_table

    sf = "/root/testdata/sf0.001"
    snap = stream_upsert_log_snapshot(spark, sf)
    events = load_table(spark, sf, "events")
    assert snap.count() == events.count()
    assert snap.select("event_id").distinct().count() == events.count()
    got = {
        r["event_id"]: (r["user_id"], r["event_type"])
        for r in snap.collect()
    }
    want = {
        r["event_id"]: (r["user_id"], r["event_type"])
        for r in events.select("event_id", "user_id", "event_type").collect()
    }
    assert got == want


def test_delete_tombstones_shadow_and_filter(spark, tmp_path):
    root = str(tmp_path / "t")
    upsert_batch(_batch(spark, [(1, "a"), (2, "b"), (3, "c")]), 0, root, "k")
    from hdfs_mapreduce_spark.streaming.logtable import delete_batch

    assert delete_batch(
        spark.createDataFrame([(2,)], "k long"), 1, root, "k"
    )
    snap = {r["k"]: r["v"] for r in snapshot(spark, root, "k").collect()}
    assert snap == {1: "a", 3: "c"}
    assert "_deleted" not in snapshot(spark, root, "k").columns
    # re-upserting a deleted key resurrects it (newest row wins)
    upsert_batch(_batch(spark, [(2, "b2")]), 2, root, "k")
    snap = {r["k"]: r["v"] for r in snapshot(spark, root, "k").collect()}
    assert snap == {1: "a", 2: "b2", 3: "c"}
    # compaction materializes the post-delete truth and drops tombstones
    compact(spark, root, "k")
    snap = {r["k"]: r["v"] for r in snapshot(spark, root, "k").collect()}
    assert snap == {1: "a", 2: "b2", 3: "c"}


def test_time_travel_reads_historical_versions(spark, tmp_path):
    root = str(tmp_path / "t")
    upsert_batch(_batch(spark, [(1, "a")]), 0, root, "k")
    upsert_batch(_batch(spark, [(1, "b"), (2, "x")]), 1, root, "k")
    compact(spark, root, "k")  # v2
    upsert_batch(_batch(spark, [(1, "c")]), 3, root, "k")
    read = lambda as_of: {
        r["k"]: r["v"]
        for r in snapshot(spark, root, "k", as_of=as_of).collect()
    }
    assert read(0) == {1: "a"}
    assert read(1) == {1: "b", 2: "x"}
    assert read(2) == {1: "b", 2: "x"}  # the compaction itself
    assert read(None) == {1: "c", 2: "x"}
    assert snapshot(spark, root, "k", as_of=-1) is None


def test_vacuum_removes_only_precompaction_data(spark, tmp_path):
    import os

    from hdfs_mapreduce_spark.streaming.logtable import vacuum

    root = str(tmp_path / "t")
    upsert_batch(_batch(spark, [(1, "a")]), 0, root, "k")
    upsert_batch(_batch(spark, [(2, "b")]), 1, root, "k")
    assert vacuum(spark, root) == []  # nothing compacted yet: no-op
    compact(spark, root, "k")  # v2
    upsert_batch(_batch(spark, [(3, "c")]), 3, root, "k")
    # an orphan (in-flight commit) must survive vacuum
    _batch(spark, [(9, "ghost")]).write.parquet(
        os.path.join(root, "data", "v9")
    )
    assert vacuum(spark, root) == [0, 1]
    assert not os.path.isdir(os.path.join(root, "data", "v0"))
    assert os.path.isdir(os.path.join(root, "data", "v9"))
    snap = {r["k"]: r["v"] for r in snapshot(spark, root, "k").collect()}
    assert snap == {1: "a", 2: "b", 3: "c"}


def test_schema_evolution_null_fills_old_versions(spark, tmp_path):
    root = str(tmp_path / "t")
    upsert_batch(_batch(spark, [(1, "a")]), 0, root, "k")
    wide = spark.createDataFrame([(2, "b", 7)], "k long, v string, extra long")
    upsert_batch(wide, 1, root, "k")
    rows = {r["k"]: (r["v"], r["extra"]) for r in snapshot(spark, root, "k").collect()}
    assert rows == {1: ("a", None), 2: ("b", 7)}


def test_snapshot_glob_root_tombstone_first_and_widening(spark, tmp_path):
    """A root named with glob metacharacters reads literally; a
    tombstone-only first version and a later column-adding upsert merge
    by name, with columns in version order (oldest first)."""
    from hdfs_mapreduce_spark.streaming.logtable import delete_batch

    keys = lambda ks: spark.createDataFrame([(k,) for k in ks], "k long")
    root = str(tmp_path / "we[i]rd{x}")
    assert delete_batch(keys([1, 4]), 0, root, "k")
    assert upsert_batch(_batch(spark, [(1, "a"), (2, "b")]), 1, root, "k")
    wide = spark.createDataFrame(
        [(2, "b2", 7), (3, "c", 8)], "k long, v string, extra long"
    )
    assert upsert_batch(wide, 2, root, "k")
    assert delete_batch(keys([3]), 3, root, "k")
    old = snapshot(spark, root, "k", as_of=1)
    assert old.columns == ["k", "v"]
    assert sorted(tuple(r) for r in old.collect()) == [(1, "a"), (2, "b")]
    snap = snapshot(spark, root, "k")
    assert snap.columns == ["k", "v", "extra"]
    assert sorted(tuple(r) for r in snap.collect()) == [
        (1, "a", None),
        (2, "b2", 7),
    ]


def test_table_changes_insert_update_delete_and_netting(spark, tmp_path):
    """CDF semantics: labeled insert/update/delete between two versions;
    unchanged keys and insert-then-delete churn net out entirely."""
    from hdfs_mapreduce_spark.streaming.logtable import (
        delete_batch,
        table_changes,
    )

    root = str(tmp_path / "t")
    upsert_batch(_batch(spark, [(1, "a"), (2, "b"), (3, "c")]), 0, root, "k")
    # v1: update 2, insert 4 (survives), insert 5 (churn — deleted below)
    upsert_batch(_batch(spark, [(2, "B"), (4, "d"), (5, "e")]), 1, root, "k")
    # v2: delete 3 (visible at v0) and 5 (never visible at v0)
    delete_batch(_batch(spark, [(3, "x"), (5, "x")]), 2, root, "k")

    ch = {
        r["k"]: (r["change_type"], r["v_before"], r["v_after"])
        for r in table_changes(spark, root, "k", 0, 2).collect()
    }
    assert ch == {
        2: ("update", "b", "B"),
        3: ("delete", "c", None),
        4: ("insert", None, "d"),
    }  # 1 unchanged, 5 netted out — neither appears


def test_table_changes_null_safe_update_detection(spark, tmp_path):
    """NULL → value and value → NULL are updates; NULL → NULL is not a
    change (eqNullSafe comparison)."""
    from hdfs_mapreduce_spark.streaming.logtable import (
        delete_batch,
        table_changes,
    )

    root = str(tmp_path / "t")
    upsert_batch(
        _batch(spark, [(1, None), (2, "b"), (3, None)]), 0, root, "k"
    )
    upsert_batch(_batch(spark, [(1, "now"), (2, None)]), 1, root, "k")
    ch = {
        r["k"]: r["change_type"]
        for r in table_changes(spark, root, "k", 0, 1).collect()
    }
    assert ch == {1: "update", 2: "update"}  # 3 stays NULL → no row


def test_table_changes_from_empty_table_is_all_inserts(spark, tmp_path):
    from hdfs_mapreduce_spark.streaming.logtable import table_changes

    root = str(tmp_path / "t")
    upsert_batch(_batch(spark, [(1, "a")]), 0, root, "k")
    # as_of=-1 predates every commit → before side empty
    ch = table_changes(spark, root, "k", -1, 0).collect()
    assert [(r["k"], r["change_type"]) for r in ch] == [(1, "insert")]


def test_ivm_equals_direct_recompute(spark):
    """The incrementally-maintained aggregate must equal a groupBy over
    the final snapshot: exact on counts, 1e-9-close on float sums (the
    incremental path associates additions differently)."""
    from pyspark.sql import functions as F

    from hdfs_mapreduce_spark.plans.streaming_plans import (
        _stage_cdf_table,
        logtable_ivm,
    )
    from hdfs_mapreduce_spark.streaming.logtable import snapshot
    from tests.conftest import SF_CORRECTNESS

    inc = {
        r["event_type"]: (r["n_events"], r["sum_value"])
        for r in logtable_ivm(spark, SF_CORRECTNESS).collect()
    }
    root = _stage_cdf_table(spark, SF_CORRECTNESS, "ivm_direct")
    direct = {
        r["event_type"]: (r["n_events"], r["sum_value"])
        for r in snapshot(spark, root, "event_id", as_of=2)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .collect()
    }
    assert set(inc) == set(direct)
    for k in direct:
        assert inc[k][0] == direct[k][0]
        assert abs(inc[k][1] - direct[k][1]) < 1e-9 * max(
            1.0, abs(direct[k][1])
        )


def test_ivm_delta_handles_group_migration_and_group_death(spark, tmp_path):
    """An update that moves a key BETWEEN groups must retract from the
    old group and add to the new one; a group whose last key is deleted
    must drop out of the maintained view."""
    from pyspark.sql import functions as F

    from hdfs_mapreduce_spark.plans.streaming_plans import _apply_cdf_delta
    from hdfs_mapreduce_spark.streaming.logtable import (
        delete_batch,
        snapshot,
        table_changes,
        upsert_batch,
    )

    root = str(tmp_path / "t")
    v0 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 5.0)],
        "event_id long, event_type string, value double",
    )
    upsert_batch(v0, 0, root, "event_id")
    # key 2 migrates a -> c; key 3 (the only b) dies
    upsert_batch(
        spark.createDataFrame(
            [(2, "c", 21.0)],
            "event_id long, event_type string, value double",
        ),
        1,
        root,
        "event_id",
    )
    delete_batch(
        spark.createDataFrame([(3,)], "event_id long"), 2, root, "event_id"
    )
    agg = (
        snapshot(spark, root, "event_id", as_of=0)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
    )
    for v in (1, 2):
        agg = _apply_cdf_delta(
            agg, table_changes(spark, root, "event_id", v - 1, v)
        )
    out = {
        r["event_type"]: (r["n_events"], r["sum_value"])
        for r in agg.where(F.col("n_events") > 0).collect()
    }
    assert out == {"a": (1, 10.0), "c": (1, 21.0)}


def test_commit_loser_retries_and_replay_race_noops(spark, tmp_path):
    """Concurrent-writer safety: a writer that loses the version-slot
    rename must leave no trace of its attempt and land on the next slot;
    a racing REPLAY (same batch id) resolves to the replay no-op."""
    import os

    from hdfs_mapreduce_spark.streaming.logtable import _log_versions

    root = str(tmp_path / "t")
    upsert_batch(_batch(spark, [(1, "a")]), 0, root, "k")
    # simulate a competing writer winning slot 1 between this writer's
    # log read and its publish: pre-claim _log/v1.commit with batch 77
    os.makedirs(os.path.join(root, "_log"), exist_ok=True)
    import json

    with open(os.path.join(root, "_log", "v1.commit"), "w") as f:
        json.dump(
            {"version": 1, "batch_id": 77, "kind": "upsert", "data": "vX"},
            f,
        )
    # competing data for the pre-claimed slot (so snapshots can read it)
    _batch(spark, [(7, "w")]).write.parquet(
        os.path.join(root, "data", "vX")
    )
    # different batch id -> must land on slot 2, not clobber slot 1
    assert upsert_batch(_batch(spark, [(2, "b")]), 5, root, "k")
    entries = _log_versions(spark, root)
    assert [e[0] for e in entries] == [0, 1, 2]
    assert entries[1][1] == 77 and entries[2][1] == 5
    snap = {r["k"]: r["v"] for r in snapshot(spark, root, "k").collect()}
    assert snap == {1: "a", 7: "w", 2: "b"}
    # same batch id as the pre-claimed slot -> replay no-op, no new slot
    assert not upsert_batch(_batch(spark, [(9, "dup")]), 5, root, "k")
    assert [e[0] for e in _log_versions(spark, root)] == [0, 1, 2]
    # no orphan attempt dirs left behind beyond the three committed ones
    committed = {e[3] for e in _log_versions(spark, root)}
    on_disk = set(os.listdir(os.path.join(root, "data")))
    assert on_disk == committed


def test_vacuum_deletes_the_recorded_attempt_dirs(spark, tmp_path):
    """Vacuum must remove the exact unique data dirs the log records,
    not guessed v{N} names."""
    import os

    from hdfs_mapreduce_spark.streaming.logtable import (
        _log_versions,
        vacuum,
    )

    root = str(tmp_path / "t")
    upsert_batch(_batch(spark, [(1, "a")]), 0, root, "k")
    upsert_batch(_batch(spark, [(2, "b")]), 1, root, "k")
    pre = {e[0]: e[3] for e in _log_versions(spark, root)}
    compact(spark, root, "k")
    assert vacuum(spark, root) == [0, 1]
    data = set(os.listdir(os.path.join(root, "data")))
    assert pre[0] not in data and pre[1] not in data
    assert {r["k"]: r["v"] for r in snapshot(spark, root, "k").collect()} == {
        1: "a",
        2: "b",
    }


def test_log_checkpoint_preserves_entries_and_bounds_reads(spark, tmp_path):
    """checkpoint_log must summarize the whole log into one file: the
    parsed entries are identical before and after, commits made AFTER
    the checkpoint still appear, a second checkpoint is idempotent, and
    time travel below the checkpoint keeps working."""
    import os

    from hdfs_mapreduce_spark.streaming.logtable import (
        _log_versions,
        checkpoint_log,
    )

    root = str(tmp_path / "t")
    upsert_batch(_batch(spark, [(1, "a")]), 0, root, "k")
    upsert_batch(_batch(spark, [(1, "b"), (2, "x")]), 1, root, "k")
    before = _log_versions(spark, root)
    assert checkpoint_log(spark, root) == 1
    assert _log_versions(spark, root) == before
    assert os.path.exists(os.path.join(root, "_log", "c1.checkpoint"))
    # commits after the checkpoint still surface
    upsert_batch(_batch(spark, [(2, "y")]), 2, root, "k")
    entries = _log_versions(spark, root)
    assert [e[0] for e in entries] == [0, 1, 2]
    assert {r["k"]: r["v"] for r in snapshot(spark, root, "k").collect()} == {
        1: "b",
        2: "y",
    }
    # time travel below the checkpoint is intact (entries come from it)
    assert {
        r["k"]: r["v"]
        for r in snapshot(spark, root, "k", as_of=0).collect()
    } == {1: "a"}
    # idempotent re-checkpoint at the new head
    assert checkpoint_log(spark, root) == 2
    assert checkpoint_log(spark, root) == 2
    assert [e[0] for e in _log_versions(spark, root)] == [0, 1, 2]


def test_log_checkpoint_on_empty_table(spark, tmp_path):
    from hdfs_mapreduce_spark.streaming.logtable import checkpoint_log

    assert checkpoint_log(spark, str(tmp_path / "t")) is None


def test_two_writers_same_batch_ids_do_not_shadow(spark, tmp_path):
    """Writer-scoped replay detection: two streams sharing a table both
    start their epoch counters at 0 — writer B's batch 1 must commit
    even though writer A's newest entry also carries batch id 1, while
    a true replay (same writer, same id) still no-ops."""
    root = str(tmp_path / "t")
    assert upsert_batch(_batch(spark, [(1, "a")]), 0, root, "k", writer="A")
    assert upsert_batch(_batch(spark, [(1, "a2")]), 1, root, "k", writer="A")
    # different writer, colliding batch id: MUST land
    assert upsert_batch(_batch(spark, [(2, "b")]), 1, root, "k", writer="B")
    # true replays for each writer: no-op
    assert not upsert_batch(_batch(spark, [(1, "a2")]), 1, root, "k", writer="A")
    assert not upsert_batch(_batch(spark, [(2, "b")]), 1, root, "k", writer="B")
    assert {r["k"]: r["v"] for r in snapshot(spark, root, "k").collect()} == {
        1: "a2",
        2: "b",
    }
    assert [e[0] for e in _log_versions(spark, root)] == [0, 1, 2]


def test_corrupt_commit_record_fails_loudly(spark, tmp_path):
    """A committed v{N}.commit that cannot be parsed must raise, not be
    silently treated as never committed (which would drop committed
    rows from snapshots and wedge writers into phantom slot races)."""
    import pytest

    from hdfs_mapreduce_spark.streaming.logtable import CorruptCommitError

    root = str(tmp_path / "t")
    upsert_batch(_batch(spark, [(1, "a")]), 0, root, "k")
    with open(os.path.join(root, "_log", "v1.commit"), "w") as f:
        f.write("{not json")
    with pytest.raises(CorruptCommitError):
        snapshot(spark, root, "k")


def test_vacuum_sweep_orphans_removes_crashed_attempts(spark, tmp_path):
    """Opt-in orphan sweep: data dirs no committed entry references (a
    crash between the parquet write and the log publish) are removed;
    committed dirs survive."""
    from hdfs_mapreduce_spark.streaming.logtable import (
        _log_versions,
        vacuum,
    )

    root = str(tmp_path / "t")
    upsert_batch(_batch(spark, [(1, "a")]), 0, root, "k")
    _batch(spark, [(9, "ghost")]).write.parquet(
        os.path.join(root, "data", "a_crashed_attempt")
    )
    assert vacuum(spark, root) == []  # default: orphans untouched
    assert os.path.isdir(os.path.join(root, "data", "a_crashed_attempt"))
    vacuum(spark, root, sweep_orphans=True)
    assert not os.path.isdir(os.path.join(root, "data", "a_crashed_attempt"))
    committed = {e[3] for e in _log_versions(spark, root)}
    assert set(os.listdir(os.path.join(root, "data"))) == committed
    assert {r["k"]: r["v"] for r in snapshot(spark, root, "k").collect()} == {
        1: "a"
    }


def test_auto_checkpoint_fires_on_cadence(spark, tmp_path, monkeypatch):
    """Every _CHECKPOINT_EVERY-th version slot writes a log checkpoint
    without any manual call, keeping per-commit log reads bounded."""
    import hdfs_mapreduce_spark.streaming.logtable as lt

    monkeypatch.setattr(lt, "_CHECKPOINT_EVERY", 3)
    root = str(tmp_path / "t")
    for i in range(4):
        upsert_batch(_batch(spark, [(i, f"x{i}")]), i, root, "k")
    names = os.listdir(os.path.join(root, "_log"))
    assert "c2.checkpoint" in names  # slot 2 = 3rd commit triggered it
    assert [e[0] for e in _log_versions(spark, root)] == [0, 1, 2, 3]
    assert {r["k"]: r["v"] for r in snapshot(spark, root, "k").collect()} == {
        i: f"x{i}" for i in range(4)
    }


def test_interleaved_compact_does_not_defeat_replay(spark, tmp_path):
    """ADVICE r6: compact() commits with writer=None/batch_id=None, so
    for a writer=None stream an interleaved compaction used to become
    the writer's "newest" entry and defeat replay detection — a
    replayed batch re-committed, burning a slot and breaking the
    one-commit-per-batch-id invariant. _is_replay now skips compact
    entries."""
    root = str(tmp_path / "t")
    assert upsert_batch(_batch(spark, [(1, "a")]), 0, root, "k")
    assert upsert_batch(_batch(spark, [(2, "b")]), 1, root, "k")
    compact(spark, root, "k")
    # at-least-once replay of batch 1 AFTER the compaction: must no-op
    assert not upsert_batch(_batch(spark, [(2, "b")]), 1, root, "k")
    entries = _log_versions(spark, root)
    assert [e[0] for e in entries] == [0, 1, 2]
    assert sum(1 for e in entries if e[1] == 1) == 1
    assert {r["k"]: r["v"] for r in snapshot(spark, root, "k").collect()} == {
        1: "a",
        2: "b",
    }


def test_unreadable_checkpoint_falls_back_to_older_checkpoint(
    spark, tmp_path
):
    """ADVICE r6: an unreadable NEWEST checkpoint must fall back to the
    newest READABLE older checkpoint, not straight to raw commits —
    after a manual sweep of commits ≤ an old checkpoint, the raw-commit
    fallback would silently drop committed rows."""
    from hdfs_mapreduce_spark.streaming.logtable import checkpoint_log

    root = str(tmp_path / "t")
    upsert_batch(_batch(spark, [(0, "a")]), 0, root, "k")
    upsert_batch(_batch(spark, [(1, "b")]), 1, root, "k")
    assert checkpoint_log(spark, root) == 1
    upsert_batch(_batch(spark, [(2, "c")]), 2, root, "k")
    upsert_batch(_batch(spark, [(3, "d")]), 3, root, "k")
    assert checkpoint_log(spark, root) == 3
    # manual sweep of commits covered by c1 (safe: c1 stays readable)
    os.remove(os.path.join(root, "_log", "v0.commit"))
    os.remove(os.path.join(root, "_log", "v1.commit"))
    # corrupt the newest checkpoint
    with open(os.path.join(root, "_log", "c3.checkpoint"), "w") as f:
        f.write("{not json")
    entries = _log_versions(spark, root)
    assert [e[0] for e in entries] == [0, 1, 2, 3]
    assert {r["k"]: r["v"] for r in snapshot(spark, root, "k").collect()} == {
        0: "a",
        1: "b",
        2: "c",
        3: "d",
    }


def test_semantically_corrupt_checkpoint_falls_back(spark, tmp_path):
    """ADVICE r7: a checkpoint that PARSES but carries a bogus record
    kind (truncated-then-padded content) must fall back to the next
    older checkpoint exactly like an unreadable one — otherwise the
    fail-loud policy is only as strong as JSON syntax."""
    import json

    from hdfs_mapreduce_spark.streaming.logtable import checkpoint_log

    root = str(tmp_path / "t")
    upsert_batch(_batch(spark, [(0, "a")]), 0, root, "k")
    upsert_batch(_batch(spark, [(1, "b")]), 1, root, "k")
    assert checkpoint_log(spark, root) == 1
    upsert_batch(_batch(spark, [(2, "c")]), 2, root, "k")
    upsert_batch(_batch(spark, [(3, "d")]), 3, root, "k")
    assert checkpoint_log(spark, root) == 3
    # Parseable but semantically corrupt: one record's kind is garbage.
    ck = os.path.join(root, "_log", "c3.checkpoint")
    recs = json.loads(open(ck).read())
    recs[1]["kind"] = "upsrt"
    with open(ck, "w") as f:
        f.write(json.dumps(recs))
    entries = _log_versions(spark, root)
    assert [e[0] for e in entries] == [0, 1, 2, 3]
    assert {r["k"]: r["v"] for r in snapshot(spark, root, "k").collect()} == {
        0: "a",
        1: "b",
        2: "c",
        3: "d",
    }


def test_overwrite_backend_race_is_detected_and_retried(spark, tmp_path):
    """S3-semantics adversarial race (VERDICT r6 item 3): on a store
    whose rename OVERWRITES instead of failing, a competing writer can
    clobber the slot between our write and our read-back. The
    OverwritePlusVerifyBackend reports the lost slot (put_if_absent
    False), and the protocol recovers: the loser retries and lands on
    the next slot with BOTH commits intact."""
    import json

    from hdfs_mapreduce_spark.streaming.logtable import (
        OverwritePlusVerifyBackend,
    )

    root = str(tmp_path / "t")
    assert upsert_batch(_batch(spark, [(1, "a")]), 0, root, "k")
    # competing writer B's data, pre-written (B's attempt dir)
    _batch(spark, [(7, "w")]).write.parquet(
        os.path.join(root, "data", "a_competitor")
    )
    fired = []

    from hdfs_mapreduce_spark.sources import fs as hfs

    def clobber(path):
        # Writer B's overwrite lands in the same slot between A's write
        # and A's read-back — exactly once, on the first contended slot.
        # B writes through the same (Hadoop) store A uses.
        if fired:
            return
        fired.append(path)
        version = int(os.path.basename(path)[1:].split(".")[0])
        fs2, p2 = hfs.fs_and_path(spark, path)
        out = fs2.create(p2, True)
        out.write(
            bytearray(
                json.dumps(
                    {
                        "version": version,
                        "batch_id": 99,
                        "kind": "upsert",
                        "data": "a_competitor",
                        "writer": "B",
                    }
                ).encode("utf-8")
            )
        )
        out.close()

    backend = OverwritePlusVerifyBackend(on_between=clobber)
    # writer A commits batch 5 through the adversarial store
    assert upsert_batch(
        _batch(spark, [(2, "b")]), 5, root, "k", writer="A", backend=backend
    )
    entries = _log_versions(spark, root)
    # B owns slot 1 (the clobber), A recovered into slot 2
    assert [(e[0], e[1]) for e in entries] == [(0, 0), (1, 99), (2, 5)]
    assert {r["k"]: r["v"] for r in snapshot(spark, root, "k").collect()} == {
        1: "a",
        7: "w",
        2: "b",
    }
    # A's lost attempt left no orphan data dir
    committed = {e[3] for e in entries}
    assert set(os.listdir(os.path.join(root, "data"))) == committed


def test_blind_overwrite_would_lose_commits_without_verification(
    spark, tmp_path
):
    """Why the seam matters: the same clobber under a backend that
    trusts its write (returns True without read-back) silently LOSES
    writer A's commit — the documented S3A failure the conditional-put
    swap prevents."""
    import json

    from hdfs_mapreduce_spark.streaming.logtable import CommitBackend
    from hdfs_mapreduce_spark.sources import fs as hfs

    class BlindOverwriteBackend(CommitBackend):
        def __init__(self, on_between):
            self.on_between = on_between

        def put_if_absent(self, spark, path, payload):
            fs, p = hfs.fs_and_path(spark, path)
            out = fs.create(p, True)
            out.write(bytearray(payload.encode("utf-8")))
            out.close()
            self.on_between(path)
            return True  # trusts the write: the S3A hazard

    root = str(tmp_path / "t")
    _batch(spark, [(7, "w")]).write.parquet(
        os.path.join(root, "data", "a_competitor")
    )
    fired = []

    def clobber(path):
        if fired:
            return
        fired.append(path)
        fs2, p2 = hfs.fs_and_path(spark, path)
        out = fs2.create(p2, True)
        out.write(
            bytearray(
                json.dumps(
                    {
                        "version": 0,
                        "batch_id": 99,
                        "kind": "upsert",
                        "data": "a_competitor",
                        "writer": "B",
                    }
                ).encode("utf-8")
            )
        )
        out.close()

    assert upsert_batch(
        _batch(spark, [(2, "b")]),
        5,
        root,
        "k",
        writer="A",
        backend=BlindOverwriteBackend(clobber),
    )
    # A believes it committed, but the table only ever shows B's rows
    snap = {r["k"]: r["v"] for r in snapshot(spark, root, "k").collect()}
    assert snap == {7: "w"}


def test_stream_self_maintenance_bounds_versions_and_log_reads(
    spark, tmp_path, monkeypatch
):
    """VERDICT r6 item 6: a long-running stream with compact_every=K
    bounds its own live-version count (≤ K+1 unions per snapshot) and —
    via the auto-checkpoint — its own log-read cost, with no external
    cron. Drives the EXACT production foreachBatch callable
    (make_upsert_sink) for 64 micro-batches, including replays."""
    import hdfs_mapreduce_spark.streaming.logtable as lt
    from hdfs_mapreduce_spark.streaming.logtable import make_upsert_sink

    monkeypatch.setattr(lt, "_CHECKPOINT_EVERY", 8)
    root = str(tmp_path / "t")
    sink = make_upsert_sink(root, "k", writer="s", compact_every=4)
    for bid in range(64):
        sink(_batch(spark, [(bid % 10, f"v{bid}")]), bid)
        if bid % 7 == 3:  # at-least-once: replay the batch we just ran
            sink(_batch(spark, [(bid % 10, f"v{bid}")]), bid)
        # live versions a snapshot must union: everything ≥ the newest
        # compaction — bounded by compact_every + the compaction itself
        # + the batch that landed after it, NEVER growing with stream age
        entries = _log_versions(spark, root)
        compactions = [e[0] for e in entries if e[2] == "compact"]
        floor = max(compactions) if compactions else 0
        live = sum(1 for e in entries if e[0] >= floor)
        assert live <= 4 + 2
    # log-read cost: commits SINCE the newest checkpoint stay bounded
    names = os.listdir(os.path.join(root, "_log"))
    ckpts = [
        int(n[1:].split(".")[0])
        for n in names
        if n.endswith(".checkpoint")
    ]
    newest = max(ckpts)
    tail = [
        n
        for n in names
        if n.endswith(".commit")
        and int(n[1:].split(".")[0]) > newest
    ]
    assert len(tail) <= 8
    # replays burned no version slots: 64 batches + 16 compactions
    entries = _log_versions(spark, root)
    assert len(entries) == 64 + 16
    assert sum(1 for e in entries if e[2] == "compact") == 16
    # terminal state is the newest value per key
    snap = {r["k"]: r["v"] for r in snapshot(spark, root, "k").collect()}
    assert snap == {i: f"v{54 + (i - 4) % 10}" for i in range(10)}


def test_stream_self_maintenance_with_vacuum_bounds_disk(
    spark, tmp_path, monkeypatch
):
    """vacuum_after_compact=True: a long-running stream bounds its
    on-disk data-dir count, not just its read set — after each
    compaction the superseded versions are deleted. State stays
    correct; time travel below the newest compaction is the documented
    price."""
    import hdfs_mapreduce_spark.streaming.logtable as lt
    from hdfs_mapreduce_spark.streaming.logtable import make_upsert_sink

    monkeypatch.setattr(lt, "_CHECKPOINT_EVERY", 8)
    root = str(tmp_path / "t")
    sink = make_upsert_sink(
        root, "k", writer="s", compact_every=4, vacuum_after_compact=True
    )
    for bid in range(24):
        sink(_batch(spark, [(bid % 6, f"v{bid}")]), bid)
        dirs = os.listdir(os.path.join(root, "data"))
        # between compactions at most: the compaction dir + K upserts
        # after it + the pre-compaction tail not yet vacuumed
        assert len(dirs) <= 4 + 2, dirs
    snap = {r["k"]: r["v"] for r in snapshot(spark, root, "k").collect()}
    assert snap == {i: f"v{18 + i}" for i in range(6)}


def test_clustered_compaction_prunes_and_preserves_state(spark, tmp_path):
    """compact(cluster_by=...) — OPTIMIZE ZORDER BY for the logtable:
    the compacted data version's files each cover a narrow slice of
    BOTH clustering columns (parquet footer stats prune), and the
    merge-on-read state is unchanged, including upserts stacked on top
    afterwards."""
    from tests.test_layout import _file_ranges

    root = str(tmp_path / "t")
    rows = [(a * 64 + b, a, b) for a in range(64) for b in range(64)]
    df = spark.createDataFrame(rows, "k long, a long, b long")
    for bid in range(2):  # two halves so compaction has real merging
        upsert_batch(df.filter(F.col("k") % 2 == bid), bid, root, "k")
    cv = compact(spark, root, "k", cluster_by=("a", "b"), n_partitions=16)
    assert cv == 2
    cdir = [e[3] for e in _log_versions(spark, root) if e[0] == cv][0]
    zpath = os.path.join(root, "data", cdir)
    za, zb = _file_ranges(zpath, "a"), _file_ranges(zpath, "b")

    def mean_width(ranges):
        return sum(hi - lo for lo, hi in ranges) / len(ranges)

    assert mean_width(za) <= 24, za
    assert mean_width(zb) <= 24, zb
    snap = snapshot(spark, root, "k")
    assert snap.count() == 4096
    # newest-row-per-key still holds across a clustered floor
    upsert_batch(_batch(spark, [(0, "newest")]).selectExpr(
        "k", "CAST(NULL AS LONG) a", "CAST(NULL AS LONG) b", "v"
    ).drop("v"), 5, root, "k")
    got = snapshot(spark, root, "k").filter(F.col("k") == 0).collect()[0]
    assert got["a"] is None


def test_vacuum_retain_last_keeps_time_travel_window(spark, tmp_path):
    """vacuum(retain_last=N) (VERDICT r7 item 6): time travel to any of
    the N newest commits keeps working after the vacuum, the deletable
    set is bounded by the newest compaction AT OR BELOW the retention
    horizon, and as-of below the vacuumed horizon fails at scan time."""
    import pytest

    from hdfs_mapreduce_spark.streaming.logtable import vacuum

    root = str(tmp_path / "t")
    # versions 0-3: upserts; 4: compact; 5-7: upserts; 8: compact; 9: upsert
    for i in range(4):
        upsert_batch(_batch(spark, [(i, f"v{i}")]), i, root, "k")
    assert compact(spark, root, "k") == 4
    for i in range(5, 8):
        upsert_batch(_batch(spark, [(i, f"v{i}")]), i, root, "k")
    assert compact(spark, root, "k") == 8
    upsert_batch(_batch(spark, [(9, "v9")]), 9, root, "k")

    # retain_last larger than history: nothing deletable
    assert vacuum(spark, root, retain_last=100) == []
    assert snapshot(spark, root, "k", as_of=0).count() == 1

    # retain the 3 newest commits (7, 8, 9): horizon=7, newest
    # compaction <= 7 is 4, so versions 0-3 go and 4-9 stay
    assert vacuum(spark, root, retain_last=3) == [0, 1, 2, 3]
    # every retained as-of still reads (5..7 need compaction-4 data)
    for v in (4, 5, 6, 7, 8, 9):
        assert snapshot(spark, root, "k", as_of=v) is not None
    assert {r["k"] for r in
            snapshot(spark, root, "k", as_of=7).collect()} == {
        0, 1, 2, 3, 5, 6, 7
    }
    # below the vacuumed horizon: fails at scan time, like Delta
    with pytest.raises(Exception):
        snapshot(spark, root, "k", as_of=3).collect()

    # retain_last=1 degenerates to the default below-newest-compaction rule
    assert vacuum(spark, root, retain_last=1) == [4, 5, 6, 7]
    assert {r["k"] for r in snapshot(spark, root, "k").collect()} == {
        0, 1, 2, 3, 5, 6, 7, 9
    }

    with pytest.raises(ValueError, match="retain_last"):
        vacuum(spark, root, retain_last=0)


def test_merge_batch_mixed_cdc_commit_and_replay(spark, tmp_path):
    """merge_batch: one MIXED upsert+delete CDC batch lands as ONE
    version with MERGE INTO semantics, and a replayed mixed batch
    commits nothing — where a two-commit split (upserts then deletes)
    loses replay detection for its first half."""
    from hdfs_mapreduce_spark.streaming.logtable import (
        delete_batch,
        merge_batch,
    )

    root = str(tmp_path / "t")
    upsert_batch(_batch(spark, [(1, "a"), (2, "b"), (3, "c")]), 0, root, "k")
    cdc = spark.createDataFrame(
        [(2, "B2", False), (3, None, True), (4, "d", False)],
        "k long, v string, is_delete boolean",
    )
    assert merge_batch(cdc, 1, root, "k", "is_delete")
    entries = _log_versions(spark, root)
    assert [(e[0], e[2]) for e in entries] == [(0, "upsert"), (1, "merge")]
    snap = {r["k"]: r["v"] for r in snapshot(spark, root, "k").collect()}
    assert snap == {1: "a", 2: "B2", 4: "d"}  # 3 deleted, 2 updated
    # at-least-once replay of the mixed batch: one commit id, no-op
    assert not merge_batch(cdc, 1, root, "k", "is_delete")
    assert len(_log_versions(spark, root)) == 2
    assert {
        r["k"]: r["v"] for r in snapshot(spark, root, "k").collect()
    } == snap
    # re-upsert resurrects a merge-deleted key (tombstones are ordinary
    # versioned rows)
    upsert_batch(_batch(spark, [(3, "c2")]), 2, root, "k")
    assert snapshot(spark, root, "k").where(F.col("k") == 3).collect()[0][
        "v"
    ] == "c2"

    # CONTRAST: the split protocol double-applies under replay — the
    # replay test only remembers the writer's newest commit id, so
    # re-running (upserts as id 3, deletes as id 4) re-commits the
    # upsert half. This is the failure mode merge_batch exists to close.
    ups = spark.createDataFrame([(5, "e")], "k long, v string")
    dels = spark.createDataFrame([(4,)], "k long")
    upsert_batch(ups, 3, root, "k")
    delete_batch(dels, 4, root, "k")
    n = len(_log_versions(spark, root))
    assert upsert_batch(ups, 3, root, "k")  # replay NOT detected
    assert len(_log_versions(spark, root)) == n + 1


def test_merge_batch_all_deletes_and_all_upserts(spark, tmp_path):
    """Degenerate mixed batches reduce to the pure forms."""
    from hdfs_mapreduce_spark.streaming.logtable import merge_batch

    root = str(tmp_path / "t")
    all_ups = spark.createDataFrame(
        [(1, "a", False), (2, "b", None)],  # NULL is_delete = upsert
        "k long, v string, is_delete boolean",
    )
    assert merge_batch(all_ups, 0, root, "k", "is_delete")
    assert {
        r["k"]: r["v"] for r in snapshot(spark, root, "k").collect()
    } == {1: "a", 2: "b"}
    all_dels = spark.createDataFrame(
        [(1, None, True), (2, None, True)],
        "k long, v string, is_delete boolean",
    )
    assert merge_batch(all_dels, 1, root, "k", "is_delete")
    assert snapshot(spark, root, "k").count() == 0


def test_vacuum_older_than_clock_retention(spark, tmp_path):
    """vacuum(older_than_s=S): only data whose commit wall clock is
    older than S is deletable (Delta's RETAIN proper), bounded as ever
    by the newest compaction at or below the horizon; ts-less commits
    (pre-r8 tables) are undatable and therefore never clock-deletable."""
    import json

    from hdfs_mapreduce_spark.streaming.logtable import vacuum

    root = str(tmp_path / "t")
    for i in range(3):
        upsert_batch(_batch(spark, [(i, f"v{i}")]), i, root, "k")
    assert compact(spark, root, "k") == 3
    upsert_batch(_batch(spark, [(9, "v9")]), 9, root, "k")
    # everything is seconds old: a 1-hour retention deletes nothing
    assert vacuum(spark, root, older_than_s=3600) == []
    assert snapshot(spark, root, "k", as_of=0).count() == 1
    def _age(rt, v, delta=10_000, drop_ts=False):
        # rewrite a commit's ts; drop the Hadoop LocalFS .crc sidecar,
        # which the plain-Python rewrite invalidates
        p = os.path.join(rt, "_log", f"v{v}.commit")
        rec = json.loads(open(p).read())
        if drop_ts:
            del rec["ts"]
        else:
            rec["ts"] = rec["ts"] - delta
        open(p, "w").write(json.dumps(rec))
        crc = os.path.join(rt, "_log", f".v{v}.commit.crc")
        if os.path.exists(crc):
            os.remove(crc)

    # age versions 0-1 by rewriting their ts into the past
    for v in (0, 1):
        _age(root, v)
    # horizon = v2 (youngest non-aged); no compaction <= 2 -> nothing
    # deletable (the compaction-bound rule protects as_of=2)
    assert vacuum(spark, root, older_than_s=5000) == []
    # age v2 as well: horizon = v3 = the compaction -> 0-2 go
    _age(root, 2)
    assert vacuum(spark, root, older_than_s=5000) == [0, 1, 2]
    assert {r["k"] for r in snapshot(spark, root, "k").collect()} == {
        0, 1, 2, 9
    }
    # a ts-less (pre-r8) commit is never clock-deletable — and because
    # the retained horizon is the MINIMUM retained version, an
    # undatable old commit conservatively pins the horizon for every
    # later version too: the clock policy deletes nothing here
    root2 = str(tmp_path / "t2")
    for i in range(2):
        upsert_batch(_batch(spark, [(i, "x")]), i, root2, "k")
    _age(root2, 0, drop_ts=True)
    _age(root2, 1)  # v1 is genuinely old
    compact(spark, root2, "k")
    assert vacuum(spark, root2, older_than_s=5000) == []
    assert snapshot(spark, root2, "k", as_of=0).count() == 1
    # the count policy is indifferent to missing clocks: retain_last
    # still prunes the same table
    assert vacuum(spark, root2, retain_last=1) == [0, 1]
