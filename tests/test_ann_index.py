"""Persist-and-probe ANN index lifecycle (operators/ann_index.py):
probe(build(corpus)) must reproduce the fused ann_topk_ivfpq relation
exactly, repeat probes must not re-fit, a durable index must reopen
from parquet alone, and the codes scan must prune on cell."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hdfs_mapreduce_spark.operators.ann_index import (
    ann_probe_ivfpq,
    build_ivfpq_index,
    load_ivfpq_index,
)
from hdfs_mapreduce_spark.operators.similarity import (
    ann_topk_ivf,
    ann_topk_ivfpq,
    ann_topk_ivfpq_residual,
    ann_topk_pq,
)
from hdfs_mapreduce_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


def _rows(df):
    return [
        (r["query_id"], r["neighbor_id"], r["rank"], r["approx_dist"])
        for r in df.collect()
    ]


def test_persisted_probe_equals_fused_ivfpq(spark):
    emb = load_table(spark, SF, "embeddings")
    index = build_ivfpq_index(emb, name="ivfpq_eqtest")
    probed = ann_probe_ivfpq(
        index, emb.filter(F.col("vec_id").isin([0, 1])), k=10, nprobe=4
    )
    fused = ann_topk_ivfpq(emb, [0, 1], k=10, nprobe=4)
    assert _rows(probed) == _rows(fused)


def test_probe_twice_without_refitting(spark, monkeypatch):
    """The lifecycle's point: after build, probes never touch the model
    fit or the raw corpus again. The fit entrypoint is poisoned after
    the build; two probes (different ks) still serve from the parquet
    index, consistently."""
    import hdfs_mapreduce_spark.operators.similarity as sim

    emb = load_table(spark, SF, "embeddings")
    index = build_ivfpq_index(emb, name="ivfpq_refit_test")
    qsrc = emb.select("vec_id", "embedding")
    queries = spark.createDataFrame(
        [(r["vec_id"], r["embedding"]) for r in
         qsrc.filter(F.col("vec_id").isin([0, 1])).collect()],
        qsrc.schema,
    )

    def poisoned(*a, **k):
        raise AssertionError("probe re-ran the model fit")

    monkeypatch.setattr(sim, "_model_sample", poisoned)
    first = _rows(ann_probe_ivfpq(index, queries, k=10, nprobe=4))
    second = _rows(ann_probe_ivfpq(index, queries, k=10, nprobe=4))
    assert first == second and len(first) == 20
    top5 = _rows(ann_probe_ivfpq(index, queries, k=5, nprobe=4))
    assert top5 == [r for r in first if r[2] <= 5]


def test_durable_index_reopens_from_parquet(spark, tmp_path):
    """base= writes a warehouse artifact; load_ivfpq_index reopens it
    (metadata re-derived from the tables) and probes identically."""
    emb = load_table(spark, SF, "embeddings")
    base = str(tmp_path / "warehouse")
    built = build_ivfpq_index(emb, name="ivfpq", base=base)
    queries = emb.filter(F.col("vec_id").isin([0, 1]))
    want = _rows(ann_probe_ivfpq(built, queries, k=10, nprobe=4))
    reopened = load_ivfpq_index(spark, base)
    assert reopened["meta"] == built["meta"]
    assert _rows(ann_probe_ivfpq(reopened, queries, k=10, nprobe=4)) == want


def test_probe_scan_pushes_cell_filter(spark):
    """The probe's economics at scale: the only corpus-sized relation is
    the codes parquet, and the probe's cell IN (...) predicate must
    reach the scan (PushedFilters), where the build-time ORDER BY cell
    clustering lets row-group stats prune it."""
    emb = load_table(spark, SF, "embeddings")
    index = build_ivfpq_index(emb, name="ivfpq_plantest")
    queries = emb.filter(F.col("vec_id").isin([0]))
    plan = (
        ann_probe_ivfpq(index, queries, k=5, nprobe=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [In(cell" in plan, plan[:2000]


def test_probe_empty_query_batch(spark):
    emb = load_table(spark, SF, "embeddings")
    index = build_ivfpq_index(emb, name="ivfpq_emptyq")
    out = ann_probe_ivfpq(index, emb.limit(0), k=5, nprobe=4)
    assert out.count() == 0
    assert out.columns == ["query_id", "neighbor_id", "rank", "approx_dist"]


@pytest.mark.parametrize(
    "fit",
    [
        lambda emb: build_ivfpq_index(emb, name="ivfpq_empty"),
        lambda emb: ann_topk_ivf(emb, [0, 1]),
        lambda emb: ann_topk_pq(emb, [0, 1]),
        lambda emb: ann_topk_ivfpq(emb, [0, 1]),
        lambda emb: ann_topk_ivfpq_residual(emb, [0, 1]),
    ],
    ids=[
        "build_ivfpq_index",
        "ann_topk_ivf",
        "ann_topk_pq",
        "ann_topk_ivfpq",
        "ann_topk_ivfpq_residual",
    ],
)
def test_build_empty_corpus_raises(spark, fit):
    """Every IVF/PQ model fit draws from the one seeded sample, which
    rejects an empty corpus with a ValueError (not numpy's opaque
    "need at least one array to stack")."""
    emb = load_table(spark, SF, "embeddings").limit(0)
    with pytest.raises(ValueError, match="empty corpus"):
        fit(emb)


def test_append_is_frozen_model_and_covers_new_vectors(spark):
    """append_to_ivfpq_index (FAISS add() contract): the model tables
    must be byte-identical before and after, the codes table must grow
    by exactly the appended batch (old files untouched), appended
    vectors must be probe-able, and a two-step append must equal a
    one-step append of the union batch (encode is per-row under a
    frozen model)."""
    emb = load_table(spark, SF, "embeddings")
    day1 = emb.filter(F.col("vec_id") % 5 != 0)
    day2 = emb.filter(F.col("vec_id") % 5 == 0)

    from hdfs_mapreduce_spark.operators.ann_index import (
        append_to_ivfpq_index,
    )

    index = build_ivfpq_index(day1, name="ivfpq_append_a")
    cents_before = sorted(
        (r["cell"], tuple(r["vec"])) for r in index["centroids"].collect()
    )
    n1 = index["codes"].count()
    appended = append_to_ivfpq_index(index, day2)
    assert appended["codes"].count() == n1 + day2.count()
    # day-1 code rows are untouched (same rows, same cells/codes)
    old = {r["id"]: (r["cell"], tuple(r["codes"]))
           for r in index["codes"].collect()}
    merged = {r["id"]: (r["cell"], tuple(r["codes"]))
              for r in appended["codes"].collect()}
    assert all(merged[i] == v for i, v in old.items())
    # model is frozen
    cents_after = sorted(
        (r["cell"], tuple(r["vec"])) for r in appended["centroids"].collect()
    )
    assert cents_after == cents_before
    # appended vectors are reachable as neighbors
    qsrc = emb.select("vec_id", "embedding")
    queries = qsrc.filter(F.col("vec_id").isin([0, 1]))
    out = ann_probe_ivfpq(appended, queries, k=50, nprobe=4)
    neigh = {r["neighbor_id"] for r in out.collect()}
    assert any(n % 5 == 0 for n in neigh), "no day-2 vector ever surfaced"
    # two half-appends == one full append
    half_a = day2.filter(F.col("vec_id") % 2 == 0)
    half_b = day2.filter(F.col("vec_id") % 2 != 0)
    two = build_ivfpq_index(day1, name="ivfpq_append_b")
    two = append_to_ivfpq_index(two, half_a)
    two = append_to_ivfpq_index(two, half_b)
    assert _rows(ann_probe_ivfpq(two, queries, k=50, nprobe=4)) == _rows(out)


def test_streaming_codes_ingest_is_replay_safe(spark, tmp_path):
    """The declared stream_ann_ingest_topk claim: encoding a micro-batch
    with the frozen model and committing via the codes logtable makes
    at-least-once delivery idempotent — a replayed batch adds NO code
    rows (a blind parquet append would double them and corrupt every
    ADC distance involving the duplicated vectors)."""
    from hdfs_mapreduce_spark.operators.ann_index import encode_with_model
    from hdfs_mapreduce_spark.streaming.logtable import (
        snapshot,
        upsert_batch,
    )

    emb = load_table(spark, SF, "embeddings")
    day1 = emb.filter(F.col("vec_id") % 5 != 0)
    day2 = emb.filter(F.col("vec_id") % 5 == 0)
    index = build_ivfpq_index(day1, name="ivfpq_replay_ingest")
    root = str(tmp_path / "codes_table")

    def sink(batch_df, bid):
        upsert_batch(
            encode_with_model(index, batch_df), bid, root, "id",
            writer="ann_codes_stream",
        )

    sink(day2, 0)
    once = sorted(
        (r["id"], r["cell"], tuple(r["codes"]))
        for r in snapshot(spark, root, "id").collect()
    )
    assert len(once) == day2.count()
    sink(day2, 0)  # at-least-once replay of the same batch
    again = sorted(
        (r["id"], r["cell"], tuple(r["codes"]))
        for r in snapshot(spark, root, "id").collect()
    )
    assert again == once
    # the streamed codes match what a batch append would have written
    from hdfs_mapreduce_spark.operators.ann_index import (
        append_to_ivfpq_index,
    )

    batch_idx = build_ivfpq_index(day1, name="ivfpq_replay_ingest_b")
    appended = append_to_ivfpq_index(batch_idx, day2)
    day2_ids = {i for i, _, _ in once}
    batch_codes = sorted(
        (r["id"], r["cell"], tuple(r["codes"]))
        for r in appended["codes"].collect()
        if r["id"] in day2_ids
    )
    assert batch_codes == once


def test_small_corpus_index_matches_fused_and_stores_actual_shapes(spark):
    """A corpus smaller than the requested nlist/ksub fits fewer
    centroids/codewords; the index meta must record the ACTUAL shapes
    (a requested-size codeword tensor would fold uninitialized rows
    into every probe LUT) and probe must still equal the fused
    kernel."""
    from hdfs_mapreduce_spark.operators.similarity import (
        PQ_KSUB,
        ann_topk_ivfpq,
    )

    emb = load_table(spark, SF, "embeddings").filter(
        F.col("vec_id") < PQ_KSUB - 4  # 12 vectors < ksub=16, < nlist=16
    )
    index = build_ivfpq_index(emb, name="ivfpq_small")
    assert index["meta"]["ksub"] == PQ_KSUB - 4
    assert index["meta"]["nlist"] == PQ_KSUB - 4
    queries = emb.filter(F.col("vec_id").isin([0, 1]))
    probed = _rows(ann_probe_ivfpq(index, queries, k=5, nprobe=4))
    fused = _rows(ann_topk_ivfpq(emb, [0, 1], k=5, nprobe=4))
    # 12 singleton cells probed 4-at-a-time: few but REAL neighbors
    assert probed == fused and probed
    # encode-only append over the small model stays in-range too
    from hdfs_mapreduce_spark.operators.ann_index import encode_with_model

    extra = load_table(spark, SF, "embeddings").filter(
        (F.col("vec_id") >= 12) & (F.col("vec_id") < 20)
    )
    codes = encode_with_model(index, extra).collect()
    assert codes and all(
        max(r["codes"]) < PQ_KSUB - 4 and r["cell"] < PQ_KSUB - 4
        for r in codes
    )


def test_delete_excludes_exactly_tombstoned_ids_and_replays_nop(spark):
    """delete_from_ivfpq_index (FAISS remove_ids contract, VERDICT r7
    item 3): after the delete, probes exclude EXACTLY the tombstoned
    ids — survivors keep their relative order and the next-best
    candidates fill the freed ranks — the model and codes files are
    untouched, a replayed delete batch commits nothing, and a second
    delete batch composes."""
    from hdfs_mapreduce_spark.operators.ann_index import (
        delete_from_ivfpq_index,
    )

    emb = load_table(spark, SF, "embeddings")
    index = build_ivfpq_index(emb, name="ivfpq_del_test")
    queries = emb.filter(F.col("vec_id").isin([0, 1]))
    before = ann_probe_ivfpq(index, queries, k=50, nprobe=4)
    before_rows = _rows(before)
    victims = sorted(
        {r[1] for r in before_rows if r[1] % 3 == 0}
    )  # delete some actual neighbors so results MUST change
    assert victims, "fixture has no mod-3 neighbor — pick another mod"
    dels = spark.createDataFrame([(v,) for v in victims], "vec_id long")
    codes_before = index["codes"].count()
    deleted = delete_from_ivfpq_index(index, dels, batch_id=0)
    # codes files untouched; tombstones carry exactly the victim set
    assert deleted["codes"].count() == codes_before
    assert sorted(
        r["id"] for r in deleted["tombstones"].collect()
    ) == victims
    after_rows = _rows(ann_probe_ivfpq(deleted, queries, k=50, nprobe=4))
    got_neighbors = {r[1] for r in after_rows}
    assert not (got_neighbors & set(victims))
    # survivors keep order: after == before minus victims, re-ranked
    for qid in (0, 1):
        surv = [r[1] for r in before_rows
                if r[0] == qid and r[1] not in victims]
        got = [r[1] for r in after_rows if r[0] == qid]
        assert got[: len(surv)] == surv[: len(got)]
    # replay of the same batch_id is a no-op
    replayed = delete_from_ivfpq_index(deleted, dels, batch_id=0)
    assert _rows(
        ann_probe_ivfpq(replayed, queries, k=50, nprobe=4)
    ) == after_rows
    # a second, different batch composes
    more = spark.createDataFrame(
        [(after_rows[0][1],)], "vec_id long"
    )  # current rank-1 neighbor of query 0
    deleted2 = delete_from_ivfpq_index(replayed, more, batch_id=1)
    rows2 = _rows(ann_probe_ivfpq(deleted2, queries, k=50, nprobe=4))
    assert after_rows[0][1] not in {r[1] for r in rows2}


def test_deleted_index_reloads_tombstones_from_disk(spark, tmp_path):
    """A durable index's tombstone logtable reopens with it: a fresh
    load_ivfpq_index must read the deletion sidecar and probe without
    the deleted ids."""
    from hdfs_mapreduce_spark.operators.ann_index import (
        delete_from_ivfpq_index,
    )

    emb = load_table(spark, SF, "embeddings")
    base = str(tmp_path / "warehouse")
    built = build_ivfpq_index(emb, name="ivfpq", base=base)
    queries = emb.filter(F.col("vec_id").isin([0]))
    victims = [
        r[1] for r in _rows(ann_probe_ivfpq(built, queries, k=3, nprobe=4))
    ]
    dels = spark.createDataFrame([(v,) for v in victims], "vec_id long")
    deleted = delete_from_ivfpq_index(built, dels, batch_id=0)
    want = _rows(ann_probe_ivfpq(deleted, queries, k=10, nprobe=4))
    reopened = load_ivfpq_index(spark, base)
    assert reopened["paths"]["tombstones"].endswith("_codes_tombstones")
    got = _rows(ann_probe_ivfpq(reopened, queries, k=10, nprobe=4))
    assert got == want
    assert not ({r[1] for r in got} & set(victims))


def test_streaming_deletes_are_replay_safe(spark, tmp_path):
    """Deletes arriving as a STREAM (right-to-erasure feeds, dedup
    kill-lists): each micro-batch routes through
    delete_from_ivfpq_index inside a foreachBatch-shaped sink keyed by
    batch id — the tombstone logtable makes at-least-once delivery
    idempotent, two batches compose, and the probe reads through the
    accumulated tombstones."""
    from hdfs_mapreduce_spark.operators.ann_index import (
        delete_from_ivfpq_index,
    )

    emb = load_table(spark, SF, "embeddings")
    index = build_ivfpq_index(emb, name="ivfpq_stream_del")
    queries = emb.filter(F.col("vec_id").isin([0, 1]))
    before = _rows(ann_probe_ivfpq(index, queries, k=30, nprobe=4))
    victims_a = sorted({r[1] for r in before if r[1] % 4 == 1})[:5]
    victims_b = sorted({r[1] for r in before if r[1] % 4 == 2})[:5]
    assert victims_a and victims_b

    state = {"index": index}

    def sink(batch_df, batch_id):  # the foreachBatch shape
        state["index"] = delete_from_ivfpq_index(
            state["index"], batch_df, batch_id, writer="del_stream"
        )

    mk = lambda ids: spark.createDataFrame([(v,) for v in ids], "vec_id long")
    sink(mk(victims_a), 0)
    sink(mk(victims_a), 0)  # at-least-once replay: must be a no-op
    sink(mk(victims_b), 1)
    got = _rows(ann_probe_ivfpq(state["index"], queries, k=30, nprobe=4))
    gone = set(victims_a) | set(victims_b)
    assert not ({r[1] for r in got} & gone)
    assert sorted(
        r["id"] for r in state["index"]["tombstones"].collect()
    ) == sorted(gone)


# ---- managed index: rebuild + atomic swap ----------------------------------


def test_rebuild_probe_continuity_and_atomic_flip(spark, tmp_path):
    """The rebuild contract end-to-end: (a) a handle opened BEFORE the
    rebuild keeps serving its generation's results after the flip (its
    files are never touched); (b) the rebuilt index equals a fresh
    build over the live corpus; (c) the index log advances exactly one
    version per publish, and a reader opening at any moment sees a
    COMPLETE generation (the record lands after all tables exist)."""
    from hdfs_mapreduce_spark.operators.ann_index import (
        create_managed_ivfpq,
        current_index_version,
        delete_from_ivfpq_index,
        open_managed_ivfpq,
        rebuild_ivfpq_index,
    )

    root = str(tmp_path / "managed")
    emb = load_table(spark, SF, "embeddings")
    day1 = emb.filter(F.col("vec_id") % 5 != 0)
    index = create_managed_ivfpq(day1, root)
    v0, gen0 = current_index_version(spark, root)
    assert v0 == 0 and gen0 == index["generation"]

    queries = emb.filter(F.col("vec_id").isin([0, 1]))
    old_handle = open_managed_ivfpq(spark, root)
    before = _rows(ann_probe_ivfpq(old_handle, queries, k=5, nprobe=4))

    dels = emb.filter(F.col("vec_id") % 7 == 0).select("vec_id")
    index = delete_from_ivfpq_index(index, dels, batch_id=0)
    rebuilt = rebuild_ivfpq_index(index, emb)
    assert rebuilt["version"] == 1
    v1, gen1 = current_index_version(spark, root)
    # unique tokens: a racing rebuild can never build into a published dir
    assert v1 == 1 and gen1 == rebuilt["generation"] and gen1 != gen0

    # (a) the pre-flip handle still serves pre-rebuild results
    assert _rows(ann_probe_ivfpq(old_handle, queries, k=5, nprobe=4)) == before

    # (b) rebuild == fresh build over the live (post-delete) corpus
    live = emb.join(dels, "vec_id", "left_anti")
    fresh = build_ivfpq_index(live, name="ivfpq_rebuild_ref")
    want = _rows(ann_probe_ivfpq(fresh, queries, k=5, nprobe=4))
    assert _rows(ann_probe_ivfpq(rebuilt, queries, k=5, nprobe=4)) == want

    # (c) tombstones were compacted away: gen-2 has no tombstone table
    assert rebuilt.get("tombstones") is None
    reopened = open_managed_ivfpq(spark, root)
    assert _rows(ann_probe_ivfpq(reopened, queries, k=5, nprobe=4)) == want


def _competing_generation(spark, root):
    """Another writer's rebuild landing on the index log: a log commit
    of a (placeholder) generation dir at the next slot. Returns its
    dir name."""
    from hdfs_mapreduce_spark.streaming.logtable import (
        _log_versions,
        _publish,
        _write_attempt,
    )

    gen = _write_attempt(root, spark.range(1))
    _publish(spark, root, gen, _log_versions(spark, root), None, "compact")
    return gen


def test_rebuild_loses_manifest_race_atomically(spark, tmp_path):
    """Optimistic concurrency on the version slot: when another writer
    published version 1 first, the late rebuild must raise — not
    overwrite, not half-publish — the winner's generation stays current,
    the winner's DIRECTORY is never written into (the loser builds under
    its own unique attempt name), and the loser leaves no dir behind."""
    import os

    from hdfs_mapreduce_spark.operators.ann_index import (
        create_managed_ivfpq,
        current_index_version,
        rebuild_ivfpq_index,
    )

    root = str(tmp_path / "raced")
    emb = load_table(spark, SF, "embeddings")
    index = create_managed_ivfpq(emb.filter(F.col("vec_id") % 5 != 0), root)
    gen0 = index["generation"]
    # A competing rebuild won slot v1 BEFORE ours starts: the staleness
    # pre-check fails the loser before it wastes the full retrain (and
    # before any build dir exists).
    winner = _competing_generation(spark, root)
    with pytest.raises(RuntimeError, match="stale index handle"):
        rebuild_ivfpq_index(index, emb)
    assert current_index_version(spark, root) == (1, winner)
    # the winner's published dir was never touched by the loser, and
    # the loser never created a build dir at all
    assert sorted(os.listdir(os.path.join(root, "data"))) == sorted(
        [gen0, winner]
    )


def test_rebuild_manifest_race_during_build_cleans_orphan(
    spark, tmp_path, monkeypatch
):
    """The TOCTOU window the staleness pre-check cannot close: a
    competitor publishes AFTER our pre-check passes but BEFORE our log
    publish. The log slot stays the real arbiter — the loser raises
    ConcurrentCommitError, never replaces the winner's record, and its
    fully-built orphan generation dir is deleted."""
    import os

    import hdfs_mapreduce_spark.operators.ann_index as ann_mod
    from hdfs_mapreduce_spark.operators.ann_index import (
        create_managed_ivfpq,
        current_index_version,
        rebuild_ivfpq_index,
    )
    from hdfs_mapreduce_spark.streaming.logtable import ConcurrentCommitError

    root = str(tmp_path / "toctou")
    emb = load_table(spark, SF, "embeddings")
    index = create_managed_ivfpq(emb.filter(F.col("vec_id") % 5 != 0), root)
    gen0 = index["generation"]

    real_build = ann_mod.build_ivfpq_index
    winner = []

    def build_then_lose(*args, **kwargs):
        out = real_build(*args, **kwargs)
        # competitor flips v1 while our build is in flight
        winner.append(_competing_generation(spark, root))
        return out

    monkeypatch.setattr(ann_mod, "build_ivfpq_index", build_then_lose)
    with pytest.raises(ConcurrentCommitError, match="took slot v1"):
        rebuild_ivfpq_index(index, emb)
    assert current_index_version(spark, root) == (1, winner[0])
    assert sorted(os.listdir(os.path.join(root, "data"))) == sorted(
        [gen0, winner[0]]
    )


def test_rebuild_recommended_tombstone_fraction(spark, tmp_path):
    from hdfs_mapreduce_spark.operators.ann_index import (
        create_managed_ivfpq,
        delete_from_ivfpq_index,
        rebuild_recommended,
    )

    root = str(tmp_path / "reco")
    emb = load_table(spark, SF, "embeddings")
    index = create_managed_ivfpq(emb, root)
    assert not rebuild_recommended(index)  # no tombstone table at all
    index = delete_from_ivfpq_index(
        index, emb.filter(F.col("vec_id") % 3 == 0).select("vec_id"), 0
    )
    assert rebuild_recommended(index, max_tombstone_frac=0.2)
    assert not rebuild_recommended(index, max_tombstone_frac=0.5)


def test_vacuum_generations_keeps_current_readable(spark, tmp_path):
    from hdfs_mapreduce_spark.operators.ann_index import (
        create_managed_ivfpq,
        open_managed_ivfpq,
        rebuild_ivfpq_index,
        vacuum_index_generations,
    )
    from hdfs_mapreduce_spark.sources import fs as hfs

    root = str(tmp_path / "vac")
    emb = load_table(spark, SF, "embeddings")
    index = create_managed_ivfpq(emb.filter(F.col("vec_id") % 5 != 0), root)
    gen0 = index["generation"]
    index = rebuild_ivfpq_index(index, emb)
    index = rebuild_ivfpq_index(index, emb)
    removed = vacuum_index_generations(spark, root, retain_last=2)
    assert removed == [0]
    assert not hfs.exists(spark, hfs.join(root, "data", gen0))
    queries = emb.filter(F.col("vec_id").isin([0, 1]))
    assert len(_rows(ann_probe_ivfpq(
        open_managed_ivfpq(spark, root), queries, k=5, nprobe=4
    ))) > 0


def test_rebuild_covers_stream_ingested_vectors(spark, tmp_path):
    """The documented rebuild-vs-ingest contract, executed end-to-end:
    day-2 vectors arrive via the streaming-encode path (frozen-model
    encode + codes-logtable commit against the OPEN generation), the
    probe serves {gen codes ∪ streamed codes}, then the owner rebuilds
    with a corpus that INCLUDES the streamed vectors — the post-flip
    index must equal a fresh build over the full corpus (streamed rows
    retrained in, not dropped), while the pre-flip handle still serves
    the old composition."""
    from hdfs_mapreduce_spark.operators.ann_index import (
        create_managed_ivfpq,
        encode_with_model,
        open_managed_ivfpq,
        rebuild_ivfpq_index,
    )
    from hdfs_mapreduce_spark.streaming.logtable import snapshot, upsert_batch

    emb = load_table(spark, SF, "embeddings")
    day1 = emb.filter(F.col("vec_id") % 5 != 0)
    day2 = emb.filter(F.col("vec_id") % 5 == 0)
    root = str(tmp_path / "managed_stream")
    index = create_managed_ivfpq(day1, root)
    codes_root = str(tmp_path / "stream_codes")
    upsert_batch(
        encode_with_model(index, day2), 0, codes_root, "id",
        writer="ann_codes_stream",
    )
    queries = emb.filter(F.col("vec_id").isin([0, 1]))
    combined = {
        **index,
        "codes": index["codes"].unionByName(snapshot(spark, codes_root, "id")),
    }
    pre = _rows(ann_probe_ivfpq(combined, queries, k=5, nprobe=4))

    rebuilt = rebuild_ivfpq_index(index, emb)  # corpus includes day-2
    fresh = build_ivfpq_index(emb, name="ivfpq_stream_rebuild_ref")
    want = _rows(ann_probe_ivfpq(fresh, queries, k=5, nprobe=4))
    assert _rows(ann_probe_ivfpq(rebuilt, queries, k=5, nprobe=4)) == want
    # day-2 rows were retrained into the new generation's codes table
    day2_ids = {r["vec_id"] for r in day2.select("vec_id").collect()}
    new_ids = {r["id"] for r in rebuilt["codes"].select("id").collect()}
    assert day2_ids <= new_ids
    # the pre-flip composition still serves unchanged
    assert _rows(ann_probe_ivfpq(combined, queries, k=5, nprobe=4)) == pre


def test_epoch_fence_blocks_writer_across_rebuild_flip(spark, tmp_path):
    """The drain-before-flip contract, enforced mechanically
    (fenced_codes_sink): a streaming codes writer (1) commits normally
    while its generation is current, (2) RAISES IndexEpochError on the
    first commit after a rebuild advances the index log — never committing
    beside the dead generation — and (3) after the documented resume
    (re-open, re-encode from the source cursor) the probe serves the
    union of the rebuilt generation and the resumed stream's codes."""
    from hdfs_mapreduce_spark.operators.ann_index import (
        IndexEpochError,
        create_managed_ivfpq,
        fenced_codes_sink,
        open_managed_ivfpq,
        rebuild_ivfpq_index,
    )
    from hdfs_mapreduce_spark.streaming.logtable import snapshot

    emb = load_table(spark, SF, "embeddings")
    day1 = emb.filter(F.col("vec_id") % 5 != 0)
    b1 = emb.filter(F.col("vec_id") % 10 == 0)
    b2 = emb.filter((F.col("vec_id") % 10 == 5))
    root = str(tmp_path / "fenced")
    index = create_managed_ivfpq(day1, root)

    codes_v1 = str(tmp_path / "codes_v1")
    sink = fenced_codes_sink(index, codes_v1)
    # (1) no flip: the fence is transparent
    sink(b1.select("vec_id", "embedding"), 0)
    got = {r["id"] for r in snapshot(spark, codes_v1, "id").collect()}
    assert got == {r["vec_id"] for r in b1.select("vec_id").collect()}

    # (2) rebuild flips to v2 (corpus = everything ingested so far);
    # the forgotten writer's next commit fails loudly and commits nothing
    rebuilt = rebuild_ivfpq_index(index, day1.unionByName(b1))
    with pytest.raises(IndexEpochError, match="epoch fence"):
        sink(b2.select("vec_id", "embedding"), 1)
    assert {r["id"] for r in snapshot(spark, codes_v1, "id").collect()} == got

    # (3) resume per the fence's instruction: re-open, re-encode the
    # un-ingested tail against the new generation
    handle = open_managed_ivfpq(spark, root)
    assert handle["version"] == rebuilt["version"] == 1
    codes_v2 = str(tmp_path / "codes_v2")
    sink2 = fenced_codes_sink(handle, codes_v2)
    sink2(b2.select("vec_id", "embedding"), 0)
    combined = {
        **handle,
        "codes": handle["codes"].unionByName(
            snapshot(spark, codes_v2, "id")
        ),
    }
    queries = emb.filter(F.col("vec_id").isin([0, 1]))
    res = ann_probe_ivfpq(combined, queries, k=5, nprobe=4)
    assert res.count() == 2 * 5
    all_ids = {r["id"] for r in combined["codes"].select("id").collect()}
    want_ids = {
        r["vec_id"]
        for r in day1.unionByName(b1).unionByName(b2)
        .select("vec_id").collect()
    }
    assert all_ids == want_ids


def test_rebuild_trigger_path_resets_tombstones_and_recovers_recall(
    spark, tmp_path
):
    """The signal → rebuild → verified-recovery story as one walk
    (round-9 verdict item 6): real deletes drive rebuild_recommended()
    past its tombstone threshold, the rebuild compacts the tombstones
    away (fraction resets, trigger goes quiet), and recall@k against
    the brute-force ground truth over the LIVE corpus is at least the
    tombstoned index's — the retrained model serves the surviving
    distribution."""
    from hdfs_mapreduce_spark.operators.ann_index import (
        create_managed_ivfpq,
        delete_from_ivfpq_index,
        rebuild_ivfpq_index,
        rebuild_recommended,
    )
    from hdfs_mapreduce_spark.operators.similarity import ann_topk_bruteforce

    emb = load_table(spark, SF, "embeddings")
    root = str(tmp_path / "trigger")
    index = create_managed_ivfpq(emb, root)
    assert not rebuild_recommended(index)

    dels = emb.filter(F.col("vec_id") % 3 == 0).select("vec_id")
    index = delete_from_ivfpq_index(index, dels, batch_id=0)
    assert rebuild_recommended(index, max_tombstone_frac=0.2)

    live = emb.join(dels, "vec_id", "left_anti")
    qids = [1, 2, 4]
    queries = emb.filter(F.col("vec_id").isin(qids))
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_topk_bruteforce(live, qids, 5, id_col="vec_id")
        .select("query_id", "neighbor_id").collect()
    }

    def recall(handle):
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in ann_probe_ivfpq(handle, queries, k=5, nprobe=4)
            .select("query_id", "neighbor_id").collect()
        }
        return len(approx & exact) / len(exact)

    before = recall(index)
    rebuilt = rebuild_ivfpq_index(index, emb)
    # trigger quiet: tombstones compacted out of the new generation
    assert rebuilt.get("tombstones") is None
    assert not rebuild_recommended(rebuilt)
    assert {r["id"] for r in rebuilt["codes"].select("id").collect()} == {
        r["vec_id"] for r in live.select("vec_id").collect()
    }
    assert recall(rebuilt) >= before


def test_as_of_open_and_retention_error_after_vacuum(spark, tmp_path):
    """open_managed_ivfpq(version=) mirrors logtable as-of + retention:
    a retained historical version opens and serves ITS generation's
    model; an unknown version raises ValueError; a vacuumed version
    fails AT OPEN with IndexRetentionError while its log record
    survives (slots never reopen)."""
    from hdfs_mapreduce_spark.operators.ann_index import (
        IndexRetentionError,
        create_managed_ivfpq,
        open_managed_ivfpq,
        rebuild_ivfpq_index,
        vacuum_index_generations,
    )
    from hdfs_mapreduce_spark.sources import fs as hfs

    root = str(tmp_path / "asof")
    emb = load_table(spark, SF, "embeddings")
    day1 = emb.filter(F.col("vec_id") % 5 != 0)
    index = create_managed_ivfpq(day1, root)
    gen0 = index["generation"]
    rebuilt = rebuild_ivfpq_index(index, emb)
    rebuild_ivfpq_index(open_managed_ivfpq(spark, root), emb)

    # retained as-of: v1 opens and is exactly the first rebuild
    h1 = open_managed_ivfpq(spark, root, version=1)
    assert h1["version"] == 1 and h1["generation"] == rebuilt["generation"]
    with pytest.raises(ValueError, match="no index version 9"):
        open_managed_ivfpq(spark, root, version=9)

    removed = vacuum_index_generations(spark, root, retain_last=2)
    assert removed == [0]
    assert not hfs.exists(spark, hfs.join(root, "data", gen0))
    # the log record is retained...
    assert hfs.exists(spark, hfs.join(root, "_log", "v0.commit"))
    # ...but opening below the horizon fails loudly at open
    with pytest.raises(IndexRetentionError, match="vacuumed"):
        open_managed_ivfpq(spark, root, version=0)
    # re-running vacuum is idempotent (exists-checked deletes only)
    assert vacuum_index_generations(spark, root, retain_last=2) == []


def test_stale_rebuild_after_vacuum_cannot_resurrect_a_version(
    spark, tmp_path, monkeypatch
):
    """The round-9 ADVICE medium scenario end-to-end: v0..v2 exist, a
    handle is opened at v0, vacuum reclaims v0's generation. The stale
    handle's rebuild must fail — and must STILL fail even with the
    staleness pre-check disabled, because log records are never
    deleted, so the stale writer's publish at v1 collides with the
    retained record instead of resurrecting a below-current version
    over a freed slot."""
    import os

    import hdfs_mapreduce_spark.operators.ann_index as ann_mod
    from hdfs_mapreduce_spark.operators.ann_index import (
        create_managed_ivfpq,
        current_index_version,
        open_managed_ivfpq,
        rebuild_ivfpq_index,
        vacuum_index_generations,
    )
    from hdfs_mapreduce_spark.streaming.logtable import ConcurrentCommitError

    root = str(tmp_path / "resurrect")
    emb = load_table(spark, SF, "embeddings")
    stale = create_managed_ivfpq(
        emb.filter(F.col("vec_id") % 5 != 0), root
    )  # v0 — held across the upgrades below
    rebuild_ivfpq_index(open_managed_ivfpq(spark, root), emb)        # v1
    newest = rebuild_ivfpq_index(open_managed_ivfpq(spark, root), emb)  # v2
    assert vacuum_index_generations(spark, root, retain_last=2) == [0]
    on_disk = sorted(os.listdir(os.path.join(root, "data")))

    # (a) with the pre-check: fails before any build work
    with pytest.raises(RuntimeError, match="stale index handle"):
        rebuild_ivfpq_index(stale, emb)

    # (b) pre-check blinded (the TOCTOU-equivalent): the rebuild sees
    # the log as the stale handle saw it, so its publish targets slot
    # v1 — which must collide with the RETAINED record: the loser
    # raises, its attempt dir is deleted, the newest version is
    # untouched and no below-current version appears
    real = ann_mod._log_versions

    def blind(spark_, root_):
        return [e for e in real(spark_, root_) if e[0] <= stale["version"]]

    monkeypatch.setattr(ann_mod, "_log_versions", blind)
    with pytest.raises(ConcurrentCommitError, match="took slot v1"):
        rebuild_ivfpq_index(stale, emb)
    monkeypatch.setattr(ann_mod, "_log_versions", real)
    assert current_index_version(spark, root) == (2, newest["generation"])
    assert sorted(os.listdir(os.path.join(root, "data"))) == on_disk
