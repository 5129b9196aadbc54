"""Round-11 octave: the managed-ANN lifecycle verbs at sf1 -> sf10
(VERDICT r10 item 4). The probe/dedup/BPE octaves cover steady-state
queries; this measures the LIFECYCLE verbs the round-9/10 work added —
create, streamed fenced ingest, rebuild, vacuum — plus the probe on
both sides of a flip, at 10x data, so three claims stop being
extrapolations:

  1. rebuild wall-clock tracks the corpus ~linearly (it is a fresh
     fit + encode of the live relation — nothing hidden should be
     superlinear);
  2. probe cost is FLAT across a flip (post-rebuild probes pay the
     same as pre-rebuild probes at the same corpus size — the flip is
     a pointer swap, not a data reorganization visible to readers);
  3. the epoch fence is invisible: a fenced commit costs one read of
     the index log (a listing plus one small-file read per version)
     over the plain logtable commit, independent of SF.

Protocol: bench.octave — one session per SF under bench.configure,
plan shapes pre-warmed by a full lifecycle pass in bench.warm, min-of-2
per timed verb (fresh index roots per repetition so every build is a
real build), noop-write execution forcing (bench.force).

Usage: python tools/octave_ann_lifecycle.py <sf_dir> [out_json]
"""

from __future__ import annotations

import os
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def run_lifecycle(spark, sf_dir: str) -> dict[str, float]:
    from pyspark.sql import functions as F

    from hdfs_mapreduce_spark.operators.ann_index import (
        IndexEpochError,
        ann_probe_ivfpq,
        create_managed_ivfpq,
        fenced_codes_sink,
        encode_with_model,
        open_managed_ivfpq,
        rebuild_ivfpq_index,
        vacuum_index_generations,
    )
    from hdfs_mapreduce_spark.operators.materialize import session_scratch_dir
    from hdfs_mapreduce_spark.plans.similarity_plans import (
        APPEND_MOD,
        IVF_NLIST,
        IVF_NPROBE,
        QUERY_IDS,
        TOP_K,
    )
    from hdfs_mapreduce_spark.sources.catalog import load_table
    from hdfs_mapreduce_spark.streaming.logtable import snapshot, upsert_batch

    emb = load_table(spark, sf_dir, "embeddings")
    day1 = emb.filter(F.col("vec_id") % APPEND_MOD != 0)
    day2 = emb.filter(F.col("vec_id") % APPEND_MOD == 0).select(
        "vec_id", "embedding"
    )
    queries = emb.filter(F.col("vec_id").isin(QUERY_IDS))
    n_emb = emb.count()
    # three staged micro-batches, the declared fenced query's split
    batches = [
        day2.filter(((F.col("vec_id") / APPEND_MOD).cast("long") % 3) == i)
        .persist()
        for i in range(3)
    ]
    for b in batches:
        b.count()

    out: dict[str, float] = {"n_embeddings": n_emb}

    def timed(key, fn, reps=2):
        best = min(fn() for _ in range(reps))
        out[key] = round(best, 4)
        return best

    scratch = session_scratch_dir(spark)

    def fresh_root(tag):
        return f"{scratch}/octave_{tag}_{uuid.uuid4().hex[:8]}"

    # -- create (build v0 on day-1) --
    roots = []

    def do_create():
        root = fresh_root("idx")
        t0 = time.monotonic()
        create_managed_ivfpq(day1, root, nlist=IVF_NLIST)
        roots.append(root)
        return time.monotonic() - t0

    timed("create_v1_sec", do_create)
    root = roots[-1]  # lifecycle continues on the last created index
    index = open_managed_ivfpq(spark, root)

    # -- streamed fenced ingest: 3 commits through the production sink --
    def do_fenced():
        table = fresh_root("codes_fenced")
        sink = fenced_codes_sink(index, table)
        t0 = time.monotonic()
        for i, b in enumerate(batches):
            sink(b, i)
        return time.monotonic() - t0

    timed("ingest_fenced_3batches_sec", do_fenced)

    # -- same 3 commits, plain (unfenced) logtable upserts: the fence
    #    overhead is the difference (one index-log read per commit) --
    def do_plain():
        table = fresh_root("codes_plain")
        t0 = time.monotonic()
        for i, b in enumerate(batches):
            upsert_batch(
                encode_with_model(index, b), i, table, "id",
                writer="octave_plain",
            )
        return time.monotonic() - t0

    timed("ingest_plain_3batches_sec", do_plain)

    # -- the fence itself, measured directly: per-commit overhead is ONE
    #    current_index_version read (the index log's listStatus + one
    #    small-file read per version);
    #    the end-to-end fenced-vs-plain diff above is dominated by
    #    session ordering noise, so report the primitive too --
    from hdfs_mapreduce_spark.operators.ann_index import (
        current_index_version,
    )

    t0 = time.monotonic()
    reps = 30
    for _ in range(reps):
        current_index_version(spark, root)
    out["fence_read_sec_per_commit"] = round(
        (time.monotonic() - t0) / reps, 5
    )

    # -- probe pre-flip (v0 codes + streamed snapshot, the declared
    #    composition) --
    table = fresh_root("codes_probe")
    sink = fenced_codes_sink(index, table)
    for i, b in enumerate(batches):
        sink(b, i)
    streamed = snapshot(spark, table, "id")
    combined = {**index, "codes": index["codes"].unionByName(streamed)}

    def do_probe_pre():
        return bench.force(
            ann_probe_ivfpq(combined, queries, TOP_K, nprobe=IVF_NPROBE)
        )

    timed("probe_preflip_sec", do_probe_pre)

    # -- rebuild on the full corpus (flip v0 -> v1) --
    def do_rebuild():
        # each rep needs its own v0 index to flip
        r = fresh_root("rb")
        h = create_managed_ivfpq(day1, r, nlist=IVF_NLIST)
        t0 = time.monotonic()
        rebuild_ivfpq_index(h, emb)
        dt = time.monotonic() - t0
        roots.append(r)
        return dt

    timed("rebuild_full_corpus_sec", do_rebuild)
    # flip the lifecycle index too (fence proof + post-flip probe)
    rebuild_ivfpq_index(index, emb)
    try:
        sink(batches[0].limit(1), 999)
        raise RuntimeError("fence did not trip post-flip")
    except IndexEpochError:
        pass

    # -- probe post-flip through a fresh handle --
    handle = open_managed_ivfpq(spark, root)
    assert handle["version"] == 1, handle["version"]

    def do_probe_post():
        return bench.force(
            ann_probe_ivfpq(handle, queries, TOP_K, nprobe=IVF_NPROBE)
        )

    timed("probe_postflip_sec", do_probe_post)

    # -- vacuum the dead v0 generation --
    def do_vacuum():
        # rep 1 reclaims v0's generation; rep 2 is the idempotent nothing-to-do
        # pass — report rep 1 (reclaim) by timing only the first
        t0 = time.monotonic()
        vacuum_index_generations(spark, root, retain_last=1)
        return time.monotonic() - t0

    timed("vacuum_sec", do_vacuum, reps=1)

    for b in batches:
        b.unpersist()
    return out


if __name__ == "__main__":
    bench.octave("octave-ann-lifecycle", run_lifecycle)
