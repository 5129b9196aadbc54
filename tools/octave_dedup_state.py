"""Round-12 octave: the online-dedup STATE MAINTENANCE verbs at
sf1 -> sf10 (VERDICT r11 item 4). The round-8 octaves covered the
steady-state dedup queries and round 11b the ingest GATE; this measures
the lifecycle verbs the round-11/12 work added — ``resketch_state`` (a
full-corpus one-pass rebuild at a new b/r point), ``compact_state``
(full merge vs the size-tiered bounded run), and the
``resketch_recommended`` advisory — so two claims stop being
extrapolations:

  1. resketch tracks the accepted corpus AT WORST linearly (one
     shingle+minhash pass over the corpus plus one partitioned write —
     nothing hidden should be superlinear);
  2. compact_state tracks the live state; the TIERED run
     (``max_batches_per_run``) reads only its tier, so per-run cost is
     bounded by the tier's share of the state, not the stream's age.

Plus the per-micro-batch driver metadata call count (list_child_names /
exists / read_text through sources/fs.py) for an ingest against
2-batch-old and 6-batch-old state. Each ingest reads both state tables'
logs once: one listing plus one record read per commit since the
newest log checkpoint (every 32 commits), so the count grows with
stream age between checkpoints; ``rpc_growth_age2_to_age6`` reports
that growth.

Protocol: bench.octave — one session per SF under bench.configure,
plan shapes pre-warmed by a full pass in bench.warm, min-of-2 per timed
verb with a FRESH copytree of the built state per repetition (every
timed maintenance run mutates real state), noop-free (the verbs force
their own writes).

Usage: python tools/octave_dedup_state.py <sf_dir> [out_json]
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402

N_BATCHES = 6
TIER = 3  # tiered compaction reads the 3 smallest of the 6 live versions


def _count_fs_reads(fn):
    """Run ``fn`` with the sources/fs listing and read entry points
    wrapped in counters; return (result, {fn_name: calls})."""
    from hdfs_mapreduce_spark.sources import fs as hfs

    counted = ["list_child_names", "exists", "read_text"]
    calls: dict[str, int] = {}
    saved = {}

    def wrap(name, orig):
        def inner(*a, **kw):
            calls[name] = calls.get(name, 0) + 1
            return orig(*a, **kw)

        return inner

    for name in counted:
        saved[name] = getattr(hfs, name)
        setattr(hfs, name, wrap(name, saved[name]))
    try:
        result = fn()
    finally:
        for name, orig in saved.items():
            setattr(hfs, name, orig)
    return result, calls


def run_maintenance(spark, sf_dir: str) -> dict[str, object]:
    from pyspark.sql import functions as F

    from hdfs_mapreduce_spark.operators.dedup import WIDE_BANDS, WIDE_PERM
    from hdfs_mapreduce_spark.operators.materialize import session_scratch_dir
    from hdfs_mapreduce_spark.sources.catalog import load_table
    from hdfs_mapreduce_spark.streaming.dedup import (
        compact_state,
        dedup_ingest_batch,
        read_accepted,
        resketch_recommended,
        resketch_state,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = docs.count()
    batches = [docs.filter(F.col("doc_id") % N_BATCHES == i) for i in range(N_BATCHES)]
    scratch = session_scratch_dir(spark)
    os.makedirs(scratch, exist_ok=True)

    out: dict[str, object] = {"n_docs": n_docs}

    def fresh(tag):
        return os.path.join(scratch, f"octave_{tag}_{uuid.uuid4().hex[:8]}")

    # -- build the base state: N_BATCHES ingest rounds (setup, timed once) --
    base = fresh("state")
    t0 = time.monotonic()
    for i, b in enumerate(batches):
        dedup_ingest_batch(b, i, base)
    out["ingest_6batches_sec"] = round(time.monotonic() - t0, 4)
    out["n_admitted"] = read_accepted(spark, base).count()

    def timed(key, fn, reps=2):
        best = min(fn() for _ in range(reps))
        out[key] = round(best, 4)
        return best

    def on_copy(verb):
        def run():
            s = fresh("copy")
            shutil.copytree(base, s)
            t0 = time.monotonic()
            verb(s)
            return time.monotonic() - t0

        return run

    # -- resketch: one-pass wide rebuild of the whole accepted corpus --
    timed(
        "resketch_wide_sec",
        on_copy(lambda s: resketch_state(spark, s, WIDE_PERM, WIDE_BANDS)),
    )

    # -- compaction: full merge (6 live versions) vs one tiered run
    #    (the TIER smallest) --
    timed("compact_full_sec", on_copy(lambda s: compact_state(spark, s)))
    timed(
        "compact_tiered_sec",
        on_copy(lambda s: compact_state(spark, s, max_batches_per_run=TIER)),
    )

    # -- the advisory (read-only): one count over accepted state --
    timed("advisory_sec", lambda: _timeit(lambda: resketch_recommended(spark, base)))

    # -- ingest one more batch against resketch'd (wide) state: the gate
    #    at the migrated point --
    wide_state = fresh("wide")
    shutil.copytree(base, wide_state)
    resketch_state(spark, wide_state, WIDE_PERM, WIDE_BANDS)
    extra = docs.filter(F.col("doc_id") % 97 == 3)

    def do_ingest_wide():
        s = fresh("wideing")
        shutil.copytree(wide_state, s)
        t0 = time.monotonic()
        dedup_ingest_batch(extra, N_BATCHES, s)
        return time.monotonic() - t0

    timed("ingest_after_resketch_sec", do_ingest_wide)

    # -- metadata calls for one ingest at state age 2 vs 6 --
    young = fresh("young")
    os.makedirs(young, exist_ok=True)
    for i in range(2):
        dedup_ingest_batch(batches[i], i, young)
    probe = docs.filter(F.col("doc_id") % 97 == 5)
    _, young_calls = _count_fs_reads(
        lambda: dedup_ingest_batch(probe, 2, young)
    )
    aged = fresh("aged")
    shutil.copytree(base, aged)
    _, aged_calls = _count_fs_reads(
        lambda: dedup_ingest_batch(probe, N_BATCHES, aged)
    )
    out["rpc_calls_ingest_age2"] = young_calls
    out["rpc_calls_ingest_age6"] = aged_calls
    out["rpc_growth_age2_to_age6"] = sum(aged_calls.values()) - sum(
        young_calls.values()
    )
    return out


def _timeit(fn) -> float:
    t0 = time.monotonic()
    fn()
    return time.monotonic() - t0


if __name__ == "__main__":
    bench.octave("octave-dedup-state", run_maintenance)
