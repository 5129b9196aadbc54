"""Declared-query registry with driver-window rotation.

The driver's correctness gate checks only the FIRST 50 registry entries
per round (registry order = this dict's insertion order). With ~100
declared queries a static order would leave the back half permanently
unverified (round 2 shipped 47 queries the driver never hashed). The fix
is deterministic rotation: order the merged registry **stalest-first** —
queries with no green CORRECTNESS row ever come first, then by the round
of their most recent green row (oldest first), original merge order as
the tie-break. Every round the ~50 just-verified queries rotate to the
back and the unverified/stalest block rotates into the window. Round 4
deliberately grew the surface past 2x the window (the r3 verdict asked
for the pytest-only operators to be declared), so the guarantee is the
generalized bound: every query gets a green row at least every
ceil(N/50) rounds (<= 4 since round 7 pushed N past 150; pinned in
tests/test_coverage.py), never-green queries always make
the next window, and the only queries that wait an extra round are
recently-green ones. ``tools/coverage.py`` materializes the same
bookkeeping as COVERAGE.json; tests/test_coverage.py asserts the bound.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

from hdfs_mapreduce_spark.plans import (
    analytics_plans,
    dedup_plans,
    pipeline_plans,
    relational,
    relevance_plans,
    similarity_plans,
    streaming_plans,
    text_plans,
)

_MERGED_QUERIES = {
    **relational.QUERIES,
    **analytics_plans.QUERIES,
    **text_plans.QUERIES,
    **relevance_plans.QUERIES,
    **dedup_plans.QUERIES,
    **similarity_plans.QUERIES,
    **pipeline_plans.QUERIES,
    **streaming_plans.QUERIES,
}
ORACLE_SQL = {
    **relational.ORACLE_SQL,
    **analytics_plans.ORACLE_SQL,
    **text_plans.ORACLE_SQL,
    **relevance_plans.ORACLE_SQL,
    **dedup_plans.ORACLE_SQL,
    **similarity_plans.ORACLE_SQL,
    **pipeline_plans.ORACLE_SQL,
    **streaming_plans.ORACLE_SQL,
}

# The driver verifies this many leading registry entries per round.
DRIVER_WINDOW = 50

# Queries whose DEFINITION (plan or executed machinery) changed during a
# given round: a green CORRECTNESS row from an EARLIER round certifies the
# old definition, so it must not count — the query sorts as never-verified
# until the driver hashes the new form. Entries are SELF-EXPIRING
# (``name: round_changed``): green rows with round >= round_changed count
# normally (the round-N driver gate runs after round N's build, so an
# r>=N row certifies the new definition), and once one lands the entry is
# inert history — no hand-pruning needed, no window slots consumed
# (round-4 ADVICE: the previous set form pinned entries as never-verified
# forever once their new green rows landed).
#   r5 (all three re-passed in CORRECTNESS_r05 — now inert):
#       dedup_lsh_recall — exact side switched to the capped jaccard
#       relation; dedup_simhash_pairs — pair dedup switched to post-filter
#       distinct; dedup_crosscheck — text side capped.
#   r6: dedup_semantic — cluster count is now scale-adaptive with a
#       cluster-size-cap split (same relation at sf0.01, new executed
#       plan); stream_upsert_snapshot / stream_dedup_admitted — versioned
#       state management ported from os.* to the Hadoop FS API (same
#       relations, new state machinery).
# NOTE: each key appears ONCE — its newest change round. Earlier change
# rounds for the same query are recorded in the comments only (a
# duplicate dict key would be dead code: later wins — r12 verdict
# hygiene item). History: dedup_lsh_recall also changed r5;
# stream_upsert_snapshot r6/r11/r12; stream_dedup_admitted r6/r11/r14;
# stream_upsert_log_snapshot r7; stream_heavy_hitters_audit r12 (the
# r11-ADVICE fixes: glob-escaped listing bases and state reads);
# stream_cdc_apply and ann_probe_rebuilt r13.
REVERIFY = {
    "dedup_simhash_pairs": 5,
    "dedup_crosscheck": 5,
    "dedup_semantic": 6,
    # r6 (second half): oracle text gained MATERIALIZED CTE hints (the
    # unrolled logreg oracle re-inlined exponentially; tok/scored CTEs
    # in the tfidf/lm/vocab oracles were touched by the same pass) —
    # same relations, but the driver should re-certify the exact SQL
    # it now runs.
    "text_tfidf": 6,
    "text_lm_score": 6,
    "vocab_coverage": 6,
    # r7: dedup_edit_pairs — deletion-variant blocking gained the
    #     EDIT_VARIANT_MAX_DF=64 hot-key cap (mirrored in the oracle)
    #     and the exact verify moved before the pair-distinct; fixture
    #     dfs peak at 11 so sf0.01 values are unchanged, but the driver
    #     should re-certify the capped definition it now hashes.
    "dedup_edit_pairs": 7,
    # r7: ann_ivfpq — model fit refactored into shared helpers
    #     (ivfpq_model_rows/centroid_matrix/make_cos_to_cents) the new
    #     persisted-index lifecycle also uses; identical arithmetic by
    #     construction, but the executed machinery moved, so the driver
    #     should re-certify it.
    "ann_ivfpq": 7,
    # r7 (review pass): ann_topk_pq's LUTs are now sized by the FITTED
    #     codebook width instead of the requested ksub (small-corpus
    #     rule; identical at fixture scale, new executed line).
    "ann_pq": 7,
    # r7: the logtable commit protocol grew the CommitBackend seam,
    #     compact-aware replay detection, and the checkpoint
    #     fallback-to-older-readable (streaming/logtable.py) — same
    #     relations, new state machinery under all three consumers;
    #     dq_checks' RI anti-join gained the parent-key alias (same
    #     relation, new executed join condition).
    "dq_checks": 7,
    # r9: bpe_learn now delegates to bpe_learn_batched(batch_k=1) —
    #     identical algorithm (pinned against the pure-Python reference)
    #     but the executed trainer loop moved, so the driver should
    #     re-certify bpe_train through the new machinery.
    "bpe_train": 9,
    # r9: two scale-fragile claims found by the full-registry sf0.1
    #     sweep (green at the sf0.01 gate, false at 10x) and made
    #     scale-invariant: ann_pca_audit's candidate budget is now a
    #     corpus FRACTION (a fixed 100 had shrunk to 5% of the corpus,
    #     recall 0.82 -> 0.50), and events_hll_mergeable certifies the
    #     merged estimate's ERROR BOUND instead of merged==direct
    #     (bit-equality breaks at the Datasketches sparse->dense
    #     promotion boundary, hit at exactly 1,500 distinct users).
    "ann_pca_audit": 9,
    "events_hll_mergeable": 9,
    # r11: stream_ann_ingest_fenced's DECLARED RELATION changed — it now
    #     probes the POST-flip v2 generation through a fresh handle (the
    #     full-corpus rebuild is certified instead of discarded; oracle
    #     moved to the plain full-corpus closed form). And
    #     stream_dedup_admitted's per-batch state machinery changed:
    #     shape resolution collapsed to ONE probe job
    #     (resolve_sketch_shape + validate_shape=False pass-down) with
    #     the empty-state fallback — same relation, new executed loop.
    # r11 (second half): minhash_pairs' pair self-join factored into the
    #     shared _verified_pairs and incremental_pairs_against_sketch's
    #     probe body into _probe_pairs_from_sketches (so the online
    #     ingest loop can sketch each batch once) — identical plan
    #     compositions by construction, but the executed operator code
    #     moved under every minhash-family consumer (the r7 ann_ivfpq
    #     shared-helper precedent); the declared call sites also pinned
    #     n_perm/n_bands explicitly (same resolved values at every
    #     fixture SF). stream_upsert_snapshot's version listing moved to
    #     the one-RPC globStatus (same relation, new state machinery —
    #     the r6 os.*->Hadoop-FS precedent).
    "dedup_minhash_pairs": 11,
    "dedup_minhash_pairs_wide": 11,
    "dedup_incremental": 11,
    "dedup_lsh_recall": 11,
    "dataset_split_leakage": 11,
    "dedup_components": 11,
    "dedup_components_logrounds": 11,
    "dedup_cluster_sizes": 11,
    "dedup_keep_best": 11,
    "dataset_split_safe": 11,
    "graph_pagerank": 11,
    # r13 (optimization round 2): executed machinery changed under these
    #     relations — the dedup ingest loop localCheckpoints its
    #     batch-bounded relations and runs the two state writes
    #     concurrently (streaming/dedup.py), fixture staging went
    #     concurrent (the fixture staging helper), the managed-ANN
    #     create/rebuild verbs return build-direct handles and
    #     load_ivfpq_index folds its metadata jobs into one
    #     (operators/ann_index.py). Same relations everywhere
    #     (hash-re-verified at sf0.01 in-round), but the driver should
    #     re-certify the new machinery.
    "ann_probe_vacuumed": 13,
    # r14: the ad-hoc per-phase wall-clock timers were removed from
    #     logtable_cdf, logtable_ivm, stream_ann_ingest_topk,
    #     stream_ann_ingest_fenced, dq_checks_incremental and the four
    #     stream_dedup_* queries (re-indented code, same plans).
    # r15: one harness for the declared streams — every file stream is
    #     staged by streaming/events.py ordered_feed (session scratch,
    #     links or single-file writes, pinned mtimes), drained by one
    #     _run, and the four closed-region queries read their sink
    #     through one _closed_region; logtable.snapshot reads every live
    #     version in ONE glob-escaped mergeSchema scan (versions from
    #     _metadata.file_path) instead of a per-version read + union,
    #     which moves every snapshot consumer (the logtable and
    #     ANN-ingest streams, the CDF family, the tombstone-reading ANN
    #     probes); the dedup state lists committed batch ids through one
    #     helper (compact_state's per-id _SUCCESS probes became one glob
    #     per tree); the MG audit reads its state via read_upsert_state.
    #     Same relations. Supersedes the r7, r12, r13 and r14 entries of
    #     these keys.
    "stream_windowed_stats": 15,
    "stream_sliding_stats": 15,
    "stream_attribution": 15,
    "stream_session_stats": 15,
    "stream_upsert_snapshot": 15,
    "stream_upsert_log_snapshot": 15,
    "stream_heavy_hitters_audit": 15,
    "stream_cdc_apply": 15,
    "stream_ann_ingest_topk": 15,
    "stream_ann_ingest_fenced": 15,
    "stream_dedup_admitted": 15,
    "stream_dedup_resketch": 15,
    "stream_dedup_compacted": 15,
    "stream_dedup_maintained": 15,
    "logtable_cdf": 15,
    "logtable_ivm": 15,
    "dq_checks_incremental": 15,
    "ann_probe_deleted": 15,
    "ann_probe_rebuilt": 15,
}


def _row_is_green(name: str, row: object) -> bool:
    """A CORRECTNESS row counts as verified iff it ran and didn't fail.
    ``no_oracle`` rows are rows-only checks; they count as green only for
    queries that still have no declared oracle (re-running those yields no
    more signal). For a query that HAS an oracle now (all 116 do since
    round 4), a historical rows-only row is strictly weaker than the hash
    check the driver would run today, so it does NOT count — the query
    sorts as never-verified and takes the next window. Any other error or
    a False match flag likewise sends the query back into the window."""
    if not isinstance(row, dict):
        return False
    if row.get("err") == "no_oracle":
        return name not in ORACLE_SQL
    if row.get("err") is not None:
        return False
    return all(
        row.get(k) is not False
        for k in ("rows_match", "schema_match", "hash_match")
    )


def last_green_rounds(repo_root: Path | None = None) -> dict[str, int]:
    """query name → most recent round with a green CORRECTNESS row
    (queries with no green row ever are absent). Robust to missing or
    malformed files: they simply contribute nothing."""
    root = repo_root or Path(__file__).resolve().parents[2]
    out: dict[str, int] = {}
    for p in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", p.name)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            data = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for name, row in data.items():
            if _row_is_green(name, row):
                out[name] = max(out.get(name, rnd), rnd)
    for name, changed_round in REVERIFY.items():
        # Self-expiring: only green rows PREDATING the definition change
        # are discarded; a row from the change round or later certifies
        # the new definition and the entry becomes inert history.
        if out.get(name, changed_round) < changed_round:
            out.pop(name, None)
    return out


def registry_order(names: list[str], green: dict[str, int]) -> list[str]:
    """Stalest-first: never-green first, then ascending last-green round;
    merge order breaks ties so the rotation is fully deterministic."""
    index = {n: i for i, n in enumerate(names)}
    return sorted(names, key=lambda n: (green.get(n, -1), index[n]))


def _prepared(name: str, fn):
    """Prepared-plan cache: build each declared query's DataFrame once per
    (session, sf_dir) and hand the same object back on repeat invocation —
    the prepared-statement discipline every long-lived analytics service
    uses. A DataFrame IS the reusable logical plan; every action on it
    re-executes against the files, so results are identical — only the
    eager per-transformation analysis cost (measured ~19.5s across one
    pass of the full registry at sf0.1, up to 4.5s for the unrolled
    iterative plans) is paid once instead of per call. A session change
    clears the cache (single-session slot — see the comment in ``run``),
    so a stopped test session's plans never serve a new one. Note the one
    visible semantic: the cached plan's parquet file listing is pinned at
    first build (same contract as Engine.sql's pinned views;
    Engine.refresh covers external writers)."""
    import functools

    @functools.wraps(fn)
    def run(spark, sf_dir):
        global _CACHE_SESSION
        # Single-session slot, not a per-session map: cached DataFrames
        # strongly reference their session, so a weak-keyed map would
        # never actually evict (value→key references pin the entry) and
        # every stopped session's plans would accumulate. One slot bounds
        # retention to at most one previous session's plans, and the
        # common cases (driver gate, bench, a service) use one session.
        if _CACHE_SESSION is not spark:
            _CACHE_SESSION = spark
            _PLAN_CACHE.clear()
        key = (name, sf_dir)
        df = _PLAN_CACHE.get(key)
        if df is None:
            df = fn(spark, sf_dir)
            _PLAN_CACHE[key] = df
        return df

    return run


_CACHE_SESSION = None
_PLAN_CACHE: dict = {}


def _rotated() -> dict[str, object]:
    try:
        order = registry_order(list(_MERGED_QUERIES), last_green_rounds())
    except Exception:  # never let bookkeeping break the query surface
        order = list(_MERGED_QUERIES)
    # Streaming queries are NOT prepared-cached: each invocation drives a
    # full availableNow backfill into a fresh scratch dir and returns the
    # terminal-state relation. Caching would hand back the FIRST run's
    # sink on repeat calls — a service re-invoking the backfill wants new
    # source files picked up, and the bench's min-of-N protocol must time
    # the real pipeline, not a parquet re-read of its output.
    return {
        n: (
            _MERGED_QUERIES[n]
            if n in streaming_plans.QUERIES
            else _prepared(n, _MERGED_QUERIES[n])
        )
        for n in order
    }


QUERIES = _rotated()

# Uncached plan builders, same names/order as QUERIES. Plan-shape tests
# use this surface: they assert the physical plan under the *current*
# session confs, which the prepared-plan cache would otherwise pin to
# whatever conf was active at first build.
RAW_QUERIES = dict(_MERGED_QUERIES)

__all__ = [
    "DRIVER_WINDOW",
    "ORACLE_SQL",
    "QUERIES",
    "RAW_QUERIES",
    "last_green_rounds",
    "registry_order",
]
