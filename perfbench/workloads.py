"""The benchmark's workloads: which declared queries one pass runs, and
which layers each must exercise. Queries are looked up in
``plans.RAW_QUERIES`` (no prepared-plan cache), so every pass builds its
plans the way a submitted job does."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    # Seconds one pass took on the seed tree at local[4]. A run makes
    # round(--seconds / pass_s) passes, a count fixed per workload, so the
    # two sides of a comparison take the same number of latency samples.
    pass_s: float
    # layer metrics (trace run) that must be > 0 / == 0 on this workload
    active: tuple[str, ...] = ()
    absent: tuple[str, ...] = ()

    def layer_problems(self, metrics: dict[str, float]) -> list[str]:
        """Layer metrics of a traced run that break ``active``/``absent``:
        a missed wrapper or binding shows up as a zero where work is done."""
        bad = [f"{m} is 0, expected > 0" for m in self.active if not metrics.get(m)]
        bad += [f"{m} is {metrics[m]}, expected 0" for m in self.absent if metrics.get(m)]
        return bad


_STATE_LAYERS = (
    "streaming.batches",
    "logtable.commit_calls",
    "logtable.snapshot_calls",
    "dedup_state.ingest_calls",
    "driverpool.calls",
)

WORKLOADS = {
    w.name: w
    for w in (
        # LLM-data batch operators: pandas/mapInPandas kernels and the binary
        # plugin (the Python boundary), candidate-pair shuffles with a
        # verification kernel, and deep iterative plans (plan build).
        Workload(
            "llm_curation",
            pass_s=6.0,
            queries=(
                "dedup_edit_pairs",
                "plugin_binary_wordcount",
                "quality_logreg_calibration",
            ),
            active=("exec.jobs", "operators.py_rows_returned", "operators.py_run_s", "plans.build_s", "plans.python_nodes"),
            absent=_STATE_LAYERS,
        ),
        # Streaming backfills that write state: logtable commits, snapshots
        # and compaction, online-dedup state with its maintenance, the
        # driver pool and Hadoop-FS listings, one micro-batch at a time.
        Workload(
            "incremental",
            pass_s=10.5,
            queries=(
                "stream_upsert_log_snapshot",
                "stream_dedup_maintained",
            ),
            active=_STATE_LAYERS + ("sources.fs.list_calls", "sources.fs.write_calls", "dedup_state.maintenance_s", "logtable.maintenance_s"),
        ),
    )
}
