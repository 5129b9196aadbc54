"""Tracing for the benchmark's traced run.

* ``Tracer`` keeps spans (name, start, end, parent, run id) and counters in
  memory and writes them out once, when the run ends.
* ``install`` wraps the public functions of the engine's layers and rebinds
  every module-level name that refers to them, so a plan module that did
  ``from ...catalog import load_table`` at import calls the wrapper too.
  Wrappers record only while ``Tracer.enabled`` is set.
* ``SparkProbe`` reads the work Spark did for one query from the status
  stores, by job id and SQL execution id ranges taken right before and after
  the query, so retention limits and job groups do not matter.
* ``BatchListener`` collects the progress of every streaming micro-batch.
"""

from __future__ import annotations

import collections
import functools
import importlib
import itertools
import json
import re
import sys
import threading
import time
from contextlib import contextmanager
from datetime import datetime

from stats import parse_sql_metric

PACKAGE = "hdfs_mapreduce_spark"

# (module, attribute, span name): the layer calls the traced run records.
WRAPPED = (
    ("sources.catalog", "load_table", "sources.load_table"),
    ("sources.fs", "list_child_names", "sources.fs.list"),
    ("sources.fs", "glob_parent_names", "sources.fs.list"),
    ("sources.fs", "exists", "sources.fs.list"),
    ("sources.fs", "write_text_atomic", "sources.fs.write"),
    ("sources.fs", "rename", "sources.fs.write"),
    ("sources.fs", "delete", "sources.fs.write"),
    ("sources.fs", "mkdirs", "sources.fs.write"),
    ("streaming.logtable", "upsert_batch", "logtable.commit"),
    ("streaming.logtable", "merge_batch", "logtable.commit"),
    ("streaming.logtable", "delete_batch", "logtable.commit"),
    ("streaming.logtable", "snapshot", "logtable.snapshot"),
    ("streaming.logtable", "compact", "logtable.maintenance"),
    ("streaming.logtable", "vacuum", "logtable.maintenance"),
    ("streaming.logtable", "checkpoint_log", "logtable.maintenance"),
    ("streaming.dedup", "dedup_ingest_batch", "dedup_state.ingest"),
    ("streaming.dedup", "compact_state", "dedup_state.maintenance"),
    ("streaming.dedup", "resketch_state", "dedup_state.maintenance"),
)

# Physical operators that cross the Python boundary.
PYTHON_NODE = re.compile(r"Pandas|Python|InArrow")
PY_METRICS = {
    "time to run Python workers": "operators.py_run_s",
    "time to start Python workers": "operators.py_start_s",
    "data sent to Python workers": "operators.py_bytes_sent",
    "data returned from Python workers": "operators.py_bytes_returned",
    "number of output rows": "operators.py_rows_returned",
}


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self.counters: collections.Counter = collections.Counter()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[int] | None = None

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
            if threading.current_thread() is self._main:
                self._main_stack = stack
        return stack

    def current(self) -> int | None:
        """Innermost open span of this thread; off the main thread with
        nothing open (a Py4J callback running a foreachBatch sink), the
        innermost open span of the main thread."""
        stack = self._stack()
        if stack:
            return stack[-1]
        main = self._main_stack
        return main[-1] if main else None

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = parent if parent is not None else self.current()
        sid = next(self._ids)
        start = time.time()
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            self.add(name, start, time.time(), parent, sid=sid, **attrs)

    def add(self, name, start, end, parent, sid=None, **attrs) -> int:
        """Record a finished span; ``parent="auto"`` means the smallest
        recorded span that contains it (used for Spark jobs and batches)."""
        sid = sid if sid is not None else next(self._ids)
        rec = {"id": sid, "parent": parent, "name": name, "start": start,
               "end": end, "run": self.run_id}
        rec.update(attrs)
        with self._lock:
            self.spans.append(rec)
        return sid

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counters[name] += n

    def adopt(self, span_ids: set[int]) -> None:
        """Give each ``parent="auto"`` span among ``span_ids`` the smallest
        span of that set, of another name, that contains it (1 ms slack:
        Spark's clock has millisecond resolution)."""
        group = [s for s in self.spans if s["id"] in span_ids]
        for s in group:
            if s["parent"] != "auto":
                continue
            best = None
            for c in group:
                if c["name"] == s["name"]:  # jobs never parent jobs
                    continue
                if c["start"] - 1e-3 <= s["start"] and s["end"] <= c["end"] + 1e-3:
                    if best is None or c["end"] - c["start"] < best["end"] - best["start"]:
                        best = c
            s["parent"] = best["id"] if best else None

    def self_times(self, span_ids: set[int]) -> dict[int, float]:
        """Self time of each span: the instants at which it is the deepest
        open span (the latest started one among equally deep spans, e.g.
        concurrent driver-pool thunks). Every instant inside the root spans
        goes to exactly one span, so the self times add up to the roots'
        wall-clock time even when threads overlap."""
        group = {s["id"]: s for s in self.spans if s["id"] in span_ids}
        depth: dict[int, int] = {}

        def depth_of(sid):
            if sid not in depth:
                parent = group[sid]["parent"]
                depth[sid] = 0 if parent not in group else depth_of(parent) + 1
            return depth[sid]

        for sid in group:
            depth_of(sid)
        out = dict.fromkeys(group, 0.0)
        edges = sorted({t for s in group.values() for t in (s["start"], s["end"])})
        ordered = sorted(group.values(), key=lambda s: s["start"])
        for lo, hi in zip(edges, edges[1:]):
            best = None
            for s in ordered:
                if s["start"] > lo:
                    break
                if s["end"] >= hi and (
                    best is None or (depth[s["id"]], s["start"]) >= (depth[best["id"]], best["start"])
                ):
                    best = s
            if best is not None:
                out[best["id"]] += hi - lo
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans,
                       "counters": dict(self.counters)}, f)


def _wrapper(tracer: Tracer, fn, span_name: str):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        if not tracer.enabled:
            return fn(*args, **kwargs)
        tracer.count(f"{span_name}_calls")
        with tracer.span(span_name, fn=fn.__name__):
            return fn(*args, **kwargs)

    return traced


def _load_table_wrapper(tracer: Tracer, fn):
    from hdfs_mapreduce_spark.sources import catalog

    @functools.wraps(fn)
    def traced(spark, sf_dir, name):
        if not tracer.enabled:
            return fn(spark, sf_dir, name)
        tracer.count("sources.load_table_calls")
        if (sf_dir, name) in catalog._TABLE_CACHE.get(spark, {}):
            tracer.count("sources.load_table_hits")
        with tracer.span("sources.load_table", fn=fn.__name__):
            return fn(spark, sf_dir, name)

    return traced


def _pool_wrapper(tracer: Tracer, fn):
    @functools.wraps(fn)
    def traced(thunks):
        if not tracer.enabled:
            return fn(thunks)
        tracer.count("driverpool.calls")
        with tracer.span("driverpool.call") as call:
            submitted = time.time()

            def timed(thunk):
                def run():
                    tracer.count("driverpool.thunks")
                    tracer.count("driverpool.queue_wait_s", time.time() - submitted)
                    with tracer.span("driverpool.thunk", parent=call):
                        return thunk()

                return run

            return fn([timed(t) for t in thunks])

    return traced


def install(tracer: Tracer) -> int:
    """Wrap every layer function and rebind each module-level name bound to
    it in the engine's loaded modules. Returns the number of rebindings."""
    importlib.import_module(f"{PACKAGE}.plans")
    replace = {}
    for mod, attr, span_name in WRAPPED:
        fn = getattr(importlib.import_module(f"{PACKAGE}.{mod}"), attr)
        if attr == "load_table":
            replace[fn] = _load_table_wrapper(tracer, fn)
        else:
            replace[fn] = _wrapper(tracer, fn, span_name)
    pool = importlib.import_module(f"{PACKAGE}.functions.driverpool")
    replace[pool.run_concurrently] = _pool_wrapper(tracer, pool.run_concurrently)

    logtable = importlib.import_module(f"{PACKAGE}.streaming.logtable")
    backend = logtable.RenameCommitBackend
    put = backend.put_if_absent

    @functools.wraps(put)
    def put_if_absent(self, *args, **kwargs):
        won = put(self, *args, **kwargs)
        if not won:
            tracer.count("logtable.commit_conflicts")
        return won

    backend.put_if_absent = put_if_absent

    rebound = 0
    for name, module in list(sys.modules.items()):
        if not (name == PACKAGE or name.startswith(PACKAGE + ".")) or module is None:
            continue
        for key, value in list(vars(module).items()):
            try:
                wrapped = replace.get(value)
            except TypeError:  # unhashable module attribute
                continue
            if wrapped is not None:
                setattr(module, key, wrapped)
                rebound += 1
    return rebound


def _epoch(opt_date) -> float | None:
    return opt_date.get().getTime() / 1000.0 if opt_date.isDefined() else None


class SparkProbe:
    """Reads the status stores of one session (jobs, stages, SQL metrics)."""

    def __init__(self, spark):
        self.spark = spark
        jsc = spark.sparkContext._jsc.sc()
        self._jsc = jsc
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._stages_seen: set[int] = set()

    def next_job_id(self) -> int:
        return int(self._dag.nextJobId())

    def last_execution_id(self) -> int:
        n = self._sql.executionsCount()
        return -1 if n == 0 else int(self._sql.executionsList(n - 1, 1).apply(0).executionId())

    def drain(self) -> None:
        """Wait until the listener bus has delivered every pending event, so
        the stores hold the final numbers of finished jobs."""
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def jobs(self, first: int, stop: int) -> dict:
        """Totals of jobs ``first <= id < stop``; a stage reused by a later
        job (shuffle reuse) is counted once, by the job that ran it."""
        out = collections.Counter()
        intervals = []
        for jid in range(first, stop):
            try:
                job = self._store.job(jid)
            except Exception:  # evicted from the store or never registered
                out["exec.jobs_missing"] += 1
                continue
            out["exec.jobs"] += 1
            start = _epoch(job.submissionTime())
            end = _epoch(job.completionTime()) or time.time()
            if start is not None:
                intervals.append((start, end, jid))
            for sid in job.stageIds().mkString(",").split(","):
                if not sid or int(sid) in self._stages_seen:
                    continue
                try:
                    st = self._store.lastStageAttempt(int(sid))
                except Exception:
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                self._stages_seen.add(int(sid))
                out["exec.stages"] += 1
                out["exec.tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["exec.failed_tasks"] += st.numFailedTasks()
                out["exec.task_s"] += st.executorRunTime() / 1e3
                out["exec.task_cpu_s"] += st.executorCpuTime() / 1e9
                out["exec.gc_s"] += st.jvmGcTime() / 1e3
                out["exec.input_bytes"] += st.inputBytes()
                out["exec.shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["exec.shuffle_read_bytes"] += st.shuffleReadBytes()
                out["exec.shuffle_fetch_wait_s"] += st.shuffleFetchWaitTime() / 1e3
                out["exec.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return {"totals": out, "intervals": intervals}

    def python_metrics(self, after_execution: int) -> collections.Counter:
        """Python-boundary SQL metrics of executions with id > ``after``."""
        out = collections.Counter()
        n = self._sql.executionsCount()
        if n == 0:
            return out
        batch = self._sql.executionsList(max(0, n - 200), min(n, 200))
        for i in range(batch.size()):
            eid = batch.apply(i).executionId()
            if eid <= after_execution:
                continue
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                if not PYTHON_NODE.search(node.name()):
                    continue
                out["operators.python_nodes_run"] += 1
                metrics = node.metrics()
                for j in range(metrics.size()):
                    m = metrics.apply(j)
                    key = PY_METRICS.get(m.name())
                    if key is None:
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        out[key] += parse_sql_metric(v.get())
        return out


def plan_shape(df) -> dict[str, int]:
    """Exchanges, Python-boundary nodes and scans of the executed plan."""
    text = df._jdf.queryExecution().executedPlan().toString()
    nodes = [ln.lstrip(" :+-*()0123456789").split(" ")[0] for ln in text.splitlines()]
    return {
        "plans.exchanges": sum(n.endswith("Exchange") for n in nodes),
        "plans.python_nodes": sum(bool(PYTHON_NODE.search(n)) for n in nodes),
        "plans.scans": sum(n.startswith(("FileScan", "Scan", "BatchScan", "InMemoryTableScan")) for n in nodes),
    }


def _iso_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def batch_listener_class():
    from pyspark.sql.streaming import StreamingQueryListener

    class BatchListener(StreamingQueryListener):
        """Progress of every micro-batch, and started/terminated counts so a
        caller can wait until a finished query's events have arrived."""

        def __init__(self):
            self.batches: list[dict] = []
            self.started = 0
            self.terminated = 0
            self._lock = threading.Lock()

        def onQueryStarted(self, event):
            with self._lock:
                self.started += 1

        def onQueryProgress(self, event):
            p = event.progress
            dur = {k: v / 1e3 for k, v in dict(p.durationMs).items()}
            with self._lock:
                self.batches.append({
                    "start": _iso_epoch(p.timestamp),
                    "rows": int(p.numInputRows),
                    **dur,
                })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self._lock:
                self.terminated += 1

        def settle(self, timeout: float = 10.0) -> None:
            deadline = time.time() + timeout
            while time.time() < deadline:
                with self._lock:
                    if self.terminated >= self.started:
                        return
                time.sleep(0.01)

    return BatchListener
