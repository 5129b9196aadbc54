"""Closed-loop benchmark of the engine's declared queries.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One client process drives one Spark session at ``local[<nproc>]`` and issues
the workload's queries back to back; the seed fixes the query order of every
pass. A run:

1. computes the DuckDB oracle results on first use in a checkout (cached
   under ``.bench_build/perfbench``; see inputs.py; not timed);
2. sets up: session start and one warm pass that collects every query's
   result and checks it against its oracle (row count, columns,
   order-insensitive hash; the check itself is not timed);
3. runs ``--seconds`` worth of passes (a pass count fixed per workload, at
   least two), each query timed from the plan-builder call to the noop
   sink finishing.

With ``--trace 0`` it reports the end-to-end metrics: ``setup_s`` (script
start, engine import included, until warm, without the oracle computation
and the result check), ``pass_cpu_s`` (CPU seconds of this process, the JVM
and the Python workers per pass, averaged over the timed passes) and
``peak_rss_mb`` (peak RSS of the JVM plus this process). The wall-clock
figures go in the report: ``pass_s`` (median pass) and the per-query
latencies with their median ``query_p50_s`` and tail ``query_tail_s`` (see
``stats.tail``). They are not result metrics because the host's CPU steal
(``steal_ticks`` in the report) stretches them by up to 1.7x between
identical runs, far past the bound a change is held to, while CPU time,
which steal is not charged to, stays within a tenth.
With ``--trace 1`` it alternates untraced and traced passes and reports the
per-layer metrics of the traced ones (see tracing.py), the layer self times
and the tracing overhead; spans are written to
``.bench_build/perfbench/traces``. A traced run whose layer counts break the
workload's ``active``/``absent`` lists is reported as not correct.

The last stdout line is the result object; the line before it is a report
with the configuration, input sizes and the details behind each number.
"""

import time

T_START = time.time()

import argparse  # noqa: E402
import collections  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")

import inputs  # noqa: E402
from stats import canon_hash, median, merged_length, tail  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "pass_cpu_s": "s",
    "peak_rss_mb": "MB",
}

_S, _N, _B, _R = "s", "count", "bytes", "ratio"
PER_LAYER = {
    "session.start_s": _S, "session.warm_s": _S,
    "plans.build_s": _S, "plans.build_jobs": _N, "plans.optimize_s": _S,
    "plans.exchanges": _N, "plans.python_nodes": _N, "plans.scans": _N,
    "exec.jobs": _N, "exec.stages": _N, "exec.tasks": _N, "exec.job_s": _S,
    "exec.driver_gap_s": _S, "exec.task_s": _S, "exec.task_cpu_s": _S,
    "exec.slot_util": _R, "exec.gc_s": _S, "exec.input_bytes": _B,
    "exec.shuffle_write_bytes": _B, "exec.shuffle_read_bytes": _B,
    "exec.shuffle_fetch_wait_s": _S, "exec.spill_bytes": _B,
    "exec.failed_tasks": _N,
    "operators.py_run_s": _S, "operators.py_start_s": _S,
    "operators.py_bytes_sent": _B, "operators.py_bytes_returned": _B,
    "operators.py_rows_returned": _N,
    "streaming.batches": _N, "streaming.rows_in": _N,
    "streaming.batch_p50_s": _S, "streaming.batch_tail_s": _S,
    "streaming.add_batch_s": _S, "streaming.query_planning_s": _S,
    "streaming.latest_offset_s": _S, "streaming.get_batch_s": _S,
    "streaming.wal_commit_s": _S, "streaming.commit_offsets_s": _S,
    "logtable.commit_s": _S, "logtable.commit_calls": _N,
    "logtable.snapshot_s": _S, "logtable.snapshot_calls": _N,
    "logtable.maintenance_s": _S, "logtable.commit_conflicts": _N,
    "dedup_state.ingest_s": _S, "dedup_state.ingest_calls": _N,
    "dedup_state.maintenance_s": _S,
    "sources.fs.list_calls": _N, "sources.fs.list_s": _S,
    "sources.fs.write_calls": _N, "sources.fs.write_s": _S,
    "sources.load_table_calls": _N, "sources.table_cache_hit_ratio": _R,
    "driverpool.calls": _N, "driverpool.thunks": _N, "driverpool.wall_s": _S,
    "driverpool.thunk_s": _S, "driverpool.queue_wait_s": _S,
    "driverpool.overlap": _R,
    "self.plans_s": _S, "self.exec_s": _S, "self.streaming_s": _S,
    "self.logtable_s": _S, "self.dedup_state_s": _S, "self.sources_s": _S,
    "self.driverpool_s": _S, "self.glue_s": _S,
    "trace.pass_s": _S, "trace.untraced_pass_s": _S,
    "trace.overhead_s": _S, "trace.coverage": _R,
}

# progress field of a micro-batch -> per-layer metric
BATCH_FIELDS = {
    "addBatch": "streaming.add_batch_s",
    "queryPlanning": "streaming.query_planning_s",
    "latestOffset": "streaming.latest_offset_s",
    "getBatch": "streaming.get_batch_s",
    "walCommit": "streaming.wal_commit_s",
    "commitOffsets": "streaming.commit_offsets_s",
}
LAYERS = ("plans", "exec", "streaming", "logtable", "dedup_state", "sources", "driverpool")


# bench.py's driver heap
DRIVER_MEM = "6g"


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _shuffle_width(sf: float) -> int:
    # bench.py's SF-derived width: 8 at sf0.1 and below, 64 at sf10
    return max(8, math.ceil(6.4 * sf))


def _configure(scratch: str, sf: float) -> dict[str, str]:
    """The fixed session configuration (bench.py's knobs at local[nproc]),
    with every scratch location inside this run's scratch directory. The
    engine's own JVM options stay in effect (see ``_java_opts``)."""
    for sub in ("tmp", "local", "materialize"):
        os.makedirs(os.path.join(scratch, sub), exist_ok=True)
    tmp = os.path.join(scratch, "tmp")
    env = {
        "SPARK_GRAFT_CPUS": str(_nproc()),
        "SPARK_GRAFT_AQE": "false",
        "SPARK_GRAFT_SHUFFLE": str(_shuffle_width(sf)),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # the JVM spark-submit runs first to build the driver's command line
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_GRAFT_SCRATCH": os.path.join(scratch, "materialize"),
        "SPARK_LOCAL_DIRS": os.path.join(scratch, "local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    }
    os.environ.update(env)
    os.environ.pop("SPARK_GRAFT_DRIVER_JAVA_OPTS", None)  # the engine's default
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return env


def _java_opts(scratch: str) -> str:
    """The engine's default driver JVM options, with the benchmark's own
    appended: a fixed heap (initial = maximum) and a fixed 1 GiB young
    generation, because G1 otherwise sizes both from GC timings and the
    JVM's peak RSS swings by a third between identical runs (so
    ``peak_rss_mb`` measures the engine under this heap set-up), and no
    hsperfdata or temp files outside the scratch directory."""
    from hdfs_mapreduce_spark.session import _DEFAULTS

    tmp = os.path.join(scratch, "tmp")
    return (
        f"{_DEFAULTS['spark.driver.extraJavaOptions']} "
        f"-Xms{DRIVER_MEM} -Xmn1g -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    )


def _rss_peak_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _proc_tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) of ``root`` and every live descendant,
    with the reaped children each has waited for: this process, the JVM and
    the Python workers. Time the host steals from the virtual CPUs is not
    charged to a process, so this figure does not move with the neighbours'
    load the way wall time does."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited meanwhile
            continue
        parent[int(name)] = int(fields[1])
        ticks[int(name)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    tree, frontier = {root}, {root}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier} - tree
        tree |= frontier
    return sum(ticks.get(p, 0) for p in tree) / os.sysconf("SC_CLK_TCK")


def _steal_ticks() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def _clean_stale_scratch() -> None:
    """Remove scratch left by runs that were killed."""
    base = os.path.join(BUILD, "scratch")
    if not os.path.isdir(base):
        return
    for name in os.listdir(base):
        pid = name.split("-")[0]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)


class Run:
    def __init__(self, args, workload, sf_dir, expected):
        self.args = args
        self.w = workload
        self.sf_dir = sf_dir
        self.expected = expected
        self.rng = random.Random(args.seed)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.latencies: list[float] = []
        self.by_query: dict[str, list[float]] = collections.defaultdict(list)
        self.pass_s: list[float] = []
        self.pass_cpu_s: list[float] = []
        self.traced_pass_s: list[float] = []
        self.layer_passes: list[collections.Counter] = []
        self.batches: list[dict] = []
        self.traced_batches: list[dict] = []

    # -- set-up ---------------------------------------------------------
    def start_session(self, scratch: str):
        from hdfs_mapreduce_spark.session import get_spark

        self.spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": _java_opts(scratch),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        from hdfs_mapreduce_spark.plans import RAW_QUERIES

        self.queries = {n: RAW_QUERIES[n] for n in self.w.queries}
        from tracing import batch_listener_class

        self.listener = batch_listener_class()()
        self.spark.streams.addListener(self.listener)

    def warm_pass(self) -> float:
        """Run and check every query once; returns the seconds spent checking
        (hashing and comparing), which set-up time excludes."""
        check_s = 0.0
        for name in self.rng.sample(self.w.queries, len(self.w.queries)):
            self.attempted += 1
            try:
                pdf = self.queries[name](self.spark, self.sf_dir).toPandas()
            except Exception as exc:  # a failed query is counted, not fatal
                self._fail(name, f"{type(exc).__name__}: {exc}")
                continue
            t0 = time.time()
            want = self.expected[name]
            if len(pdf) != want["rows"]:
                self._fail(name, f"rows {len(pdf)} != oracle {want['rows']}")
            elif sorted(pdf.columns) != want["columns"]:
                self._fail(name, f"columns {sorted(pdf.columns)} != oracle {want['columns']}")
            elif canon_hash(pdf) != want["hash"]:
                self._fail(name, "result hash differs from the oracle")
            check_s += time.time() - t0
        self.listener.settle()
        self.listener.batches.clear()
        return check_s

    def _fail(self, name: str, why: str) -> None:
        self.failed += 1
        self.failures.append(f"{name}: {why}"[:300])
        print(f"perfbench: {name} FAILED: {why}"[:2000], file=sys.stderr)

    # -- measurement ----------------------------------------------------
    def measure(self, tracer=None, probe=None) -> None:
        """``--seconds`` worth of passes at the workload's nominal pass time,
        at least two; a traced run alternates untraced and traced passes."""
        for n in range(max(2, round(self.args.seconds / self.w.pass_s))):
            order = self.rng.sample(self.w.queries, len(self.w.queries))
            if tracer is not None and n % 2 == 1:
                self._traced_pass(order, tracer, probe)
            else:
                self._pass(order)

    def _pass(self, order) -> None:
        cpu0 = _proc_tree_cpu_s(os.getpid())
        start = time.time()
        for name in order:
            self.attempted += 1
            q0 = time.time()
            try:
                df = self.queries[name](self.spark, self.sf_dir)
                df.write.format("noop").mode("overwrite").save()
            except Exception as exc:
                self._fail(name, f"{type(exc).__name__}: {exc}")
                continue
            self.latencies.append(time.time() - q0)
            self.by_query[name].append(self.latencies[-1])
        self.pass_s.append(time.time() - start)
        self.pass_cpu_s.append(_proc_tree_cpu_s(os.getpid()) - cpu0)
        self.listener.settle()
        self.batches.extend(self.listener.batches)
        self.listener.batches.clear()

    def _traced_pass(self, order, tracer, probe) -> None:
        from tracing import plan_shape

        first_span = len(tracer.spans)
        layer = collections.Counter()
        counters_before = collections.Counter(tracer.counters)
        tracer.enabled = True
        start = time.time()
        with tracer.span("pass", workload=self.w.name):
            for name in order:
                j0, e0 = probe.next_job_id(), probe.last_execution_id()
                with tracer.span("query", query=name) as qspan:
                    q0 = time.time()
                    try:
                        with tracer.span("plans.build"):
                            df = self.queries[name](self.spark, self.sf_dir)
                        layer["plans.build_jobs"] += probe.next_job_id() - j0
                        with tracer.span("plans.optimize"):
                            layer.update(plan_shape(df))
                        with tracer.span("exec.run"):
                            df.write.format("noop").mode("overwrite").save()
                    except Exception as exc:
                        self._fail(name, f"{type(exc).__name__}: {exc}")
                    q1 = time.time()
                self.attempted += 1
                probe.drain()
                self.listener.settle()
                jobs = probe.jobs(j0, probe.next_job_id())
                layer.update(jobs["totals"])
                job_iv = [(max(s, q0), min(e, q1)) for s, e, _ in jobs["intervals"]]
                job_s = merged_length([iv for iv in job_iv if iv[1] > iv[0]])
                layer["exec.job_s"] += job_s
                layer["exec.driver_gap_s"] += (q1 - q0) - job_s
                for s, e, jid in jobs["intervals"]:
                    tracer.add("exec.job", s, e, "auto", job=jid, query_span=qspan)
                layer.update(probe.python_metrics(e0))
                for b in self.listener.batches:
                    tracer.add("streaming.batch", b["start"],
                               b["start"] + b.get("triggerExecution", 0.0), "auto")
                self.traced_batches.extend(self.listener.batches)
                self._batch_layer(self.listener.batches, layer)
                self.listener.batches.clear()
        tracer.enabled = False
        self.traced_pass_s.append(time.time() - start)

        ids = {s["id"] for s in tracer.spans[first_span:]}
        tracer.adopt(ids)
        self_times = tracer.self_times(ids)
        for s in tracer.spans[first_span:]:
            name = s["name"]
            dur = s["end"] - s["start"]
            top = name.split(".")[0]
            layer[f"self.{top if top in LAYERS else 'glue'}_s"] += self_times[s["id"]]
            if name in ("plans.build", "plans.optimize"):
                layer[f"{name}_s"] += dur
            elif name in ("logtable.commit", "logtable.snapshot", "logtable.maintenance",
                          "dedup_state.ingest", "dedup_state.maintenance",
                          "sources.fs.list", "sources.fs.write"):
                layer[f"{name}_s"] += dur
            elif name == "driverpool.call":
                layer["driverpool.wall_s"] += dur
            elif name == "driverpool.thunk":
                layer["driverpool.thunk_s"] += dur
        layer.update(tracer.counters)  # this pass's counts (Counter adds)
        layer.subtract(counters_before)
        self.layer_passes.append(layer)

    @staticmethod
    def _batch_layer(batches, layer) -> None:
        for b in batches:
            layer["streaming.batches"] += 1
            layer["streaming.rows_in"] += b["rows"]
            for field, metric in BATCH_FIELDS.items():
                layer[metric] += b.get(field, 0.0)

    # -- results --------------------------------------------------------
    def batch_stats(self, batches) -> dict:
        trig = [b.get("triggerExecution", 0.0) for b in batches]
        return {"batches": len(trig), "p50_s": median(trig), "tail": tail(trig)}

    def layer_metrics(self, session_start_s, warm_s) -> dict[str, float]:
        names = set(PER_LAYER)
        out = {}
        for name in names:
            values = [p[name] for p in self.layer_passes]
            out[name] = median(values) if values else 0.0
        cores = _nproc()
        out["exec.slot_util"] = median([
            p["exec.task_s"] / (p["exec.job_s"] * cores) if p["exec.job_s"] else 0.0
            for p in self.layer_passes
        ])
        out["sources.table_cache_hit_ratio"] = median([
            p["sources.load_table_hits"] / p["sources.load_table_calls"]
            if p["sources.load_table_calls"] else 0.0
            for p in self.layer_passes
        ])
        out["driverpool.overlap"] = median([
            p["driverpool.thunk_s"] / p["driverpool.wall_s"] if p["driverpool.wall_s"] else 0.0
            for p in self.layer_passes
        ])
        bs = self.batch_stats(self.traced_batches)
        out["streaming.batch_p50_s"] = bs["p50_s"]
        out["streaming.batch_tail_s"] = bs["tail"]["value"] if bs["tail"] else 0.0
        out["session.start_s"] = session_start_s
        out["session.warm_s"] = warm_s
        out["trace.pass_s"] = median(self.traced_pass_s)
        out["trace.untraced_pass_s"] = median(self.pass_s)
        out["trace.overhead_s"] = out["trace.pass_s"] - out["trace.untraced_pass_s"]
        covered = sum(out[f"self.{layer}_s"] for layer in LAYERS)
        out["trace.coverage"] = covered / out["trace.pass_s"] if out["trace.pass_s"] else 0.0
        return out


def _versions() -> dict:
    import pyspark

    return {
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "platform": platform.platform(),
    }


def main(argv=None) -> int:
    args = _parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "hdfs_mapreduce_spark", "plans", "__init__.py")):
        print(f"perfbench: no engine package (hdfs_mapreduce_spark) under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    workload = WORKLOADS[args.workload]

    # the engine reads its session knobs at import: configure first
    _clean_stale_scratch()
    scratch = os.path.join(BUILD, "scratch", f"{os.getpid()}-{args.workload}")
    env = _configure(scratch, inputs.SF)
    from hdfs_mapreduce_spark.plans import ORACLE_SQL

    # 1. oracle results (computed once per checkout; not part of set-up time)
    t_build = time.time()
    expected = inputs.expected(BUILD, ORACLE_SQL, workload.queries)
    build_s = time.time() - t_build
    run = Run(args, workload, inputs.DATA_DIR, expected)
    tracer = probe = None
    try:
        # 2. set-up
        run.start_session(scratch)
        session_start_s = time.time() - T_START - build_s
        t1 = time.time()
        if args.trace:
            from tracing import SparkProbe, Tracer, install

            tracer = Tracer(f"{args.workload}-seed{args.seed}")
            rebound = install(tracer)
            probe = SparkProbe(run.spark)
        check_s = run.warm_pass()
        warm_s = time.time() - t1 - check_s
        setup_s = session_start_s + warm_s

        # 3. measured passes
        steal0 = _steal_ticks()
        run.measure(tracer, probe)
        steal_ticks = _steal_ticks() - steal0

        jvm_pid = int(run.spark.sparkContext._jvm.ProcessHandle.current().pid())
        rss_mb = {"jvm": _rss_peak_mb(jvm_pid), "client": _rss_peak_mb(os.getpid())}
        peak_rss_mb = rss_mb["jvm"] + rss_mb["client"]
        conf = dict(run.spark.sparkContext.getConf().getAll())
    finally:
        _stop(run)
        shutil.rmtree(scratch, ignore_errors=True)

    lat_tail = tail(run.latencies)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "queries": list(workload.queries),
        "nproc": _nproc(),
        "versions": _versions(),
        "env": {k: v for k, v in env.items() if k.startswith("SPARK_GRAFT")},
        "spark_conf": {k: v for k, v in sorted(conf.items()) if k.startswith("spark.sql") or k in (
            "spark.master", "spark.driver.memory", "spark.driver.extraJavaOptions")},
        "inputs": {"sf": inputs.SF, "tables": inputs.input_sizes()},
        "oracle_build_s": round(build_s, 3),
        "setup": {"session_start_s": session_start_s, "warm_s": warm_s, "check_s": check_s},
        "passes": len(run.pass_s),
        "pass_s": median(run.pass_s),
        "passes_s": run.pass_s,
        "passes_cpu_s": run.pass_cpu_s,
        # ticks the host took from this machine's CPUs while measuring
        "steal_ticks": steal_ticks,
        "query_samples": len(run.latencies),
        "query_s": run.by_query,
        "query_p50_s": median(run.latencies),
        "query_tail_s": lat_tail,
        "peak_rss_mb": rss_mb,
        "batch": run.batch_stats(run.batches),
        "failed_frac": run.failed / run.attempted,
        "failures": run.failures,
    }
    layer_problems = []
    if args.trace:
        metrics = run.layer_metrics(session_start_s, warm_s)
        layer_problems = workload.layer_problems(metrics)
        report["layer_problems"] = layer_problems
        report["traced_passes"] = len(run.traced_pass_s)
        report["jobs_missing_from_store"] = sum(p["exec.jobs_missing"] for p in run.layer_passes)
        report["wrapped_bindings"] = rebound
        trace_dir = os.path.join(BUILD, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
        tracer.dump(trace_path)
        report["trace_file"] = os.path.relpath(trace_path, ROOT)
        if layer_problems:
            print(f"perfbench: layer check failed: {layer_problems}", file=sys.stderr)
        out_metrics = {k: {"value": metrics[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {
            "setup_s": setup_s,
            "pass_cpu_s": sum(run.pass_cpu_s) / len(run.pass_cpu_s),
            "peak_rss_mb": peak_rss_mb,
        }
        out_metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": run.failed == 0 and not layer_problems,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": out_metrics,
    }))
    return 0


def _stop(run: Run) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    forked) to exit."""
    spark = getattr(run, "spark", None)
    if spark is None:
        return
    import subprocess

    from py4j.protocol import Py4JError

    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except (Py4JError, OSError):  # already closed by stop()
        pass
    if proc is not None:
        try:
            proc.stdin.close()  # the JVM exits when its stdin closes
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


if __name__ == "__main__":
    sys.exit(main())
