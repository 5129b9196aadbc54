"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ..., "cpus": ...}.

Timing protocol: per query, build the plan and force full execution with a
noop write (collect-to-nothing via ``df.write.format("noop")``), which
executes the whole plan without driver materialization cost.

This module is also the measurement library the tools import: one
session config (``configure``, ``session``), one noop sink (``force``),
one warm pass (``warm``), one per-query record (``time_query``:
wall-clock split into Spark job time and driver gaps) and the octave
scripts' main (``octave``). ``SPARK_GRAFT_QUERIES=a,b python
bench.py`` is the per-query decomposition of a subset.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
# perfbench's status-store probe and plan counter, imported as its own
# tests import them
sys.path.insert(0, os.path.join(HERE, "perfbench"))

from stats import merged_length  # noqa: E402
from tracing import SparkProbe, plan_shape  # noqa: E402


def _sf_of(sf_dir: str) -> float | None:
    try:
        return float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        return None


def _derived_shuffle_width(sf_dir: str) -> int:
    """Scale the bench session's shuffle width with the SF instead of a
    constant (r12 verdict: the committed 8 is sf0.1-local tuning and the
    builder's own sf10 octave showed the ~100M-row gram shuffle
    COLLAPSING a session at width 8 — GC-thrashed window sorts until
    ContextCleaner RPCs timed out; 64 ran clean). Linear through the two
    measured anchors, floored at the sf0.1 value so the driver's sf0.1
    runs stay byte-comparable across rounds:

        width = max(8, ceil(6.4 * sf))   # sf0.1 -> 8, sf10 -> 64

    An unparsable dir name estimates the SF from the input bytes
    (sf0.1 is ~175 MB/SF of parquet). A caller's explicit
    SPARK_GRAFT_SHUFFLE always wins (configure() only setdefaults)."""
    import math

    sf = _sf_of(sf_dir)
    if sf is None:
        try:
            total = sum(
                os.path.getsize(os.path.join(r, f))
                for r, _, files in os.walk(sf_dir)
                for f in files
            )
            sf = total / 1.75e8
        except OSError:
            sf = 0.1
    return max(8, math.ceil(6.4 * sf))


def _positive_int(name: str) -> int:
    raw = os.environ[name]
    if not raw.isdigit() or int(raw) < 1:
        raise SystemExit(f"bench: {name} must be a positive integer, got {raw!r}")
    return int(raw)


def configure(sf_dir: str) -> dict:
    """Resolve the measurement session's knobs for ``sf_dir`` and return
    them; every timing path (bench.py and each tool) calls this BEFORE
    importing the engine, whose session module reads the env at import.

    Size the session for the bench data, not for a cluster: at sub-GB
    scale AQE's per-stage re-plan latency and 32-way reduce stages are
    pure overhead (measured: AQE off + 8 shuffle partitions is ~35%
    faster at sf0.1 with identical results). The shuffle width is
    SF-derived (see _derived_shuffle_width). 60 plans warmed + timed in
    one JVM GC-thrash the 1g session default; 6g measured ~7% faster
    overall and ~25% on the iterative components query. The session
    defaults stay scale-first; a value the caller already exported wins,
    and is validated here so a bad export fails before the session starts
    rather than after the timed run."""
    os.environ.setdefault("SPARK_GRAFT_AQE", "false")
    os.environ.setdefault(
        "SPARK_GRAFT_SHUFFLE", str(_derived_shuffle_width(sf_dir))
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")  # the session default
    if HERE not in sys.path:
        sys.path.insert(0, HERE)
    return {
        "sf_dir": sf_dir,
        "sf": _sf_of(sf_dir),
        "cpus": _positive_int("SPARK_GRAFT_CPUS"),
        "aqe": os.environ["SPARK_GRAFT_AQE"],
        "shuffle_partitions": _positive_int("SPARK_GRAFT_SHUFFLE"),
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
    }


def force(df) -> float:
    """Execute ``df`` into the noop sink; return the wall-clock seconds."""
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def session(app: str, sf_dir: str):
    """``configure(sf_dir)``, then the engine's session; returns both."""
    conf = configure(sf_dir)
    from hdfs_mapreduce_spark.session import get_spark

    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, conf


def warm(spark, fns, sf_dir: str) -> None:
    """The warm pass, excluded from timings (standard bench practice;
    matches how a long-lived cluster session behaves): each
    ``fn(spark, warm_dir)`` once at the smallest SF (a returned DataFrame
    is forced) — whole-stage codegen compiles and JITs each plan shape
    (first execution of the heavier shapes measured 3-8s of one-time
    compilation at any SF), and the first pandas/Arrow kernel forks the
    Python workers. The compiles are saved only while Spark's codegen
    cache holds the whole working set: a cache smaller than the plans
    between two runs of a shape evicts its classes and the timed run
    compiles them again (``time_query``'s ``codegen_compiles`` shows it;
    see ``spark.sql.codegen.cache.maxEntries`` in session.py)."""
    from pyspark.sql import DataFrame

    warm_dir = os.environ.get("SPARK_GRAFT_WARM_SF_DIR", "/root/testdata/sf0.001")
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    for fn in fns:
        try:
            out = fn(spark, warm_dir)
            if isinstance(out, DataFrame):
                force(out)
        except Exception as exc:
            print(f"bench: warm {fn.__name__} FAILED: {exc}", file=sys.stderr)


def codegen_compiles(spark) -> int:
    """Classes Spark's code generator has compiled in this JVM so far:
    one per codegen cache miss, so it stays put while the cache holds the
    plan shapes being run."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source
    return metrics.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def time_query(spark, fn, sf_dir: str, reps: int = 2) -> dict:
    """Min-of-``reps`` wall-clock of build + noop-forced execution, plus
    the fastest execution's Spark jobs, read by perfbench's ``SparkProbe``
    after its timer stops: count, merged job seconds, the driver gap
    (wall − job time: Catalyst analysis, codegen, streaming offset/commit
    bookkeeping), stages, tasks and task CPU seconds; the classes it
    compiled (``codegen_compiles``; more than 0 after a warm pass means
    the codegen cache is thrashing); and ``plan_shape``'s exchange,
    Python-boundary and scan node counts of the timed DataFrame. Only
    that execution's job-id range is read. Raises on a failed
    execution."""
    probe = SparkProbe(spark)
    best = None
    for _ in range(reps):
        compiles = codegen_compiles(spark)
        first = probe.next_job_id()
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        force(df)
        t = time.perf_counter() - t0
        stop = probe.next_job_id()
        compiles = codegen_compiles(spark) - compiles
        if best is None or t < best[0]:
            best = (t, first, stop, compiles, df)
    sec, first, stop, compiles, df = best
    probe.drain()  # the store lags the listener bus
    jobs = probe.jobs(first, stop)
    job_s = merged_length([(s, e) for s, e, _ in jobs["intervals"]])
    totals = jobs["totals"]
    return {
        "sec": round(sec, 4),
        "jobs": stop - first,
        "job_s": round(job_s, 4),
        "driver_gap_s": round(sec - job_s, 4),
        "codegen_compiles": compiles,
        "stages": totals["exec.stages"],
        "tasks": totals["exec.tasks"],
        "task_cpu_s": round(totals["exec.task_cpu_s"], 4),
        **{k.split(".", 1)[1]: v for k, v in plan_shape(df).items()},
    }


def octave(app: str, run) -> None:
    """The main of every ``tools/octave_*.py``: ``python tools/octave_X.py
    <sf_dir> [out_json]``. One session under ``configure(sf_dir)`` (export
    SPARK_GRAFT_DRIVER_MEM=16g for an sf10 session), one ``warm`` pass of
    ``run``, then ``run(spark, sf_dir)``; prints one JSON line of the
    resolved config plus run's result, and writes it to out_json if given."""
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1.0"
    out_path = sys.argv[2] if len(sys.argv) > 2 else None
    spark, conf = session(app, sf_dir)
    warm(spark, [run], sf_dir)
    line = json.dumps({**conf, **run(spark, sf_dir)})
    print(line)
    if out_path:
        with open(out_path, "w") as f:
            f.write(line + "\n")
    spark.stop()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark, conf = session("bench", sf_dir)
    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    # Optional subset (comma-separated names): scale smokes bench the
    # heavy tail without paying the full registry at large SF.
    only = os.environ.get("SPARK_GRAFT_QUERIES")
    if only:
        names = [n.strip() for n in only.split(",") if n.strip()]
        queries = {n: queries[n] for n in names if n in queries}

    warm(spark, queries.values(), sf_dir)

    # Per-query time = min of 2 executions. This machine shows ±50% run-to-run
    # drift (same query, same config, back-to-back sessions measured 2.3s,
    # 5.6s, 3.1s) — min-of-N is the standard way to report the query's cost
    # rather than the scheduler's mood; N=2 keeps the bench under ~3 min.
    records: dict[str, dict] = {}
    for name, fn in queries.items():
        try:
            records[name] = time_query(spark, fn, sf_dir)
            print(f"bench: {name} {json.dumps(records[name])}", file=sys.stderr)
        except Exception as exc:  # record failures, don't abort the run
            records[name] = {"sec": -1.0}
            print(f"bench: {name} FAILED: {exc}", file=sys.stderr)
    timings = {name: r["sec"] for name, r in records.items()}

    total = round(sum(t for t in timings.values() if t >= 0), 4)
    # Key order is deliberate: the driver's wrapper records only the TAIL
    # of long stdout, so the aggregate numbers lead (tiny, always legible
    # in full JSON), the oracle per-query section sits in the middle (the
    # clippable zone), and the Spark per-query section — the one a next
    # round needs for regression deltas — is LAST so it survives
    # truncation. BENCH_LOCAL.json carries the complete payload.
    out = {
        "metric": "declared-query wall-clock vs duckdb oracle",
        "value": total,
        "unit": "sec",
        "timing": "min of 2 executions per query, plan shapes pre-warmed",
        # the resolved session config, so cross-SF and cross-core runs
        # are comparable-with-eyes-open
        **conf,
    }
    # Subset runs time only the subset's oracles — a standalone retime of
    # one query must not pay the full registry's DuckDB pass.
    oracle = _time_oracles(sf_dir, set(queries))
    if oracle:
        oracle_total = round(sum(t for t in oracle.values() if t >= 0), 4)
        matched = round(
            sum(t for n, t in timings.items() if t >= 0 and n in oracle), 4
        )
        out["oracle_total"] = oracle_total
        out["spark_total_oracle_matched"] = matched
        if oracle_total > 0:
            out["spark_vs_oracle_ratio"] = round(matched / oracle_total, 3)
    delta = _delta_vs_prev(timings, conf["sf"], conf["cpus"])
    full = dict(out)
    if delta:
        full["delta_vs_prev"] = delta
    if oracle:
        full["oracle_sec"] = oracle
    full["queries"] = records
    # Standalone copy FIRST: the driver's wrapper records only the last
    # ~2000 chars of stdout, which lost r2-r4's per-query timings and
    # broke _delta_vs_prev. The file carries the complete payload
    # (per-query records + oracle_sec + delta_vs_prev), one snapshot per
    # (sf, cpus) so a run at another core count can't clobber it, and is
    # what _delta_vs_prev prefers when present. Skipped for subset runs so
    # a scale smoke can't clobber the full-registry snapshot.
    if not only:
        snapshots = _read_local(HERE)
        snapshots[_local_key(conf["sf"], conf["cpus"])] = full
        try:
            with open(os.path.join(HERE, "BENCH_LOCAL.json"), "w") as f:
                f.write(json.dumps(snapshots) + "\n")
        except OSError:
            pass
    # The printed line must survive the wrapper's 2000-char stdout tail
    # to be machine-readable in BENCH_r{N}.json ("parsed" was null r2-r4
    # because 100+ query timings overflow any tail). Budget the queries
    # section slowest-first — the entries a regression reader needs —
    # and point at BENCH_LOCAL.json for the rest.
    print(_fit_line(out, timings, budget=1900))
    spark.stop()


def _fit_line(
    out: dict, timings: dict[str, float], budget: int = 1900
) -> str:
    """One JSON line ≤ budget chars: all aggregate keys, then as many
    per-query timings as fit, slowest first (failures, -1.0, lead so they
    are never silently dropped)."""
    ranked = sorted(timings.items(), key=lambda kv: (kv[1] >= 0, -kv[1]))
    out = dict(out)
    out["n_queries"] = len(timings)
    out["full_payload"] = "BENCH_LOCAL.json"
    keep = len(ranked)
    while keep >= 0:
        out["queries"] = dict(ranked[:keep])
        out["queries_omitted"] = len(ranked) - keep
        line = json.dumps(out)
        if len(line) <= budget:
            return line
        # Overshoot is proportional to entry size (~30 chars each):
        # jump close, then step down.
        over = len(line) - budget
        keep -= max(1, over // 40)
    # Loop exhausted: even keep=0 is over budget (aggregate keys alone
    # exceed it). Return the minimal keep=0 form, not the last over-budget
    # line (whose "queries" dict was built with the previous, larger keep).
    out["queries"] = {}
    out["queries_omitted"] = len(ranked)
    return json.dumps(out)


def _time_oracles(
    sf_dir: str, only: set[str] | None = None
) -> dict[str, float] | None:
    """Wall-clock of each DuckDB oracle on the same parquet, same machine —
    the denominator of the per-query ratio the judge audits. One execution
    per oracle (DuckDB has no plan-compilation warmup to amortize; its
    buffer cache is warm because Spark just scanned the same files).
    Disable with SPARK_GRAFT_SKIP_ORACLE_BENCH=1 if bench time is tight."""
    if os.environ.get("SPARK_GRAFT_SKIP_ORACLE_BENCH"):
        return None
    try:
        import duckdb

        import __spark_entry__ as entrymod

        osql = entrymod.oracle_sql()
        con = duckdb.connect()
        for t in (
            "region nation customer supplier part orders lineitem events "
            "documents embeddings"
        ).split():
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        out: dict[str, float] = {}
        if only is not None:
            osql = {n: s for n, s in osql.items() if n in only}
        for name, sql in osql.items():
            t0 = time.perf_counter()
            try:
                con.execute(sql).fetchall()
                out[name] = round(time.perf_counter() - t0, 4)
            except Exception as exc:
                out[name] = -1.0
                print(f"bench: oracle {name} FAILED: {exc}", file=sys.stderr)
        return out
    except Exception:
        return None


def _local_key(sf: float | None, cpus: int) -> str:
    return f"sf={sf},cpus={cpus}"


def _read_local(root: str) -> dict[str, dict]:
    """BENCH_LOCAL.json's snapshots keyed by _local_key. A single unkeyed
    payload (the older shape) recorded no core count, so it is dropped."""
    try:
        with open(os.path.join(root, "BENCH_LOCAL.json")) as f:
            data = json.load(f)
    except (OSError, ValueError):
        return {}
    return data if isinstance(data, dict) and "queries" not in data else {}


def _delta_vs_prev(
    timings: dict[str, float], sf: float | None, cpus: int, root: str = HERE
) -> dict[str, float] | None:
    """Per-query delta (sec; negative = faster) vs the newest prior bench
    at the SAME scale factor AND core count (8 and 32 cores give different
    totals), so regressions are visible in-run. Prefers the standalone
    BENCH_LOCAL.json snapshot (complete by construction) over the
    driver's BENCH_r{N}.json records, whose wrapper nests the bench line
    inside a 'tail' field (with the core count beside it) and sometimes
    truncates it — both shapes are handled. Queries missing from the
    previous run are reported with the sentinel None."""
    import glob
    import re

    def prior_runs():
        yield _read_local(root).get(_local_key(sf, cpus), {})
        for path in sorted(glob.glob(os.path.join(root, "BENCH_r*.json")), reverse=True):
            try:
                with open(path) as f:
                    prev = json.load(f)
                if "queries" not in prev and "tail" in prev:
                    m = re.search(r'\{"metric".*\}', prev["tail"])
                    line = json.loads(m.group(0)) if m else {}
                    prev = {"cpus": prev.get("cpus"), **line}
            except Exception:
                continue
            yield prev

    for prev in prior_runs():
        if prev.get("queries") and prev.get("sf") == sf and prev.get("cpus") == cpus:
            # per-query entries are records ({"sec": ...}) or bare seconds
            prev_q = {
                n: (v["sec"] if isinstance(v, dict) else v)
                for n, v in prev["queries"].items()
            }
            return {
                name: (round(t - prev_q[name], 4) if name in prev_q else None)
                for name, t in timings.items()
                if t >= 0
            }
    return None


if __name__ == "__main__":
    main()
