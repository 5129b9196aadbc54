"""bench.py's measurement helpers: the pure-Python ones, and the per-query
record over the shared test session."""

from __future__ import annotations

import json
import os

import pytest

import bench
from hdfs_mapreduce_spark.plans import QUERIES
from tests.conftest import SF_SMOKE


@pytest.fixture
def env(monkeypatch):
    """A private os.environ without the SPARK_GRAFT_* knobs: configure()
    setdefaults them, and they must not leak into the session fixture."""
    private = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    monkeypatch.setattr(os, "environ", private)
    return private


def test_derived_shuffle_width_scales_with_the_sf_dir_name():
    assert bench._derived_shuffle_width("/data/sf0.1") == 8
    assert bench._derived_shuffle_width("/data/sf10/") == 64


def test_derived_shuffle_width_estimates_unparsable_dirs_from_bytes(tmp_path):
    data = tmp_path / "tpch_big"
    data.mkdir()
    with open(data / "lineitem.parquet", "wb") as f:
        f.truncate(int(1.75e9))  # sparse: ~10 SF of parquet by size
    assert bench._sf_of(str(data)) is None
    assert bench._derived_shuffle_width(str(data)) == 64
    assert bench._derived_shuffle_width(str(tmp_path / "missing")) == 8


def test_configure_resolves_and_honours_exports(env):
    conf = bench.configure("/data/sf10")
    assert conf["shuffle_partitions"] == 64
    assert (conf["aqe"], conf["driver_mem"], conf["sf"]) == ("false", "6g", 10.0)
    env["SPARK_GRAFT_SHUFFLE"] = "12"
    env["SPARK_GRAFT_CPUS"] = "4"
    conf = bench.configure("/data/sf10")
    assert (conf["shuffle_partitions"], conf["cpus"]) == (12, 4)


@pytest.mark.parametrize("bad", ["eight", "8.0", "0", ""])
def test_configure_rejects_a_non_integer_shuffle_export(env, bad):
    env["SPARK_GRAFT_SHUFFLE"] = bad
    with pytest.raises(SystemExit, match="SPARK_GRAFT_SHUFFLE"):
        bench.configure("/data/sf0.1")


def test_fit_line_stays_under_budget_and_keeps_failures_first():
    timings = {f"query_number_{i:03d}": round(0.01 * i, 2) for i in range(300)}
    timings["broken_a"] = timings["broken_b"] = -1.0
    line = bench._fit_line({"metric": "m", "value": 1.0}, timings, budget=1900)
    assert len(line) <= 1900
    out = json.loads(line)
    kept = list(out["queries"])
    assert kept[:2] == ["broken_a", "broken_b"]
    assert kept[2] == "query_number_299"  # then slowest first
    assert out["queries_omitted"] == len(timings) - len(kept) > 0
    # aggregate keys alone over budget: the minimal form, not a stale one
    out = json.loads(bench._fit_line({"metric": "m" * 50}, timings, budget=10))
    assert out["queries"] == {} and out["queries_omitted"] == len(timings)


def test_delta_vs_prev_compares_only_the_same_sf_and_core_count(tmp_path):
    local = {
        bench._local_key(0.1, 32): {
            "sf": 0.1, "cpus": 32, "queries": {"q1": {"sec": 2.0}},
        }
    }
    (tmp_path / "BENCH_LOCAL.json").write_text(json.dumps(local))
    line = json.dumps({"metric": "m", "sf": 0.1, "queries": {"q1": 5.0}})
    driver = {"cpus": 8, "sf": 0.1, "tail": f"noise\n{line}"}
    (tmp_path / "BENCH_r13.json").write_text(json.dumps(driver))
    timings = {"q1": 3.0, "q2": 1.0, "broken": -1.0}
    root = str(tmp_path)
    assert bench._delta_vs_prev(timings, 0.1, 32, root) == {"q1": 1.0, "q2": None}
    assert bench._delta_vs_prev(timings, 0.1, 8, root) == {"q1": -2.0, "q2": None}
    assert bench._delta_vs_prev(timings, 0.1, 4, root) is None
    assert bench._delta_vs_prev(timings, 1.0, 32, root) is None


def test_an_unkeyed_bench_local_payload_is_not_a_snapshot(tmp_path):
    (tmp_path / "BENCH_LOCAL.json").write_text(
        json.dumps({"sf": 0.1, "queries": {"q1": 2.0}})
    )
    assert bench._read_local(str(tmp_path)) == {}
    assert bench._delta_vs_prev({"q1": 1.0}, 0.1, 8, str(tmp_path)) is None


def test_time_query_records_the_classes_an_execution_compiles(spark):
    """A plan shape no other test runs: its first execution compiles its
    classes; a repeat finds them in the codegen cache, which is what a warm
    pass relies on."""
    def fn(session, _sf_dir):
        return session.range(8).selectExpr("id * 40503 + 977 AS v")

    cold = bench.time_query(spark, fn, "unused", reps=1)
    warm = bench.time_query(spark, fn, "unused", reps=1)
    assert set(cold) == {
        "sec", "jobs", "job_s", "driver_gap_s", "codegen_compiles",
        "stages", "tasks", "task_cpu_s", "exchanges", "python_nodes", "scans",
    }
    assert cold["codegen_compiles"] > 0
    assert warm["codegen_compiles"] == 0


def test_time_query_record_is_the_probes_read_of_its_job_range(spark):
    """bench's record is perfbench's SparkProbe read of the timed job
    range, plus plan_shape's node counts of the timed DataFrame."""
    from stats import merged_length
    from tracing import SparkProbe, plan_shape

    fn = QUERIES["q7_join_agg"]
    probe = SparkProbe(spark)
    first = probe.next_job_id()
    rec = bench.time_query(spark, fn, SF_SMOKE, reps=1)
    stop = probe.next_job_id()
    assert rec["jobs"] == stop - first > 0
    jobs = probe.jobs(first, stop)
    totals = jobs["totals"]
    assert totals["exec.jobs"] == rec["jobs"]
    assert rec["stages"] == totals["exec.stages"] > 0
    assert rec["tasks"] == totals["exec.tasks"] >= rec["stages"]
    assert rec["task_cpu_s"] == round(totals["exec.task_cpu_s"], 4)
    job_s = merged_length([(s, e) for s, e, _ in jobs["intervals"]])
    assert rec["job_s"] == round(job_s, 4)
    shape = plan_shape(fn(spark, SF_SMOKE))
    assert {f"plans.{k}": rec[k] for k in ("exchanges", "python_nodes", "scans")} == shape
    assert rec["exchanges"] > 0 and rec["scans"] > 0
