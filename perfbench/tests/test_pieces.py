"""Tests of the benchmark's own pieces (no Spark session needed).

Run: python3 -m pytest perfbench/tests -q
"""

import importlib.util
import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

from stats import canon_hash, merged_length, parse_sql_metric, tail  # noqa: E402
from tracing import Tracer  # noqa: E402


def test_tail_is_the_maximum_below_a_hundred_samples():
    assert tail([]) is None
    t = tail([float(i) for i in range(99)])
    assert t == {"value": 98.0, "percentile": 100.0, "samples": 99, "beyond": 0}
    t = tail([float(i) for i in range(100)])
    assert t == {"value": 89.0, "percentile": 90.0, "samples": 100, "beyond": 10}


def test_tail_leaves_exactly_ten_samples_beyond():
    samples = [float(i) for i in range(400)]
    np.random.default_rng(0).shuffle(samples)
    t = tail(samples)
    assert t["value"] == 389.0
    assert t["percentile"] == 97.5
    assert t["samples"] == 400
    assert sum(s > t["value"] for s in samples) == 10


def test_merged_length_counts_overlap_once():
    # two pool-thread jobs overlapping a main-thread job, then a gap
    assert merged_length([(0.0, 2.0), (1.0, 3.0), (1.5, 2.5), (5.0, 6.0)]) == 4.0
    assert merged_length([(0.0, 1.0), (1.0, 2.0)]) == 2.0
    assert merged_length([(3.0, 4.0), (0.0, 10.0)]) == 10.0
    assert merged_length([]) == 0.0


@pytest.mark.parametrize(
    "text, value",
    [
        ("7", 7.0),
        ("100,000", 100000.0),
        ("7.6 s", 7.6),
        ("11 ms", 0.011),
        ("2.5 min", 150.0),
        ("0.0 B", 0.0),
        ("8.6 KiB", 8.6 * 1024),
        ("1562.5 KiB", 1562.5 * 1024),
        ("2.0 GiB", 2.0 * 2**30),
        ("total (min, med, max (stageId: taskId))\n3.6 s (874 ms, 906 ms, 940 ms (stage 1.0: task 6))", 3.6),
        ("total (min, med, max (stageId: taskId))\n783.3 KiB (195.8 KiB, 195.8 KiB, 195.8 KiB (stage 1.0: task 4))", 783.3 * 1024),
    ],
)
def test_parse_sql_metric(text, value):
    assert parse_sql_metric(text) == pytest.approx(value)


def test_parse_sql_metric_rejects_unknown_units():
    with pytest.raises(ValueError):
        parse_sql_metric("3 parsecs")


def _check_correctness_canon():
    sys.path.insert(0, ROOT)
    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(ROOT, "tools", "check_correctness.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._canon


def test_canon_hash_equals_check_correctness_canon():
    canon = _check_correctness_canon()
    df = pd.DataFrame(
        {
            "k": [3, 1, 2, 2],
            "name": ["c", "a", "b", "b"],
            "x": [0.1 + 0.2, 1.0 / 3.0, 2.5, -0.0000004],
            "f": np.array([1.5, 2.25, 3.0, 4.0], dtype=np.float32),
        }
    )
    assert canon_hash(df) == canon(df)
    shuffled = df.sample(frac=1.0, random_state=1)[["x", "f", "name", "k"]]
    assert canon_hash(shuffled) == canon(df)
    # doubles equal to 6 places hash equal; a 7th-place change is invisible
    nudged = df.assign(x=df["x"] + 1e-9)
    assert canon_hash(nudged) == canon_hash(df)
    assert canon_hash(df.assign(k=[3, 1, 2, 5])) != canon_hash(df)


def test_self_times_partition_the_root_span():
    tr = Tracer("t")
    tr.add("query", 0.0, 10.0, None, sid=1)
    tr.add("plans.build", 0.0, 4.0, 1, sid=2)
    # two overlapping jobs (driver-pool threads) inside the build
    tr.add("exec.job", 1.0, 3.0, "auto", sid=3)
    tr.add("exec.job", 2.0, 3.5, "auto", sid=4)
    tr.add("exec.job", 6.0, 9.0, "auto", sid=5)
    ids = {1, 2, 3, 4, 5}
    tr.adopt(ids)
    parents = {s["id"]: s["parent"] for s in tr.spans}
    assert parents[3] == 2 and parents[4] == 2 and parents[5] == 1
    self_t = tr.self_times(ids)
    # the overlap [2, 3] goes to the later-started job only
    assert self_t[3] == pytest.approx(1.0)
    assert self_t[4] == pytest.approx(1.5)
    assert self_t[2] == pytest.approx(1.5)
    assert self_t[5] == pytest.approx(3.0)
    assert self_t[1] == pytest.approx(3.0)
    assert sum(self_t.values()) == pytest.approx(10.0)


def test_benchmark_json_lists_what_run_reports():
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    from workloads import WORKLOADS

    for w in spec["workloads"]:
        # the query list of every benchmarked workload is recorded in its why
        assert w["why"].split(": ", 1)[1].split() == list(WORKLOADS[w["name"]].queries)


def test_layer_problems_flag_missing_and_unexpected_layers():
    from workloads import WORKLOADS

    w = WORKLOADS["llm_curation"]
    ok = {m: 1.0 for m in w.active}
    assert w.layer_problems(ok) == []
    # a layer meant to do the work reads 0 (a wrapper or binding missed)
    missing = dict(ok, **{"operators.py_run_s": 0.0})
    assert w.layer_problems(missing) == ["operators.py_run_s is 0, expected > 0"]
    # a layer the workload must not touch reads non-zero
    stray = dict(ok, **{"logtable.commit_calls": 3})
    assert w.layer_problems(stray) == ["logtable.commit_calls is 3, expected 0"]


def test_proc_tree_cpu_counts_reaped_children():
    import subprocess

    import run

    before = run._proc_tree_cpu_s(os.getpid())
    # a child that burns about half a CPU-second, then is waited for
    subprocess.run(
        [sys.executable, "-c", "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass"],
        check=True,
    )
    assert run._proc_tree_cpu_s(os.getpid()) - before >= 0.4
