"""Plan evidence for declared queries, under bench.py's session config.

Run: python tools/plans.py [--dump SUFFIX] [query ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.01),
     SPARK_GRAFT_PLAN_DIR (default r14 — the round subdir under plans/).

Prints one audit row per query (default: every non-stream_* query, whose
callables run a whole pipeline eagerly): the executed plan's
Python-boundary nodes, Exchanges, ReusedExchanges and parquet scans, and
the seconds to build the DataFrame. ``--dump SUFFIX`` also writes the
``.explain("formatted")`` plan to plans/<round>/<query>_<suffix>.txt, and
the plan of every parquet write the query runs (a DataFrameWriter.parquet
spy explains each write right before it executes — e.g. the online-dedup
ingest's accepted/sketch state writes) to
plans/<round>/<query>_write_<target>_<suffix>.txt, <target> being the
write path's last two components.
"""

from __future__ import annotations

import json
import os
import re
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402

PY_NODES = (
    "MapInPandas",
    "ArrowEvalPython",
    "BatchEvalPython",
    "FlatMapGroupsInPandas",
    "MapInArrow",
)


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    import pyspark.sql.readwriter as rw

    args = sys.argv[1:]
    suffix = None
    if args[:1] == ["--dump"]:
        if len(args) < 2:
            sys.exit("usage: plans.py [--dump SUFFIX] [query ...]")
        suffix, args = args[1], args[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark, conf = bench.session("plans", sf_dir)
    print(json.dumps(conf))
    import __spark_entry__ as entry

    queries = entry.queries()
    outdir = os.path.join(
        bench.HERE, "plans", os.environ.get("SPARK_GRAFT_PLAN_DIR", "r14")
    )

    def dump(stem: str, text: str) -> None:
        os.makedirs(outdir, exist_ok=True)
        path = os.path.join(outdir, f"{stem}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(text)
        print(f"wrote {path}")

    # writes may come from driver-pool threads, hence the lock
    writes: list[tuple[str, str]] = []
    lock = threading.Lock()
    parquet = rw.DataFrameWriter.parquet

    def spy(self, path, *a, **kw):
        with lock:
            writes.append((path, _explain(self._df)))
        return parquet(self, path, *a, **kw)

    if suffix:
        rw.DataFrameWriter.parquet = spy
    print(f"{'query':36s} {'py':>3s} {'exch':>4s} {'reuse':>5s} {'scans':>5s} {'build_s':>7s}")
    for name in args or [n for n in queries if not n.startswith("stream_")]:
        writes.clear()
        t0 = time.perf_counter()
        try:
            df = queries[name](spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:
            print(f"{name}: ERR {type(exc).__name__}: {exc}"[:300])
            continue
        build_s = time.perf_counter() - t0
        py = sum(plan.count(k) for k in PY_NODES)
        rx = plan.count("ReusedExchange")
        ex = plan.count("Exchange") - rx
        scans = plan.count("Scan parquet")
        print(f"{name:36s} {py:3d} {ex:4d} {rx:5d} {scans:5d} {build_s:7.2f}")
        if suffix:
            dump(name, _explain(df))
            for path, wplan in writes:
                target = "/".join(path.rstrip("/").split("/")[-2:])
                stem = re.sub(r"[^A-Za-z0-9=._-]", "_", target)
                dump(f"{name}_write_{stem}", f"-- write target: .../{target}\n{wplan}")
    rw.DataFrameWriter.parquet = parquet
    spark.stop()


if __name__ == "__main__":
    main()
