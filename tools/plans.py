"""Plan evidence for declared queries, under bench.py's session config.

Run: python tools/plans.py [--budget | query ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.01),
     whose sibling BUDGET_SF fixture --budget plans at.

Prints one audit row per query (default: every non-stream_* query, whose
callables run a whole pipeline eagerly): perfbench's ``plan_shape`` of
the executed plan (Python-boundary nodes, exchanges — a reused exchange
counts as one — and scans) and the seconds to build the DataFrame.
``--budget`` writes every such row, plus the two state writes of one
``dedup_ingest_batch`` over non-empty state, to tests/plan_budget.json,
which tests/test_relational.py::test_plan_budget checks exactly.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402

BUDGET = os.path.join(bench.HERE, "tests", "plan_budget.json")
BUDGET_SF = "sf0.001"  # the fixture the budget is planned at


def shape(df) -> dict[str, int]:
    """``plan_shape`` of a fresh re-plan of ``df`` with AQE off (bench's
    setting; adaptive plans count some nodes differently)."""
    conf, key = df.sparkSession.conf, "spark.sql.adaptive.enabled"
    aqe = conf.get(key)
    conf.set(key, "false")
    try:
        counts = bench.plan_shape(df.select("*"))
    finally:
        conf.set(key, aqe)
    return {k.split(".", 1)[1]: v for k, v in counts.items()}


def main() -> None:
    args = sys.argv[1:]
    budget = args == ["--budget"]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    if budget:
        sf_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), BUDGET_SF)
    spark, conf = bench.session("plans", sf_dir)
    print(json.dumps(conf))
    import __spark_entry__ as entry

    queries = entry.queries()
    rows = {}
    print(f"{'query':36s} {'py':>3s} {'exch':>4s} {'scans':>5s} {'build_s':>7s}")
    default = [n for n in queries if not n.startswith("stream_")]
    for name in args if args and not budget else default:
        t0 = time.perf_counter()
        try:
            df = queries[name](spark, sf_dir)
            build_s = time.perf_counter() - t0
            rows[name] = row = shape(df)
        except Exception as exc:
            print(f"{name}: ERR {type(exc).__name__}: {exc}"[:300])
            continue
        py, ex, sc = row["python_nodes"], row["exchanges"], row["scans"]
        print(f"{name:36s} {py:3d} {ex:4d} {sc:5d} {build_s:7.2f}")
    if budget:
        rows.update(ingest_write_rows(spark, sf_dir))
        lines = [f"  {json.dumps(n)}: {json.dumps(rows[n])}" for n in sorted(rows)]
        with open(BUDGET, "w") as f:  # one row per line: diffs read by row
            f.write("{\n" + ",\n".join(lines) + "\n}\n")
        print(f"wrote {BUDGET}")
    spark.stop()


def ingest_write_rows(spark, sf_dir: str) -> dict[str, dict[str, int]]:
    """Rows of the accepted and sketch writes of one ``dedup_ingest_batch``
    over non-empty state, planned after the call from the DataFrames a
    DataFrameWriter.parquet spy kept (the writes run on pool threads)."""
    import pyspark.sql.readwriter as rw

    from hdfs_mapreduce_spark.sources.catalog import load_table
    from hdfs_mapreduce_spark.streaming.dedup import dedup_ingest_batch

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    writes = {}
    parquet = rw.DataFrameWriter.parquet

    def spy(self, path, *a, **kw):  # path: <state>/<table>/data/a<tok>
        writes[path.rstrip("/").split("/")[-3]] = self._df
        return parquet(self, path, *a, **kw)

    state = tempfile.mkdtemp(prefix="plan_budget_")
    try:
        dedup_ingest_batch(docs.filter("doc_id % 2 = 0"), 0, state)
        rw.DataFrameWriter.parquet = spy
        try:
            dedup_ingest_batch(docs.filter("doc_id % 2 = 1"), 1, state)
        finally:
            rw.DataFrameWriter.parquet = parquet
        return {f"dedup_ingest_batch:{t}": shape(df) for t, df in writes.items()}
    finally:
        shutil.rmtree(state, ignore_errors=True)


if __name__ == "__main__":
    main()
