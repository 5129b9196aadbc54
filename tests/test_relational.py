"""Q1-Q10 (FIXTURES.md §2) vs DuckDB oracle — mirrors the driver's t2 gate —
and every declared query's plan against the committed plan budget."""

from __future__ import annotations

import importlib.util
import json
import os

import pytest

from hdfs_mapreduce_spark.plans import ORACLE_SQL, QUERIES
from tests.conftest import _SLOW_TIER_FILE, SF_CORRECTNESS
from tests.oracle import assert_matches_oracle

_spec = importlib.util.spec_from_file_location(
    "plan_tool",
    os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "plans.py"),
)
plan_tool = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(plan_tool)


@pytest.fixture(scope="module")
def built() -> dict:
    """The DataFrames the oracle sweep built, which test_plan_budget
    re-plans instead of building them again."""
    return {}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, ddb, built, name):
    df = built[name] = QUERIES[name](spark, SF_CORRECTNESS)
    if name not in ORACLE_SQL:
        # Non-SQL-expressible op: rows-only check (mirrors the driver).
        df.collect()
        return
    assert_matches_oracle(df, ddb, ORACLE_SQL[name], name)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.queries()) >= set(e.oracle_sql())


def test_plan_budget(spark, built):
    """Every non-stream declared query, and the two state writes of one
    online-dedup ingest batch, plans to exactly its tests/plan_budget.json
    row (exchanges, Python-boundary nodes, scans; AQE off). A row changes
    only by regenerating the file, so the diff is the plan evidence. In
    the default tier, queries whose oracle case is slow-tier are left to
    the full tier rather than built here."""
    if os.path.basename(SF_CORRECTNESS.rstrip("/")) != plan_tool.BUDGET_SF:
        pytest.skip(f"the budget is planned at {plan_tool.BUDGET_SF}")
    with open(plan_tool.BUDGET) as f:
        budget = json.load(f)
    with open(_SLOW_TIER_FILE) as f:
        slow = json.load(f)
    full = bool(os.environ.get("SPARK_GRAFT_FULL_TESTS"))
    rows = {}
    for name in (n for n in QUERIES if not n.startswith("stream_")):
        df = built.get(name)
        if df is None:
            key = f"tests/test_relational.py::test_query_matches_oracle[{name}]"
            if key in slow and not full:
                continue
            df = QUERIES[name](spark, SF_CORRECTNESS)
        rows[name] = plan_tool.shape(df)
    rows.update(plan_tool.ingest_write_rows(spark, SF_CORRECTNESS))
    changed = {
        n: {"budget": budget.get(n), "now": row}
        for n, row in rows.items()
        if budget.get(n) != row
    }
    stale = sorted(set(budget) - set(rows) - set(QUERIES))
    assert not changed and not stale, (
        "plan budget mismatch; if the change is intended, regenerate with "
        "`python tools/plans.py --budget` and commit the diff:\n"
        + "\n".join(f"{n}: {v}" for n, v in sorted(changed.items()))
        + (f"\nrows of no declared query: {stale}" if stale else "")
    )
