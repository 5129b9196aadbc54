from __future__ import annotations

import os

import duckdb
import pytest

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    from hdfs_mapreduce_spark.session import get_spark

    spark = get_spark("tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def ddb():
    """DuckDB connection with the test tables registered as views, mirroring
    the driver's oracle setup."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_CORRECTNESS}/{t}.parquet'"
        )
    yield con
    con.close()


# ---- two-tier suite (r13) ---------------------------------------------------
# The full suite is ~39 minutes of call time, which overflows the driver
# harness's test budget (VERIFY_r12 cut the run off at ~95% with zero
# failures — formally unverified). The DEFAULT tier therefore skips the
# tests recorded slower than 6s in tests/slow_tier.json (94 tests,
# ~26.5 min — multiprocess contention races, full streaming-oracle
# sweeps, long maintenance loops), bringing the default run to ~13 min.
# SPARK_GRAFT_FULL_TESTS=1 runs everything (the full-fidelity tier the
# builder runs each round); a test absent from the json (e.g. newly
# added) always runs. Regenerate the json from an idle full run:
#   SPARK_GRAFT_FULL_TESTS=1 pytest tests/ -q --durations=0
# and filter call times > 6s.
_SLOW_TIER_FILE = os.path.join(os.path.dirname(__file__), "slow_tier.json")


def _matches(nid: str, key: str) -> bool:
    # nodeids in the json are repo-relative ("tests/file.py::test"); match
    # on the suffix so invocation directory doesn't matter.
    return nid == key or nid.endswith(key) or key.endswith(nid)


def pytest_collection_modifyitems(config, items):
    import json
    import warnings

    try:
        with open(_SLOW_TIER_FILE) as f:
            slow = json.load(f)
    except (OSError, ValueError):
        return
    # A key that names no collected test in a collected file is stale (the
    # test was renamed or deleted) and would silently skip its successor
    # if the name came back; report them once, in the warnings summary.
    # Only whole-file runs can tell: a node-id, -k or -m selection leaves
    # out live tests too.
    opt = config.option
    stale = []
    if not (opt.keyword or opt.markexpr or any("::" in a for a in config.args)):
        files = {item.nodeid.split("::")[0] for item in items}
        stale = [
            key
            for key in slow
            if any(_matches(f, key.split("::")[0]) for f in files)
            and not any(_matches(item.nodeid, key) for item in items)
        ]
    if stale:
        warnings.warn(
            pytest.PytestWarning(
                f"tests/slow_tier.json has {len(stale)} key(s) matching no "
                f"collected test: {', '.join(sorted(stale))}"
            )
        )
    if os.environ.get("SPARK_GRAFT_FULL_TESTS"):
        return
    marker = pytest.mark.skip(
        reason="slow tier (see tests/slow_tier.json); "
        "SPARK_GRAFT_FULL_TESTS=1 runs it"
    )
    for item in items:
        if any(_matches(item.nodeid, key) for key in slow):
            item.add_marker(marker)
