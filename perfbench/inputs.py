"""The benchmark's inputs and the expected result of every benchmarked query
on them.

The inputs are the tables the benchmarked queries read, byte-identical
copies of the engine's seed-42 sf0.01 test fixtures (the ones the tier-1
tests and the correctness gate use): ``data/documents.parquet`` and
``data/events.parquet``. They ship with the benchmark so that a run reads
nothing outside its checkout.

The expected results come from each query's ``ORACLE_SQL`` run in DuckDB
(row count, columns and ``stats.canon_hash``). They are computed on first
use in a checkout and cached in ``.bench_build/perfbench/expected.json``,
keyed by the SQL text and the table contents, so an edited oracle or table
is recomputed.

Every common table expression is run ``AS MATERIALIZED``: DuckDB otherwise
re-inlines a CTE at each reference, and the unrolled online-dedup oracles
(which reference their pair relation many times) then take minutes and
gigabytes even on a few hundred documents. Materialising a CTE changes the
plan, not the result."""

from __future__ import annotations

import hashlib
import json
import os
import re

from stats import canon_hash

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
TABLES = ("documents", "events")
# scale factor of the fixtures; sets the session's shuffle width
SF = 0.01

_CTE_HEAD = re.compile(r"\b(\w+)\s+AS\s+\(")


def _materialized(sql: str) -> str:
    return _CTE_HEAD.sub(r"\1 AS MATERIALIZED (", sql)


def _sha(data: bytes) -> str:
    return hashlib.sha256(data).hexdigest()[:16]


def _data_version() -> str:
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(DATA_DIR, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def expected(build_root: str, oracle_sql: dict[str, str], names) -> dict[str, dict]:
    """``{query: {"rows", "hash", "columns"}}`` for ``names``, computed in
    DuckDB on first use and cached under ``build_root``."""
    os.makedirs(build_root, exist_ok=True)
    cache_path = os.path.join(build_root, "expected.json")
    try:
        with open(cache_path) as f:
            cache = json.load(f)
    except FileNotFoundError:
        cache = {}
    version = _data_version()
    key = {n: _sha(f"{version}\n{oracle_sql[n]}".encode()) for n in names}
    missing = [n for n in names if cache.get(n, {}).get("key") != key[n]]
    if missing:
        import duckdb

        con = duckdb.connect()
        try:
            con.execute("SET threads TO 2")
            con.execute("SET memory_limit = '1GB'")
            spill = os.path.join(build_root, "duckdb_spill")
            con.execute(f"SET temp_directory = '{spill}'")
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(DATA_DIR, t)}.parquet')"
                )
            for n in missing:
                odf = con.execute(_materialized(oracle_sql[n])).df()
                cache[n] = {
                    "key": key[n],
                    "rows": len(odf),
                    "columns": sorted(odf.columns),
                    "hash": canon_hash(odf),
                }
        finally:
            con.close()
        tmp = f"{cache_path}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(cache, f, indent=1, sort_keys=True)
        os.replace(tmp, cache_path)
    return {n: cache[n] for n in names}


def input_sizes() -> dict[str, dict]:
    """Rows and bytes of every table, for the result header."""
    import pyarrow.parquet as pq

    out = {}
    for t in TABLES:
        p = os.path.join(DATA_DIR, f"{t}.parquet")
        out[t] = {"rows": pq.read_metadata(p).num_rows, "bytes": os.path.getsize(p)}
    return out
