"""Pure helpers the benchmark reports with: the latency tail rule, job
interval merging, Spark SQL-metric string parsing and the order-insensitive
result hash. No Spark import, so the tests exercise them directly."""

from __future__ import annotations

import hashlib
import re
import statistics

import pandas as pd

# Samples that must lie beyond the reported tail percentile.
TAIL_BEYOND = 10


def tail(samples: list[float]) -> dict | None:
    """The highest percentile with at least ``TAIL_BEYOND`` samples beyond
    it: the value at ascending rank ``n - TAIL_BEYOND`` (1-based), reported
    as percentile ``100 * (n - TAIL_BEYOND) / n``. With fewer than
    ``10 * TAIL_BEYOND`` samples that rank falls below the 90th percentile,
    which is no tail, so the maximum is reported instead (percentile 100,
    nothing beyond it). ``None`` without samples."""
    n = len(samples)
    if n == 0:
        return None
    rank = n - TAIL_BEYOND if n >= 10 * TAIL_BEYOND else n
    return {
        "value": sorted(samples)[rank - 1],
        "percentile": round(100.0 * rank / n, 2),
        "samples": n,
        "beyond": n - rank,
    }


def merged_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of ``[start, end]`` intervals, so
    overlapping jobs (driver-pool threads submit concurrently) count once."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


_TIME_UNITS = {"ns": 1e-9, "us": 1e-6, "µs": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40, "PiB": 2**50}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-zµ]*)")


def parse_sql_metric(text: str) -> float:
    """A SQL-metric value as the status store formats it, in base units
    (seconds, bytes or a plain count). Accepts ``"7"``, ``"1,234"``,
    ``"7.6 s"``, ``"8.6 KiB"`` and the per-task form
    ``"total (min, med, max (stageId: taskId))\\n7.6 s (1.2 s, ...)"``, whose
    total is the first value of the second line."""
    lines = text.strip().splitlines()
    if len(lines) > 1 and lines[0].lstrip().startswith("total"):
        text = lines[1]
    elif lines:
        text = lines[0]
    m = _VALUE.match(text)
    if not m:
        raise ValueError(f"unparsable SQL metric value: {text!r}")
    number = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if not unit:
        return number
    if unit in _TIME_UNITS:
        return number * _TIME_UNITS[unit]
    if unit in _SIZE_UNITS:
        return number * _SIZE_UNITS[unit]
    raise ValueError(f"unknown SQL metric unit {unit!r} in {text!r}")


def canon_hash(df: pd.DataFrame) -> str:
    """Order-insensitive hash of a result: columns sorted by name, doubles
    rounded to 6 places, rows sorted over every column, hashed as CSV.
    The same canonicalisation as ``tools/check_correctness.py::_canon``."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == "float64" or df[c].dtype == "float32":
            df[c] = df[c].round(6)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    payload = df.to_csv(index=False, float_format="%.6f")
    return hashlib.sha256(payload.encode()).hexdigest()


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0
