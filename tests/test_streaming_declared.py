"""The declared streaming registry rows (plans/streaming_plans.py): each
runs its stream to completion and must hash-match its DuckDB oracle —
the same stream ≡ batch equalities test_streaming.py proves, promoted to
the driver's correctness surface (r4 verdict item 6)."""

from __future__ import annotations

import pytest

from hdfs_mapreduce_spark.plans import ORACLE_SQL, RAW_QUERIES
from tests.conftest import SF_CORRECTNESS
from tests.oracle import assert_matches_oracle

STREAM_QUERIES = [
    "stream_windowed_stats",
    "stream_sliding_stats",
    "stream_attribution",
    "stream_session_stats",
    "stream_upsert_snapshot",
    "stream_heavy_hitters_audit",
    "stream_dedup_admitted",
    "stream_dedup_resketch",
    "stream_dedup_compacted",
    "stream_dedup_maintained",
]


@pytest.mark.parametrize("name", STREAM_QUERIES)
def test_streaming_declared_queries_match_oracle(spark, ddb, name):
    df = RAW_QUERIES[name](spark, SF_CORRECTNESS)
    assert_matches_oracle(df, ddb, ORACLE_SQL[name], name)


def test_upsert_snapshot_is_one_row_per_key(spark):
    """Two staged copies over two micro-batches must still produce exactly
    one row per event_id (the merge-on-read snapshot keeps the newest row
    per key across both live versions)."""
    from pyspark.sql import functions as F

    snap = RAW_QUERIES["stream_upsert_snapshot"](spark, SF_CORRECTNESS)
    agg = snap.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("event_id").alias("d"),
    ).collect()[0]
    assert agg["n"] == agg["d"] > 0

