"""The session's codegen cache holds the engine's working set: a query run
again after more than Spark's default 100 other classes compiles nothing."""

from __future__ import annotations

from bench import codegen_compiles, force
from hdfs_mapreduce_spark.plans import RAW_QUERIES
from tests.conftest import SF_SMOKE


def test_a_repeat_query_compiles_nothing_after_150_other_classes(spark):
    query = RAW_QUERIES["q3_group_avg"]
    force(query(spark, SF_SMOKE))
    # One whole-stage class per UNION ALL branch, compiled on the driver by
    # execute() without running a job: 150 cache entries, enough to evict
    # every earlier class from a 100-entry cache.
    filler = spark.sql(
        " UNION ALL ".join(
            f"SELECT id * {7919 * i + 1} AS v FROM range(1)" for i in range(150)
        )
    )
    before = codegen_compiles(spark)
    filler._jdf.queryExecution().executedPlan().execute()
    assert codegen_compiles(spark) - before >= 150
    before = codegen_compiles(spark)
    force(query(spark, SF_SMOKE))
    assert codegen_compiles(spark) == before
