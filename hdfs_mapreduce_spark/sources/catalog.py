"""Catalog: the Spark-side replacement for the reference's DFS file verbs.

The reference exposes a flat file namespace with PUT / GET / ls / rm verbs
(dfs/client/actions.go, dfs/controller/controller.go:144-228) and a
controller-held file index rebuilt from heartbeats
(dfs/controller/fileIndex.go:85-124). Here a "file" is a Parquet-backed
DataFrame and the namespace is the Spark catalog: ``ls`` →
``spark.catalog.listTables()``, ``rm`` → ``DROP TABLE`` / FS delete, PUT/GET →
``spark.read`` / ``df.write``. Chunking (256 KiB, dfs/common/constants.go:12)
and 3x replication (dfs/storageNode/storageNode.go:188-220) are delegated to
the storage layer (HDFS block size / dfs.replication), so none of that
machinery is re-implemented.
"""

from __future__ import annotations

import os
import weakref
from functools import lru_cache

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# The driver-provided star schema (TESTDATA.md); one parquet file per table.
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


@lru_cache(maxsize=256)
def _nanos_timestamp_cols(path: str) -> tuple[str, ...]:
    """Columns stored as parquet TIMESTAMP(NANOS), which Spark's vectorized
    reader rejects outright (PARQUET_TYPE_ILLEGAL). Footer-only read — cheap."""
    import pyarrow as pa

    schema = pq.read_schema(path)
    return tuple(
        f.name
        for f in schema
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    )


# Per-session memo of loaded tables: each spark.read.parquet costs a driver
# round-trip to read the footer schema — ~0.1s apiece, so a six-table join
# paid ~0.7s of pure plan-build latency before this cache. DataFrames are
# immutable, so handing every caller the same object is safe; keying weakly
# on the session means a stopped session's entries are collectable and a
# fresh session never sees stale plans.
_TABLE_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table (memoized per session). Column pruning + predicate
    pushdown happen at the FileSourceScan as long as callers select/filter
    declaratively.

    TIMESTAMP(NANOS) columns (which Spark cannot natively read) are read as
    nanosecond longs and converted to microsecond timestamps with exact
    integer division — the same floor-truncation DuckDB applies, so oracle
    comparisons stay bit-identical.
    """
    cache = _TABLE_CACHE.setdefault(spark, {})
    key = (sf_dir, name)
    cached = cache.get(key)
    if cached is not None:
        return cached
    df = _load_table_uncached(spark, sf_dir, name)
    cache[key] = df
    return df


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    ns_cols = _nanos_timestamp_cols(path)
    if not ns_cols:
        return spark.read.parquet(path)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in ns_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` DIV 1000")))
    return df


def spread(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Round-robin repartition a DataFrame up to the session's default
    parallelism IF the scan reads fewer files than cores — i.e. the input
    is a single small file, as in the local test harness. On a real
    deployment (100 TB = hundreds of thousands of splits) this is a no-op,
    so map-heavy callers (shingling, hashing, tokenizing) can use it
    unconditionally: the one small shuffle locally buys full-core map
    parallelism; at scale no shuffle happens at all.

    Keyed off ``df.inputFiles()`` (a catalog file listing) rather than
    ``df.rdd.getNumPartitions()``, which would force an RDD conversion of
    the whole read plan on every call. Memoized per input DataFrame —
    ``load_table`` returns session-cached objects, so repeat queries skip
    the file-listing round-trip too."""
    cached = _SPREAD_CACHE.get(df)
    if cached is not None:
        return cached
    target = spark.sparkContext.defaultParallelism
    out = df.repartition(target) if len(df.inputFiles()) < target else df
    _SPREAD_CACHE[df] = out
    return out


_SPREAD_CACHE: "weakref.WeakKeyDictionary[DataFrame, DataFrame]" = (
    weakref.WeakKeyDictionary()
)


def ingest_text_with_lineno(spark: SparkSession, path: str) -> DataFrame:
    """Text ingest with the reference's mapper key: a stable 0-based line
    number per file (dfs/compute_engine/compute_engine.go:47-53 keys each
    map record by its line offset; the FIXTURES ``textlines`` shape).

    Zero-shuffle zipWithIndex, two passes over the input:
      1. count rows per (partition, file) — a map-side-combined aggregate
         whose shuffle carries one row per split, then a tiny collect;
      2. re-scan, adding ``offset[(pid, file)] + position-within-partition``
         via mapInPandas (rows arrive in split order inside a partition,
         and Spark plans a file's splits in offset order across ascending
         partition ids, so the numbering is the file's line order).
    Two scans beat one shuffle: the alternative (a window over
    input_file_name) hash-exchanges the entire corpus AND serializes each
    file into a single window partition — a straggler at any real file
    size. Determinism note: both passes plan splits from the same
    files/conf, so partition ids line up — and pass 2 VERIFIES that: each
    task recounts its (pid, file) rows against pass 1's counts and raises
    on any mismatch (a file appended/replaced between passes, or a split
    replan) instead of silently mis-numbering."""
    import pandas as pd

    base = spark.read.text(path).select(
        F.spark_partition_id().alias("pid"),
        F.input_file_name().alias("file"),
        "value",
    )
    counts = (
        base.groupBy("pid", "file").count().orderBy("pid").collect()
    )
    offsets: dict[tuple[int, str], int] = {}
    expected: dict[tuple[int, str], int] = {}
    totals: dict[str, int] = {}
    for row in counts:
        key = (row["pid"], row["file"])
        offsets[key] = totals.get(row["file"], 0)
        expected[key] = row["count"]
        totals[row["file"]] = totals.get(row["file"], 0) + row["count"]
    b_offsets = spark.sparkContext.broadcast(offsets)
    b_expected = spark.sparkContext.broadcast(expected)

    def assign(batches):
        seen: dict[tuple[int, str], int] = {}
        for pdf in batches:
            keys = list(zip(pdf["pid"], pdf["file"]))
            linenos = []
            for k in keys:
                nxt = seen.get(k)
                if nxt is None:
                    if k not in b_offsets.value:
                        raise ValueError(
                            f"ingest_text_with_lineno: split {k} exists in "
                            "pass 2 but not pass 1 — input changed between "
                            "passes; re-run the ingest"
                        )
                    nxt = b_offsets.value[k]
                linenos.append(nxt)
                seen[k] = nxt + 1
            yield pd.DataFrame(
                {"file": pdf["file"], "line_no": linenos, "value": pdf["value"]}
            )
        for k, nxt in seen.items():
            got = nxt - b_offsets.value[k]
            want = b_expected.value.get(k)
            if got != want:
                raise ValueError(
                    f"ingest_text_with_lineno: split {k} produced {got} rows "
                    f"in pass 2 but {want} in pass 1 — input changed between "
                    "passes; line numbers would be wrong, re-run the ingest"
                )
        # a split that went empty while its partition still produced rows
        # from other files contributes nothing to `seen` — catch it by
        # checking every pass-1 key of the partitions this task DID
        # observe. Residual blind spot, documented: a file truncated to
        # ZERO bytes whose split was a whole partition leaves no task
        # observing that pid, so nothing can raise lazily — a deleted
        # file at least fails the scan itself (FileNotFound, unless
        # spark.sql.files.ignoreMissingFiles is flipped on), and any
        # nonzero truncation/append is caught by the count check above.
        observed_pids = {pid for pid, _ in seen}
        for k in b_expected.value:
            if k[0] in observed_pids and k not in seen:
                raise ValueError(
                    f"ingest_text_with_lineno: split {k} had "
                    f"{b_expected.value[k]} rows in pass 1 but produced "
                    "none in pass 2 — input changed between passes; "
                    "line numbers would be wrong, re-run the ingest"
                )

    return base.mapInPandas(assign, "file string, line_no long, value string")


def write_table(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Sink: replaces the reference's per-reducer output files + re-upload
    (dfs/compute_engine/context.go:162-186, storageNode.go:499-522) with a
    single partitioned-Parquet write."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: rows are hash-partitioned into ``n_buckets``
    files by ``bucket_cols`` at write time. Two tables bucketed the same way
    join/aggregate on those columns with NO exchange — the shuffle is paid
    once at ingest instead of on every query, which at 100 TB turns the
    recurring fact-fact join cost into a one-time write cost
    (tests/test_plan_shape.py asserts the Exchange disappears)."""
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table)
