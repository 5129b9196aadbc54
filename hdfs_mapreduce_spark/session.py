"""SparkSession factory with a 100 TB-scale-conscious default config.

The reference (turutupa/hdfs_mapreduce) hand-rolls its cluster management:
a Controller namenode fed by 5-second heartbeats (dfs/controller/zookeeper.go:29-45)
and a Compute Engine resource manager that places one mapper per 256 KiB chunk
(dfs/compute_engine/compute_engine_resource_manager.go:102-104). On Spark all of
that is the cluster manager + DAG scheduler; what we own is the *session config*:
AQE, shuffle sizing, Arrow, and broadcast thresholds — the knobs that decide
whether a plan survives a 100x scale-up.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Defaults sized for the local[32] test harness; on a real cluster the same
# settings remain sane because AQE re-plans partition counts at runtime.
_DEFAULTS = {
    # --- Adaptive execution: the single most important scale knob.
    # Coalesces small post-shuffle partitions, re-plans skewed joins, and
    # converts sort-merge joins to broadcast when runtime stats allow.
    # SPARK_GRAFT_AQE=false turns it off for sub-GB local runs, where the
    # per-stage re-plan latency exceeds everything it can save (measured
    # +35% wall-clock on the sf0.1 bench set); at cluster scale leave it on.
    "spark.sql.adaptive.enabled": os.environ.get("SPARK_GRAFT_AQE", "true"),
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # --- Shuffle parallelism: a *starting* value; AQE coalesces down.
    # On a 1000-executor cluster this should be ~2-3x total cores; locally we
    # match the driver's local[32].
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    # --- Scan sizing: 128 MiB splits (the HDFS block-size sweet spot).
    "spark.sql.files.maxPartitionBytes": "134217728",
    # --- Driver heap (local mode: the driver JVM is every executor).
    # Measured at sf0.1: the 1g default beats 4g (37s) and 16g (43s) at
    # 33.5s total — large heaps pay first-touch page-fault and GC-region
    # costs this working set never amortizes. Raise via env for workloads
    # that genuinely buffer more (big broadcast or collect).
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "1g"),
    # --- JIT code cache: one long-lived session compiles hundreds of
    # whole-stage-codegen classes (the bench JVM warms + times ~80 plans);
    # the JVM's 240 MB default starts flushing compiled methods late in
    # such a run and queries silently fall back toward interpreted speed
    # (measured 3-5x inflation on late-running queries). 512 MB removes it.
    "spark.driver.extraJavaOptions": os.environ.get(
        "SPARK_GRAFT_DRIVER_JAVA_OPTS", "-XX:ReservedCodeCacheSize=512m"
    ),
    # --- Codegen class cache: 1024 entries, not Spark's 100. Spark holds
    # compiled whole-stage classes in a Guava cache with the default 4
    # segments (~25 entries each, LRU within a segment), keyed by (context
    # classloader, source). In local mode the driver and the executor
    # threads have different classloaders, so every class is stored twice.
    # Measured at local[4]: one pass of perfbench's `incremental` queries
    # compiles 120 classes, `llm_curation` 98. At 100, every repeat pass
    # recompiled 98-99 and 20 of them and HotSpot re-JITed them; at 1024 a
    # repeat pass compiles none. Metaspace after three passes: 170.1 ->
    # 168.8 MB (`incremental`), 155.8 -> 155.7 MB (`llm_curation`).
    "spark.sql.codegen.cache.maxEntries": "1024",
    # --- Arrow for every pandas UDF / mapInPandas boundary (the reference's
    # exec-per-record plugin protocol becomes per-batch columnar transfer).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # --- Python worker daemon: pyspark's own, behind a stat guard on
    # zipimporter.invalidate_caches (see pydaemon.py). Every Python task calls
    # importlib.invalidate_caches(), which on Python 3.11 re-reads pyspark.zip's
    # 1,328-entry directory once per zipimporter (~16 per worker). Measured at
    # local[4] on a 4-core host, worker CPU per identity mapInPandas task went
    # from 140-210 ms to 26-40 ms, per RDD map task from 110-205 ms to 10-20 ms.
    # The workers must import this package: get_spark adds its parent
    # directory to spark.executorEnv.PYTHONPATH; on a cluster ship it with
    # --py-files, which module-level UDFs already require.
    "spark.python.daemon.module": "hdfs_mapreduce_spark.pydaemon",
    # --- Broadcast joins for small dims (region/nation/supplier at any SF).
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # --- Timestamps: match the parquet test data (microsecond, no TZ games).
    "spark.sql.session.timeZone": "UTC",
    # Keep the UI off in tests/bench (driver overhead, port churn).
    "spark.ui.enabled": "false",
}


def get_spark(
    app_name: str = "hdfs_mapreduce_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's default config.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) so the
    same entry points work under the driver harness and in CI; on a real
    cluster pass ``master=None`` with ``spark.master`` preset, or an explicit
    YARN/k8s master.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = builder.master(master)
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    # the daemon module and module-level UDFs import from the package, also
    # when the session starts outside the repo (python -m puts only the cwd
    # on the workers' path)
    key = "spark.executorEnv.PYTHONPATH"
    conf[key] = os.pathsep.join(p for p in (conf.get(key), _PACKAGE_PARENT) if p)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
