"""Engine facade: the reference's client verbs as catalog operations.

The reference client exposes PUT / GET / ls / rm / COMPUTE / stats over its
DFS (dfs/client/cli.go:121-166, dfs/client/actions.go). Here each verb is a
thin catalog/storage operation — chunking, replication, placement, heartbeat
bookkeeping (dfs/client/chunkinator.go, dfs/storageNode/storageNode.go:
188-230, dfs/controller/zookeeper.go) all belong to the storage layer and
Spark, so the facade stays ~10 lines per verb:

    verb        reference path                      here
    PUT         chunk+round-robin+replicate         read → partitioned parquet write
    GET         parallel chunk fetch + concat       spark.read.parquet / get_file
    ls          controller file index               warehouse listing (Hadoop FS)
    rm          index delete + async chunk deletes  recursive path delete (Hadoop FS)
    COMPUTE     plugin MAP/REDUCE job (§3.1)        functions.plugin.run_mapreduce
    stats       per-node counters via heartbeats    per-table files/bytes
    compact     (absent — no append, no small files) coalesce rewrite + atomic rename swap

All filesystem verbs go through the Hadoop FileSystem API resolved from the
warehouse path, so the facade works identically on file://, hdfs:// and
object stores — never ``os``/``shutil`` (which silently break off the local
filesystem).
"""

from __future__ import annotations

import threading
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from hdfs_mapreduce_spark.functions.plugin import run_mapreduce
from hdfs_mapreduce_spark.sources import fs as hfs

# The reference streams these job milestones to the client while a COMPUTE
# runs (proto/dfs.proto:95-107 ComputationStatus, dfs/controller/
# controller.go:230-271, rendered by dfs/client/actions.go:151-198).
JOB_MILESTONES = ("job_accepted", "job_mappers", "job_reducers", "job_done")


def format_row_tsv(row) -> str:
    """The engine's row-to-line encoding: tab-separated values, NULL as
    empty — the reference's own KV encoding (dfs/compute_engine/
    context.go:146-151). ONE definition, shared by ``Engine.get_file``
    and the CLI ``sql`` verb, so the convention cannot diverge."""
    return "\t".join("" if v is None else str(v) for v in row)


class Engine:
    """A warehouse-scoped session facade. ``warehouse`` is any
    Hadoop-resolvable directory URI (a bare local path in tests,
    hdfs://... or s3a://... in production)."""

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        self._registered_views: set[str] = set()
        fs, path = hfs.fs_and_path(self.spark, warehouse)
        fs.mkdirs(path)

    def _path(self, name: str) -> str:
        return f"{self.warehouse.rstrip('/')}/{name}"

    # --- PUT (S1): ingest a local file as a parquet table --------------------
    def put(
        self,
        local_path: str,
        name: str,
        fmt: str = "text",
        partitions: int | None = None,
        partition_by: list[str] | None = None,
        **read_opts,
    ) -> None:
        """Ingest a local file as a warehouse table. ``partition_by``
        hive-partitions the layout on the given columns, so every later
        query with a predicate on them prunes whole directories at
        planning (PartitionFilters — asserted in tests); at 100 TB this
        is the difference between scanning one day/source and scanning
        the corpus."""
        base = local_path.rstrip("/").rsplit("/", 1)[-1]
        if base.startswith(("_", ".")):
            # Hadoop's input format treats _/.-prefixed paths as hidden
            # (metadata like _SUCCESS) and silently reads ZERO rows — turn
            # that silent data loss into an error.
            raise ValueError(
                f"source file name {base!r} starts with '_' or '.'; Spark "
                "treats such paths as hidden and reads no rows — rename it"
            )
        reader = self.spark.read
        if fmt == "text":
            df = reader.text(local_path)
        elif fmt == "csv":
            df = reader.options(**read_opts).csv(local_path)
        elif fmt == "json":
            df = reader.options(**read_opts).json(local_path)
        elif fmt == "parquet":
            df = reader.parquet(local_path)
        elif fmt == "orc":
            df = reader.orc(local_path)
        else:
            raise ValueError(f"unsupported format: {fmt}")
        if partitions:
            df = df.repartition(partitions)
        writer = df.write.mode("errorifexists")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(self._path(name))

    # --- append (incremental ingest) -------------------------------------------
    def _partition_cols(self, name: str) -> list[str]:
        """ORDERED hive partition columns of a table, walked recursively
        (``day=.../src=.../part-*.parquet`` → ``["day", "src"]``) — the
        nesting order IS the layout, so it must be preserved exactly, not
        sorted; a top-level-only look sees just the first level and a
        compact/append would silently flatten the rest."""
        fs, path = hfs.fs_and_path(self.spark, self._path(name))
        cols: list[str] = []
        while fs.exists(path):
            part_dirs = [
                st.getPath()
                for st in fs.listStatus(path)
                if st.isDirectory() and "=" in st.getPath().getName()
            ]
            if not part_dirs:
                break
            cols.append(part_dirs[0].getName().split("=", 1)[0])
            path = part_dirs[0]
        return cols

    def append(
        self, df: DataFrame, name: str, partition_by: list[str] | None = None
    ) -> None:
        """Append rows to an existing table (or create it) — the
        incremental-ingest verb the reference never had (its chunked PUT
        was write-once). Appends land as new parquet files; run
        ``compact`` periodically to fold the accumulating small files,
        and ``materialize``d sketches/edge lists are rebuilt (or
        incrementally probed via operators.dedup
        .incremental_pairs_against_sketch) when the table grows.

        A table created with ``put(partition_by=...)`` has a hive layout;
        appending flat files into it would leave leaf files at two depths
        and break partition discovery for every later reader, so the
        layouts must agree: pass the same ``partition_by`` (validated
        against the existing directories) or the append is rejected."""
        existing = self._partition_cols(name)
        if existing:
            # ordered comparison: partitionBy("day","src") and
            # ("src","day") nest differently — only the exact order is
            # the same layout
            if list(partition_by or []) != existing:
                raise ValueError(
                    f"table {name!r} is hive-partitioned on {existing} (in "
                    f"that order); append with partition_by={existing} so "
                    "the layouts agree"
                )
        elif partition_by and name in self.ls():
            # a table created with put(partition_by=...) but zero rows has
            # no col=value directories yet, so directory inference can't
            # see its layout — an existing-but-EMPTY table is
            # layout-unconstrained and the first real append defines it
            if self._table_stats(name)["n_files"] > 0:
                raise ValueError(
                    f"table {name!r} is unpartitioned; appending partitioned "
                    "files would mix layouts — drop partition_by"
                )
        writer = df.write.mode("append")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(self._path(name))
        # any registered view captured the pre-append file listing
        self._registered_views.discard(name)

    # --- GET (S3) -------------------------------------------------------------
    def get(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self._path(name))

    def get_file(
        self, name: str, save_as: str, order_by: list[str] | None = None
    ) -> None:
        """Ordered egress of a stored table into ONE local file — the
        reference's second verb: GET fetches chunks in parallel and
        concatenates them by serial into the target file
        (dfs/client/downloader.go:144-188).

        Rows stream through ``toLocalIterator`` — one partition in driver
        memory at a time, in partition order, which for a text-ingested
        table is exactly chunk-serial order (Spark plans splits in file
        offset order). Pass ``order_by`` to impose a column order instead.
        A single string column writes raw lines; multi-column rows write
        tab-separated lines — the reference's own KV encoding
        (dfs/compute_engine/context.go:146-151).
        """
        df = self.get(name)
        if order_by:
            df = df.orderBy(*order_by)
        with open(save_as, "w", encoding="utf-8") as f:
            for row in df.toLocalIterator(prefetchPartitions=True):
                f.write(format_row_tsv(row) + "\n")

    # --- ls (S6) ---------------------------------------------------------------
    def ls(self) -> list[str]:
        fs, path = hfs.fs_and_path(self.spark, self.warehouse)
        return sorted(
            st.getPath().getName()
            for st in fs.listStatus(path)
            if st.isDirectory()
        )

    # --- rm (S7) ---------------------------------------------------------------
    def rm(self, name: str) -> None:
        fs, path = hfs.fs_and_path(self.spark, self._path(name))
        if not fs.exists(path):
            raise FileNotFoundError(name)
        fs.delete(path, True)
        # drop the view NOW (not on the next sql()): a dangling view over
        # deleted files would resolve and then fail at scan time with a
        # confusing FileNotFound; and a later put() may reuse the name
        if name in self._registered_views:
            self.spark.catalog.dropTempView(name)
            self._registered_views.discard(name)

    # --- stats (S8) -------------------------------------------------------------
    def _table_stats(self, name: str) -> dict[str, int]:
        """files/bytes of ONE table: recursive walk (hive-partitioned
        tables keep their files in col=value subdirectories, which a flat
        listStatus misses), skipping hidden path components — _temporary
        from an in-flight or crashed write holds parquet files Spark
        readers will never see, and counting them would overstate the
        table."""
        fs, root = hfs.fs_and_path(self.spark, self._path(name))
        root_uri = root.toUri().getPath()
        n_files = n_bytes = 0
        it = fs.listFiles(root, True)
        while it.hasNext():
            st = it.next()
            rel = st.getPath().toUri().getPath()[len(root_uri):].lstrip("/")
            if any(seg[:1] in ("_", ".") for seg in rel.split("/")):
                continue
            if st.getPath().getName().endswith(".parquet"):
                n_files += 1
                n_bytes += st.getLen()
        return {"n_files": n_files, "n_bytes": n_bytes}

    def stats(self) -> dict[str, dict[str, int]]:
        return {name: self._table_stats(name) for name in self.ls()}

    def node_stats(self) -> dict[str, dict[str, int]]:
        """Per-node counters — the executor-level half of the reference's
        stats verb (dfs/storageNode/stats.go:43-108 tracks per-node
        upload/download request counts and free space, printed by
        dfs/client/print.go:11-22). Spark's AppStatusStore carries the
        same semantics per executor: bytes read into the node
        (``input_bytes`` ~ downloads), bytes exchanged through it
        (``shuffle_read/write_bytes`` ~ replica traffic), and capacity
        (``max_memory`` / ``memory_used`` / ``disk_used`` ~ free space).
        Keyed by executor id; in local mode there is exactly one row
        ("driver"), on a cluster one per executor."""
        store = self.spark.sparkContext._jsc.sc().statusStore()
        execs = store.executorList(False)  # include the driver row
        out: dict[str, dict[str, int]] = {}
        for i in range(execs.size()):
            e = execs.apply(i)
            out[e.id()] = {
                "host_port": e.hostPort(),
                "is_active": bool(e.isActive()),
                "total_tasks": int(e.totalTasks()),
                "input_bytes": int(e.totalInputBytes()),
                "shuffle_read_bytes": int(e.totalShuffleRead()),
                "shuffle_write_bytes": int(e.totalShuffleWrite()),
                "memory_used": int(e.memoryUsed()),
                "max_memory": int(e.maxMemory()),
                "disk_used": int(e.diskUsed()),
            }
        return out

    # --- compact ------------------------------------------------------------------
    def compact(self, name: str, target_files: int = 1) -> dict[str, int]:
        """Small-file compaction: rewrite a stored table into
        ``target_files`` parquet files — the nightly operational verb for
        incremental-ingest tables (thousands of tiny files mean namenode
        pressure and per-file open cost on every scan; the reference's
        fixed 128 MB chunking never faced this because it couldn't append,
        dfs/client/chunkinator.go).

        ``coalesce`` (not repartition) merges whole input splits with a
        narrow dependency — zero shuffle. The rewrite lands in a
        ``_``-prefixed temp dir (invisible to Spark reads), then two
        renames swap it in: readers see the old file set or the new one,
        never a mix. Returns {files_before, files_after, n_bytes}.
        """
        fs, cur = hfs.fs_and_path(self.spark, self._path(name))
        if not fs.exists(cur):
            raise FileNotFoundError(name)
        before = self._table_stats(name)["n_files"]
        tmp = hfs.jpath(self.spark, self._path(f"_compact_tmp_{name}"))
        old = hfs.jpath(self.spark, self._path(f"_compact_old_{name}"))
        # preserve a hive-partitioned layout — every level, in nesting
        # order: a flat (or partially flat) rewrite would keep the data
        # (partition columns read back as normal columns) but silently
        # lose directory pruning for every later query. For partitioned
        # tables ``target_files`` applies PER PARTITION (coalesce bounds
        # the task count; each task writes one file per partition value
        # it holds), so total files ≈ n_partitions at target_files=1.
        part_cols = self._partition_cols(name)
        writer = self.get(name).coalesce(target_files).write.mode(
            "errorifexists"
        )
        if part_cols:
            writer = writer.partitionBy(*part_cols)
        writer.parquet(str(tmp))
        fs.rename(cur, old)
        fs.rename(tmp, cur)
        fs.delete(old, True)
        # the rewrite replaced every file — a registered view's captured
        # listing is gone; re-register on next sql()
        self._registered_views.discard(name)
        after = self._table_stats(name)
        return {
            "files_before": before,
            "files_after": after["n_files"],
            "n_bytes": after["n_bytes"],
        }

    # --- materialize (the 100 TB probe pattern as a verb) -----------------------
    def materialize(self, df: DataFrame, name: str) -> DataFrame:
        """Persist a derived relation (near-dup edge list, sketch table)
        into the warehouse and return a DataFrame scanning the written
        files — the durable form of operators.materialize: iterative or
        multi-pass consumers probe the parquet instead of re-running the
        producing pipeline. Overwrites ``name`` if present (a refreshed
        sketch replaces the stale one)."""
        from hdfs_mapreduce_spark.operators.materialize import materialize

        out = materialize(df, name, base=self.warehouse)
        # overwrite semantics: any view registered for this name captured
        # the OLD file listing — re-register on next sql()
        self._registered_views.discard(name)
        return out

    # --- SQL over the warehouse namespace ----------------------------------------
    def refresh(self, name: str | None = None) -> None:
        """Invalidate the cached view (and Spark's cached file listing)
        for one table — or all tables with ``name=None`` — so the next
        ``sql`` re-registers it and sees files an EXTERNAL writer landed
        after registration. Engine verbs (put/append/compact/materialize/
        rm) invalidate automatically; this verb exists for files that
        arrive outside the Engine."""
        names = [name] if name is not None else sorted(self._registered_views)
        for n in names:
            if n in self._registered_views:
                self.spark.catalog.dropTempView(n)
                self._registered_views.discard(n)
            self.spark.catalog.refreshByPath(self._path(n))

    def sql(self, query: str) -> DataFrame:
        """Run SQL with every stored table visible as a view — the query
        language the reference never had (its only 'plan' was a compiled
        plugin binary; SURVEY §3.4).

        The view registration is incremental: only tables that appeared
        since the last call are (re)registered, so repeated ``sql`` calls
        don't re-list + re-read footers for the whole warehouse — against
        an object store every listStatus/footer read is a round-trip, and
        a dashboard issuing hundreds of queries was paying all of them
        per query. The trade is explicit: a registered view pins its file
        listing, so NEW tables from external writers are picked up (``ls``
        is always fresh) but files appended to an EXISTING table by an
        external writer are not — every Engine verb that mutates a table
        invalidates its view, and out-of-band arrivals need an explicit
        ``refresh(name)``."""
        current = set(self.ls())
        for name in current - self._registered_views:
            self.get(name).createOrReplaceTempView(name)
        for name in self._registered_views - current:
            self.spark.catalog.dropTempView(name)
        self._registered_views = current
        return self.spark.sql(query)

    # --- COMPUTE (§3.1): the reference's MapReduce job verb ---------------------
    def compute(
        self,
        name: str,
        mapper,
        reducer,
        map_schema: str,
        reduce_schema: str,
        output_name: str,
        key: str = "key",
        on_status: Callable[[str], None] | None = None,
    ) -> DataFrame:
        """Run a map/reduce plugin job over a stored table and persist the
        result as a new table (the reference uploads reducer output back into
        the DFS — dfs/storageNode/storageNode.go:499-522).

        ``on_status`` receives the reference's ComputationStatus milestones
        in order: job_accepted → job_mappers → job_reducers → job_done
        (proto/dfs.proto:95-107; the controller pushes these to the client
        as the job advances, dfs/controller/controller.go:230-271). Here
        they map onto Spark stage activity: the job's first stage is the
        map side, any later stage is shuffle-read (reduce) work.
        """
        result = run_mapreduce(
            self.get(name), mapper, reducer, map_schema, reduce_schema, key
        )

        def action():
            result.write.mode("errorifexists").parquet(self._path(output_name))

        if on_status is None:
            action()
        else:
            self._run_with_status(action, on_status)
        return self.get(output_name)

    def compute_binary(
        self,
        name: str,
        plugin_path: str,
        output_name: str,
        key_col: str | None = None,
        value_col: str | None = None,
        mode: str = "stdin",
        on_status: Callable[[str], None] | None = None,
    ) -> DataFrame:
        """The reference's compute verb in its literal form: run an
        EXECUTABLE plugin over a stored table and persist the reducer
        output as a new table (proto/dfs.proto:33-36 ships plugin bytes
        with the job; dfs/compute_engine/compute_engine.go forks it per
        record — here per Arrow batch, see operators/binary_plugin.py).

        Input shaping: pass ``key_col``/``value_col`` explicitly, use a
        table that already has string ``key``/``value`` columns, or a
        single-string-column table (text ingest) — keyed by a surrogate
        id, since the reference's line-number key exists only for plugins
        that read it (neither shipped plugin does; real line numbers come
        from sources.catalog.ingest_text_with_lineno). Emits the same
        job_accepted → … → job_done milestone stream as ``compute``."""
        from pyspark.sql import functions as F

        from hdfs_mapreduce_spark.operators.binary_plugin import (
            run_binary_mapreduce,
        )

        df = self.get(name)
        if key_col is None and value_col is None:
            if {"key", "value"} <= set(df.columns):
                key_col, value_col = "key", "value"
            elif len(df.columns) == 1:
                df = df.select(
                    F.monotonically_increasing_id().alias("key"),
                    F.col(df.columns[0]).alias("value"),
                )
                key_col, value_col = "key", "value"
            else:
                raise ValueError(
                    f"table {name!r} needs key_col/value_col "
                    f"(has {df.columns})"
                )
        elif key_col is None or value_col is None:
            raise ValueError("pass both key_col and value_col, or neither")
        result = run_binary_mapreduce(
            df, plugin_path, key_col=key_col, value_col=value_col, mode=mode
        )

        def action():
            result.write.mode("errorifexists").parquet(
                self._path(output_name)
            )

        if on_status is None:
            action()
        else:
            self._run_with_status(action, on_status)
        return self.get(output_name)

    def _run_with_status(
        self, action: Callable[[], None], on_status: Callable[[str], None]
    ) -> None:
        """Drive ``action`` while a poller thread maps live stage activity
        (``sc.statusTracker``) onto the reference's milestone stream. If a
        stage finishes between polls the missed milestones are emitted
        before job_done — a completed job by definition ran its map and
        reduce sides — so the observed sequence is always exactly
        JOB_MILESTONES."""
        on_status("job_accepted")
        fired: set[str] = set()
        stop = threading.Event()
        tracker = self.spark.sparkContext.statusTracker()
        first_stage: list[int] = []

        def poll() -> None:
            while not stop.is_set():
                ids = tracker.getActiveStageIds()
                if ids:
                    if not first_stage:
                        first_stage.append(min(ids))
                        fired.add("job_mappers")
                        on_status("job_mappers")
                    elif (
                        max(ids) > first_stage[0]
                        and "job_reducers" not in fired
                    ):
                        fired.add("job_reducers")
                        on_status("job_reducers")
                time.sleep(0.01)

        poller = threading.Thread(target=poll, daemon=True)
        poller.start()
        try:
            action()
        finally:
            stop.set()
            poller.join(timeout=2)
        for m in ("job_mappers", "job_reducers"):
            if m not in fired:
                on_status(m)
        on_status("job_done")
