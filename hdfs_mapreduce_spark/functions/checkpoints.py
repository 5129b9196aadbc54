"""Shared cleanup for localCheckpoint-driven loops.

``DataFrame.unpersist()`` does not release localCheckpoint storage (the
cache lives on the internal RDD, not the DataFrame persist API), so the
iterative operators (connected components, BPE merge loop) free their
checkpoints by diffing the SparkContext's persistent-RDD map against a
snapshot taken before the loop. That JVM-internals-touching dance lived
in three near-identical copies; this is the one implementation.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


class CheckpointJanitor:
    """Tracks checkpoint storage created after construction and frees it
    on demand — the 'no cache outlives the call' contract the iterative
    operators share (operators/components.py module docstring)."""

    def __init__(self, spark: SparkSession):
        self._sc = spark.sparkContext
        self._before = self._persisted_ids()

    def _persisted_ids(self) -> set[int]:
        # One JVM call for the whole key set: iterating the Java set from
        # Python costs one py4j round trip per persisted RDD.
        keys = self._sc._jsc.sc().getPersistentRDDs().keys().mkString(",")
        return {int(k) for k in keys.split(",") if k}

    def _stale_ids(self) -> list:
        return sorted(self._persisted_ids() - self._before)

    def free_all_but_latest(self) -> None:
        """Free every tracked checkpoint except the newest (the one the
        loop's live iterate still reads from)."""
        jmap = self._sc._jsc.getPersistentRDDs()
        for rid in self._stale_ids()[:-1]:
            jmap.get(rid).unpersist()

    def free_all(self) -> None:
        """Free every tracked checkpoint (call before returning a pure
        re-derived plan)."""
        jmap = self._sc._jsc.getPersistentRDDs()
        for rid in self._stale_ids():
            jmap.get(rid).unpersist()
