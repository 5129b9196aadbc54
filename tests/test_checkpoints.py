"""CheckpointJanitor's driver cost does not grow with the session's
persisted RDDs: it reads their key set in one JVM call."""

from __future__ import annotations

import threading

from py4j.clientserver import ClientServerConnection

from hdfs_mapreduce_spark.functions.checkpoints import CheckpointJanitor


def _janitor_round_trips(spark, monkeypatch) -> int:
    """JVM calls made by the calling thread while a janitor is built and
    frees everything. Other threads are not counted: py4j's finalizer
    worker sends the deletes of released Java objects from its own
    thread, at a time of its choosing."""
    calls = 0
    me = threading.get_ident()
    send = ClientServerConnection.send_command

    def counting(self, *args, **kwargs):
        nonlocal calls
        if threading.get_ident() == me:
            calls += 1
        return send(self, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    try:
        CheckpointJanitor(spark).free_all()
    finally:
        monkeypatch.setattr(ClientServerConnection, "send_command", send)
    return calls


def test_janitor_round_trips_do_not_grow_with_persisted_rdds(spark, monkeypatch):
    baseline = _janitor_round_trips(spark, monkeypatch)
    rdds = [spark.sparkContext.parallelize([i]).cache() for i in range(40)]
    try:
        assert _janitor_round_trips(spark, monkeypatch) == baseline
    finally:
        for rdd in rdds:
            rdd.unpersist()
