"""Generation-scoped ``localCheckpoint`` management.

``df.localCheckpoint()`` truncates lineage by materializing the frame into
the executor block manager — but the blocks are only reclaimed when the
JVM eventually garbage-collects the RDD reference. In a long-running
engine that is a leak: a streaming query checkpoints one flush frame per
micro-batch (streaming/pipeline.py), and a session running the operator
suite repeatedly (bench, the 10× scale probe) accumulates every sketch
generation it ever built. Measured on the 10× probe: q_minhash_neardup
ran 2.7× slower at the end of a probe session than in a fresh session,
purely from accumulated dead blocks (22 s vs 8 s at ~sf1 on local[32]).

``scoped_checkpoint(df, scope)`` materializes ``df`` eagerly, then
unpersists the blocks of the PREVIOUS frame checkpointed under the same
scope — so each scope holds at most one live generation. The contract:
a scope names one logical frame that is rebuilt per invocation; any
still-held DataFrame from the previous generation becomes unusable the
moment the next generation lands (its lineage was truncated, its blocks
are gone). Every caller in this package rebuilds its frames from source
parquet on each call, so the contract holds by construction.

``release_scope(spark, scope)`` frees a scope early — used for frames
that die before the function returns (e.g. the candidate-pair frame in
dedup_clusters, dead once the edge list is materialized).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession

_lock = threading.Lock()
_generations: dict[str, list[int]] = {}


def _jmap(sc):
    return sc._jsc.getPersistentRDDs()


def _persistent_ids(sc) -> set[int]:
    return {int(k) for k in _jmap(sc).keySet().toArray()}


def _unpersist(sc, ids: set[int]) -> None:
    # SparkContext.unpersistRDD, the call RDD.unpersist makes after logging
    # its "was locally checkpointed, its lineage has been truncated" WARN:
    # every freed generation is a checkpoint, so that line would print once
    # per scope rebuild (once per flush trigger).
    jsc = sc._jsc.sc()
    for k in _persistent_ids(sc) & ids:
        jsc.unpersistRDD(k, False)


def scoped_checkpoint(df: DataFrame, scope: str) -> DataFrame:
    """Eager localCheckpoint that frees the scope's previous generation.

    The lock serializes checkpoint creation so the before/after snapshot
    of persistent RDD ids can't attribute another thread's blocks to this
    scope (the streaming flush loop checkpoints from the stream execution
    thread while batch operators run on the main thread).
    """
    sc = df.sparkSession.sparkContext
    with _lock:
        before = _persistent_ids(sc)
        out = df.localCheckpoint()  # eager=True: materializes here
        created = _persistent_ids(sc) - before
        stale = set(_generations.get(scope, ()))
        if stale:
            _unpersist(sc, stale)
        _generations[scope] = sorted(created)
    return out


def release_scope(spark: SparkSession, scope: str) -> None:
    """Unpersist a scope's live generation now (frame is dead)."""
    sc = spark.sparkContext
    with _lock:
        ids = set(_generations.pop(scope, ()))
        if ids:
            _unpersist(sc, ids)
