"""Generation-scoped ``localCheckpoint`` management — the package's one
checkpoint rule.

``df.localCheckpoint()`` truncates lineage by materializing the frame into
the executor block manager — but the blocks are only reclaimed when the
JVM eventually garbage-collects the RDD reference. In a long-running
engine that is a leak: a streaming query checkpoints one flush frame per
micro-batch (streaming/pipeline.py), and a session running the operator
suite repeatedly (bench, the 10× scale probe) accumulates every sketch
generation it ever built. Measured on the 10× probe: q_minhash_neardup
ran 2.7× slower at the end of a probe session than in a fresh session,
purely from accumulated dead blocks (22 s vs 8 s at ~sf1 on local[32]).
So every checkpoint in the package goes through ``scoped_checkpoint``
(tests/test_checkpoints.py fails on a ``localCheckpoint(`` anywhere else).

``scoped_checkpoint(df, scope)`` materializes ``df`` eagerly, reads the id
of the one RDD that checkpoint persisted from the frame it returns (its
logical plan is a ``LogicalRDD`` over that RDD), records it as the scope's
generation and unpersists the PREVIOUS generation's RDD — so each scope
holds at most one live generation. The contract: a scope names one logical
frame that is rebuilt per invocation, by one thread at a time; any
still-held DataFrame from the previous generation becomes unusable the
moment the next generation lands (its lineage was truncated, its blocks
are gone). Every caller in this package rebuilds its frames from source
parquet on each call, and names its scope per pipeline, directory or
function, so the contract holds by construction.

The lock orders the registry, not jobs: it guards the scope → id dict for
the swap alone, and the checkpoint job runs outside it. A flush trigger on
the stream thread and a DLQ replay on the caller's thread checkpoint side
by side, and one stuck job holds up no other thread's checkpoint.

``release_scope(spark, scope)`` frees a scope early — used for frames
that die before the function returns (e.g. the candidate-pair frame in
dedup_clusters, dead once the edge list is materialized).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession

_lock = threading.Lock()
_generations: dict[str, int] = {}


def _unpersist(sc, rdd_id: int | None) -> None:
    # SparkContext.unpersistRDD, the call RDD.unpersist makes after logging
    # its "was locally checkpointed, its lineage has been truncated" WARN:
    # every freed generation is a checkpoint, so that line would print once
    # per scope rebuild (once per flush trigger). Not a Spark job.
    if rdd_id is not None:
        sc._jsc.sc().unpersistRDD(rdd_id, False)


def scoped_checkpoint(df: DataFrame, scope: str) -> DataFrame:
    """Eager localCheckpoint that frees the scope's previous generation."""
    out = df.localCheckpoint()  # eager=True: materializes here
    rdd_id = out._jdf.queryExecution().logical().rdd().id()
    with _lock:
        stale, _generations[scope] = _generations.get(scope), rdd_id
    _unpersist(df.sparkSession.sparkContext, stale)
    return out


def release_scope(spark: SparkSession, scope: str) -> None:
    """Unpersist a scope's live generation now (frame is dead)."""
    with _lock:
        stale = _generations.pop(scope, None)
    _unpersist(spark.sparkContext, stale)
