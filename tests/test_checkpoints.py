"""Generation-scoped checkpoint manager: blocks are freed, frames stay
correct (checkpoints.py — the long-running-engine leak fix)."""

import threading

from pyspark.sql import Observation
from pyspark.sql import functions as F

from proxyhouse_spark.checkpoints import (
    _persistent_ids,
    release_scope,
    scoped_checkpoint,
)


def _frame(spark, n):
    return spark.range(n).withColumnRenamed("id", "v")


def test_scope_holds_one_generation(spark):
    sc = spark.sparkContext
    base = _persistent_ids(sc)
    a = scoped_checkpoint(_frame(spark, 10), "t_scope")
    assert a.count() == 10
    after_a = _persistent_ids(sc) - base
    assert after_a  # the checkpoint registered blocks
    b = scoped_checkpoint(_frame(spark, 20), "t_scope")
    # generation a's RDDs are unpersisted: the live set minus base is
    # exactly generation b's ids (no accumulation across generations)
    after_b = _persistent_ids(sc) - base
    assert after_b.isdisjoint(after_a)
    assert b.count() == 20
    release_scope(spark, "t_scope")
    assert _persistent_ids(sc) - base == set()


def test_scopes_are_independent(spark):
    sc = spark.sparkContext
    base = _persistent_ids(sc)
    x = scoped_checkpoint(_frame(spark, 5), "t_x")
    y = scoped_checkpoint(_frame(spark, 7), "t_y")
    scoped_checkpoint(_frame(spark, 6), "t_x")  # frees x only
    assert y.count() == 7  # y's generation untouched
    release_scope(spark, "t_x")
    release_scope(spark, "t_y")
    assert _persistent_ids(sc) - base == set()


def test_release_unknown_scope_is_noop(spark):
    release_scope(spark, "never_created")


def test_observed_metrics_arrive_through_a_scoped_checkpoint(spark):
    """The flush's key count and the replay's queue length ride observe()
    on the frame scoped_checkpoint materializes, and no other job runs it.
    Observation.get waits without a timeout, so a Spark that stopped
    delivering the metric through localCheckpoint would hang the flush:
    bound the wait here instead."""
    obs = Observation()
    scoped_checkpoint(
        _frame(spark, 12).observe(obs, F.count(F.lit(1)).alias("n")), "t_observe"
    )
    got = {}
    waiter = threading.Thread(target=lambda: got.update(obs.get), daemon=True)
    waiter.start()
    waiter.join(60)
    release_scope(spark, "t_observe")
    assert not waiter.is_alive(), "observe() metric did not arrive within 60 s"
    assert got == {"n": 12}


_FREE_SCRIPT = """
import json, sys
sys.path.insert(0, sys.argv[1])
from proxyhouse_spark.checkpoints import _generations, _persistent_ids, scoped_checkpoint
from proxyhouse_spark.session import get_spark

spark = get_spark("checkpoint_free")  # log level WARN, as every engine session
freed = []
for n in (3, 4, 5):
    freed += _generations.get("s", [])
    scoped_checkpoint(spark.range(n), "s")
print(json.dumps({"freed": freed,
                  "live": sorted(_persistent_ids(spark.sparkContext))}))
spark.stop()
"""


def test_freeing_a_generation_logs_no_lineage_warning():
    """Freeing a scope's previous generation must not print Spark's "RDD N
    was locally checkpointed, its lineage has been truncated" WARN, which
    RDD.unpersist logs for every checkpointed RDD — once per flush trigger
    in a running stream. A small-heap session in a subprocess (its own
    stderr) rebuilds one scope three times; the two freed generations must
    have left getPersistentRDDs() without that line."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="512m")
    proc = subprocess.run(
        [sys.executable, "-c", _FREE_SCRIPT, repo],
        capture_output=True, text=True, timeout=300, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert len(out["freed"]) >= 2  # two generations were freed
    assert not set(out["freed"]) & set(out["live"])
    assert "was locally checkpointed" not in proc.stderr
