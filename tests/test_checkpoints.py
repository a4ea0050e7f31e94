"""Generation-scoped checkpoint manager: blocks are freed, frames stay
correct (checkpoints.py — the long-running-engine leak fix), no job runs
under its lock, and it is the package's only ``localCheckpoint``."""

import os
import threading
import time

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from proxyhouse_spark.checkpoints import release_scope, scoped_checkpoint


def _frame(spark, n):
    return spark.range(n).withColumnRenamed("id", "v")


def test_scope_holds_one_generation(spark, persistent_rdds):
    base = persistent_rdds()
    a = scoped_checkpoint(_frame(spark, 10), "t_scope")
    assert a.count() == 10
    after_a = persistent_rdds() - base
    assert after_a  # the checkpoint registered blocks
    b = scoped_checkpoint(_frame(spark, 20), "t_scope")
    # generation a's RDDs are unpersisted: the live set minus base is
    # exactly generation b's ids (no accumulation across generations)
    after_b = persistent_rdds() - base
    assert after_b.isdisjoint(after_a)
    assert b.count() == 20
    release_scope(spark, "t_scope")
    assert persistent_rdds() - base == set()


def test_scopes_are_independent(spark, persistent_rdds):
    base = persistent_rdds()
    x = scoped_checkpoint(_frame(spark, 5), "t_x")
    y = scoped_checkpoint(_frame(spark, 7), "t_y")
    scoped_checkpoint(_frame(spark, 6), "t_x")  # frees x only
    assert y.count() == 7  # y's generation untouched
    release_scope(spark, "t_x")
    release_scope(spark, "t_y")
    assert persistent_rdds() - base == set()


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
from proxyhouse_spark.checkpoints import _generations, scoped_checkpoint
from proxyhouse_spark.session import get_spark

spark = get_spark("checkpoint_free")  # log level WARN, as every engine session
freed = []
for n in (3, 4, 5):
    if "s" in _generations:
        freed.append(_generations["s"])
    scoped_checkpoint(spark.range(n), "s")
live = spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
print(json.dumps({"freed": freed, "live": sorted(int(k) for k in live)}))
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


def test_a_held_checkpoint_job_does_not_block_another_scope(spark, tmp_path):
    """The registry's lock guards the scope -> id swap, not the checkpoint
    job: while one thread's checkpoint job is held (a Python UDF waits for
    a release file, at most 60 s), another thread checkpoints a different
    scope and returns."""
    if spark.sparkContext.defaultParallelism < 2:
        pytest.skip("needs a free task slot beside the held job")
    started, release = str(tmp_path / "started"), str(tmp_path / "release")

    @F.udf("long")
    def held(v):
        import os
        import time

        open(started, "w").close()
        deadline = time.monotonic() + 60
        while not os.path.exists(release) and time.monotonic() < deadline:
            time.sleep(0.05)
        return v

    first = threading.Thread(
        target=scoped_checkpoint,
        args=(spark.range(1, numPartitions=1).select(held("id").alias("id")), "t_held"),
        daemon=True,
    )
    second = threading.Thread(
        target=scoped_checkpoint, args=(_frame(spark, 8), "t_free"), daemon=True
    )
    first.start()
    try:
        deadline = time.monotonic() + 60
        while not os.path.exists(started) and time.monotonic() < deadline:
            time.sleep(0.05)
        assert os.path.exists(started), "the held job did not start within 60 s"
        second.start()
        second.join(30)
        assert not second.is_alive(), "a held job blocked another scope's checkpoint"
        assert first.is_alive()  # the first job was still held throughout
    finally:
        open(release, "w").close()
        first.join(60)
        second.join(60)
        release_scope(spark, "t_held")
        release_scope(spark, "t_free")


def test_only_checkpoints_py_calls_local_checkpoint():
    """Every checkpoint in the package goes through scoped_checkpoint, so
    each is freed by its scope's next generation or by release_scope; a raw
    ``localCheckpoint(`` keeps its blocks until the JVM collects the RDD."""
    pkg = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "proxyhouse_spark")
    raw = []
    for root, _, files in os.walk(pkg):
        for f in files:
            path = os.path.join(root, f)
            if not f.endswith(".py") or path == os.path.join(pkg, "checkpoints.py"):
                continue
            with open(path) as fh:
                raw += [f"{os.path.relpath(path, pkg)}:{i}"
                        for i, line in enumerate(fh, 1) if "localCheckpoint(" in line]
    assert raw == []
