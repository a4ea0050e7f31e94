"""Semantic tests for the CDC changelog-apply operator at sf0.001 — the
differential harness is the primary gate; these pin the invariants the
oracle can't see (idempotence of the fold, tombstone totality, version
monotonicity)."""

from proxyhouse_spark import registry
from tests.conftest import SF_SMALL


def test_cdc_upsert_latest_wins_and_tombstones_drop(spark):
    snap = registry.QUERIES["q_cdc_upsert"](spark, SF_SMALL)
    rows = snap.collect()
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    keys = [r.o_orderkey for r in rows]
    assert len(keys) == len(set(keys)), "exactly one surviving row per key"

    # tombstoned keys (k % 13 == 0) are gone, all others survive
    all_keys = {r.o_orderkey for r in orders.select("o_orderkey").collect()}
    surviving = set(keys)
    assert surviving == {k for k in all_keys if k % 13 != 0}

    by_key = {r.o_orderkey: r for r in rows}
    for k, r in by_key.items():
        if k % 21 == 0:
            assert r.o_orderstatus == "Y" and r.n_versions == 3
        elif k % 7 == 0:
            assert r.o_orderstatus == "X" and r.n_versions == 2
        else:
            assert r.n_versions == 1


def test_cdc_upsert_is_idempotent(spark):
    """Applying the same changelog twice yields the same snapshot — the
    at-least-once replay-safety contract (reference DLQ replay semantics,
    main.go:423-441, imposed on the analytics side)."""
    a = registry.QUERIES["q_cdc_upsert"](spark, SF_SMALL)
    b = registry.QUERIES["q_cdc_upsert"](spark, SF_SMALL)
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_cdc_upsert_plan_single_window_no_join(spark):
    """Compaction must be one shuffle (the window on the key), no join."""
    plan = registry.QUERIES["q_cdc_upsert"](spark, SF_SMALL)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan


def test_stream_cdc_tombstones_survive_restarts(spark, tmp_path):
    """A key deleted in one micro-batch must stay deleted in later ones:
    the snapshot store keeps tombstone rows so a replayed older update
    cannot resurrect the key (readers filter op <> 'D')."""
    from proxyhouse_spark.operators.cdc import cdc_apply_stream

    src, snap, ckpt = (str(tmp_path / d) for d in ("src", "snap", "ckpt"))
    cols = "o_orderkey bigint, seq int, op string, o_custkey bigint, o_orderstatus string, cents bigint, o_orderpriority string"
    # pass 1: insert key 1 and key 2; delete key 1
    spark.createDataFrame(
        [(1, 0, "I", 10, "O", 100, "1-URGENT"), (2, 0, "I", 11, "O", 200, "2-HIGH"),
         (1, 3, "D", 10, "O", 100, "1-URGENT")], cols
    ).coalesce(1).write.parquet(src)
    q = cdc_apply_stream(spark, src, snap, ckpt)
    assert q.awaitTermination(120)
    # pass 2: a LATE lower-seq update for deleted key 1 replays (at-least-once)
    spark.createDataFrame(
        [(1, 1, "U", 10, "X", 110, "1-URGENT")], cols
    ).coalesce(1).write.mode("append").parquet(src)
    q = cdc_apply_stream(spark, src, snap, ckpt)
    assert q.awaitTermination(120)
    live = spark.read.parquet(snap).filter("op <> 'D'").collect()
    assert {r.o_orderkey for r in live} == {2}, "deleted key must not resurrect"


def test_additive_merge_is_fenced_against_replay(spark, tmp_path):
    """foreachBatch is at-least-once: replaying the SAME batch id into the
    additive totals merge must be a no-op (the per-batch marker fence),
    while a new batch id folds in normally."""
    from proxyhouse_spark.operators.cdc import _merge_totals

    snap = str(tmp_path / "snap")
    batch = spark.createDataFrame(
        [(1, 100), (2, 50)], "user_id bigint, cents bigint"
    )
    _merge_totals(spark, batch, snap, 0)
    _merge_totals(spark, batch, snap, 0)  # replay of a committed batch
    totals = {
        r.user_id: r.total_cents for r in spark.read.parquet(snap).collect()
    }
    assert totals == {1: 100, 2: 50}, "replayed batch must not double-add"
    _merge_totals(spark, batch, snap, 1)  # genuinely new batch
    totals = {
        r.user_id: r.total_cents for r in spark.read.parquet(snap).collect()
    }
    assert totals == {1: 200, 2: 100}


def test_snapshot_swap_crash_window_recovers(spark, tmp_path):
    """A crash between the two swap renames leaves snap.old intact and
    snap absent; the next read must recover the previous generation
    instead of silently starting from empty."""
    import os

    from proxyhouse_spark.operators.cdc import (
        _TOTALS_SCHEMA,
        _merge_totals,
    )
    from proxyhouse_spark.streaming.passes import (
        read_snapshot as _snapshot_read,
    )

    snap = str(tmp_path / "snap")
    batch = spark.createDataFrame([(7, 700)], "user_id bigint, cents bigint")
    _merge_totals(spark, batch, snap, 0)
    # simulate the crash window: snap renamed away, replacement not yet in
    os.rename(snap, snap + ".old")
    recovered = _snapshot_read(spark, snap, _TOTALS_SCHEMA).collect()
    assert {(r.user_id, r.total_cents) for r in recovered} == {(7, 700)}
    assert os.path.isdir(snap) and not os.path.isdir(snap + ".old")
