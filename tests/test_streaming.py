"""Streaming behavior tests (SURVEY §5.2 item 3): flush batching, DLQ spill
on sink failure, replay escalation 1→10 and quarantine — the reference's
backgroundSender/backgroundRecovery semantics (main.go:275-321, 447-485)."""

import datetime as dt
import glob

import pytest
from pyspark.sql import functions as F

from proxyhouse_spark.operators.dlq import MAX_LEVEL
from proxyhouse_spark.streaming.pipeline import FlushPipeline, replay_dlq

TS = dt.datetime(2024, 1, 1)
COLS = ["event_id", "recv_ts", "method", "path", "uri", "query", "query_string", "fmt", "body"]


def _req(event_id, table, body):
    uri = f"/?query=INSERT%20INTO%20{table}%20FORMAT%20Values"
    return (event_id, TS, "POST", "/", uri, f"INSERT INTO {table} FORMAT Values",
            uri.split("?")[1], "Values", body)


@pytest.fixture()
def dirs(tmp_path):
    d = {k: str(tmp_path / k) for k in ("source", "sink", "dlq", "ckpt")}
    return d


def _run_pipeline(spark, dirs, fail_predicate=None):
    pipe = FlushPipeline(
        spark, dirs["source"], dirs["sink"], dirs["dlq"], dirs["ckpt"],
        fail_predicate=fail_predicate,
    )
    q = pipe.start(available_now=True)
    q.awaitTermination(120)


def test_flush_one_row_per_key_per_batch(spark, dirs):
    reqs = [_req(i, f"t{i % 3}", f"({i})") for i in range(300)]
    spark.createDataFrame(reqs, COLS).coalesce(1).write.parquet(dirs["source"])
    pipe = FlushPipeline(
        spark, dirs["source"], dirs["sink"], dirs["dlq"], dirs["ckpt"]
    )
    pipe.start(available_now=True).awaitTermination(120)
    sink = spark.read.parquet(dirs["sink"])
    # one flushed row per distinct uri per micro-batch (T1)
    assert sink.count() == 3
    assert sink.agg(F.sum("rowcount")).first()[0] == 300
    assert sink.select("batch_id").distinct().count() == 1
    # observed per-flush delivery metrics (main.go:394-405 analog)
    assert len(pipe.metrics) == 1
    m = pipe.metrics[0]
    assert m["requests_sent"] == 3 and m["rows_sent"] == 300
    assert m["bytes_sent"] > 0


def test_failed_keys_spill_to_dlq_at_level_1(spark, dirs):
    reqs = [_req(1, "good", "(1)"), _req(2, "bad", "(2)")]
    spark.createDataFrame(reqs, COLS).coalesce(1).write.parquet(dirs["source"])
    _run_pipeline(spark, dirs, fail_predicate=F.col("table_name") == "bad")
    sink = spark.read.parquet(dirs["sink"])
    assert sink.count() == 1 and sink.first().table_name == "good"
    dlq = spark.read.parquet(dirs["dlq"])
    assert dlq.count() == 1
    row = dlq.first()
    assert row.level == 1 and "bad" in row.uri and row.body == "(2)"


def test_replay_delivers_and_clears_queue(spark, dirs):
    reqs = [_req(1, "bad", "(1)")]
    spark.createDataFrame(reqs, COLS).coalesce(1).write.parquet(dirs["source"])
    _run_pipeline(spark, dirs, fail_predicate=F.lit(True))
    counts = replay_dlq(spark, dirs["dlq"], dirs["sink"])  # sink healthy again
    assert counts == {"replayed": 1, "requeued": 0, "quarantined": 0}
    replayed = spark.read.parquet(dirs["sink"] + "/replayed")
    assert replayed.count() == 1
    assert spark.read.parquet(dirs["dlq"]).count() == 0


def test_replay_escalates_then_quarantines(spark, dirs):
    """A poison packet climbs level 1→10 across failing replays, then is
    quarantined and never replayed again (max 10 retries, main.go:366-369)."""
    reqs = [_req(1, "poison", "(1)")]
    spark.createDataFrame(reqs, COLS).coalesce(1).write.parquet(dirs["source"])
    _run_pipeline(spark, dirs, fail_predicate=F.lit(True))

    for expected_level in range(2, MAX_LEVEL + 1):
        counts = replay_dlq(spark, dirs["dlq"], dirs["sink"], fail_predicate=F.lit(True))
        dlq = spark.read.parquet(dirs["dlq"])
        assert dlq.first().level == expected_level
        if expected_level == MAX_LEVEL:
            assert counts["quarantined"] == 1

    # quarantined: a healthy replay no longer touches it
    counts = replay_dlq(spark, dirs["dlq"], dirs["sink"])
    assert counts == {"replayed": 0, "requeued": 0, "quarantined": 1}
    assert not glob.glob(dirs["sink"] + "/replayed/*.parquet")
    assert spark.read.parquet(dirs["dlq"]).first().level == MAX_LEVEL


def test_cumulative_counters_survive_restart(spark, dirs, tmp_path):
    """Per-key totals accumulate across separate availableNow runs via the
    checkpointed state store — the reference's cumulative in/out atomics,
    minus their process-lifetime limitation."""
    from proxyhouse_spark.streaming.pipeline import cumulative_counters

    out_dir = str(tmp_path / "counts")
    # batch 1: 3 requests for t0, 2 for t1
    reqs1 = [_req(i, f"t{0 if i < 3 else 1}", f"({i})") for i in range(5)]
    spark.createDataFrame(reqs1, COLS).coalesce(1).write.mode("append").parquet(
        dirs["source"]
    )
    q = cumulative_counters(spark, dirs["source"], out_dir, dirs["ckpt"])
    q.awaitTermination(120)

    # batch 2 (new file, same keys + multi-row body): totals must continue
    reqs2 = [_req(10, "t0", "(10),(11)")]
    spark.createDataFrame(reqs2, COLS).coalesce(1).write.mode("append").parquet(
        dirs["source"]
    )
    q = cumulative_counters(spark, dirs["source"], out_dir, dirs["ckpt"])
    q.awaitTermination(120)

    out = spark.read.parquet(out_dir)
    t0 = {r.total_requests: r for r in out.filter("uri LIKE '%t0%'").collect()}
    assert set(t0) == {3, 4}          # after batch 1, after batch 2
    assert t0[4].batch_requests == 1
    assert t0[4].total_rows == 5      # 3 single-row + one 2-row body
    t1 = out.filter("uri LIKE '%t1%'").collect()
    assert {r.total_requests for r in t1} == {2}  # untouched by batch 2


def test_watermark_drops_late_rows(spark, dirs, tmp_path):
    """T3: append-mode windowed counts emit once the watermark closes a
    window, and rows later than the watermark are dropped — across two
    availableNow runs sharing a checkpoint."""
    from proxyhouse_spark.streaming.pipeline import windowed_counts

    out_dir = str(tmp_path / "wins")

    def at(minute):
        return dt.datetime(2024, 1, 1) + dt.timedelta(minutes=minute)

    def req_at(event_id, minute):
        r = list(_req(event_id, "t0", f"({event_id})"))
        r[1] = at(minute)
        return tuple(r)

    # run 1: two rows in hour 0, one at 03:00 → watermark 02:50 closes hour 0
    batch1 = [req_at(1, 10), req_at(2, 20), req_at(3, 180)]
    spark.createDataFrame(batch1, COLS).coalesce(1).write.mode("append").parquet(
        dirs["source"]
    )
    windowed_counts(spark, dirs["source"], out_dir, dirs["ckpt"]).awaitTermination(120)

    # run 2: a LATE row for hour 0 (dropped) + one at 06:00 → closes hour 3
    batch2 = [req_at(4, 30), req_at(5, 360)]
    spark.createDataFrame(batch2, COLS).coalesce(1).write.mode("append").parquet(
        dirs["source"]
    )
    windowed_counts(spark, dirs["source"], out_dir, dirs["ckpt"]).awaitTermination(120)

    out = {r.window_start.hour: r.n_requests for r in spark.read.parquet(out_dir).collect()}
    assert out[0] == 2      # late event_id=4 NOT counted
    assert out[3] == 1
    assert 6 not in out     # still open — unemitted, state bounded


def test_unload_state_stores_between_runs_preserves_state(spark, dirs, tmp_path):
    """The explicit heap-hygiene utility (r09): StateStore.stop() clears
    the executor-side provider cache between availableNow runs, forcing
    the next run down the checkpoint-reload path — results must be
    IDENTICAL to the warm-cache run of the same scenario (the watermark
    test above). Also pins that it is a no-op while streams are active
    and safe to call twice."""
    from proxyhouse_spark.streaming.pipeline import (
        unload_state_stores,
        windowed_counts,
    )

    out_dir = str(tmp_path / "wins")

    def req_at(event_id, minute):
        r = list(_req(event_id, "t0", f"({event_id})"))
        r[1] = dt.datetime(2024, 1, 1) + dt.timedelta(minutes=minute)
        return tuple(r)

    batch1 = [req_at(1, 10), req_at(2, 20), req_at(3, 180)]
    spark.createDataFrame(batch1, COLS).coalesce(1).write.mode("append").parquet(
        dirs["source"]
    )
    windowed_counts(spark, dirs["source"], out_dir, dirs["ckpt"]).awaitTermination(120)
    unload_state_stores(spark)
    unload_state_stores(spark)  # idempotent

    batch2 = [req_at(4, 30), req_at(5, 360)]
    spark.createDataFrame(batch2, COLS).coalesce(1).write.mode("append").parquet(
        dirs["source"]
    )
    windowed_counts(spark, dirs["source"], out_dir, dirs["ckpt"]).awaitTermination(120)

    out = {r.window_start.hour: r.n_requests for r in spark.read.parquet(out_dir).collect()}
    assert out[0] == 2      # late event_id=4 NOT counted — state restored
    assert out[3] == 1
    assert 6 not in out


def test_dedup_stream_suppresses_dups_within_watermark(spark, dirs, tmp_path):
    """Watermark-bounded streaming dedup: duplicates within the delay are
    suppressed (even across restarts), and state is EVICTED once the
    watermark passes — a very-late duplicate re-emits. Both halves of the
    bounded-state contract, asserted."""
    from proxyhouse_spark.streaming.pipeline import dedup_stream

    out_dir = str(tmp_path / "dedup")

    def req_at(event_id, minute):
        r = list(_req(event_id, "t0", f"({event_id})"))
        r[1] = dt.datetime(2024, 1, 1) + dt.timedelta(minutes=minute)
        return tuple(r)

    def run(batch):
        spark.createDataFrame(batch, COLS).coalesce(1).write.mode("append").parquet(
            dirs["source"]
        )
        dedup_stream(spark, dirs["source"], out_dir, dirs["ckpt"]).awaitTermination(120)

    # run 1: id 2 duplicated in-batch; run 2: id 2 again across restart
    run([req_at(1, 0), req_at(2, 1), req_at(2, 2)])
    run([req_at(2, 3), req_at(3, 4)])
    out = spark.read.parquet(out_dir)
    assert sorted(r.event_id for r in out.collect()) == [1, 2, 3]

    # run 3 jumps event time to minute 1000 -> watermark 990 evicts id 2's
    # state; run 4's duplicate (995 > watermark) is then re-emitted
    run([req_at(100, 1000)])
    run([req_at(2, 995)])
    ids = sorted(r.event_id for r in spark.read.parquet(out_dir).collect())
    assert ids == [1, 2, 2, 3, 100]


def test_enrich_stream_joins_routing_dim_without_shuffle(spark, dirs, tmp_path):
    """Stream-static left join: routed tables get their route, unrouted
    tables flow with null (pass-through default, main.go:36-37 analog)."""
    from proxyhouse_spark.streaming.pipeline import enrich_stream

    dim_path = str(tmp_path / "dim")
    out_dir = str(tmp_path / "enriched")
    spark.createDataFrame(
        [("t0", "shard-a"), ("t1", "shard-b")], ["table_name", "route"]
    ).write.parquet(dim_path)

    reqs = [_req(1, "t0", "(1)"), _req(2, "t1", "(2)"), _req(3, "t9", "(3)")]
    spark.createDataFrame(reqs, COLS).coalesce(1).write.parquet(dirs["source"])
    enrich_stream(spark, dirs["source"], dim_path, out_dir, dirs["ckpt"]).awaitTermination(120)

    out = {r.table_name: r.route for r in spark.read.parquet(out_dir).collect()}
    assert out == {"t0": "shard-a", "t1": "shard-b", "t9": None}


def test_partitioned_sink_prunes_per_table_reads(spark, dirs):
    """partition_by_table=True lays the sink out hive-style by table_name;
    a per-table read then prunes at the scan (PartitionFilters), never
    listing the other tables' directories."""
    import os

    reqs = [_req(i, f"t{i % 3}", f"({i})") for i in range(30)]
    spark.createDataFrame(reqs, COLS).coalesce(1).write.parquet(dirs["source"])
    FlushPipeline(
        spark, dirs["source"], dirs["sink"], dirs["dlq"], dirs["ckpt"],
        partition_by_table=True,
    ).start(available_now=True).awaitTermination(120)

    assert sorted(
        d for d in os.listdir(dirs["sink"]) if d.startswith("table_name=")
    ) == ["table_name=t0", "table_name=t1", "table_name=t2"]

    one = spark.read.parquet(dirs["sink"]).filter(F.col("table_name") == "t1")
    assert one.count() == 1 and one.first().rowcount == 10
    plan = one._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    pf = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "table_name" in pf  # pruned at the scan, not filtered after


def test_split_by_statuses_is_a_join_not_an_in_literal(spark):
    """r2 verdict nit: the replay split used isin(ok_keys) — a plan-size
    hazard since every key is inlined as a literal. Pin the join-based
    split: correct partition of the queue AND a plan that contains a
    broadcast join but none of the uri keys as literals."""
    from proxyhouse_spark.streaming.pipeline import _split_by_statuses

    eligible = spark.createDataFrame(
        [(f"/u{i}", f"b{i}", 1, i) for i in range(200)],
        "uri string, body string, level int, created_ns bigint",
    )
    statuses = {f"/u{i}": (i % 2 == 0) for i in range(200)}
    statuses.pop("/u198")  # unknown uri → counts as failed
    ok, failed = _split_by_statuses(eligible, statuses)
    assert ok.count() == 99
    assert failed.count() == 101
    assert ok.columns == ["uri", "body", "level", "created_ns"]

    je = ok._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = je.explainString(mode)
    assert "/u199" not in plan  # no key literals inlined
    assert "BroadcastHashJoin" in plan


def _python_lineage(df) -> bool:
    """True when any RDD under ``df`` comes from a Python worker. The
    final RDD's lineage misses a broadcast side (its rows ride a broadcast
    variable), so the RDD leaves of the optimized plan are read too."""
    qe = df._jdf.queryExecution()
    lineages = [qe.toRdd().toDebugString()]
    leaves = qe.optimizedPlan().collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.nodeName() == "LogicalRDD":
            lineages.append(leaf.rdd().toDebugString())
    return any("PythonRDD" in lineage for lineage in lineages)


def test_split_by_statuses_runs_no_python_worker(spark):
    """The delivery-status frame is a JVM-local relation: built from a
    Python list its lineage held a PythonRDD, so each query that read the
    split started Python worker tasks (~0.2 s of CPU each). Pinned for a
    mixed dict, an empty one (an empty pandas frame would fall back to the
    Python path) and a fully delivered one."""
    from proxyhouse_spark.streaming.pipeline import _split_by_statuses

    eligible = spark.range(4).select(
        F.concat(F.lit("/u"), F.col("id").cast("string")).alias("uri"),
        F.col("id").alias("n"),
    )
    cases = [
        ({"/u0": True, "/u1": False}, None, 1),  # /u2, /u3 unknown → failed
        ({}, None, 0),
        ({f"/u{i}": True for i in range(4)}, 4, 4),
    ]
    for statuses, n_rows, n_ok in cases:
        ok, failed = _split_by_statuses(eligible, statuses, n_rows=n_rows)
        assert not _python_lineage(ok) and not _python_lineage(failed)
        assert (ok.count(), failed.count()) == (n_ok, 4 - n_ok)
        assert ok.columns == failed.columns == ["uri", "n"]


def test_send_duration_times_the_sender(spark, dirs):
    """sendDuration is the HTTP send's time (main.go:426), not the sink
    table write's: a sender that sleeps 0.5 s reports at least 500 ms."""
    import os
    import time

    from proxyhouse_spark.sinks.graphite import MetricStorage

    def slow_sender(frame):
        keys = [r.uri for r in frame.select("uri").collect()]
        time.sleep(0.5)
        return {k: True for k in keys}

    reqs = [_req(1, "t0", "(1)"), _req(2, "t1", "(2)")]
    spark.createDataFrame(reqs, COLS).coalesce(1).write.parquet(dirs["source"])
    storage = MetricStorage()
    pipe = FlushPipeline(
        spark, dirs["source"], dirs["sink"], dirs["dlq"], dirs["ckpt"],
        sender=slow_sender, metric_storage=storage,
    )
    pipe.start(available_now=True).awaitTermination(120)
    assert storage.snapshot()["sendDuration"] >= 500
    assert pipe.metrics[0]["requests_sent"] == 2
    assert spark.read.parquet(dirs["sink"]).count() == 2
    assert not os.path.exists(dirs["dlq"])  # all delivered: nothing spilled


def test_graphite_metrics_match_metric_counters(spark, dirs):
    """T-graphite (metric.go:21-60): run the REAL flush pipeline over the
    sf0.001 request fixture with a MetricStorage attached. Received-side
    counters arrive via observe() + StreamingQueryListener, sent-side via
    the flush; the captured totals must equal q_metric_counters' answers
    for the same fixture, and the 2s-cadence emitter must drain them as
    Graphite lines with the bytes_to_milliseconds derivation."""
    import time

    from proxyhouse_spark import registry
    from proxyhouse_spark.sinks.graphite import (
        PREFIX_AVG,
        PREFIX_CNT,
        GraphiteEmitter,
        MetricStorage,
    )
    from proxyhouse_spark.sources.requests import requests_df
    from proxyhouse_spark.streaming.pipeline import GraphiteListener
    from tests.conftest import SF_SMALL

    requests_df(spark, SF_SMALL).coalesce(1).write.parquet(dirs["source"])
    expected = registry.QUERIES["q_metric_counters"](spark, SF_SMALL).first()

    storage = MetricStorage()
    listener = GraphiteListener(storage)
    spark.streams.addListener(listener)
    try:
        pipe = FlushPipeline(
            spark, dirs["source"], dirs["sink"], dirs["dlq"], dirs["ckpt"],
            metric_storage=storage,
        )
        pipe.start(available_now=True).awaitTermination(120)
        deadline = time.time() + 30  # listener events are delivered async
        while listener.events == 0 and time.time() < deadline:
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)
    assert listener.events >= 1

    snap = storage.snapshot()
    # received side (observe + listener) == the oracled counter query
    assert snap[f"{PREFIX_CNT}.requests_received"] == expected["requests_received"]
    assert snap[f"{PREFIX_CNT}.bytes_received"] == expected["bytes_received"]
    # sent side (flush increments): every accepted row flushed exactly once;
    # bytes_sent counts the MERGED buffers (reference: len(val) of the
    # concatenated flush payload, main.go:392), so compare to the sink
    sink = spark.read.parquet(dirs["sink"])
    assert snap[f"{PREFIX_CNT}.rows_sent"] == expected["rows_received"]
    assert (
        snap[f"{PREFIX_CNT}.bytes_sent"]
        == sink.agg(F.sum(F.length("buffer"))).first()[0]
    )
    assert snap[f"{PREFIX_AVG}.bytes_sent"] == snap[f"{PREFIX_CNT}.bytes_sent"]
    assert snap[f"{PREFIX_CNT}.requests_sent"] == sink.count()

    # the 2s flush-loop body: ratio derivation + drain-and-clear
    emitter = GraphiteEmitter(storage, interval=0.05)
    lines = emitter.emit_once()
    ratio = [l for l in lines if l.startswith(f"{PREFIX_AVG}.bytes_to_milliseconds ")]
    assert len(ratio) == 1  # bytesSent and sendDuration both nonzero
    assert int(ratio[0].split()[1]) == snap["bytesSent"] // snap["sendDuration"]
    assert f"{PREFIX_CNT}.requests_received {expected['requests_received']}" in lines
    assert "bytesSent" not in " ".join(lines)  # the special pair is consumed
    assert emitter.emit_once() == []  # map cleared, second pass emits nothing

    # cadence: the background loop drains new increments without manual calls
    emitter.start()
    storage.increment(f"{PREFIX_CNT}.requests_received", 7)
    deadline = time.time() + 5
    while not any("requests_received 7" in l for l in emitter.lines) and time.time() < deadline:
        time.sleep(0.05)
    emitter.stop(final_flush=False)
    assert any(l == f"{PREFIX_CNT}.requests_received 7" for l in emitter.lines)


def test_watermark_boundary_pins(spark, dirs):
    """Pin the empirically-established Spark boundary semantics that the
    q_stream_windowed / q_stream_dedup oracles encode (established on
    Spark 4.1; registry.py T3/T6 comments). If a Spark upgrade shifts a
    <= to <, THIS test fails with a targeted message instead of the
    oracles failing mysteriously.

    1. Append-mode emission: a window is emitted once window_end <=
       watermark (11:00-ending window emits when the watermark is exactly
       11:00).
    2. dropDuplicatesWithinWatermark: a row at recv_ts == watermark
       survives; below it drops as late; a same-timestamp replay of an
       already-seen key is suppressed.
    """
    import datetime as dt

    from proxyhouse_spark.streaming.passes import (
        await_or_raise as _await_or_raise,
    )
    from proxyhouse_spark.streaming.pipeline import (
        dedup_stream,
        windowed_counts,
    )

    def t(h, m, s=0, us=0):
        return dt.datetime(2024, 1, 1, h, m, s, us)

    def req_at(event_id, ts):
        uri = "/?query=INSERT%20INTO%20t%20FORMAT%20Values"
        return (event_id, ts, "POST", "/", uri,
                "INSERT INTO t FORMAT Values", uri.split("?")[1], "Values", "(1)")

    # -- 1: emission boundary. max ts 11:10 → watermark 11:00; the window
    # [10:00, 11:00) has window_end == watermark and must emit.
    src, out, ckpt = (str(dirs_p) for dirs_p in
                      (dirs["source"] + "_w", dirs["sink"] + "_w", dirs["ckpt"] + "_w"))
    rows = [req_at(0, t(10, 30)), req_at(1, t(11, 10))]
    spark.createDataFrame(rows, COLS).coalesce(1).write.parquet(src)
    _await_or_raise(windowed_counts(spark, src, out, ckpt))
    emitted = {r.window_start for r in spark.read.parquet(out).collect()}
    assert emitted == {t(10, 0)}, (
        "append-mode emission boundary moved: window_end == watermark "
        f"no longer emits (got {emitted}); q_stream_windowed's oracle "
        "encodes window_end <= watermark"
    )

    # -- 2: dedup boundaries. Pass 1: e0@10:00, e1@11:10 → watermark 11:00.
    # Pass 2: e0 replay @10:00 (suppressed); e2 @11:00 EXACTLY AT the
    # watermark is dropped as late (the late filter is strict: survive iff
    # recv_ts > wm); e3 just below drops; e4 one microsecond above survives.
    src, out, ckpt = (str(dirs_p) for dirs_p in
                      (dirs["source"] + "_d", dirs["sink"] + "_d", dirs["ckpt"] + "_d"))
    p1 = [req_at(0, t(10, 0)), req_at(1, t(11, 10))]
    spark.createDataFrame(p1, COLS).coalesce(1).write.parquet(src)
    _await_or_raise(dedup_stream(spark, src, out, ckpt))
    p2 = [req_at(0, t(10, 0)), req_at(2, t(11, 0)),
          req_at(3, t(10, 59, 59, 999999)), req_at(4, t(11, 0, 0, 1))]
    spark.createDataFrame(p2, COLS).coalesce(1).write.mode("append").parquet(src)
    _await_or_raise(dedup_stream(spark, src, out, ckpt))
    got = sorted(r.event_id for r in spark.read.parquet(out).collect())
    assert got == [0, 1, 4], (
        "dropDuplicatesWithinWatermark boundary moved (got event_ids "
        f"{got}, want [0, 1, 4]): q_stream_dedup's oracle encodes "
        "replay-always-suppressed + fresh rows survive iff recv_ts is "
        "STRICTLY above the ms-truncated batch-start watermark"
    )


def test_interval_join_matches_across_checkpoint_and_drops_late(spark, tmp_path):
    """T7: the stream-stream interval join (a) matches a pass-2 B row
    against A-side state restored from pass 1's checkpoint, and (b) drops
    a B row arriving below the watermark (late) even though the batch join
    would match it — the state bound that makes the join survive an
    unbounded stream."""
    from proxyhouse_spark.streaming.pipeline import interval_join_stream

    a_dir = str(tmp_path / "a")
    b_dir = str(tmp_path / "b")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def at(minute):
        return dt.datetime(2024, 1, 1) + dt.timedelta(minutes=minute)

    def req_at(event_id, minute):
        r = list(_req(event_id, "t0", f"({event_id})"))
        r[1] = at(minute)
        return tuple(r)

    # pass 1: A at 00:10; B at 00:20 (matches in-batch); watermark carriers
    # at 03:00 on BOTH sides — the global watermark is the MIN across all
    # watermarked inputs, so advancing only one side leaves it at zero.
    # After pass 1 the watermark is ≈ 02:50.
    spark.createDataFrame([req_at(1, 10), req_at(2, 180)], COLS).coalesce(
        1
    ).write.parquet(a_dir)
    spark.createDataFrame([req_at(100, 20), req_at(101, 180)], COLS).coalesce(
        1
    ).write.parquet(b_dir)
    interval_join_stream(spark, a_dir, b_dir, out, ckpt).awaitTermination(120)
    pass1 = {(r.a_id, r.b_id) for r in spark.read.parquet(out).collect()}
    assert pass1 == {(1, 100), (1, 101), (2, 101)}  # all inside the window

    # pass 2: a fresh B at 04:00 matches the checkpointed A=1 state; a LATE
    # B back at 00:30 (< 02:50 watermark) is dropped despite matching A=1
    # in batch semantics
    spark.createDataFrame([req_at(102, 240), req_at(103, 30)], COLS).coalesce(
        1
    ).write.mode("append").parquet(b_dir)
    interval_join_stream(spark, a_dir, b_dir, out, ckpt).awaitTermination(120)
    pass2 = {(r.a_id, r.b_id) for r in spark.read.parquet(out).collect()} - pass1
    assert (1, 102) in pass2 and (2, 102) in pass2, (
        "cross-checkpoint state match must emit"
    )
    assert not any(b == 103 for _, b in pass2), (
        "late B row must be dropped by the watermark"
    )


def test_interval_join_left_outer_emits_nulls_on_eviction(spark, tmp_path):
    """T7b: streaming left-outer interval join — an unmatched A row is
    emitted null-padded only when the watermark passes a_ts + window
    (state eviction is the emission trigger), never while its match
    window is still open."""
    from proxyhouse_spark.streaming.pipeline import interval_join_stream

    a_dir, b_dir = str(tmp_path / "a"), str(tmp_path / "b")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def req_at(event_id, table, minute):
        r = list(_req(event_id, table, f"({event_id})"))
        r[1] = dt.datetime(2024, 1, 1) + dt.timedelta(minutes=minute)
        return tuple(r)

    # pass 1: unmatched A on t0 at 00:10; disjoint-uri carriers at 03:00
    # advance both watermarks without creating matches
    spark.createDataFrame(
        [req_at(1, "t0", 10), req_at(2, "t1", 180)], COLS
    ).coalesce(1).write.parquet(a_dir)
    spark.createDataFrame([req_at(100, "t2", 180)], COLS).coalesce(
        1
    ).write.parquet(b_dir)
    interval_join_stream(
        spark, a_dir, b_dir, out, ckpt, join_type="leftOuter"
    ).awaitTermination(120)
    emitted1 = {
        (r.a_id, r.b_id) for r in spark.read.parquet(out).collect()
    }
    assert (1, None) not in emitted1, "window still open — must not emit"

    # pass 2: carriers 3 days out push the watermark past a_ts + 2-day
    # window → A=1's state evicts and the null-padded row must emit
    day3 = 3 * 24 * 60
    spark.createDataFrame([req_at(3, "t1", day3)], COLS).coalesce(
        1
    ).write.mode("append").parquet(a_dir)
    spark.createDataFrame([req_at(101, "t2", day3)], COLS).coalesce(
        1
    ).write.mode("append").parquet(b_dir)
    interval_join_stream(
        spark, a_dir, b_dir, out, ckpt, join_type="leftOuter"
    ).awaitTermination(120)
    emitted2 = {(r.a_id, r.b_id) for r in spark.read.parquet(out).collect()}
    assert (1, None) in emitted2, "evicted unmatched A must emit null-padded"
    assert (3, None) not in emitted2, "still-live A state must not emit"


def test_interval_join_left_outer_eviction_boundary_is_ms_strict(spark, tmp_path):
    """T7b emission LAW, measured (r08 probe) and pinned at microsecond
    precision: an unmatched A row is emitted iff

        a_ts + W + 1ms <= watermark    (watermark = max event - delay)

    — Spark's watermark bookkeeping is ms-granular (event-time stats
    truncate to ms; the state-value watermark subtracts one further ms),
    so a row 1us below the watermark boundary does NOT emit while a row
    exactly 1ms below DOES. registry.IJOIN_LEFT_ORACLE encodes exactly
    this law; if a Spark upgrade moves the boundary, this test localizes
    the break (the sf0.001 differential below would fail opaquely)."""
    from proxyhouse_spark.streaming.pipeline import interval_join_stream

    a_dir, b_dir = str(tmp_path / "a"), str(tmp_path / "b")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def req_at(event_id, table, us):
        r = list(_req(event_id, table, f"({event_id})"))
        r[1] = dt.datetime(2024, 1, 1) + dt.timedelta(microseconds=us)
        return tuple(r)

    # W = IJOIN_WINDOW_DAYS, delay = IJOIN_DELAY; carriers at W + delay on
    # both sides put the final watermark exactly at t0 + W (offsets derived
    # from the pipeline constants so a delay change moves this test too —
    # ADVICE r08 #2)
    from proxyhouse_spark.streaming.pipeline import (
        IJOIN_DELAY_US,
        IJOIN_WINDOW_DAYS,
    )

    w_us = IJOIN_WINDOW_DAYS * 86_400 * 1_000_000
    carrier_us = w_us + IJOIN_DELAY_US
    rows_a = [
        req_at(1, "t0", 0),       # a+W == wm          -> must NOT emit
        req_at(2, "t0", -999),    # a+W == wm - 999us  -> must NOT emit
        req_at(3, "t0", -1000),   # a+W == wm - 1ms    -> must emit
        req_at(4, "t0", -1001),   # a+W == wm - 1001us -> must emit
        req_at(5, "t1", carrier_us),  # A-side watermark carrier
    ]
    rows_b = [req_at(100, "t2", carrier_us)]  # B-side carrier, no match
    spark.createDataFrame(rows_a, COLS).coalesce(1).write.parquet(a_dir)
    spark.createDataFrame(rows_b, COLS).coalesce(1).write.parquet(b_dir)
    q = interval_join_stream(spark, a_dir, b_dir, out, ckpt,
                             join_type="leftOuter")
    assert q.awaitTermination(180)
    emitted = {r.a_id for r in spark.read.parquet(out).collect()
               if r.b_id is None}
    assert emitted == {3, 4}


def test_interval_join_left_query_matches_batch_oracle(spark):
    """T7b end-to-end differential at sf0.001: the REAL two-pass leftOuter
    run (cross-restart state restore included) must row-for-row match
    registry.IJOIN_LEFT_ORACLE's batch model in DuckDB — matched pairs AND
    the watermark-bounded null-padded emissions. Also pins that the fixture
    actually exercises the outer path (>0 null-padded rows on both sides).
    The one-sided-split regression this guards: a restarted watermark
    column with no new rows pins the global watermark at its restored
    value, silently suppressing every pass-2 eviction (r08 finding —
    _interval_join_two_pass splits BOTH sides for exactly this reason)."""
    import duckdb

    from proxyhouse_spark.registry import IJOIN_LEFT_ORACLE
    from proxyhouse_spark.streaming.pipeline import (
        stream_interval_join_left_query,
    )
    from proxyhouse_spark.tables import TABLES
    from tests.conftest import SF_SMALL

    rows = stream_interval_join_left_query(spark, SF_SMALL).collect()
    got = {
        (r.a_id, r.b_id, r.uri, r.a_ts,
         None if r.b_ts is None else r.b_ts)
        for r in rows
    }
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_SMALL}/{t}.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    want = set(map(tuple, con.sql(IJOIN_LEFT_ORACLE).fetchall()))
    assert sum(1 for r in got if r[1] is None) > 0
    assert got == want


def test_update_mode_emits_open_windows_append_does_not(spark, tmp_path):
    """Output-mode contract: update mode emits the CURRENT partial count of
    a still-open window every batch (dashboards), while append emits a
    window only once the watermark closes it (immutable downstream
    tables). Same query, same data — only the mode differs."""
    from proxyhouse_spark.operators.ingest import validate_requests
    from proxyhouse_spark.sources.requests import requests_stream_df
    from proxyhouse_spark.streaming.pipeline import (
        WATERMARK_DELAY,
        WINDOW_SIZE,
        _event_time_as_instant,
    )

    src = str(tmp_path / "src")

    def req_at(event_id, minute):
        r = list(_req(event_id, "t0", f"({event_id})"))
        r[1] = dt.datetime(2024, 1, 1) + dt.timedelta(minutes=minute)
        return tuple(r)

    # two rows in hour 0; NO watermark carrier → hour-0 window stays open
    spark.createDataFrame([req_at(1, 10), req_at(2, 20)], COLS).coalesce(
        1
    ).write.parquet(src)

    def run(mode, name):
        stream = _event_time_as_instant(
            validate_requests(requests_stream_df(spark, src)), "recv_ts"
        )
        counted = (
            stream.withWatermark("recv_ts", WATERMARK_DELAY)
            .groupBy(F.window("recv_ts", WINDOW_SIZE))
            .count()
        )
        q = (
            counted.writeStream.trigger(availableNow=True)
            .outputMode(mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .start()
        )
        assert q.awaitTermination(120)
        return spark.sql(f"SELECT * FROM {name}").collect()

    assert run("append", "t_append") == []        # window open: nothing emitted
    upd = run("update", "t_update")
    assert len(upd) == 1 and upd[0]["count"] == 2  # update: live partial count


def test_streaming_session_window_merges_across_batches(spark, tmp_path):
    """Session windows in Structured Streaming: a session left open in
    pass 1 is EXTENDED by a pass-2 row within the gap (cross-checkpoint
    state merge), each closed session is emitted exactly once, and a row
    below the watermark neither re-opens nor duplicates a closed
    session."""
    from proxyhouse_spark.operators.ingest import validate_requests
    from proxyhouse_spark.sources.requests import requests_stream_df
    from proxyhouse_spark.streaming.pipeline import _event_time_as_instant

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))

    def req_at(event_id, minute):
        r = list(_req(event_id, "t0", f"({event_id})"))
        r[1] = dt.datetime(2024, 1, 1) + dt.timedelta(minutes=minute)
        return tuple(r)

    def run():
        stream = _event_time_as_instant(
            validate_requests(requests_stream_df(spark, src)), "recv_ts"
        )
        sessions = (
            stream.withWatermark("recv_ts", "10 minutes")
            .groupBy("uri", F.session_window("recv_ts", "10 minutes"))
            .count()
            .select(
                F.col("session_window.start").alias("s"),
                F.col("session_window.end").alias("e"),
                "count",
            )
        )
        q = (
            sessions.writeStream.trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .format("parquet")
            .option("path", out)
            .start()
        )
        assert q.awaitTermination(120)
        return {(r.s.hour, r.s.minute): r for r in spark.read.parquet(out).collect()}

    # pass 1: session A (00:00, 00:03), session B opens at 03:00 (watermark
    # after the pass ≈ 02:50 closes A, leaves B open)
    spark.createDataFrame(
        [req_at(1, 0), req_at(2, 3), req_at(3, 180)], COLS
    ).coalesce(1).write.parquet(src)
    got1 = run()
    assert (0, 0) in got1 and got1[(0, 0)]["count"] == 2  # A emitted closed
    assert (3, 0) not in got1                             # B still open

    # pass 2: 03:05 EXTENDS B across the checkpoint; 06:00 advances the
    # watermark to close B; 00:05 is below the watermark → dropped
    spark.createDataFrame(
        [req_at(4, 185), req_at(5, 360), req_at(6, 5)], COLS
    ).coalesce(1).write.mode("append").parquet(src)
    got2 = run()
    assert got2[(3, 0)]["count"] == 2          # merged session, emitted once
    assert got2[(3, 0)].e.minute == 15         # end extended to 03:15
    assert got2[(0, 0)]["count"] == 2          # late row did not mutate A
    assert (6, 0) not in got2                  # open session unemitted

    # pass 3: the late rule is the WINDOW-END rule, not a row-ts cut — a
    # row BELOW the watermark (05:50) whose would-be window end is above
    # it (05:45 + 10min = 05:55) is kept, seeds state, and emits once the
    # watermark passes its end; a row whose window end is below the
    # watermark (04:00 + 10min < 05:50) is dropped
    spark.createDataFrame([req_at(7, 345), req_at(8, 240), req_at(9, 600)], COLS
    ).coalesce(1).write.mode("append").parquet(src)
    got3 = run()
    assert (5, 45) in got3 and got3[(5, 45)]["count"] == 1  # kept-band row
    assert (4, 0) not in got3                               # window-end late


def test_replay_crash_recovery_merges_old_with_new_spills(spark, tmp_path):
    """The crash window between the queue-swap renames leaves the previous
    generation at .old; if a flush spill recreates dlq_dir with fresh
    packets BEFORE the next replay, recovery must MERGE (not skip) — a
    restore-if-empty guard would let the swap's pre-clean delete every
    pre-crash packet."""
    import os

    from pyspark.sql import functions as F

    from proxyhouse_spark.streaming.pipeline import replay_dlq

    dlq = str(tmp_path / "dlq")
    sink = str(tmp_path / "sink")
    cols = "event_id bigint, uri string, body string, level int, created_ns bigint"
    # pre-crash generation, stranded at .old by a kill between the renames
    spark.createDataFrame(
        [(1, "/a", "b1", 2, 100)], cols
    ).coalesce(1).write.parquet(dlq)
    os.rename(dlq, dlq + ".old")
    # a fresh spill recreates the queue dir before the next replay
    spark.createDataFrame(
        [(2, "/b", "b2", 4, 200)], cols
    ).coalesce(1).write.parquet(dlq)

    counts = replay_dlq(
        spark, dlq, sink, fail_predicate=F.lit(True)  # everything fails
    )
    # both generations survived: both packets escalated one level
    assert counts["requeued"] == 2
    rows = {r.event_id: r.level for r in spark.read.parquet(dlq).collect()}
    assert rows == {1: 3, 2: 5}
    assert not os.path.isdir(dlq + ".old")
