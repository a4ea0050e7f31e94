"""End-to-end HTTP sink test: the REAL reference boundary (send(),
main.go:376-445) against a live in-process HTTP server — one POST per
distinct key per flush, 200 = delivered, non-200 spills to the DLQ."""

import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest
from pyspark.sql import functions as F  # noqa: F401

from proxyhouse_spark.sinks.http_sink import http_send
from proxyhouse_spark.streaming.pipeline import FlushPipeline
from tests.test_streaming import COLS, _req


class _Collector(BaseHTTPRequestHandler):
    received: list[tuple[str, str]] = []
    fail_substring = "bad"
    fail_body_substring: str | None = None

    def do_POST(self):  # noqa: N802
        body = self.rfile.read(int(self.headers["Content-Length"])).decode()
        type(self).received.append((self.path, body))
        if self.fail_substring in self.path or (
            self.fail_body_substring and self.fail_body_substring in body
        ):
            self.send_response(503)  # ClickHouse down for this table
        else:
            self.send_response(200)
        self.end_headers()

    def log_message(self, *args):  # silence
        pass


@pytest.fixture()
def http_server():
    _Collector.received = []
    _Collector.fail_body_substring = None
    server = HTTPServer(("127.0.0.1", 0), _Collector)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{server.server_port}"
    server.shutdown()


def test_http_sink_delivers_and_spills(spark, tmp_path, http_server):
    dirs = {k: str(tmp_path / k) for k in ("source", "sink", "dlq", "ckpt")}
    reqs = [
        _req(1, "good", "(1)"),
        _req(2, "good", "(2)"),
        _req(3, "bad", "(3)"),
    ]
    spark.createDataFrame(reqs, COLS).coalesce(1).write.parquet(dirs["source"])

    pipe = FlushPipeline(
        spark, dirs["source"], dirs["sink"], dirs["dlq"], dirs["ckpt"],
        fwd=http_server,  # url_rewrite targets the live server
        sender=http_send,
    )
    pipe.start(available_now=True).awaitTermination(120)

    # the server saw exactly one POST per distinct key (2 keys)
    assert len(_Collector.received) == 2
    bodies = {path: body for path, body in _Collector.received}
    good_path = next(p for p in bodies if "good" in p)
    assert bodies[good_path] == "(1),(2)"  # coalesced buffer, not 2 requests

    # delivered key landed in the sink table; failed key spilled to DLQ
    sink = spark.read.parquet(dirs["sink"])
    assert sink.count() == 1 and sink.first().table_name == "good"
    assert sink.first().rowcount == 2
    dlq = spark.read.parquet(dirs["dlq"])
    assert dlq.count() == 1
    assert "bad" in dlq.first().uri and dlq.first().level == 1


def test_http_replay_delivers_spilled_packet(spark, tmp_path, http_server):
    """Full failure→recovery cycle over live HTTP: a 503'd key spills to
    the DLQ, the server heals, the throttled HTTP replay delivers it and
    clears the queue."""
    from proxyhouse_spark.streaming.pipeline import replay_dlq

    dirs = {k: str(tmp_path / k) for k in ("source", "sink", "dlq", "ckpt")}
    reqs = [_req(1, "bad", "(1),(2)")]
    spark.createDataFrame(reqs, COLS).coalesce(1).write.parquet(dirs["source"])
    pipe = FlushPipeline(
        spark, dirs["source"], dirs["sink"], dirs["dlq"], dirs["ckpt"],
        fwd=http_server, sender=http_send,
    )
    pipe.start(available_now=True).awaitTermination(120)
    assert spark.read.parquet(dirs["dlq"]).count() == 1

    _Collector.fail_substring = "\x00never"  # server healed
    try:
        counts = replay_dlq(
            spark, dirs["dlq"], dirs["sink"],
            sender=http_send, throttle_seconds=0.05, fwd=http_server,
        )
    finally:
        _Collector.fail_substring = "bad"
    assert counts == {"replayed": 1, "requeued": 0, "quarantined": 0}
    # the replayed POST carried the original coalesced body
    assert _Collector.received[-1][1] == "(1),(2)"
    assert spark.read.parquet(dirs["dlq"]).count() == 0


def test_http_replay_is_executor_side_ordered_and_chunked(
    spark, tmp_path, http_server
):
    """Replay sends payloads from EXECUTOR tasks via the same partition
    sender as the flush path (no buffer bytes through the driver —
    VERDICT r3 #6), while the driver keeps the reference's sequential
    pacing in (level, created_ns) order: unthrottled, one single-task send
    covers the queue; throttled, each send is one packet."""
    from proxyhouse_spark.streaming.pipeline import replay_dlq

    cols = "uri string, body string, level int, created_ns bigint"
    for throttle, n_sends in ((0, 1), (0.01, 3)):
        dlq = str(tmp_path / f"dlq{n_sends}")
        sink = str(tmp_path / f"sink{n_sends}")
        spark.createDataFrame(
            [
                ("/?query=c", "(3)", 2, 100),  # level 2 → third
                ("/?query=a", "(1)", 0, 200),  # level 0 → first
                ("/?query=b", "(2)", 0, 300),  # level 0, later ns → second
            ],
            cols,
        ).coalesce(1).write.parquet(dlq)
        _Collector.received = []
        sends = []

        def counting_send(chunk):
            sends.append(chunk)
            return http_send(chunk)

        _Collector.fail_substring = "\x00never"
        try:
            counts = replay_dlq(
                spark, dlq, sink, sender=counting_send,
                throttle_seconds=throttle, fwd=http_server,
            )
        finally:
            _Collector.fail_substring = "bad"
        assert counts == {"replayed": 3, "requeued": 0, "quarantined": 0}
        # delivery order matches the reference's lexicographic replay order
        assert [b for _, b in _Collector.received] == ["(1)", "(2)", "(3)"]
        assert spark.read.parquet(dlq).count() == 0
        assert len(sends) == n_sends


def test_http_replay_same_uri_packets_keep_distinct_outcomes(
    spark, tmp_path, http_server
):
    """Delivery status is keyed per PACKET, not per uri (ADVICE r04): two
    queued packets sharing a uri must keep independent outcomes. Before
    the fix, the uri-keyed status dict let a later same-uri success
    overwrite an earlier failure — the failed packet was marked delivered
    and silently dropped from the queue (data loss)."""
    from proxyhouse_spark.streaming.pipeline import replay_dlq

    dlq = str(tmp_path / "dlq")
    sink = str(tmp_path / "sink")
    cols = "uri string, body string, level int, created_ns bigint"
    spark.createDataFrame(
        [
            ("/?query=t", "(poison)", 0, 100),  # replays FIRST, server 503s it
            ("/?query=t", "(2)", 0, 200),       # same uri, replays second, 200
        ],
        cols,
    ).coalesce(1).write.parquet(dlq)

    _Collector.fail_substring = "\x00never"
    _Collector.fail_body_substring = "poison"
    try:
        counts = replay_dlq(
            spark, dlq, sink, sender=http_send, fwd=http_server
        )
    finally:
        _Collector.fail_substring = "bad"
        _Collector.fail_body_substring = None
    assert counts == {"replayed": 1, "requeued": 1, "quarantined": 0}
    left = spark.read.parquet(dlq).collect()
    assert len(left) == 1  # the failed packet is requeued, not dropped...
    assert left[0].body == "(poison)"  # ...and it is the RIGHT packet
    assert left[0].level == 1  # escalated one retry level
    delivered = spark.read.parquet(f"{sink}/replayed").collect()
    assert [r.buffer for r in delivered] == ["(2)"]


def test_http_replay_counts_deliver_escalate_and_quarantine(
    spark, tmp_path, http_server
):
    """Replay counters over HTTP: ``replayed`` is the sum of the send
    statuses, ``requeued``/``quarantined`` are observed on the queue
    rewrite. One packet delivers, one fails at level 9 (escalates to the
    quarantine level), one is already quarantined and is not sent."""
    from proxyhouse_spark.operators.dlq import MAX_LEVEL
    from proxyhouse_spark.streaming.pipeline import replay_dlq

    dlq = str(tmp_path / "dlq")
    sink = str(tmp_path / "sink")
    cols = "uri string, body string, level int, created_ns bigint"
    spark.createDataFrame(
        [
            ("/?query=a", "(ok)", 0, 100),
            ("/?query=b", "(poison)", MAX_LEVEL - 1, 200),
            ("/?query=c", "(parked)", MAX_LEVEL, 300),
        ],
        cols,
    ).coalesce(1).write.parquet(dlq)

    _Collector.fail_substring = "\x00never"
    _Collector.fail_body_substring = "poison"
    try:
        counts = replay_dlq(spark, dlq, sink, sender=http_send, fwd=http_server)
    finally:
        _Collector.fail_substring = "bad"
        _Collector.fail_body_substring = None
    assert counts == {"replayed": 1, "requeued": 0, "quarantined": 2}
    # the quarantined packet was never sent
    assert sorted(b for _, b in _Collector.received) == ["(ok)", "(poison)"]
    left = {r.body: r.level for r in spark.read.parquet(dlq).collect()}
    assert left == {"(poison)": MAX_LEVEL, "(parked)": MAX_LEVEL}
    delivered = spark.read.parquet(f"{sink}/replayed").collect()
    assert [r.buffer for r in delivered] == ["(ok)"]


@pytest.mark.parametrize(
    "tables, jobs", [(("good", "good"), 4), (("good", "bad"), 7), (("bad", "bad"), 4)]
)
def test_flush_trigger_job_count(spark, tmp_path, http_server, tables, jobs):
    """Spark jobs of one flush trigger, counted under a job group: the
    flush-frame checkpoint (its aggregation stage and the checkpoint
    itself), the send and the sink append; a failing key adds the status
    broadcast to the sink append and the DLQ spill with its own broadcast.
    When no key is delivered there is no sink append (and no broadcast), only
    the spill. The trigger's record rides those jobs and adds none."""
    dirs = {k: str(tmp_path / k) for k in ("source", "sink", "dlq", "ckpt")}
    reqs = [_req(i, t, f"({i})") for i, t in enumerate(tables)]
    spark.createDataFrame(reqs, COLS).coalesce(1).write.parquet(dirs["source"])
    batch_df = spark.read.parquet(dirs["source"])  # schema inference: outside the group
    pipe = FlushPipeline(
        spark, dirs["source"], dirs["sink"], dirs["dlq"], dirs["ckpt"],
        fwd=http_server, sender=http_send,
    )
    sc = spark.sparkContext
    group = f"flush-trigger-{tmp_path.name}"
    sc.setJobGroup(group, "one flush trigger")
    try:
        pipe._flush(batch_df, 0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == jobs
    m = pipe.metrics[0]
    assert (m["requests_received"], m["requests_sent"]) == (2, "good" in tables)
    assert m["spilled_keys"] == (tables[1] == "bad")
