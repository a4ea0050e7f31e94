"""End-to-end HTTP ingest shim: live server → Parquet spool → flush
pipeline. Mirrors the reference's server surface (dorequest,
main.go:164-226; showstatus 228-245; showstatistic 247-254)."""

import json
import socket
import sys
import threading
import time
import urllib.error
import urllib.request

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from proxyhouse_spark.operators.ingest import sink_frame
from proxyhouse_spark.sources.http_ingest import IngestShim
from proxyhouse_spark.streaming.pipeline import FlushPipeline


def _call(base, path, data=None, method=None):
    req = urllib.request.Request(base + path, data=data, method=method)
    try:
        with urllib.request.urlopen(req, timeout=10) as r:
            return r.status, r.read(), dict(r.headers)
    except urllib.error.HTTPError as e:
        return e.code, e.read(), dict(e.headers)


@pytest.fixture()
def shim(tmp_path):
    errcount = {"n": 0}
    s = IngestShim(
        str(tmp_path / "spool"),
        flush_seconds=0.3,
        errcount_fn=lambda: errcount["n"],
    ).start()
    s._test_errcount = errcount
    yield s
    s.stop()


def test_endpoint_semantics(shim):
    base = f"http://{shim.address[0]}:{shim.address[1]}"
    # GET / → ready line with a Date header (main.go:172-178)
    code, body, headers = _call(base, "/")
    assert code == 200 and b"ready" in body and "Date" in headers
    # accepted POST acks 200 with TSV content type (main.go:217-218)
    code, _, headers = _call(
        base, "/?query=INSERT%20INTO%20t%20FORMAT%20Values", data=b"(1)"
    )
    assert code == 200
    assert headers["Content-Type"].startswith("text/tab-separated-values")
    # empty body → 405 (main.go:219-221)
    assert _call(base, "/?query=x", data=b"")[0] == 405
    # non-root path → 404 (main.go:166-169)
    assert _call(base, "/other", data=b"(1)")[0] == 404
    assert _call(base, "/nope")[0] == 404
    # non-GET/POST → 405 (main.go:223-225)
    assert _call(base, "/", data=b"(1)", method="PUT")[0] == 405


def test_status_thresholds_and_statistics(shim):
    base = f"http://{shim.address[0]}:{shim.address[1]}"
    for n, want_code, want_status in [
        (0, 200, "ok"),
        (450, 400, "warning"),  # >= warnlevel 400 (main.go:48, 238-241)
        (600, 500, "critical"),  # >= critlevel 500 (main.go:49, 234-237)
    ]:
        shim._test_errcount["n"] = n
        code, body, _ = _call(base, "/status")
        assert (code, json.loads(body)["status"]) == (want_code, want_status)
    _call(base, "/?query=q", data=b"(9)")
    code, body, _ = _call(base, "/statistic")
    assert code == 200 and json.loads(body)["in"] == 1


def test_spooled_requests_flow_through_flush_pipeline(shim, spark, tmp_path):
    base = f"http://{shim.address[0]}:{shim.address[1]}"
    values_uri = "/?query=INSERT%20INTO%20t%20FORMAT%20Values"
    tsv_uri = "/?query=INSERT+INTO+lines+FORMAT+TSV"
    _call(base, values_uri, data=b"(1)")
    _call(base, values_uri, data=b"(2)")
    _call(base, tsv_uri, data=b"7\n8\n")
    _call(base, "/", data=b"(99)", method="PUT")  # rejected: never spooled
    shim.stop()  # drains the buffer to the spool

    spool = spark.read.parquet(shim.spool_dir)
    assert spool.count() == 3  # only accepted POSTs

    # batch view: the core aggregation over the live-captured records
    frame = {r["uri"]: r for r in sink_frame(spool).collect()}
    assert frame[values_uri]["buffer"] == "(1),(2)"
    assert frame[values_uri]["rowcount"] == 2
    assert frame[values_uri]["table_name"] == "t"
    assert frame[tsv_uri]["buffer"] == "7\n8\n"
    assert frame[tsv_uri]["rowcount"] == 2
    assert frame[tsv_uri]["table_name"] == "lines"
    # one outbound unit per distinct key was counted (main.go:292)
    assert shim.out_requests == 2

    # streaming view: the spool is a valid FlushPipeline source
    pipe = FlushPipeline(
        spark,
        shim.spool_dir,
        str(tmp_path / "sink"),
        str(tmp_path / "dlq"),
        str(tmp_path / "ckpt"),
    )
    pipe.start(available_now=True).awaitTermination(120)
    sink = spark.read.parquet(str(tmp_path / "sink"))
    assert sink.count() == 2
    assert sink.agg(F.sum("rowcount")).first()[0] == 4


def test_connection_state_counters(shim):
    """statelistener (main.go:257-271) surfaced via /statistic: a held
    keep-alive connection raises current/idle; a burst of one-shot requests
    raises total; closing the held connection drains current back down."""
    import http.client
    import time

    host, port = shim.address
    base = f"http://{host}:{port}"

    def stat():
        return json.loads(_call(base, "/statistic")[1])

    s0 = stat()
    for k in ("total_connections", "current_connections", "idle_connections"):
        assert k in s0

    # a held keep-alive connection: +1 total, +1 current, idle while parked
    held = http.client.HTTPConnection(host, port, timeout=10)
    held.request("GET", "/")
    held.getresponse().read()
    s1 = stat()
    assert s1["total_connections"] >= s0["total_connections"] + 1
    assert s1["current_connections"] >= s0["current_connections"] + 1

    # burst of one-shot requests: total grows by at least the burst size
    for i in range(5):
        _call(base, f"/?query=INSERT%20INTO%20t{i}%20FORMAT%20Values", data=b"(1)")
    s2 = stat()
    assert s2["total_connections"] >= s1["total_connections"] + 5
    assert s2["in"] == s0["in"] + 5

    # closing the held connection drains current back down
    held.close()
    deadline = time.time() + 10
    while time.time() < deadline:
        s3 = stat()
        if s3["current_connections"] <= s2["current_connections"] - 1:
            break
        time.sleep(0.1)
    assert s3["current_connections"] <= s2["current_connections"] - 1
    # gauge stays balanced: idle never drifts negative
    assert s3["idle_connections"] >= 0


def test_transport_tunables(tmp_path):
    """keepalive / readtimeout (main.go:34-35): the first request's
    header read is bounded by readtimeout; the idle wait for a follow-up
    on a kept-alive connection is bounded by keepalive — on expiry the
    server closes, exactly Go's ReadHeaderTimeout / IdleTimeout split."""
    import socket
    import time

    s = IngestShim(
        str(tmp_path / "spool"),
        flush_seconds=30,
        keepalive=0.4,
        readtimeout=1.5,
    ).start()
    try:
        host, port = s.address
        # one keep-alive connection, two requests with a too-long idle gap
        conn = socket.create_connection((host, port), timeout=5)
        req = (
            b"POST /?query=q HTTP/1.1\r\nHost: x\r\n"
            b"Content-Length: 3\r\n\r\n(1)"
        )
        conn.sendall(req)
        time.sleep(0.1)
        first = conn.recv(65536)
        assert first.startswith(b"HTTP/1.1 200")
        time.sleep(1.0)  # exceed keepalive=0.4 → server closes the socket
        conn.sendall(req)
        tail = b""
        try:
            while True:
                chunk = conn.recv(65536)
                if not chunk:
                    break
                tail += chunk
        except (ConnectionResetError, BrokenPipeError, TimeoutError):
            pass
        assert b"200" not in tail  # idle-expired: no second response served
        conn.close()

        # a fresh connection that never sends: closed after readtimeout
        silent = socket.create_connection((host, port), timeout=5)
        t0 = time.time()
        assert silent.recv(65536) == b""  # server-side close
        assert time.time() - t0 < 5  # bounded by readtimeout=1.5, not forever
        silent.close()
    finally:
        s.stop()



# -- raw-socket wire checks ---------------------------------------------------
# Each case below writes exact bytes and reads the exact reply, so the
# hand-written HTTP/1.1 parser is pinned on the wire, not through a client
# library that would normalise what it sends and forgive what it gets.

ACK_REQ = b"POST /?query=q HTTP/1.1\r\nHost: x\r\nContent-Length: 3\r\n\r\n(1)"


class _Wire:
    """One raw client connection: sends bytes as given, parses replies."""

    def __init__(self, shim, timeout=5.0):
        self.sock = socket.create_connection(shim.address, timeout=timeout)
        self.buf = b""

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.sock.close()

    def send(self, data):
        self.sock.sendall(data)

    def _recv(self):
        chunk = self.sock.recv(65536)
        if not chunk:
            raise ConnectionError("server closed the connection")
        self.buf += chunk

    def reply(self):
        """(status, [(name, value)], body) of the next reply."""
        while b"\r\n\r\n" not in self.buf:
            self._recv()
        head, _, self.buf = self.buf.partition(b"\r\n\r\n")
        lines = head.decode("latin-1").split("\r\n")
        headers = [tuple(p.strip() for p in ln.split(":", 1)) for ln in lines[1:]]
        length = int(dict((k.lower(), v) for k, v in headers).get("content-length", 0))
        while len(self.buf) < length:
            self._recv()
        body, self.buf = self.buf[:length], self.buf[length:]
        return int(lines[0].split()[1]), headers, body

    def closed(self):
        """True when the server closed without sending anything more."""
        try:
            return not self.buf and self.sock.recv(65536) == b""
        except ConnectionResetError:
            return not self.buf


def _stat(shim):
    base = f"http://{shim.address[0]}:{shim.address[1]}"
    return json.loads(_call(base, "/statistic")[1])


def test_one_date_header_per_reply(shim):
    with _Wire(shim) as wire:
        for req in (ACK_REQ, b"GET / HTTP/1.1\r\nHost: x\r\n\r\n"):
            wire.send(req)
            code, headers, _ = wire.reply()
            assert code == 200
            assert [k for k, _ in headers].count("Date") == 1, headers


@pytest.mark.parametrize(
    "framing, body, code",
    [
        (b"Content-Length: -5", b"(1)", 400),
        (b"Content-Length: abc", b"(1)", 400),
        (b"Content-Length: 1.5", b"(1)", 400),
        # chunked bodies are not decoded: the chunk bytes must not be read
        # as a second request either
        (b"Transfer-Encoding: chunked", b"3\r\n(1)\r\n0\r\n\r\n", 411),
    ],
    ids=["negative-length", "text-length", "fraction-length", "chunked"],
)
def test_malformed_body_framing_is_refused(shim, framing, body, code):
    with _Wire(shim) as wire:
        wire.send(b"POST /?query=q HTTP/1.1\r\n" + framing + b"\r\n\r\n" + body)
        assert wire.reply()[0] == code
        assert wire.closed()
    assert _stat(shim)["in"] == 0


def test_pipelined_requests_are_answered_in_order(shim):
    with _Wire(shim) as wire:
        wire.send(ACK_REQ + b"GET / HTTP/1.1\r\n\r\n" + b"GET /nope HTTP/1.1\r\n\r\n" + ACK_REQ)
        replies = [wire.reply() for _ in range(4)]
        assert [r[0] for r in replies] == [200, 200, 404, 200]
        assert replies[1][2] == b"proxyhouse is ready to proxy\n"
        wire.send(b"GET / HTTP/1.1\r\n\r\n")  # still open after the burst
        assert wire.reply()[0] == 200
    assert _stat(shim)["in"] == 2


def test_expect_100_continue(shim):
    with _Wire(shim) as wire:
        wire.send(
            b"POST /?query=q HTTP/1.1\r\nContent-Length: 3\r\n"
            b"Expect: 100-continue\r\n\r\n"
        )
        assert wire.reply()[0] == 100  # interim, before the body is sent
        wire.send(b"(1)")
        assert wire.reply()[0] == 200
    assert _stat(shim)["in"] == 1


@pytest.mark.parametrize(
    "head, code",
    [
        (b"GET /" + b"a" * 70000 + b" HTTP/1.1\r\n\r\n", 414),
        (b"GET / HTTP/1.1\r\n" + b"".join(b"X-%d: v\r\n" % i for i in range(101)) + b"\r\n", 431),
        (b"GET / HTTP/1.1\r\nX-Big: " + b"v" * 70000 + b"\r\n\r\n", 431),
        (b"GARBAGE\r\n\r\n", 400),
        (b"GET / HTTP/1.1 extra\r\n\r\n", 400),
        (b"GET / HTTX/1.1\r\n\r\n", 400),
    ],
    ids=["long-request-line", "101-headers", "long-header-line", "one-word", "four-words", "bad-version"],
)
def test_input_limits_and_bad_request_lines(shim, head, code):
    with _Wire(shim) as wire:
        try:
            wire.send(head)
        except (BrokenPipeError, ConnectionResetError):
            pass  # refused before the whole head was read
        assert wire.reply()[0] == code
        assert wire.closed()


def test_connection_close_rules(shim):
    # HTTP/1.0 without keep-alive, and HTTP/1.1 asking for close: one reply
    for req in (b"GET / HTTP/1.0\r\n\r\n", ACK_REQ.replace(b"Host: x", b"Connection: close")):
        with _Wire(shim) as wire:
            wire.send(req)
            assert wire.reply()[0] == 200
            assert wire.closed()
    # HTTP/1.0 asking for keep-alive stays open
    with _Wire(shim) as wire:
        for _ in range(2):
            wire.send(b"GET / HTTP/1.0\r\nConnection: keep-alive\r\n\r\n")
            assert wire.reply()[0] == 200


def test_slow_body_within_readtimeout_is_accepted(tmp_path):
    """readtimeout bounds inactivity, not the whole request: a body in
    three pieces 0.5 s apart fits a 1.5 s bound."""
    s = IngestShim(str(tmp_path / "spool"), flush_seconds=30, readtimeout=1.5).start()
    try:
        with _Wire(s) as wire:
            wire.send(b"POST /?query=q HTTP/1.1\r\nContent-Length: 9\r\n\r\n")
            for piece in (b"(1)", b"(2)", b"(3)"):
                time.sleep(0.5)
                wire.send(piece)
            assert wire.reply()[0] == 200
    finally:
        s.stop()
    assert s.in_requests == 1
    assert pq.read_table(s.spool_dir).column("body").to_pylist() == ["(1)(2)(3)"]


def test_failing_request_answers_500_and_blocks_no_one(tmp_path):
    """errcount_fn runs off the loop: a slow one holds up no other
    connection, and one that raises answers 500 and closes only its own."""
    release = threading.Event()

    def errcount():
        if not release.wait(2):
            raise RuntimeError("DLQ scan failed")
        return 0

    s = IngestShim(str(tmp_path / "spool"), errcount_fn=errcount).start()
    try:
        with _Wire(s) as slow, _Wire(s) as other:
            slow.send(b"GET /status HTTP/1.1\r\n\r\n")
            time.sleep(0.2)
            t0 = time.time()
            other.send(ACK_REQ)
            assert other.reply()[0] == 200
            assert time.time() - t0 < 1  # not behind the /status lookup
            release.set()
            assert slow.reply()[0] == 200

            release.clear()
            slow.send(b"GET /status HTTP/1.1\r\n\r\n")
            assert slow.reply()[0] == 500  # errcount_fn raised
            assert slow.closed()
            other.send(ACK_REQ)  # the other connection is untouched
            assert other.reply()[0] == 200
    finally:
        s.stop()


def test_concurrent_clients_every_ack_is_spooled(tmp_path):
    """Many keep-alive clients against one loop while the spool thread
    swaps the buffer: every acked request lands in the spool exactly once,
    and the connection gauges return to zero."""
    s = IngestShim(str(tmp_path / "spool"), flush_seconds=0.05).start()
    n_clients, n_each = 16, 50
    acked = []

    def client(c):
        with _Wire(s) as wire:
            for i in range(n_each):
                body = b"(%d,%d)" % (c, i)
                wire.send(b"POST /?query=q HTTP/1.1\r\nContent-Length: %d\r\n\r\n%s" % (len(body), body))
                if wire.reply()[0] == 200:
                    acked.append(body.decode())

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=client, args=(c,)) for c in range(n_clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
        assert not any(t.is_alive() for t in threads)
        deadline = time.time() + 10
        while s.curr_connections and time.time() < deadline:
            time.sleep(0.05)
    finally:
        sys.setswitchinterval(old)
        s.stop()
    assert len(acked) == n_clients * n_each == s.in_requests
    assert sorted(pq.read_table(s.spool_dir).column("body").to_pylist()) == sorted(acked)
    assert (s.total_connections, s.curr_connections, s.idle_connections) == (n_clients, 0, 0)
