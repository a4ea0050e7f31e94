"""Real HTTP ingest shim — the reference's server surface, feeding Spark.

The reference IS an HTTP server (main.go:142-162): clients POST insert
bodies to ``/``, and the engine's data plane starts at that socket. The
Spark engine models ingest as a request-record stream (requests.py), and
this module closes the last gap for a user switching over: an HTTP/1.1
server that reproduces the reference's endpoint semantics and spools
accepted records as Parquet files that ``requests_stream_df`` /
``FlushPipeline`` tail as a streaming source.

Two threads serve it, whatever the number of connections. One daemon
thread runs an ``asyncio`` event loop: it accepts connections and parses
HTTP/1.1 by hand in an ``asyncio.Protocol``, so a request costs no thread
switch and no per-connection thread competes with the Spark driver for the
GIL. The other is the spool writer below. The stdlib (plus pyarrow for the
spool) is the only dependency.

Endpoint semantics (reference ``dorequest``, main.go:164-226):

- any path other than ``/`` (and the two ops endpoints) → 404
  (main.go:166-169);
- ``GET /`` → 200 ready line with an RFC-7231 ``Date`` header
  (main.go:172-178);
- ``POST /`` with an empty body → 405 (main.go:219-221); methods other
  than GET/POST → 405 (main.go:223-225);
- accepted ``POST /`` → buffered under key ``rawpath + "?" + rawquery``
  (main.go:187) and acked 200 with TSV content-type headers
  (main.go:217-218) — ack-on-buffer, the reference's delivery contract
  (SURVEY §2.9 T5): the 200 is written only after the record is in the
  buffer;
- ``GET /status`` → errcount vs warn/crit thresholds: ≥ crit → HTTP 500
  "critical", ≥ warn → HTTP 400 "warning", else 200 "ok"
  (``showstatus``, main.go:228-245; flags main.go:48-49). ``errcount_fn``
  is caller code that may scan the DLQ, so it runs on an executor thread,
  never on the loop;
- ``GET /statistic`` → cumulative ``{"in": .., "out": ..}`` counters
  (``showstatistic``, main.go:247-254; atomics main.go:209/292) plus the
  connection-state gauges (main.go:257-271).

The HTTP/1.1 subset served:

- keep-alive by default, pipelined requests answered in order; the
  connection closes after the reply for ``Connection: close`` and for
  HTTP/1.0 without ``Connection: keep-alive`` (with it, the reply says
  ``Connection: keep-alive``, as Go's server does);
- bodies framed by ``Content-Length``; ``Expect: 100-continue`` gets an
  interim ``100 Continue`` while the body is still to come;
- every reply carries one ``Date`` header and a ``Content-Length``;
- ``readtimeout`` bounds inactivity until the first request has been
  answered and ``keepalive`` after that; every chunk received resets the
  bound, and on expiry the connection closes without a reply
  (main.go:34-35).

Refused, each with a reply and a close: a request line over 65,536 bytes
(414); more than 100 header lines, or one over 65,536 bytes (431); a
malformed request line or HTTP version, HTTP/0.9's two-word form included
(400); HTTP/2 or later (505); a ``Content-Length`` that is negative, not
an integer or longer than 18 digits (400); any ``Transfer-Encoding``
(411: chunked bodies are not decoded). An exception while answering a
request replies 500 and closes that connection only.

The spool flusher is the reference's ``backgroundSender`` shape
(main.go:275-299): a background thread atomically swaps the in-memory
buffer every ``flush_seconds`` under a short lock (the loop never blocks on
I/O) and writes ONE Parquet file per flush via pyarrow — written to a
dotfile then renamed, so the Structured Streaming file source only ever
lists complete files. At production rates the spool directory is the
drop-in dev/test transport; the same envelope goes to Kafka unchanged.
"""

from __future__ import annotations

import asyncio
import json
import logging
import os
import re
import socket
import threading
import time
from datetime import datetime, timezone
from email.utils import formatdate
from http import HTTPStatus
from typing import Callable
from urllib.parse import parse_qs

import pyarrow as pa
import pyarrow.parquet as pq

log = logging.getLogger(__name__)

SPOOL_SCHEMA = pa.schema(
    [
        ("recv_ts", pa.timestamp("us")),
        ("method", pa.string()),
        ("path", pa.string()),
        ("uri", pa.string()),
        ("query", pa.string()),
        ("query_string", pa.string()),
        ("body", pa.string()),
    ]
)

READY_LINE = b"proxyhouse is ready to proxy\n"
TSV_CONTENT_TYPE = "text/tab-separated-values; charset=UTF-8"

#: http.server's input limits: a request or header line over MAX_LINE
#: bytes (its line terminator included), more than MAX_HEADERS header lines
MAX_LINE = 65536
MAX_HEADERS = 100

_HEAD_END = re.compile(rb"\r?\n\r?\n")
_VERSION = re.compile(rb"HTTP/(\d{1,10})\.(\d{1,10})")
_REASON = {s.value: s.phrase.encode() for s in HTTPStatus}
_TEXT = b"text/plain"
_JSON = b"application/json"
_KEEP, _KEEP_10, _CLOSE = b"", b"Connection: keep-alive\r\n", b"Connection: close\r\n"
_CONTINUE = b"HTTP/1.1 100 Continue\r\n\r\n"
_NOT_FOUND = b"404 page not found\n"
_NOT_ALLOWED = b"method not allowed\n"


class IngestShim:
    """HTTP front door + Parquet spool writer.

    ``errcount_fn`` supplies the replayable-DLQ packet count for
    ``/status`` (the reference counts files in its errors dir,
    main.go:230-237; here the DLQ is a table, so the caller passes a
    counting closure over it).
    """

    def __init__(
        self,
        spool_dir: str,
        host: str = "127.0.0.1",
        port: int = 0,
        flush_seconds: float = 2.0,
        errcount_fn: Callable[[], int] | None = None,
        warnlevel: int = 400,
        critlevel: int = 500,
        keepalive: float = 10.0,
        readtimeout: float = 5.0,
        delim: str = ",",
    ) -> None:
        self.spool_dir = spool_dir
        self.flush_seconds = flush_seconds
        self.errcount_fn = errcount_fn or (lambda: 0)
        self.warnlevel = warnlevel
        self.critlevel = critlevel
        # transport tunables (reference main.go:34-35): `readtimeout` bounds
        # inactivity until a connection's FIRST request is answered (Go's
        # ReadHeaderTimeout); `keepalive` bounds it after that, i.e. the
        # idle wait for a follow-up request (Go's IdleTimeout).
        # `delim` is the -delim flag (main.go:38) — recorded here so the
        # aggregation reading this shim's spool uses the same Values
        # delimiter (buffer_aggregate(df, delim=shim.delim)).
        self.keepalive = keepalive
        self.readtimeout = readtimeout
        self.delim = delim
        self._lock = threading.Lock()
        self._records: list[tuple] = []
        self._queries: dict[str, str] = {}
        self.in_requests = 0
        self.out_requests = 0
        # connection-state counters (statelistener, main.go:257-271),
        # written by the loop thread only: new → total+1 curr+1 idle+1;
        # first byte of a request (active) → idle-1; reply sent (back to
        # idle) → idle+1; closed → curr-1 idle-1. One deliberate deviation:
        # the reference also decrements idle on a close that follows Active
        # without an intervening Idle, leaking idle-1 per non-keep-alive
        # connection; here active always returns to idle first, so the
        # gauge stays balanced.
        self.total_connections = 0
        self.curr_connections = 0
        self.idle_connections = 0
        self._stop = threading.Event()
        # bound and listening from here on, so `address` is known before
        # start() and early connections wait in the backlog
        self._sock = socket.create_server((host, port))
        self._address = self._sock.getsockname()[:2]
        self._loop: asyncio.AbstractEventLoop | None = None
        self._server: asyncio.AbstractServer | None = None
        self._conns: set[_Connection] = set()
        self._threads: list[threading.Thread] = []
        # one Date value per second, and the ack built around it
        self._date_sec = -1
        self._date_value = b""
        self._ack = b""

    # -- lifecycle -----------------------------------------------------------

    @property
    def address(self) -> tuple[str, int]:
        return self._address

    def start(self) -> "IngestShim":
        os.makedirs(self.spool_dir, exist_ok=True)
        loop = self._loop = asyncio.new_event_loop()
        self._server = loop.run_until_complete(
            loop.create_server(lambda: _Connection(self), sock=self._sock)
        )
        for name, target in (("loop", loop.run_forever), ("spool", self._flush_loop)):
            t = threading.Thread(target=target, name=f"ingest-{name}", daemon=True)
            t.start()
            self._threads.append(t)
        return self

    def stop(self) -> None:
        self._stop.set()
        loop, self._loop = self._loop, None
        if loop is None:  # never started, or already stopped
            self._sock.close()
        else:
            asyncio.run_coroutine_threadsafe(self._close(), loop).result(10)
            loop.call_soon_threadsafe(loop.stop)
            self._threads[0].join(10)
            loop.close()
        for t in self._threads[1:]:
            t.join()
        self._flush()  # drain whatever the last interval buffered

    async def _close(self) -> None:
        """Close the listener and every open connection (loop thread)."""
        self._server.close()
        for conn in list(self._conns):
            conn.transport.close()  # sends what is buffered, then closes
        await asyncio.sleep(0)
        for conn in list(self._conns):
            conn.transport.abort()

    # -- the backgroundSender analog (main.go:275-299) -----------------------

    def _flush_loop(self) -> None:
        while not self._stop.wait(self.flush_seconds):
            self._flush()

    def _flush(self) -> None:
        with self._lock:  # atomic swap, new empty buffer (main.go:285-288)
            records, self._records = self._records, []
        if not records:
            return
        cols = list(zip(*records))
        batch = pa.table(
            {f.name: list(c) for f, c in zip(SPOOL_SCHEMA, cols)},
            schema=SPOOL_SCHEMA,
        )
        name = f"requests-{time.time_ns()}.parquet"
        tmp = os.path.join(self.spool_dir, "." + name)
        pq.write_table(batch, tmp)
        os.rename(tmp, os.path.join(self.spool_dir, name))
        with self._lock:  # one outbound unit per distinct key (main.go:292)
            self.out_requests += len({r[3] for r in records})

    # -- request handling ----------------------------------------------------

    def _accept(self, path: str, raw_query: str, body: bytes) -> None:
        query = self._queries.get(raw_query)
        if query is None:  # a client reuses a handful of insert URIs
            query = parse_qs(raw_query, keep_blank_values=True).get("query", [""])[0]
            if len(self._queries) >= 4096:
                self._queries.clear()
            self._queries[raw_query] = query
        uri = path + "?" + raw_query  # RawPath + "?" + RawQuery (main.go:187)
        rec = (
            datetime.now(timezone.utc).replace(tzinfo=None),
            "POST",
            path,
            uri,
            query,
            raw_query,
            body.decode("utf-8", "replace"),
        )
        with self._lock:
            self._records.append(rec)
            self.in_requests += 1  # the `in` atomic (main.go:209)

    def _date(self) -> bytes:
        """The ``Date`` value (loop thread); refreshes the ack with it."""
        now = int(time.time())
        if now != self._date_sec:
            self._date_sec = now
            self._date_value = formatdate(now, usegmt=True).encode()
            # ack-on-buffer with TSV headers (main.go:217-218)
            self._ack = _head(200, TSV_CONTENT_TYPE.encode(), self._date_value, 0, _KEEP)
        return self._date_value

    def _status(self) -> tuple[int, bytes]:
        """showstatus (main.go:228-245); runs on an executor thread."""
        errcount = self.errcount_fn()
        if errcount >= self.critlevel:
            code, status = 500, "critical"
        elif errcount >= self.warnlevel:
            code, status = 400, "warning"
        else:
            code, status = 200, "ok"
        return code, json.dumps({"status": status, "errcount": errcount}).encode()

    def _statistic(self) -> bytes:
        """showstatistic (main.go:247-254) plus the connection gauges."""
        with self._lock:
            counts = {"in": self.in_requests, "out": self.out_requests}
        return json.dumps(
            {
                "total_connections": self.total_connections,
                "current_connections": self.curr_connections,
                "idle_connections": self.idle_connections,
                **counts,
            }
        ).encode()


def _head(code: int, ctype: bytes, date: bytes, length: int, conn: bytes) -> bytes:
    return b"HTTP/1.1 %d %s\r\nContent-Type: %s\r\nDate: %s\r\nContent-Length: %d\r\n%s\r\n" % (
        code, _REASON[code], ctype, date, length, conn,
    )


class _Connection(asyncio.Protocol):
    """One client connection on the shim's loop: parses requests off the
    byte stream and answers them in arrival order."""

    def __init__(self, shim: IngestShim) -> None:
        self.shim = shim
        self.loop = asyncio.get_running_loop()
        self.transport: asyncio.Transport | None = None
        self.buf = b""
        self.scanned = 0  # bytes of an incomplete head searched so far
        # the request whose head is parsed and whose body is still due:
        # (method, target, Connection header of the reply), body bytes due,
        # body pieces so far
        self.pending: tuple[bytes, bytes, bytes] | None = None
        self.need = 0
        self.parts: list[bytes] = []
        self.served = 0
        self.active = False  # a request is being read or answered
        self.busy = False  # its /status lookup is running off the loop
        self.write_paused = False
        self.eof = False
        self.closing = False
        # inactivity bound: `last` is the loop time of the last chunk
        # received or reply sent; one timer, pushed forward lazily
        self.last = 0.0
        self.timer: asyncio.TimerHandle | None = None
        self.timer_at = 0.0

    # -- asyncio.Protocol ----------------------------------------------------

    def connection_made(self, transport: asyncio.Transport) -> None:
        self.transport = transport
        shim = self.shim
        shim._conns.add(self)
        shim.total_connections += 1  # http.StateNew (main.go:259-262)
        shim.curr_connections += 1
        shim.idle_connections += 1
        self.last = self.loop.time()
        self._arm(self.last + shim.readtimeout)

    def connection_lost(self, exc: Exception | None) -> None:
        self.closing = True
        if self.timer is not None:
            self.timer.cancel()
        shim = self.shim
        shim._conns.discard(self)
        shim.curr_connections -= 1  # http.StateClosed (main.go:267-269)
        if not self.active:
            shim.idle_connections -= 1

    def data_received(self, data: bytes) -> None:
        self.last = self.loop.time()
        if self.closing:
            return
        self.buf = self.buf + data if self.buf else data
        self._serve()

    def eof_received(self) -> bool | None:
        self.eof = True
        return True if self.busy else None  # keep open to send the reply

    def pause_writing(self) -> None:
        self.write_paused = True
        self._pace()

    def resume_writing(self) -> None:
        self.write_paused = False
        self._pace()
        self._serve()

    # -- requests ------------------------------------------------------------

    def _serve(self) -> None:
        """Answer every complete request in the buffer, in order."""
        try:
            while not (self.busy or self.write_paused or self.closing):
                if self.pending is None and not self._parse_head():
                    return
                if self.need:
                    buf = self.buf
                    if not buf:
                        return
                    if not self.parts and len(buf) >= self.need:
                        body, self.buf = buf[: self.need], buf[self.need :]
                    else:  # the body arrives in pieces
                        piece = buf[: self.need]
                        self.parts.append(piece)
                        self.buf = buf[len(piece) :]
                        self.need -= len(piece)
                        if self.need:
                            return
                        body, self.parts = b"".join(self.parts), []
                    self.need = 0
                else:
                    body = b""
                request, self.pending = self.pending, None
                self._respond(*request, body)
        except Exception:
            log.exception("ingest shim: request failed")
            self._refuse(500)

    def _parse_head(self) -> bool:
        """Parse the next request head off the buffer into ``pending``.
        False while it is incomplete or when the request was refused."""
        buf = self.buf
        if buf[:1] in (b"\r", b"\n"):  # empty lines before a request-line
            buf = self.buf = buf.lstrip(b"\r\n")
        if not buf:
            return False
        if not self.active:  # http.StateActive (main.go:263-264)
            self.active = True
            self.shim.idle_connections -= 1
        m = _HEAD_END.search(buf, max(0, self.scanned - 3))
        if m is None:
            self.scanned = len(buf)
            return self._check_partial_head(buf)
        self.scanned = 0
        end = m.start()
        lines = buf[:end].split(b"\n")
        self.buf = buf[m.end() :]
        if len(lines[0]) >= MAX_LINE:  # with its "\n", over MAX_LINE
            return self._refuse(414)
        if len(lines) > MAX_HEADERS + 1 or (
            end >= MAX_LINE and any(len(x) >= MAX_LINE for x in lines)
        ):
            return self._refuse(431)
        words = lines[0].split()
        if len(words) != 3:
            return self._refuse(400)
        method, target, version = words
        if version == b"HTTP/1.1":
            http11 = True
        elif version == b"HTTP/1.0":
            http11 = False
        else:
            v = _VERSION.fullmatch(version)
            if v is None:
                return self._refuse(400)
            if int(v[1]) >= 2:
                return self._refuse(505)
            http11 = (int(v[1]), int(v[2])) >= (1, 1)
        keep, length, expect = http11, None, False
        for line in lines[1:]:
            name, sep, value = line.partition(b":")
            if not sep:
                continue
            name = name.strip().lower()
            if name == b"content-length":
                if length is None:  # the first one counts, as http.server's
                    value = value.strip()
                    if not value.isdigit() or len(value) > 18:
                        return self._refuse(400)
                    length = int(value)
            elif name == b"transfer-encoding":
                return self._refuse(411)
            elif name == b"connection":
                tokens = {t.strip() for t in value.lower().split(b",")}
                if b"close" in tokens:
                    keep = False
                elif b"keep-alive" in tokens:
                    keep = True
            elif name == b"expect":
                expect = value.strip().lower() == b"100-continue"
        conn = _CLOSE if not keep else _KEEP if http11 else _KEEP_10
        self.pending = (method, target, conn)
        self.need = length or 0
        if expect and http11 and self.need > len(self.buf):
            self.transport.write(_CONTINUE)
        return True

    def _check_partial_head(self, buf: bytes) -> bool:
        """Refuse an incomplete head that already breaks a limit."""
        first = buf.find(b"\n")
        if first < 0 and len(buf) >= MAX_LINE or first >= MAX_LINE:
            return self._refuse(414)
        if first >= 0:
            last = buf.rfind(b"\n")
            if len(buf) - last > MAX_LINE or buf.count(b"\n") > MAX_HEADERS + 1:
                return self._refuse(431)
        return False

    def _respond(self, method: bytes, target: bytes, conn: bytes, body: bytes) -> None:
        shim = self.shim
        path, _, raw_query = target.decode("latin-1").partition("?")
        if method == b"POST":
            if path != "/":  # non-root → 404 (main.go:166-169)
                self._reply(404, _NOT_FOUND, _TEXT, conn)
            elif not body:  # empty body → 405 (main.go:219-221)
                self._reply(405, _NOT_ALLOWED, _TEXT, conn)
            else:
                shim._accept(path, raw_query, body)
                shim._date()
                if conn is _KEEP:
                    self.transport.write(shim._ack)
                    self._done(conn)
                else:
                    self._reply(200, b"", TSV_CONTENT_TYPE.encode(), conn)
        elif method == b"GET":
            if path == "/":  # ready line (main.go:172-178)
                self._reply(200, READY_LINE, _TEXT, conn)
            elif path == "/status":
                self.busy = True
                self._pace()
                fut = self.loop.run_in_executor(None, shim._status)
                fut.add_done_callback(lambda f: self._status_done(f, conn))
            elif path == "/statistic":
                self._reply(200, shim._statistic(), _JSON, conn)
            else:
                self._reply(404, _NOT_FOUND, _TEXT, conn)
        else:  # non-GET/POST → 405 (main.go:223-225); HEAD gets no body
            self._reply(405, _NOT_ALLOWED, _TEXT, conn, method != b"HEAD")

    def _status_done(self, fut: asyncio.Future, conn: bytes) -> None:
        self.busy = False
        if self.closing:
            return
        try:
            code, payload = fut.result()
        except Exception:
            log.exception("ingest shim: errcount_fn failed")
            self._refuse(500)
            return
        self._reply(code, payload, _JSON, conn)
        self._pace()
        self._serve()
        if self.eof and not (self.busy or self.closing):
            self._close()

    # -- replies and connection state ----------------------------------------

    def _reply(self, code: int, body: bytes, ctype: bytes, conn: bytes, send_body: bool = True) -> None:
        head = _head(code, ctype, self.shim._date(), len(body), conn)
        self.transport.write(head + body if send_body else head)
        self._done(conn)

    def _done(self, conn: bytes) -> None:
        """A request is answered: back to idle (http.StateIdle)."""
        self.served += 1
        self.active = False
        self.shim.idle_connections += 1
        if conn is _CLOSE:
            self._close()
        else:
            self.last = self.loop.time()
            self._arm(self.last + self.shim.keepalive)

    def _refuse(self, code: int) -> bool:
        """Answer a request that cannot be served, and close."""
        if self.closing:
            return False
        body = b"%d %s\n" % (code, _REASON[code].lower())
        self.transport.write(_head(code, _TEXT, self.shim._date(), len(body), _CLOSE) + body)
        self._close()
        return False

    def _close(self) -> None:
        self.closing = True
        self.buf, self.parts = b"", []
        self.transport.close()

    def _pace(self) -> None:
        """Read only while requests can be answered."""
        if self.busy or self.write_paused:
            self.transport.pause_reading()
        else:
            self.transport.resume_reading()

    def _arm(self, at: float) -> None:
        if self.timer is not None:
            if at >= self.timer_at:
                return  # the earlier timer re-arms itself when it fires
            self.timer.cancel()
        self.timer_at = at
        self.timer = self.loop.call_at(at, self._expire)

    def _expire(self) -> None:
        self.timer = None
        if self.closing:
            return
        shim = self.shim
        timeout = shim.readtimeout if self.served == 0 else shim.keepalive
        now = self.loop.time()
        # a /status lookup in flight is not inactivity
        at = now + timeout if self.busy else self.last + timeout
        if at > now:
            self._arm(at)
        else:  # the Go server's idle close: no reply
            self._close()
