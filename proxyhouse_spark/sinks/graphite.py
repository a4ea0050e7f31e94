"""Graphite metric emission — the reference's counter flush loop.

Reference semantics (/root/reference/metric.go):

- ``MetricStorage`` (metric.go:10-19, 52-60): a mutex-guarded sum-by-name
  counter map; ``Increment`` adds (absent key → value).
- ``SendMetrics`` (metric.go:21-50): every 2 seconds, under the lock: pop
  the special pair ``bytesSent``/``sendDuration`` and, when BOTH are
  nonzero, emit ``<prefixavg>.bytes_to_milliseconds = bytesSent //
  sendDuration`` (Go integer division); then emit every remaining counter
  as a plain ``name value`` Graphite line; clear the map.
- Counter names and prefixes from main.go:42-43 (``relap.count.proxyhouse``
  / ``relap.avg.proxyhouse``) and the increment sites main.go:209-216
  (received side) and main.go:394-405, 426-429 (sent side).

Spark wiring (streaming/pipeline.py): each flush trigger builds one record
whose counts are ``observe()`` metrics on the trigger's own jobs — Spark's
accumulator-backed observed metrics ARE the distributed analog of the
reference's atomic counter map (aggregated executor-side, no extra pass
over the data): received counters over the raw micro-batch, sent counters
over the delivered keys. With a ``MetricStorage`` attached, the flush
increments every counter from that record through one name→field table
(``pipeline.GRAPHITE_COUNTERS``); nothing else has to be registered. One
deviation for determinism: Go iterates its map in random order, we emit
remaining counters sorted by name.
"""

from __future__ import annotations

import socket
import threading
import time

# main.go:42-43
PREFIX_CNT = "relap.count.proxyhouse"
PREFIX_AVG = "relap.avg.proxyhouse"

GRAPHITE_PORT = 2023  # main.go:41
FLUSH_SECONDS = 2.0  # metric.go:48


class MetricStorage:
    """Thread-safe sum-by-name counters (metric.go:10-19, 52-60)."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._storage: dict[str, int] = {}

    def increment(self, name: str, value: int = 1) -> None:
        with self._lock:
            self._storage[name] = self._storage.get(name, 0) + int(value)

    def snapshot(self) -> dict[str, int]:
        with self._lock:
            return dict(self._storage)

    def flush_lines(self) -> list[str]:
        """One SendMetrics loop body (metric.go:24-46): derive the ratio
        metric from the bytesSent/sendDuration pair (popped either way,
        emitted only when both are nonzero), then drain the remaining
        counters as ``name value`` lines and clear the map."""
        with self._lock:
            if not self._storage:
                return []
            lines: list[str] = []
            bytes_sent = self._storage.pop("bytesSent", 0)
            send_duration = self._storage.pop("sendDuration", 0)
            if bytes_sent != 0 and send_duration != 0:
                lines.append(
                    f"{PREFIX_AVG}.bytes_to_milliseconds {bytes_sent // send_duration}"
                )
            for name in sorted(self._storage):
                lines.append(f"{name} {self._storage[name]}")
            self._storage.clear()
            return lines


class GraphiteEmitter:
    """The SendMetrics goroutine analog: a daemon thread that drains the
    storage every ``interval`` seconds and hands each line to ``emit``.

    Default emit captures lines in ``self.lines`` (what tests and the
    ``/statistic`` plane read); pass ``udp_addr=(host, port)`` to also ship
    each line as a plaintext Graphite datagram (``name value timestamp\\n``,
    the SimpleSend wire format of the reference's graphite client)."""

    def __init__(
        self,
        storage: MetricStorage,
        interval: float = FLUSH_SECONDS,
        udp_addr: tuple[str, int] | None = None,
        clock=time.time,
    ) -> None:
        self.storage = storage
        self.interval = interval
        self.udp_addr = udp_addr
        self.lines: list[str] = []
        self._clock = clock
        self._sock: socket.socket | None = None
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def emit_once(self) -> list[str]:
        drained = self.storage.flush_lines()
        for line in drained:
            self.lines.append(line)
            if self.udp_addr is not None:
                if self._sock is None:
                    self._sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
                datagram = f"{line} {int(self._clock())}\n".encode()
                self._sock.sendto(datagram, self.udp_addr)
        return drained

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.emit_once()

    def start(self) -> GraphiteEmitter:
        if self._thread is None:
            self._thread = threading.Thread(target=self._run, daemon=True)
            self._thread.start()
        return self

    def stop(self, final_flush: bool = True) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None
        if final_flush:
            self.emit_once()
        if self._sock is not None:
            self._sock.close()
            self._sock = None
