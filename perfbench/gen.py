"""Load generator: one process, one keep-alive connection per usable CPU.

Closed loop (``ingest_burst``): each connection sends its next request a
fixed think time after the previous reply arrived. Open loop (the other workloads):
request ``i`` is due at ``t0 + i / rate`` and goes out on the first free
connection, so a stalled server makes later requests late; their ack time
counts from when they were due.

Requests are built on the fly by ``workloads.RequestModel``; the wire
format is written and parsed by hand on raw sockets to keep the generator
far cheaper per request than the server it loads.

    python3 perfbench/gen.py --workload ingest_burst --seed 1 --port 8123 \
        --start-at "$(date +%s.%N)"

Sends until a line ``stop`` (or EOF) arrives on stdin or ``MAX_SECONDS``
pass, then prints one JSON object: per-request ``[idx, due, sent, done,
status]`` (epoch seconds; status -1 = no reply), the send window and the
process's CPU seconds.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import socket
import sys
import threading
import time

from workloads import WORKLOADS, RequestModel

TIMEOUT_S = 10.0
#: a backstop: the benchmark says ``stop`` long before this
MAX_SECONDS = 150.0


class Conn:
    """One keep-alive HTTP/1.1 client connection."""

    def __init__(self, addr: tuple[str, int]) -> None:
        self.addr = addr
        self.sock: socket.socket | None = None
        self.buf = b""
        self.opened = 0

    def close(self) -> None:
        if self.sock is not None:
            self.sock.close()
        self.sock, self.buf = None, b""

    def request(self, data: bytes, close_after: bool) -> int:
        if self.sock is None:
            self.sock = socket.create_connection(self.addr, timeout=TIMEOUT_S)
            self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
            self.opened += 1
        self.sock.sendall(data)
        status, server_close = self._read_response()
        if close_after or server_close:
            self.close()
        return status

    def _recv(self) -> None:
        chunk = self.sock.recv(65536)
        if not chunk:
            raise ConnectionError("server closed the connection")
        self.buf += chunk

    def _read_response(self) -> tuple[int, bool]:
        while b"\r\n\r\n" not in self.buf:
            self._recv()
        head, _, self.buf = self.buf.partition(b"\r\n\r\n")
        lines = head.split(b"\r\n")
        status = int(lines[0].split()[1])
        length, close = 0, False
        for line in lines[1:]:
            name, _, value = line.partition(b":")
            name = name.strip().lower()
            if name == b"content-length":
                length = int(value)
            elif name == b"connection":
                close = value.strip().lower() == b"close"
        while len(self.buf) < length:
            self._recv()
        self.buf = self.buf[length:]
        return status, close


def run(args: argparse.Namespace) -> dict:
    w = WORKLOADS[args.workload]
    model = RequestModel(w, args.seed)
    addr = ("127.0.0.1", args.port)
    stop = threading.Event()
    counter = itertools.count()
    records: list[tuple] = []
    conns = [Conn(addr) for _ in range(len(os.sched_getaffinity(0)))]
    t0 = args.start_at

    def worker(conn: Conn) -> None:
        free_at = t0
        while not stop.is_set():
            i = next(counter)
            req = model.request(i)
            data = req.wire(w)
            # open loop: due on the schedule; closed loop: due a think time
            # after this connection became free, so lateness is the
            # generator's own gap
            due = t0 + i / w.rate if w.loop == "open" else free_at + w.think_s
            delay = due - time.time()
            if delay > 0 and stop.wait(delay):
                break
            sent = time.time()
            try:
                status = conn.request(data, close_after=req.kind == "nonroot")
            except OSError:
                status = -1
                conn.close()
            free_at = time.time()
            records.append((i, due, sent, free_at, status))

    threads = [threading.Thread(target=worker, args=(c,), daemon=True) for c in conns]
    cpu0 = time.process_time()
    for t in threads:
        t.start()

    def watch_stdin() -> None:
        for line in sys.stdin:
            if line.strip() == "stop":
                break
        stop.set()

    threading.Thread(target=watch_stdin, daemon=True).start()
    stop.wait(MAX_SECONDS)
    stop.set()
    t_stop = time.time()
    for t in threads:
        t.join(TIMEOUT_S + 5)
    alive = sum(t.is_alive() for t in threads)
    for c in conns:
        c.close()
    return {
        "t0": t0,
        "t_stop": t_stop,
        "t_end": time.time(),
        "cpu_s": time.process_time() - cpu0,
        "connections_opened": sum(c.opened for c in conns),
        "threads_alive": alive,
        "records": sorted(records),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--start-at", type=float, required=True,
                    help="epoch seconds of the first send (request 0 is due then)")
    args = ap.parse_args()
    json.dump(run(args), sys.stdout)
    sys.stdout.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
