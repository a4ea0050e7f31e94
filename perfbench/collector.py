"""Stand-in ClickHouse: receives the engine's POSTs and records them.

    python3 perfbench/collector.py --workload outage_recovery --out posts.jsonl

Prints its port as the first stdout line and serves until stdin closes.
The first ``fail_posts`` POSTs to the workload's ``fail_tables`` after a
reset are answered 503; then the collector heals. Every other POST is
answered 200. Control endpoints:

- ``POST /__ctl/reset`` forget what arrived so far and restart the outage
- ``GET /__ctl/stats``  POSTs, connections, bytes, distinct request
  indices delivered by 200-answered POSTs, and when the outage healed
- ``POST /__ctl/dump``  write every POST as a JSON line to ``--out``
"""

from __future__ import annotations

import argparse
import json
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from check import parse_ids
from workloads import WORKLOADS, uri_table_fmt


class Collector:
    def __init__(self, fail_tables: set[str], fail_posts: int, out: str) -> None:
        self.fail_tables = fail_tables
        self.fail_posts = fail_posts
        self.out = out
        self.lock = threading.Lock()
        self.reset()

    def reset(self) -> None:
        with self.lock:
            self.posts: list[dict] = []
            self.delivered: set[int] = set()
            self.connections = 0
            self.bytes = 0
            self.to_fail = self.fail_posts
            self.healed_at: float | None = None

    def receive(self, path: str, body: str) -> int:
        table, fmt = uri_table_fmt(path)
        t = time.time()
        with self.lock:
            status = 200
            if table in self.fail_tables and self.to_fail > 0:
                status, self.to_fail = 503, self.to_fail - 1
                if self.to_fail == 0:
                    self.healed_at = t
            self.posts.append({"t": t, "path": path, "status": status, "body": body})
            self.bytes += len(body)
            if status == 200:
                try:
                    self.delivered.update(parse_ids(body, fmt))
                except ValueError:  # reported by the verifier
                    pass
        return status

    def stats(self) -> dict:
        with self.lock:
            return {
                "posts": len(self.posts),
                "failed_posts": sum(p["status"] != 200 for p in self.posts),
                "connections": self.connections,
                "bytes": self.bytes,
                "delivered": len(self.delivered),
                "healed_at": self.healed_at,
            }

    def dump(self) -> int:
        with self.lock:
            posts = list(self.posts)
        with open(self.out, "w", encoding="utf-8") as fh:
            for p in posts:
                fh.write(json.dumps(p) + "\n")
        return len(posts)

    def handler(self):
        col = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def log_message(self, *a):
                pass

            def setup(self):
                super().setup()
                self.carried_data = False

            def _reply(self, code: int, payload: bytes = b"") -> None:
                self.send_response(code)
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)

            def do_GET(self):
                if self.path == "/__ctl/stats":
                    self._reply(200, json.dumps(col.stats()).encode())
                else:
                    self._reply(404)

            def do_POST(self):
                length = int(self.headers.get("Content-Length", 0))
                body = self.rfile.read(length).decode("utf-8")
                if self.path == "/__ctl/reset":
                    col.reset()
                    self._reply(200)
                elif self.path == "/__ctl/dump":
                    self._reply(200, str(col.dump()).encode())
                else:
                    if not self.carried_data:  # connections the engine opened
                        self.carried_data = True
                        with col.lock:
                            col.connections += 1
                    self._reply(col.receive(self.path, body))

        return Handler


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    w = WORKLOADS[args.workload]
    col = Collector(set(w.fail_tables), w.fail_posts, args.out)
    server = ThreadingHTTPServer(("127.0.0.1", 0), col.handler())
    server.daemon_threads = True
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    print(server.server_address[1], flush=True)
    sys.stdin.read()  # serve until the parent closes our stdin
    server.shutdown()
    server.server_close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
