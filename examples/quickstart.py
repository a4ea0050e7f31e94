"""Executable MIGRATION.md: the reference proxy's whole workflow, end to end.

A user of recoilme/proxyhouse runs exactly this loop (reference README.md
"usage"): POST many small `INSERT ... FORMAT Values/TSV` requests at the
proxy, which acks on buffer, coalesces per key, flushes every `-syncsec`
seconds to the forward host, spills failures to an errors dir, and replays
them with level escalation. This script runs the same workflow on the
Spark engine, printing each stage — run it with no arguments:

    python examples/quickstart.py

Stages (reference file:line → engine API):
  1. HTTP front door, ack-on-buffer      main.go:164-226  → IngestShim
  2. /status + /statistic endpoints      main.go:228-254  → shim endpoints
  3. keyed concat + rowcount flush       main.go:260-320  → FlushPipeline
  4. URL rewrite + password redaction    main.go:352-389  → scalars (in 3)
  5. DLQ spill / escalating replay       main.go:366-465  → replay_dlq
  6. counter metrics                     metric.go        → MetricStorage
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from proxyhouse_spark.session import get_spark  # noqa: E402
from proxyhouse_spark.sinks.graphite import MetricStorage  # noqa: E402
from proxyhouse_spark.sources.http_ingest import IngestShim  # noqa: E402
from proxyhouse_spark.streaming.passes import await_or_raise  # noqa: E402
from proxyhouse_spark.streaming.pipeline import (  # noqa: E402
    FlushPipeline,
    replay_dlq,
)


def post(base: str, path: str, body: bytes) -> int:
    req = urllib.request.Request(base + path, data=body, method="POST")
    try:
        with urllib.request.urlopen(req, timeout=10) as r:
            return r.status
    except urllib.error.HTTPError as e:
        return e.code


def get(base: str, path: str) -> bytes:
    with urllib.request.urlopen(base + path, timeout=10) as r:
        return r.read()


def main() -> None:
    spark = get_spark("quickstart")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="quickstart_")
    d = {k: os.path.join(root, k) for k in ("spool", "sink", "dlq", "ckpt")}

    # -- 1. the proxy front door: ack-on-buffer HTTP ingest ------------------
    shim = IngestShim(d["spool"], flush_seconds=0.3).start()
    base = f"http://{shim.address[0]}:{shim.address[1]}"
    print(f"[1] shim ready: {get(base, '/').decode().strip()!r}")

    # the reference's own README example, plus the quirk surface: multiple
    # Values tuples, TSV rows, a password param (redacted downstream), and
    # the reject paths (empty body 405, non-root 404)
    q_values = "/?query=INSERT%20INTO%20events%20FORMAT%20Values"
    q_tsv = "/?query=INSERT%20INTO%20logs%20FORMAT%20TSV"
    q_pw = q_values + "&user=app&password=hunter2"
    assert post(base, q_values, b"(1,'a')") == 200
    assert post(base, q_values, b"(2,'b'),(3,'c')") == 200
    assert post(base, q_pw, b"(4,'d')") == 200
    assert post(base, q_tsv, b"5\tx\n6\ty\n") == 200
    assert post(base, q_values, b"") == 405          # empty body
    assert post(base, "/other" + q_values, b"(9)") == 404  # non-root path
    print("[1] posted 4 inserts (2 keys); empty-body 405 and non-root 404 ok")

    # -- 2. health + throughput endpoints -------------------------------------
    print(f"[2] /status    → {get(base, '/status').decode().strip()}")
    print(f"[2] /statistic → {get(base, '/statistic').decode().strip()}")
    shim.stop()  # final spool flush

    # -- 3+4. the flush loop: validate → keyed concat → rewrite → sink -------
    # One availableNow pass == one reference flush cycle (-syncsec analog is
    # trigger_seconds for the long-running form). Inject a failure for the
    # 'logs' key to demonstrate the DLQ path.
    storage = MetricStorage()
    pipe = FlushPipeline(
        spark, d["spool"], d["sink"], d["dlq"], d["ckpt"],
        fail_predicate=F.col("table_name") == "logs",
        metric_storage=storage,
    )
    # await_or_raise fails loudly if the pass outlives the bound; a bare
    # awaitTermination(120) would return False and let the script read a
    # partial/absent sink parquet with a confusing downstream error.
    await_or_raise(pipe.start(available_now=True), timeout_s=120)
    from proxyhouse_spark.functions.scalars import hide_password

    sink = spark.read.parquet(d["sink"]).select(
        "uri",
        "target_url",
        "table_name",
        "rowcount",
        "buffer",
        hide_password(F.col("uri")).alias("log_line"),
    )
    print("[3] flushed sink frame (keyed concat, URL rewritten, row-counted):")
    for r in sink.orderBy("uri").collect():
        print(f"      {r.table_name:7s} rows={r.rowcount}  -> {r.target_url}")
        print(f"              buffer={r.buffer!r}")
    # the reference forwards the REAL credentials and redacts only its debug
    # log line (main.go:352-363); hide_password is that log-side scalar
    logged = [r.log_line for r in sink.collect() if "password=" in r.uri]
    assert logged and all("password=*" in line for line in logged)
    print(f"[4] log-line redaction: {logged[0]}")

    # -- 5. DLQ: the failed key spilled at level 1; a healthy replay drains it
    dlq = spark.read.parquet(d["dlq"])
    print(f"[5] DLQ after flush: {dlq.count()} packet(s), "
          f"level={dlq.first().level}")
    counts = replay_dlq(spark, d["dlq"], d["sink"])
    print(f"[5] replay (sink healthy): {counts}; "
          f"DLQ now {spark.read.parquet(d['dlq']).count()} packet(s)")

    # -- 6. counter metrics (metric.go fan-out names) -------------------------
    sent = {k: v for k, v in storage.snapshot().items() if "sent" in k}
    print(f"[6] sent-side counters: {json.dumps(sent, sort_keys=True)}")
    print("done.")


if __name__ == "__main__":
    main()
