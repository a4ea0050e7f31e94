"""The HTTP batch sink — the reference's send() boundary (main.go:376-445),
real: one POST per distinct key per flush, success iff HTTP 200.

Executor-side delivery: the flush frame (one row per key) is sent via
``mapPartitions`` — per-partition imperative I/O is the one place the RDD
API is justified (SURVEY §7); statuses, not data, come back to the driver.
Each task POSTs its partition's rows in order. Connections are NOT reused:
``urllib.request.urlopen`` opens a new connection for every POST (an HTTP
collector counts one connection per POST), where the reference's client
keeps idle connections per host (MaxIdleConnsPerHost).

stdlib urllib only — no client library dependencies.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame

TIMEOUT_S = 10


def _send_rows(rows) -> Iterator[tuple[str, bool, int]]:
    import urllib.error
    import urllib.request

    for r in rows:
        req = urllib.request.Request(
            r.target_url,
            data=r.buffer.encode("utf-8"),
            method="POST",
            headers={"Content-Type": "text/tab-separated-values; charset=UTF-8"},
        )
        try:
            with urllib.request.urlopen(req, timeout=TIMEOUT_S) as resp:
                yield (r.send_key, resp.status == 200, resp.status)
        except urllib.error.HTTPError as e:  # non-2xx — the non-200 branch
            yield (r.send_key, False, e.code)
        except Exception:  # connection refused / timeout / DNS
            yield (r.send_key, False, -1)


def http_send(flush_frame: DataFrame) -> dict[str, bool]:
    """Deliver a sink frame (uri, target_url, buffer, ...) over HTTP.
    Returns {key: delivered}, the sender contract of FlushPipeline and
    replay_dlq: the caller spills (or re-queues) every undelivered key.

    The status key is ``packet_id`` when the frame carries one (the DLQ
    replay path, where distinct packets share a uri and a uri-keyed dict
    would collapse their outcomes), else ``uri`` (the flush path, one row
    per key by construction)."""
    from pyspark.sql import functions as F

    key = "packet_id" if "packet_id" in flush_frame.columns else "uri"
    statuses = (
        flush_frame.select(
            F.col(key).alias("send_key"), "target_url", "buffer"
        )
        .rdd.mapPartitions(_send_rows)
    )
    return {k: ok for k, ok, _ in statuses.collect()}


# NOTE: the DLQ replay path (streaming/pipeline.py replay_dlq) calls
# http_send per chunk for executor-side delivery — replay pacing lives in the
# driver loop (one packet per send when throttled, else one send for the
# queue), but payload bytes never leave the executors. The old
# http_send_driver (collect rows, send from the driver) was removed for
# exactly that reason (VERDICT r3 #6).
# As in the flush, each POST of a chunk opens its own connection.
