"""Correctness gate and percentiles for the ingest workloads.

The collector records every POST the engine made; the generator records
every request it sent. ``verify`` joins the two through the request index
that each generated row carries as its first field.
"""

from __future__ import annotations

import math
import re
from collections import Counter
from dataclasses import dataclass, field

from workloads import Request, RequestModel, Workload, key_uri, kind_of, uri_table_fmt

_VALUES_ROW_ID = re.compile(r"\((\d+),\d+,'")
REFUSAL = {"empty": 405, "put": 405, "nonroot": 404}


def parse_ids(body: str, fmt: str) -> list[int]:
    """Request index of every row in a delivered body, in body order."""
    if fmt == "TSV":
        return [int(line.split("\t", 1)[0]) for line in body.split("\n") if line]
    return [int(m) for m in _VALUES_ROW_ID.findall(body)]


def concat(bodies: list[str], fmt: str) -> str:
    """The engine's per-key buffer: bodies in ascending order, Values
    joined by ',' and TSV/CSV by '' (their rows end in a newline)."""
    return ("" if fmt in ("TSV", "CSV") else ",").join(sorted(bodies))


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile, q in (0, 100]."""
    if not values:
        raise ValueError("percentile of no values")
    ordered = sorted(values)
    return ordered[max(0, math.ceil(q / 100 * len(ordered)) - 1)]


@dataclass
class Verdict:
    attempted: int = 0
    acked: int = 0
    failed_ids: set[int] = field(default_factory=set)
    problems: Counter = field(default_factory=Counter)
    duplicates: int = 0
    # (send or due time, milliseconds) per valid request
    ack_ms: list[tuple[float, float]] = field(default_factory=list)
    lag_ms: list[tuple[float, float]] = field(default_factory=list)
    acked_at: list[tuple[float, float]] = field(default_factory=list)
    first_attempt_failed: set[int] = field(default_factory=set)

    @property
    def failed(self) -> int:
        return len(self.failed_ids)

    def fail(self, idx: int, why: str) -> None:
        self.failed_ids.add(idx)
        self.problems[why] += 1


def verify(
    w: Workload,
    model: RequestModel,
    records: list[list],
    posts: list[dict],
    exactly_once: bool,
    skip_paths: frozenset[str] = frozenset(),
) -> Verdict:
    """Check the collector's POSTs against the generator's requests.

    ``records``: ``[idx, due, sent, done, status]`` per sent request.
    ``posts``: ``{"t", "path", "status", "body"}`` per POST received.
    Valid requests must be acked 200 and their rows delivered in a body
    equal to the format-correct concat of the requests it holds, at
    ``url_rewrite(uri)``; exactly once when ``exactly_once``, else at least
    once. Invalid requests must be refused and never delivered."""
    v = Verdict(attempted=len(records))
    reqs: dict[int, Request] = {}
    base: dict[int, float] = {}
    for idx, due, sent, done, status in records:
        kind = kind_of(idx)
        if kind != "ok":
            if status != REFUSAL[kind]:
                v.fail(idx, f"invalid {kind} answered {status}")
            continue
        if status != 200:
            v.fail(idx, f"valid request answered {status}")
            continue
        reqs[idx] = model.request(idx)
        start = due if w.loop == "open" else sent
        base[idx] = start
        v.ack_ms.append((start, (done - start) * 1000))
        v.acked_at.append((done, done))
    v.acked = len(reqs)

    delivered: Counter = Counter()
    first_seen: dict[int, tuple[float, int]] = {}
    for n, post in enumerate(sorted(posts, key=lambda p: p["t"])):
        path, body = post["path"], post["body"]
        if path in skip_paths:
            continue
        _, fmt = uri_table_fmt(path)
        try:
            ids = parse_ids(body, fmt)
        except ValueError:
            v.fail(-1000 - n, f"body does not parse as {fmt}")
            continue
        known = [i for i in set(ids) if i in reqs]
        for i in set(ids) - set(known):
            v.fail(i, "row of a request never acked delivered")
        if any(key_uri(w, reqs[i].key) != path for i in known):
            for i in known:
                v.fail(i, "rows delivered to the wrong url")
            continue
        if body != concat([reqs[i].body for i in known], fmt):
            for i in known:
                v.fail(i, "body is not the format concat of its requests")
            continue
        for i in known:
            first_seen.setdefault(i, (post["t"], post["status"]))
            if post["status"] == 200:
                delivered[i] += 1

    for i in reqs:
        n = delivered[i]
        if n == 0:
            v.fail(i, "acked request never delivered")
        elif n > 1:
            v.duplicates += 1
            if exactly_once:
                v.fail(i, "acked request delivered more than once")
        t, status = first_seen.get(i, (None, None))
        if status == 200:
            v.lag_ms.append((base[i], (t - base[i]) * 1000))
        elif status is not None:
            v.first_attempt_failed.add(i)
    return v
