"""Seeded request model for the ingest workloads.

Request ``i`` of a run is a pure function of ``(workload, seed, i)``, so the
generator process can build requests on the fly while the verifier rebuilds
the very same bytes afterwards from the indices the generator reports.
Every accepted row carries its request index as first field, which is how
the collector side maps a delivered POST back to the requests it holds.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from urllib.parse import parse_qs

#: processing-time trigger of the flush stream. FlushPipeline's default of
#: 2 s is shorter than one trigger's own cost on a 4-core host (~2.5 s), so
#: triggers would run back to back and every latency would measure how far
#: behind the stream had fallen. At 4 s triggers still overran under 20%
#: hypervisor steal; at 6 s they keep their cadence.
TRIGGER_SECONDS = 6
#: shim spool interval, well below the trigger so the two clocks' phase
#: does not decide which trigger a row lands in
SPOOL_SECONDS = 0.25
#: invalid requests: one in INVALID_EVERY, cycling over the three reject paths
INVALID_EVERY = 50
INVALID_KINDS = ("empty", "nonroot", "put")


@dataclass(frozen=True)
class Workload:
    name: str
    loop: str  # "closed" (fixed connections) or "open" (fixed rate)
    n_keys: int
    rows: tuple[int, int]  # rows per valid body, inclusive range
    word_len: int
    rate: float = 0.0  # open loop only, requests per second
    think_s: float = 0.0  # closed loop only, pause after each reply
    fail_tables: tuple[str, ...] = ()  # tables the collector answers 503 for
    fail_posts: int = 0  # ... for this many POSTs, then it heals


WORKLOADS = {
    w.name: w
    for w in (
        # paced so that the shim is not saturated: without think time the
        # accepted rate followed hypervisor steal 2-3x over (1300-3700 req/s)
        Workload("ingest_burst", "closed", n_keys=12, rows=(1, 1), word_len=8,
                 think_s=0.0035),
        Workload(
            "outage_recovery", "open", n_keys=96, rows=(1, 4), word_len=8,
            rate=260.0, fail_tables=("t5",), fail_posts=1,
        ),
    )
}


def key_uri(w: Workload, k: int) -> str:
    """The ``uri`` (path + raw query) of key ``k``. ingest_burst: 8 tables
    in Values plus 4 of them in TSV, one key carrying credentials;
    outage_recovery: 32 tables x 2 formats x shard, so that one failing
    table holds only 3 of the 96 keys."""
    if w.name == "ingest_burst":
        table, fmt, extra = k % 8, "Values" if k < 8 else "TSV", ""
        if k == 0:
            extra = "&user=app&password=secret"
    else:
        table, fmt = k % 32, "Values" if (k // 32) % 2 == 0 else "TSV"
        extra = f"&shard={k // 64}"
    return f"/?query=INSERT%20INTO%20t{table}%20FORMAT%20{fmt}{extra}"


def uri_table_fmt(uri: str) -> tuple[str, str]:
    """(table, format) of a key uri, read the way the engine reads it."""
    query = parse_qs(uri.partition("?")[2]).get("query", [""])[0]
    words = query.split()
    table = words[words.index("INTO") + 1] if "INTO" in words else "unknown"
    fmt = "TSV" if query.endswith("FORMAT TSV") else "Values"
    return table, fmt


def kind_of(i: int) -> str:
    """"ok", or which reject path request ``i`` takes."""
    if i % INVALID_EVERY == INVALID_EVERY - 1:
        return INVALID_KINDS[(i // INVALID_EVERY) % len(INVALID_KINDS)]
    return "ok"


@dataclass(frozen=True)
class Request:
    idx: int
    kind: str  # "ok" or one of INVALID_KINDS
    key: int
    body: str  # request body as the shim stores it ("" for empty/put)

    def wire(self, w: Workload) -> bytes:
        """The exact bytes the generator writes on its keep-alive socket.
        The non-root POST asks for ``Connection: close``: the shim answers
        404 without reading the body, so the body must not be left on a
        connection that is reused."""
        uri = key_uri(w, self.key)
        method, path, body, extra = "POST", uri, self.body, ""
        if self.kind == "empty":
            body = ""
        elif self.kind == "nonroot":
            path, extra = "/other" + uri, "Connection: close\r\n"
        elif self.kind == "put":
            method, body = "PUT", ""
        data = body.encode()
        head = (
            f"{method} {path} HTTP/1.1\r\nHost: bench\r\n{extra}"
            f"Content-Length: {len(data)}\r\n\r\n"
        )
        return head.encode() + data


class RequestModel:
    """Builds request ``i`` of a (workload, seed) run deterministically."""

    def __init__(self, w: Workload, seed: int) -> None:
        self.w = w
        self.seed = seed
        self._fmt = [uri_table_fmt(key_uri(w, k))[1] for k in range(w.n_keys)]
        self._perm = random.Random(seed).sample(range(w.n_keys), w.n_keys)

    def request(self, i: int) -> Request:
        rng = random.Random(self.seed * 1_000_003 + i)
        key = self._perm[i % self.w.n_keys]  # every key once per n_keys requests
        kind = kind_of(i)
        n_rows = rng.randint(*self.w.rows)
        fmt = self._fmt[key]
        bits, width = 4 * self.w.word_len, f"0{self.w.word_len}x"
        words = [format(rng.getrandbits(bits), width) for _ in range(n_rows)]
        if fmt == "TSV":
            body = "".join(f"{i}\t{j}\t{wd}\n" for j, wd in enumerate(words))
        else:
            body = ",".join(f"({i},{j},'{wd}')" for j, wd in enumerate(words))
        return Request(i, kind, key, body)
