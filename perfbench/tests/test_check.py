"""Unit tests for the benchmark's body parser, percentile and gate.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from check import concat, parse_ids, pct, verify  # noqa: E402
from workloads import WORKLOADS, RequestModel, key_uri, kind_of, uri_table_fmt  # noqa: E402


def test_parse_ids_values_and_tsv():
    assert parse_ids("(3,0,'ab'),(3,1,'cd'),(10,0,'ef')", "Values") == [3, 3, 10]
    assert parse_ids("7\t0\tx\n7\t1\ty\n12\t0\tz\n", "TSV") == [7, 7, 12]
    assert parse_ids("", "Values") == [] and parse_ids("", "TSV") == []


def test_concat_matches_engine_delimiters():
    assert concat(["(2,0,'b')", "(10,0,'a')"], "Values") == "(10,0,'a'),(2,0,'b')"
    assert concat(["2\t0\tb\n", "10\t0\ta\n"], "TSV") == "10\t0\ta\n2\t0\tb\n"
    assert concat(["x\n"], "CSV") == "x\n"


def test_pct_nearest_rank():
    xs = list(range(1, 101))
    assert pct(xs, 50) == 50 and pct(xs, 99) == 99 and pct(xs, 100) == 100
    assert pct([5.0], 99) == 5.0
    assert pct([3, 1, 2], 50) == 2
    with pytest.raises(ValueError):
        pct([], 50)


def test_requests_are_seeded_and_parse_back():
    for w in WORKLOADS.values():
        a, b = RequestModel(w, 5), RequestModel(w, 5)
        for i in range(200):
            r = a.request(i)
            assert r == b.request(i)
            assert r.kind == kind_of(i)
            _, fmt = uri_table_fmt(key_uri(w, r.key))
            lo, hi = w.rows
            assert lo <= len(parse_ids(r.body, fmt)) <= hi
            assert set(parse_ids(r.body, fmt)) == {i}
        assert RequestModel(w, 6).request(3).body != a.request(3).body


def _run(w, n):
    model = RequestModel(w, 1)
    records, by_key = [], {}
    for i in range(n):
        req = model.request(i)
        status = {"ok": 200, "empty": 405, "put": 405, "nonroot": 404}[req.kind]
        records.append([i, float(i), float(i), i + 0.001, status])
        if req.kind == "ok":
            by_key.setdefault(req.key, []).append(req.body)
    posts = []
    for key, bodies in by_key.items():
        uri = key_uri(w, key)
        posts.append({"t": n + 1.0, "path": uri, "status": 200,
                      "body": concat(bodies, uri_table_fmt(uri)[1])})
    return model, records, posts


def test_verify_accepts_a_correct_delivery():
    w = WORKLOADS["ingest_burst"]
    model, records, posts = _run(w, 300)
    v = verify(w, model, records, posts, exactly_once=True)
    assert v.failed == 0 and v.attempted == 300 and v.acked == 294
    assert len(v.lag_ms) == 294


def test_verify_catches_loss_duplicates_corruption_and_invalid():
    w = WORKLOADS["ingest_burst"]
    model, records, posts = _run(w, 300)
    assert verify(w, model, records, posts[1:], exactly_once=True).failed > 0
    assert verify(w, model, records, posts + posts[:1], exactly_once=True).failed > 0
    assert verify(w, model, records, posts + posts[:1], exactly_once=False).failed == 0
    bad = dict(posts[0], body=posts[0]["body"][:-1])
    assert verify(w, model, records, [bad] + posts[1:], exactly_once=True).failed > 0
    moved = dict(posts[0], path=posts[1]["path"])
    assert verify(w, model, records, [moved] + posts[1:], exactly_once=True).failed > 0
    refused = [r[:4] + [200] if kind_of(r[0]) == "put" else r for r in records]
    assert verify(w, model, refused, posts, exactly_once=True).failed > 0
