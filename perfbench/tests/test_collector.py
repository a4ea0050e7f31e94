"""Unit tests for the stand-in ClickHouse's outage and delivery counters.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from collector import Collector  # noqa: E402

T5 = "/?query=INSERT%20INTO%20t5%20FORMAT%20Values"
T1 = "/?query=INSERT%20INTO%20t1%20FORMAT%20TSV"


def test_outage_fails_a_fixed_number_of_posts_then_heals(tmp_path):
    col = Collector({"t5"}, 2, str(tmp_path / "posts.jsonl"))
    assert col.receive(T1, "1\t0\tx\n") == 200
    assert col.receive(T5, "(2,0,'a')") == 503
    assert col.stats()["healed_at"] is None
    assert col.receive(T5, "(3,0,'b')") == 503
    assert col.stats()["healed_at"] is not None
    assert col.receive(T5, "(4,0,'c')") == 200
    stats = col.stats()
    assert stats["posts"] == 4 and stats["failed_posts"] == 2
    assert stats["delivered"] == 2  # request indices 1 and 4
    assert col.dump() == 4


def test_reset_restarts_the_outage(tmp_path):
    col = Collector({"t5"}, 1, str(tmp_path / "posts.jsonl"))
    assert col.receive(T5, "(1,0,'a')") == 503
    col.reset()
    assert col.stats() == {"posts": 0, "failed_posts": 0, "connections": 0,
                           "bytes": 0, "delivered": 0, "healed_at": None}
    assert col.receive(T5, "(2,0,'a')") == 503
    assert col.receive(T5, "(3,0,'a')") == 200


def test_no_fail_tables_means_no_outage(tmp_path):
    col = Collector(set(), 0, str(tmp_path / "posts.jsonl"))
    assert col.receive(T5, "(1,0,'a')") == 200
    assert col.stats()["healed_at"] is None
