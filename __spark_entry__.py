"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship ingest pipeline (the reference's core
dataflow: request stream → validation → format dispatch → keyed concat
aggregation → sink frame) on sf0.001. ``queries()`` / ``oracle_sql()``
expose every implemented operator from SURVEY.md §2 with its DuckDB oracle,
in the sampling order below.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from proxyhouse_spark import registry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the full ingest pipeline
    (SURVEY §3.4) — one sink row per distinct request key."""
    return registry.QUERIES["q_batch_sink"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {k: registry.QUERIES[k] for k in _order()}


def oracle_sql() -> dict[str, str]:
    return {k: registry.ORACLES[k] for k in _order() if k in registry.ORACLES}


# ---------------------------------------------------------------------------
# Sampling-order rotation (VERDICT r3 item #1)
# ---------------------------------------------------------------------------
# Each round's differential sample (CORRECTNESS_r*.json) takes the FIRST 50
# keys of ``queries()`` in dict-insertion order, so the order IS the
# sampling policy: keys no sample has confirmed come first, confirmed ones
# trail, oldest record first. Every CORRECTNESS_r*.json at the repo root is
# read when ``queries()`` is first called, so each new round's sample
# rotates the window with no manual edit. Pure reordering: the key set,
# implementations and oracles are the registry's (pinned by
# tests/test_registry_docs.py). The engine package itself reads none of
# these files.


def _gate_results() -> tuple[set[str], list[str], dict[str, tuple[int, str]]]:
    """Read every CORRECTNESS_r*.json and split sampled keys into
    (confirmed, failed, latest-record map).

    Confirmed = the gate actually PASSED: ``hash_match == true``, or the
    designed rows-only path (``err == "no_oracle"`` with a row count).
    Failed = sampled in some round but never confirmed in ANY round —
    hash mismatches and harness errors.  Round 4's bug was unioning ALL
    sampled keys as confirmed, which rotated the 4 hash-FAILED queries
    out of the 50-key window so their fixes would never be
    re-verified (VERDICT r04 finding #3).  Failed keys now go back to
    the FRONT of the window instead.

    ``latest`` maps each sampled key to ``(round, kind)`` for its most
    recent record, where kind is ``"hash"`` (hash_match true),
    ``"rows_only"`` (the designed no_oracle path), or ``"fail"``.  The
    rotation uses it two ways (VERDICT r09 #1/#6): a key whose LATEST
    record is rows_only but which NOW carries an oracle was converted
    after its last sample and must be re-gated first; and with zero
    never-sampled keys left, the repeat half of each window should be
    the keys with the OLDEST records, so refactors that postdate an old
    green record get re-verified instead of the same young keys cycling.
    """
    passed: set[str] = set()
    sampled: list[str] = []
    latest: dict[str, tuple[int, str]] = {}
    root = os.path.dirname(os.path.abspath(__file__))
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path, encoding="utf-8") as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue  # a malformed/partial file must never break queries()
        if not isinstance(data, dict):
            continue
        for k, v in data.items():
            if not (isinstance(k, str) and isinstance(v, dict)):
                continue
            if k not in sampled:
                sampled.append(k)
            if v.get("hash_match") is True:
                passed.add(k)
                kind = "hash"
            elif v.get("err") == "no_oracle" and v.get("spark_rows") is not None:
                passed.add(k)  # rows-only by documented design
                kind = "rows_only"
            else:
                kind = "fail"
            if rnd >= latest.get(k, (-1, ""))[0]:
                latest[k] = (rnd, kind)
    failed = [k for k in sampled if k not in passed]
    return passed, failed, latest


def _rotated(keys: list[str]) -> list[str]:
    passed, failed, latest = _gate_results()
    relead = [k for k in failed if k in registry.QUERIES]
    relead_set = set(relead)
    # Keys whose latest record predates their oracle: sampled as rows_only
    # (err=no_oracle) but an oracle exists NOW — the round-9 accuracy-twin
    # conversions.  Until a sample re-checks them with the hash gate, the
    # "fully confirmed" claim has unchecked corners (VERDICT r09 #1), so
    # they lead the window.
    stale_weak = [
        k for k in keys
        if k not in relead_set
        and latest.get(k, (0, ""))[1] == "rows_only"
        and k in registry.ORACLES
    ]
    lead_set = relead_set | set(stale_weak)
    unseen = [k for k in keys if k not in passed and k not in lead_set]
    # Repeat half: oldest record first (stable by registry order
    # within a round), so every key's record age is bounded by
    # ceil(324/50) windows instead of the youngest keys re-cycling
    # (VERDICT r09 #6).
    seen = sorted(
        (k for k in keys if k in passed and k not in lead_set),
        key=lambda k: latest.get(k, (0, ""))[0],
    )
    return relead + stale_weak + unseen + seen


@functools.cache
def _order() -> tuple[str, ...]:
    order = _rotated(list(registry.QUERIES))
    assert sorted(order) == sorted(registry.QUERIES), "rotation must be a permutation"
    return tuple(order)
