"""Behavioral-analytics semantics the differential oracle can't isolate:
interval-union boundary rules and transition-order determinism, pinned on
hand-built micro-frames."""

import datetime

from proxyhouse_spark import registry
from tests.conftest import SF_SMALL
from test_plans import plan_of, tree_of  # the module pytest collects: one plan cache


def _ts(m: int) -> datetime.datetime:
    return datetime.datetime(2001, 1, 1, 0, m, 0)


def _coverage(spark, rows):
    """Run the interval-coverage SQL over an in-memory events frame."""
    from proxyhouse_spark.operators.behavior import _interval_coverage_sql
    from proxyhouse_spark.tables import EPOCH_NTZ

    df = spark.createDataFrame(rows, "user_id bigint, ts timestamp_ntz")
    df.createOrReplaceTempView("events")
    return {
        r.user_id: (r.n_islands, r.covered_secs)
        for r in spark.sql(
            "WITH "
            + _interval_coverage_sql(
                f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts)", "div"
            )
        ).collect()
    }


def test_interval_coverage_merges_overlap_and_touch(spark):
    res = _coverage(
        spark,
        [
            # user 1: events at :00 and :10 overlap (30-min window) → one
            # island [00:00, 00:40) = 2400 s
            (1, _ts(0)),
            (1, _ts(10)),
            # user 2: events at :00 and :30 TOUCH (prev end == next start)
            # → still one island [00:00, 01:00) = 3600 s
            (2, _ts(0)),
            (2, _ts(30)),
            # user 3: events at :00 and :31 leave a 1-minute gap → two
            # islands of 1800 s each
            (3, _ts(0)),
            (3, _ts(31)),
        ],
    )
    assert res[1] == (1, 2400)
    assert res[2] == (1, 3600)
    assert res[3] == (2, 3600)


def test_interval_coverage_duplicate_timestamps_are_idempotent(spark):
    # two events at the identical instant add no coverage
    res = _coverage(spark, [(1, _ts(0)), (1, _ts(0))])
    assert res[1] == (1, 1800)


def test_event_transitions_sentinel_and_tie_order(spark):
    df = spark.createDataFrame(
        [
            # user 1: a → b → b; user 2: single event → only '<end>'
            (1, 1, "a", _ts(0)),
            (2, 1, "b", _ts(1)),
            (3, 1, "b", _ts(2)),
            (4, 2, "c", _ts(0)),
        ],
        "event_id bigint, user_id bigint, event_type string, ts timestamp_ntz",
    )
    df.createOrReplaceTempView("events")
    from proxyhouse_spark.operators.behavior import _EVENT_TRANSITIONS

    got = {
        (r.src, r.dst): r.n_transitions
        for r in spark.sql("WITH " + _EVENT_TRANSITIONS).collect()
    }
    assert got == {("a", "b"): 1, ("b", "b"): 1, ("b", "<end>"): 1, ("c", "<end>"): 1}
    # every user contributes exactly one terminal transition
    assert sum(n for (_s, d), n in got.items() if d == "<end>") == 2


def test_transitions_plan_is_window_then_fold(spark):
    tree = tree_of(plan_of(spark, "q_event_transitions"))
    assert "Window" in tree
    assert "CartesianProduct" not in tree and "Join" not in tree


def test_stream_coverage_merge_is_idempotent(spark, tmp_path):
    """Interval union is idempotent on the covered point set, so
    re-applying the SAME batch (fresh batch id, bypassing the fence)
    must leave the island snapshot byte-identical — the one merge
    algebra in the engine that is replay-safe even without fencing."""
    from proxyhouse_spark.operators.cdc import _merge_coverage

    snap = str(tmp_path / "snap")
    batch = spark.createDataFrame(
        [(1, 0, 100), (1, 50, 150), (2, 0, 10)],
        "user_id bigint, s bigint, e bigint",
    )
    _merge_coverage(spark, batch, snap, 0)
    first = {
        (r.user_id, r.island_s, r.island_e)
        for r in spark.read.parquet(snap).collect()
    }
    _merge_coverage(spark, batch, snap, 1)  # replay, new batch id
    second = {
        (r.user_id, r.island_s, r.island_e)
        for r in spark.read.parquet(snap).collect()
    }
    assert first == second == {(1, 0, 150), (2, 0, 10)}


def test_stream_minhash_replay_is_harmless(spark, tmp_path):
    """At-least-once replay of a minhash batch: the batch-id fence skips
    the index append, and the pair sink's distinct-on-read absorbs the
    duplicate emission — the accumulated result is unchanged."""
    import os

    from proxyhouse_spark.operators.cdc import _merge_minhash

    base = str(tmp_path)
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon zeta"),
         (3, "totally different words here now ok")],
        "doc_id bigint, text string",
    )
    _merge_minhash(spark, docs, base, 0)
    read = lambda: sorted(
        (r.doc_a, r.doc_b)
        for r in spark.read.parquet(os.path.join(base, "pairs"))
        .dropDuplicates(["doc_a", "doc_b"]).collect()
    )
    first = read()
    assert first == [(1, 2)]  # the identical pair; doc 3 matches nothing
    # replay the same batch id: fence must skip the index append, and the
    # deduped pair set must not change
    _merge_minhash(spark, docs, base, 0)
    assert read() == first
    idx = spark.read.parquet(os.path.join(base, "index"))
    assert idx.count() == 3  # same-batch-id replay fenced: no double append
    # a LATER batch re-delivering doc 2 (new batch id — DLQ-style replay
    # across restarts): the append-only index gains a duplicate sketch
    # row, but reads dedup by doc_id (identical sketches — any winner is
    # correct) and the pair contract holds
    _merge_minhash(spark, docs.filter("doc_id = 2"), base, 1)
    assert read() == first
    idx2 = spark.read.parquet(os.path.join(base, "index"))
    assert idx2.count() == 4  # append-only: the dup row exists on disk...
    assert idx2.dropDuplicates(["doc_id"]).count() == 3  # ...never in reads


def test_constraint_audit_reports_both_outcomes(spark):
    """The audit must exercise BOTH report paths on the fixture: the
    driver-generated lineitem violates the classic TPC-H primary key
    (l_orderkey, l_linenumber) — a genuine data-quality finding the
    audit exists to catch — while the remaining constraints hold."""
    from proxyhouse_spark import registry
    from tests.conftest import SF_SMALL

    rows = {r.constraint_name: (r.n_violations, r.passed)
            for r in registry.QUERIES["q_constraint_audit"](spark, SF_SMALL).collect()}
    assert len(rows) == 10
    pk = rows["lineitem.(l_orderkey, l_linenumber) is unique"]
    assert pk[0] > 0 and pk[1] == 0  # the real violation, failed
    assert rows["orders.o_orderkey is unique"] == (0, 1)
    assert rows["lineitem.l_orderkey references orders"] == (0, 1)


def test_constraint_audit_null_semantics(spark):
    """NULLs are NON-compliant with value constraints (Deequ compliance
    convention — SQL three-valued logic would silently pass them) but
    EXEMPT from referential-integrity legs (SQL FK semantics)."""
    from proxyhouse_spark.operators.quality import _AUDIT_SPARK

    spark.createDataFrame(
        [(1, 10, "F", 5.0, "1999-01-01"), (2, None, None, None, None)],
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate string",
    ).selectExpr(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "CAST(o_orderdate AS TIMESTAMP_NTZ) AS o_orderdate",
    ).createOrReplaceTempView("orders")
    spark.createDataFrame(
        [(1, 1, 5.0, 0.05), (None, 2, 5.0, 0.05)],
        "l_orderkey bigint, l_linenumber int, l_quantity double, "
        "l_discount double",
    ).createOrReplaceTempView("lineitem")
    spark.createDataFrame([(10,)], "c_custkey bigint").createOrReplaceTempView(
        "customer"
    )
    rows = {r.constraint_name: r.n_violations
            for r in spark.sql(_AUDIT_SPARK).collect()}
    # order 2's NULL status/price/date each violate their value constraint
    assert rows["orders.o_orderstatus in (F, O, P)"] == 1
    assert rows["orders.o_totalprice > 0"] == 1
    assert rows["orders.o_orderdate in [1990, 2010)"] == 1
    assert rows["orders.o_custkey is not null"] == 1
    # ...but the NULL FK is EXEMPT from the RI leg (order 1's custkey 10
    # resolves; order 2's NULL does not count as dangling)
    assert rows["orders.o_custkey references customer"] == 0
    # same split on lineitem: NULL l_orderkey exempt from RI...
    assert rows["lineitem.l_orderkey references orders"] == 0
    # ...but uniqueness is a PRIMARY-KEY check: a composite key with any
    # NULL field is a violation, same as a single-column NULL key (one
    # uniform convention — ADVICE r3)
    assert rows["lineitem.(l_orderkey, l_linenumber) is unique"] == 1


def test_theil_sen_matches_brute_force_median_of_slopes(spark):
    """Literal O(days²) Python re-derivation: daily milli-unit sums →
    all pairwise slopes → interpolating median; intercept = median of
    per-day residuals under the UNROUNDED slope."""
    from collections import defaultdict

    rows = (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .select("ts", "value")
        .collect()
    )
    daily = defaultdict(int)
    for r in rows:
        ts = r.ts
        epoch = ts.replace(year=1970, month=1, day=1, hour=0, minute=0,
                           second=0, microsecond=0)
        td = ts - epoch
        micros = (td.days * 86_400 + td.seconds) * 1_000_000 + td.microseconds
        daily[micros // 86_400_000_000] += int(round(r.value * 1000))

    def median(sorted_vals):
        n = len(sorted_vals)
        lo, hi = sorted_vals[(n + 1) // 2 - 1], sorted_vals[n // 2]
        return lo + (hi - lo) * 0.5

    days = sorted(daily)
    slopes = sorted(
        (daily[b] - daily[a]) / (b - a)
        for i, a in enumerate(days)
        for b in days[i + 1:]
    )
    slope = median(slopes)
    resid = sorted(daily[d] - slope * d for d in days)
    [row] = registry.QUERIES["q_theil_sen"](spark, SF_SMALL).collect()
    assert row.n_days == len(days)
    assert row.n_pairs == len(slopes)
    assert row.slope_milli_per_day == round(slope, 6)
    assert row.intercept_milli == round(median(resid), 6)


def test_chi2_matches_brute_force_contingency(spark):
    """Literal Python contingency-table χ² on (event_type, weekday)."""
    from collections import Counter

    rows = (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .select("ts", "event_type")
        .collect()
    )
    cells = Counter()
    for r in rows:
        ts = r.ts
        epoch = ts.replace(year=1970, month=1, day=1, hour=0, minute=0,
                           second=0, microsecond=0)
        days = (ts - epoch).days
        cells[(r.event_type, (days + 4) % 7)] += 1
    n = sum(cells.values())
    types = {t for t, _ in cells}
    dows = {d for _, d in cells}
    rt = {t: sum(v for (tt, _), v in cells.items() if tt == t) for t in types}
    ct = {d: sum(v for (_, dd), v in cells.items() if dd == d) for d in dows}
    chi2 = 0.0
    for (t, d), o in sorted(cells.items()):
        e = rt[t] * ct[d] / n
        chi2 += (o - e) ** 2 / e
    [row] = registry.QUERIES["q_chi2"](spark, SF_SMALL).collect()
    assert (row.n, row.r, row.c) == (n, len(types), len(dows))
    assert row.dof == (len(types) - 1) * (len(dows) - 1)
    assert abs(row.chi2 - chi2) < 1e-4
    import math

    v = math.sqrt(chi2 / (n * min(len(types) - 1, len(dows) - 1)))
    assert abs(row.cramers_v - v) < 1e-6
