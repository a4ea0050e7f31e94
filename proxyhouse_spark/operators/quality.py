"""Declarative data-quality constraint audit (Deequ / dbt-test shape).

Reference parity: ABSENT — /root/reference/main.go treats bodies as opaque
bytes and validates only the HTTP envelope (method/path/body-presence,
main.go:164-226). A warehouse ingest pipeline, however, gates every load
behind declarative table constraints (uniqueness, null rates, accepted
values, ranges, referential integrity) and ships the violation report,
not a boolean — the Deequ/GreatExpectations/dbt-test shape. The engine
registers it as a first-class operator over the fixture star schema.

Scale design (100 TB): all NON-JOIN constraints on a table fold into ONE
aggregate row per table (conditional aggregates share the scan,
map-side-combinable), unpivoted into report rows via ``stack`` — so the
Spark plan scans orders/lineitem once for their value checks no matter
how many constraints they carry, plus one probe scan per
referential-integrity leg (anti-join on the FK; the dimension side
broadcasts when small). Scan count pinned in tests/test_plans.py.
Output is O(#constraints) rows; the report, not the data, moves.

NULL semantics (Deequ's compliance convention): a NULL value is
NON-COMPLIANT with an accepted-values/range constraint (the predicate is
wrapped ``NOT coalesce(pred, FALSE)`` so NULL counts as a violation —
without the wrapper SQL's three-valued logic silently PASSES NULLs),
while referential-integrity legs EXEMPT NULL foreign keys (SQL FK
semantics; nullity is its own constraint) — pinned on hand-built frames
in tests/test_behavior_ops.py.

Uniqueness checks are PRIMARY-KEY checks (Deequ isPrimaryKey): a NULL
key — single-column, or ANY NULL field of a composite key — is a
violation, uniformly. Mechanically, ``count(*) - count(DISTINCT key)``
already excludes single-column NULLs from the distinct count; the
composite key is wrapped ``CASE WHEN <all fields> IS NOT NULL THEN
(fields) END`` so NULL-field tuples are excluded the same way (a bare
row-constructor is never NULL, which would have silently PASSED them —
the r3 ADVICE inconsistency).

Exactness: every violation count is an exact BIGINT; ``passed`` derives
from the count — no sampling, no thresholds hidden in floats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..streaming import passes
from ..tables import table

# A violation = NOT coalesce(<compliance predicate>, FALSE): rows where
# the predicate is NULL (NULL operand) count as violations.
_ORDER_AGGS = """
  SELECT
    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS uniq_orderkey,
    CAST(count(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT) AS null_custkey,
    CAST(count(*) FILTER (WHERE NOT coalesce(o_orderstatus IN ('F', 'O', 'P'),
                                             FALSE))
         AS BIGINT) AS bad_status,
    CAST(count(*) FILTER (WHERE NOT coalesce(o_totalprice > 0, FALSE))
         AS BIGINT) AS bad_price,
    CAST(count(*) FILTER (WHERE NOT coalesce(o_orderdate >= '1990-01-01'
                                         AND o_orderdate < '2010-01-01',
                                             FALSE))
         AS BIGINT) AS bad_date
  FROM orders
"""

_LINEITEM_AGGS = """
  SELECT
    CAST(count(*) - count(DISTINCT CASE WHEN l_orderkey IS NOT NULL
                                    AND l_linenumber IS NOT NULL
                                    THEN {lineid} END) AS BIGINT) AS uniq_lineid,
    CAST(count(*) FILTER (WHERE NOT coalesce(l_quantity >= 1
                                         AND l_quantity <= 50, FALSE))
         AS BIGINT) AS bad_qty,
    CAST(count(*) FILTER (WHERE NOT coalesce(l_discount >= 0
                                         AND l_discount <= 0.1, FALSE))
         AS BIGINT) AS bad_discount
  FROM lineitem
"""

# NULL FKs are exempt (SQL FK semantics — nullity is its own constraint)
_RI_LEGS = """
ri_orders_customer AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM orders o
  WHERE o.o_custkey IS NOT NULL
    AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
),
ri_lineitem_orders AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem l
  WHERE l.l_orderkey IS NOT NULL
    AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
)"""

_ORDER_NAMES = [
    ("orders.o_orderkey is unique", "uniq_orderkey"),
    ("orders.o_custkey is not null", "null_custkey"),
    ("orders.o_orderstatus in (F, O, P)", "bad_status"),
    ("orders.o_totalprice > 0", "bad_price"),
    ("orders.o_orderdate in [1990, 2010)", "bad_date"),
]
_LINEITEM_NAMES = [
    ("lineitem.(l_orderkey, l_linenumber) is unique", "uniq_lineid"),
    ("lineitem.l_quantity in [1, 50]", "bad_qty"),
    ("lineitem.l_discount in [0, 0.1]", "bad_discount"),
]

_TAIL = """
SELECT constraint_name, n_violations,
       CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS passed
FROM report
"""


def _stack(names: list[tuple[str, str]]) -> str:
    args = ", ".join(f"'{label}', {col}" for label, col in names)
    return (
        f"SELECT stack({len(names)}, {args}) AS (constraint_name, n_violations)"
    )


def _union(names: list[tuple[str, str]], src: str) -> str:
    return "\n  UNION ALL\n".join(
        f"  SELECT '{label}' AS constraint_name, {col} AS n_violations FROM {src}"
        for label, col in names
    )


# Spark: each table's checks aggregate ONCE (one scan), then stack()
# unpivots the single row into report rows. (A UNION ALL over a
# multi-referenced CTE does NOT do this: Spark inlines each reference
# and the plan scans the table once per constraint — measured 7 scans
# of orders for 5 checks before this spelling.)
_AUDIT_SPARK = f"""
WITH order_checks AS ({_ORDER_AGGS}),
lineitem_checks AS (
  {_LINEITEM_AGGS.format(lineid="(l_orderkey, l_linenumber)")}
),
{_RI_LEGS},
report AS (
  {_stack(_ORDER_NAMES)} FROM order_checks
  UNION ALL
  {_stack(_LINEITEM_NAMES)} FROM lineitem_checks
  UNION ALL
  SELECT 'orders.o_custkey references customer', n FROM ri_orders_customer
  UNION ALL
  SELECT 'lineitem.l_orderkey references orders', n FROM ri_lineitem_orders
)
{_TAIL}
"""

# DuckDB has no stack(); the oracle unpivots via UNION ALL over the
# 1-row CTEs (DuckDB materializes multi-referenced CTEs, and oracle-side
# plan cost is irrelevant — it is the correctness mirror).
_AUDIT_DUCK = f"""
WITH order_checks AS ({_ORDER_AGGS}),
lineitem_checks AS (
  {_LINEITEM_AGGS.format(lineid="ROW(l_orderkey, l_linenumber)")}
),
{_RI_LEGS},
report AS (
{_union(_ORDER_NAMES, "order_checks")}
  UNION ALL
{_union(_LINEITEM_NAMES, "lineitem_checks")}
  UNION ALL
  SELECT 'orders.o_custkey references customer', n FROM ri_orders_customer
  UNION ALL
  SELECT 'lineitem.l_orderkey references orders', n FROM ri_lineitem_orders
)
{_TAIL}
"""


def constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    for t in ("orders", "lineitem", "customer"):
        table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_AUDIT_SPARK)


def constraint_audit_oracle() -> str:
    return _AUDIT_DUCK


# ---------------------------------------------------------------------------
# freshness_audit — the TIMELINESS half of the data-quality story
# (constraint_audit = validity): per event-bearing table, last event
# time, staleness against a fixed as-of instant, total rows, and rows
# in the trailing 30 days — the numbers a warehouse SLA monitor pages
# on. Each table gets its OWN as-of constant, placed shortly past that
# table's fixture horizon (events end 2024-01-30 → as-of 2024-02-15;
# orders end 2001-08-01 → as-of 2001-08-15), so staleness is positive
# and the trailing-30-day window splits each table's rows non-trivially
# — both semantics are actually exercised by the differential (ADVICE
# r3; the old shared 2002-01-01 made events staleness negative and both
# 30d counts degenerate). Deterministic and oracle-checkable; a
# deployment substitutes current_timestamp() per table at the call site.
#
# At 100 TB: one map-side-combinable aggregate per table — max/count
# fold in a single scan each; with date-partitioned storage the max
# resolves from partition metadata alone. Exact BIGINT seconds.
# ---------------------------------------------------------------------------

_ASOF_EVENTS_US = 1707955200000000  # epoch micros of 2024-02-15 00:00:00
_ASOF_ORDERS_US = 997833600000000   # epoch micros of 2001-08-15 00:00:00
_30D_US = 2592000000000


def _freshness_sql(epoch_us_events: str, epoch_us_orders: str, idiv: str) -> str:
    return f"""
SELECT 'events' AS table_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(({_ASOF_EVENTS_US} - max({epoch_us_events})) {idiv} 1000000
            AS BIGINT) AS staleness_secs,
       CAST(count(*) FILTER (WHERE {epoch_us_events}
                               >= {_ASOF_EVENTS_US} - {_30D_US})
            AS BIGINT) AS n_last_30d
FROM events
UNION ALL
SELECT 'orders' AS table_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(({_ASOF_ORDERS_US} - max({epoch_us_orders})) {idiv} 1000000
            AS BIGINT) AS staleness_secs,
       CAST(count(*) FILTER (WHERE {epoch_us_orders}
                               >= {_ASOF_ORDERS_US} - {_30D_US})
            AS BIGINT) AS n_last_30d
FROM orders
"""


def freshness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables import EPOCH_NTZ

    for t in ("events", "orders"):
        table(spark, sf_dir, t).createOrReplaceTempView(t)
    e = f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts)"
    o = f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, o_orderdate)"
    return spark.sql(_freshness_sql(e, o, "div"))


def freshness_audit_oracle() -> str:
    return _freshness_sql("epoch_us(ts)", "epoch_us(o_orderdate)", "//")


# ---------------------------------------------------------------------------
# Streaming constraint audit — Deequ's INCREMENTAL metrics computation:
# the audit state is mergeable, so a stream maintains it per micro-batch
# and the report is re-derived at read. Three distinct merge classes in
# one operator (the most algebraically mixed member of the merge-algebra
# family):
#
#   - value/RI-vs-static-dim checks → ADDITIVE counters (each batch's
#     violations sum; the q_stream_topk class),
#   - PK uniqueness → KEYED COUNTS: per-key row counts merge additively,
#     and violations = total rows − distinct non-null keys is re-derived
#     at read (uniqueness itself is NOT additive — the keyed-count table
#     is the mergeable carrier, exactly Deequ's exact-uniqueness state;
#     the documented approximate scale path swaps it for an HLL sketch),
#   - FK-vs-STREAMED-table (lineitem references orders) → read-time
#     RESOLUTION: pending violations are an anti-join of the static child
#     table against the accumulated key snapshot — they monotonically
#     SHRINK as referenced parents arrive, so no violation state is ever
#     stored for them at all.
#
# Two REAL availableNow passes over parity-split orders must hash-match
# the one-shot batch q_constraint_audit (its oracle verbatim): the audit
# numbers cannot depend on batch boundaries. State is O(counters +
# distinct orders keys), independent of stream length. Additive counters
# are fenced per batch id (at-least-once safe); NULL join keys are
# sentinel-encoded because a full-outer merge would drop them.
# ---------------------------------------------------------------------------

_AUDIT_SNAP_SCHEMA = (
    "kind string, name string, k bigint, k_null boolean, n bigint"
)
_NULL_K = -(2**63)  # sentinel: counters carry k=-1; NULL keys carry k_null


def _merge_audit(
    spark: SparkSession,
    batch_df: DataFrame,
    snap_dir: str,
    batch_id: int,
    sf_dir: str,
) -> None:
    from pyspark.sql import functions as F

    # DataFrame API throughout — a foreachBatch frame lives in a CLONED
    # micro-batch session, so temp views registered on it are invisible
    # to the outer session's spark.sql (and vice versa)
    customer = table(spark, sf_dir, "customer")
    # per-batch violation counters: same predicates as _ORDER_AGGS, same
    # NULL-is-noncompliant wrapping; all five names emitted even at 0
    agg = batch_df.agg(
        F.expr("CAST(count(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT)")
        .alias("null_custkey"),
        F.expr(
            "CAST(count(*) FILTER (WHERE NOT coalesce("
            "o_orderstatus IN ('F', 'O', 'P'), FALSE)) AS BIGINT)"
        ).alias("bad_status"),
        F.expr(
            "CAST(count(*) FILTER (WHERE NOT coalesce(o_totalprice > 0,"
            " FALSE)) AS BIGINT)"
        ).alias("bad_price"),
        F.expr(
            "CAST(count(*) FILTER (WHERE NOT coalesce("
            "o_orderdate >= '1990-01-01' AND o_orderdate < '2010-01-01',"
            " FALSE)) AS BIGINT)"
        ).alias("bad_date"),
    )
    ri = (
        batch_df.filter("o_custkey IS NOT NULL")
        .join(customer, batch_df.o_custkey == customer.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).cast("bigint").alias("ri_cust"))
    )
    counters = agg.crossJoin(ri).selectExpr(
        "stack(5, "
        "'orders.o_custkey is not null', null_custkey, "
        "'orders.o_orderstatus in (F, O, P)', bad_status, "
        "'orders.o_totalprice > 0', bad_price, "
        "'orders.o_orderdate in [1990, 2010)', bad_date, "
        "'orders.o_custkey references customer', ri_cust) AS (name, n)"
    ).selectExpr(
        "'C' AS kind", "name", "CAST(-1 AS BIGINT) AS k",
        "FALSE AS k_null", "n",
    )
    keys = batch_df.selectExpr(
        "'K' AS kind", "'' AS name",
        f"coalesce(o_orderkey, {_NULL_K}) AS k",
        "o_orderkey IS NULL AS k_null",
    ).groupBy("kind", "name", "k", "k_null").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    passes.merge_snapshot(
        spark, snap_dir, batch_id, _AUDIT_SNAP_SCHEMA,
        lambda current: passes.add_on_keys(
            current, counters.unionByName(keys),
            ["kind", "name", "k", "k_null"], ["n"],
        ).repartition(2, "kind", "k"),
    )


def stream_constraint_audit_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """T15, oracle-checked: two availableNow passes over parity-split
    orders maintaining the audit-metrics snapshot; the assembled report
    must hash-match the one-shot batch q_constraint_audit."""
    for t in ("orders", "lineitem", "customer"):
        table(spark, sf_dir, t).createOrReplaceTempView(t)
    ords = spark.table("orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate",
    )
    snap = passes.two_pass(
        spark, sf_dir, "t15_audit_", ords.filter("o_orderkey % 2 = 0"),
        ords.filter("o_orderkey % 2 = 1"),
        passes.foreach_merge(
            spark,
            "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
            "o_totalprice double, o_orderdate timestamp_ntz",
            lambda s, df, out, bid: _merge_audit(s, df, out, bid, sf_dir),
        ),
    )
    spark.read.parquet(snap).createOrReplaceTempView("audit_snap")
    # read-time assembly: counters verbatim; uniqueness re-derived from the
    # keyed counts; the static lineitem checks computed directly; the
    # lineitem→orders RI leg RESOLVED against the accumulated key snapshot
    li_checks = _LINEITEM_AGGS.format(lineid="(l_orderkey, l_linenumber)")
    return spark.sql(
        f"""
        WITH kk AS (SELECT k, k_null, n FROM audit_snap WHERE kind = 'K'),
        uniq AS (SELECT CAST(coalesce(sum(n), 0)
                             - count_if(NOT k_null) AS BIGINT) AS n FROM kk),
        li AS ({li_checks}),
        ri_li AS (
          SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem l
          WHERE l.l_orderkey IS NOT NULL
            AND NOT EXISTS (SELECT 1 FROM kk
                            WHERE kk.k = l.l_orderkey AND NOT kk.k_null)),
        report AS (
          SELECT 'orders.o_orderkey is unique' AS constraint_name,
                 n AS n_violations FROM uniq
          UNION ALL
          SELECT name, n FROM audit_snap WHERE kind = 'C'
          UNION ALL
          SELECT stack(3,
            'lineitem.(l_orderkey, l_linenumber) is unique', uniq_lineid,
            'lineitem.l_quantity in [1, 50]', bad_qty,
            'lineitem.l_discount in [0, 0.1]', bad_discount)
            AS (constraint_name, n_violations) FROM li
          UNION ALL
          SELECT 'lineitem.l_orderkey references orders', n FROM ri_li
        )
        {_TAIL}
        """
    )


# ---------------------------------------------------------------------------
# k-anonymity audit (Sweeney 2002) — the privacy leg of the quality
# family, next to pii_scan's content scan: how re-identifiable is a
# record from its quasi-identifiers alone? QI here = (lang, source,
# n_chars bucketed to 100) over the documents table; the dataset's
# k-anonymity is the SMALLEST QI-group size, and every record in a group
# below the policy threshold K is suppressible. The report also carries
# the l-diversity of the worst group (distinct exact n_chars values —
# the stand-in sensitive attribute): a group can be k-anonymous yet
# value-homogeneous, which is l-diversity's point.
#
# Scale: one map-side-combinable groupBy on the QI tuple (state =
# O(distinct QI tuples), not rows), then an O(groups) summary fold —
# the report rows move, never the data. Integer arithmetic throughout
# (suppression rate in exact basis points, integer division).
# ---------------------------------------------------------------------------

KANON_K = 5


def _kanon_sql(idiv: str) -> str:
    return f"""
    g AS (SELECT lang, source, CAST(n_chars {idiv} 100 AS BIGINT) AS cb,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(count(DISTINCT n_chars) AS BIGINT) AS l_div
          FROM documents GROUP BY lang, source, cb),
    s AS (SELECT CAST(sum(n) AS BIGINT) AS n_records,
                 CAST(count(*) AS BIGINT) AS n_groups,
                 CAST(min(n) AS BIGINT) AS k_anonymity,
                 CAST(coalesce(sum(CASE WHEN n < {KANON_K} THEN n END), 0)
                      AS BIGINT) AS below_k,
                 CAST(min(CASE WHEN n = (SELECT min(n) FROM g) THEN l_div END)
                      AS BIGINT) AS worst_l
          FROM g)
    SELECT metric, value FROM (
      SELECT 1 AS ord, 'records' AS metric, n_records AS value FROM s
      UNION ALL SELECT 2, 'qi_groups', n_groups FROM s
      UNION ALL SELECT 3, 'k_anonymity', k_anonymity FROM s
      UNION ALL SELECT 4, 'records_below_k{KANON_K}', below_k FROM s
      UNION ALL SELECT 5, 'suppression_bp',
        CAST((10000 * below_k) {idiv} n_records AS BIGINT) FROM s
      UNION ALL SELECT 6, 'worst_group_l_diversity', worst_l FROM s
    ) r
    """


def kanon_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N92: k-anonymity + worst-group l-diversity over document QIs."""
    table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql("WITH " + _kanon_sql("div"))


def kanon_audit_oracle() -> str:
    return "WITH " + _kanon_sql("//")


# ---------------------------------------------------------------------------
# label_leakage — chi-square token ↔ label association audit, the
# feature-leakage sibling of pii_scan (what must not leave) and
# decontaminate (what must not leak ACROSS splits): here the question is
# what leaks INTO a label — tokens whose document-level presence
# predicts `lang` far above chance. The same statistic doubles as
# classic chi-square feature selection, so the top of the report is
# both "your 'label' is encoded in surface tokens" and "these are the
# features a classifier would key on".
#
# chi² per token over the full 2×L presence/label contingency table:
# observed o = docs containing the token per label, expected under
# independence e = n_tok · n_label / N (present row) and its complement
# (absent row). Zero-expected cells (a token present in EVERY doc makes
# the absent row empty) contribute 0, the standard convention.
#
# Exactness: every count is BIGINT; each cell's (o−e)²/e is one double
# expression over exact integers rounded to 6 dp and DECIMAL-cast, and
# chi² is a sum of DECIMALS — order-independent, so the distributed
# fold cannot produce run-to-run drift (the unigram_logprob
# discipline applied to a statistic instead of a logprob).
#
# At 100 TB: presence explode is narrow; obs is one map-side-combinable
# groupBy on (tok, label); the grid is vocab × labels — vocab grows
# sublinearly (Heaps) and labels are policy-bounded, the same
# O(types×bins) frame contract as drift_psi. Report rows move, never
# the corpus.
# ---------------------------------------------------------------------------

LEAKAGE_TOP = 15


def _leakage_sql(ex: str) -> str:
    return f"""
    doc AS (SELECT doc_id, lang FROM documents),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM doc),
    lg AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_lang
           FROM doc GROUP BY lang),
    tkc AS (SELECT tok, CAST(count(*) AS BIGINT) AS n_tok
            FROM {ex} GROUP BY tok),
    obs AS (SELECT e.tok, d.lang, CAST(count(*) AS BIGINT) AS o
            FROM {ex} e JOIN doc d ON d.doc_id = e.doc_id
            GROUP BY e.tok, d.lang),
    cell AS (SELECT g.tok, g.n_tok, g.n_lang,
                    coalesce(o.o, CAST(0 AS BIGINT)) AS o1
             FROM (SELECT t.tok, t.n_tok, l.lang, l.n_lang
                   FROM tkc t CROSS JOIN lg l) g
             LEFT JOIN obs o ON o.tok = g.tok AND o.lang = g.lang),
    term AS (SELECT tok, n_tok,
      CAST(round(
        (o1 - CAST(n_tok * n_lang AS DOUBLE) / (SELECT n_docs FROM n))
        * (o1 - CAST(n_tok * n_lang AS DOUBLE) / (SELECT n_docs FROM n))
        / (CAST(n_tok * n_lang AS DOUBLE) / (SELECT n_docs FROM n))
        + CASE WHEN n_tok = (SELECT n_docs FROM n) THEN 0.0 ELSE
          ((n_lang - o1)
           - CAST(((SELECT n_docs FROM n) - n_tok) * n_lang AS DOUBLE)
             / (SELECT n_docs FROM n))
          * ((n_lang - o1)
             - CAST(((SELECT n_docs FROM n) - n_tok) * n_lang AS DOUBLE)
               / (SELECT n_docs FROM n))
          / (CAST(((SELECT n_docs FROM n) - n_tok) * n_lang AS DOUBLE)
             / (SELECT n_docs FROM n)) END,
        6) AS DECIMAL(18, 6)) AS t
      FROM cell),
    chi AS (SELECT tok, max(n_tok) AS n_tok, sum(t) AS chi2
            FROM term GROUP BY tok)
    SELECT tok, n_tok,
           CAST(CAST(chi2 AS DECIMAL(18, 6)) AS DOUBLE) AS chi2
    FROM chi ORDER BY chi2 DESC, tok LIMIT {LEAKAGE_TOP}
    """


def label_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N98: chi-square token/label association (leakage + feature audit).

    The presence frame is textops.presence_select — ONE definition of
    document-level token presence across the text family, on the shared
    tokenizer contract — staged once via scoped_checkpoint (it feeds
    both the per-token counts and the per-(token, label) counts)."""
    from ..checkpoints import scoped_checkpoint
    from .textops import presence_select

    table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    ex = spark.sql(presence_select(duck=False))
    scoped_checkpoint(ex, "leak_ex").createOrReplaceTempView("leak_ex")
    return spark.sql("WITH " + _leakage_sql("leak_ex"))


def label_leakage_oracle() -> str:
    from .textops import presence_select

    return (
        f"WITH ex AS MATERIALIZED ({presence_select(duck=True)}), "
        + _leakage_sql("ex")
    )


# ---------------------------------------------------------------------------
# dp_counts — ε-differentially-private count release (Dwork et al. 2006:
# Laplace mechanism), completing the privacy family's second half:
# kanon_audit DIAGNOSES re-identification risk in data you keep,
# dp_counts is the mechanism for the numbers you RELEASE. Per-
# (lang, source) document counts with sensitivity 1 (one document moves
# one cell by one), Laplace(1/ε) noise, non-negativity clamp and
# integer rounding as post-processing (both privacy-free under the
# post-processing theorem).
#
# Determinism caveat, stated loudly: the noise here is SEEDED — a
# md5-hash uniform pushed through the Laplace inverse CDF — because the
# differential gate must reproduce the release bit-for-bit on two
# engines. Seeded noise is NOT private (an adversary who knows the seed
# subtracts it); a production release swaps ONE expression — the
# hash-uniform for a secure RNG draw — and every other part (the
# sensitivity analysis, the ε accounting, the clamp, the rounding, the
# never-materialize-true-counts discipline) is exactly what ships. The
# op therefore demonstrates and tests the MECHANICS of a DP release
# pipeline, which is the part a data platform owns; entropy is the
# deployment's job.
#
# Exactness: true counts BIGINT; u = (md5-derived integer + 0.5)/10⁶ is
# an exact rational in (0,1); the only float work is one ln() and one
# multiply, rounded 6 dp before the add — the established discipline.
#
# At 100 TB: one map-side-combinable groupBy; noise is a per-group
# narrow expression; the release is O(groups) rows. Nothing else moves.
# ---------------------------------------------------------------------------

DP_EPSILON = 1.0  # Laplace scale b = sensitivity / epsilon = 1


def _dp_sql(md5int: str) -> str:
    u = f"(({md5int} % 1000000) + 0.5) / 1000000.0"
    noise = (
        f"round(CASE WHEN {u} < 0.5 THEN ln(2.0 * ({u})) "
        f"ELSE -ln(2.0 * (1.0 - ({u}))) END, 6)"
    )
    return f"""
    g AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS true_n
          FROM documents GROUP BY lang, source),
    noisy AS (SELECT lang, source,
                     CAST(round(true_n + {noise}) AS BIGINT) AS released
              FROM g)
    SELECT lang, source,
           CASE WHEN released < 0 THEN CAST(0 AS BIGINT) ELSE released END
             AS released_n,
           CAST({DP_EPSILON} AS DOUBLE) AS epsilon
    FROM noisy
    ORDER BY lang, source
    """


_DP_SEED_S = "concat('dp1:', lang, ':', source)"


def dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N100: Laplace-mechanism DP count release (seeded for the gate)."""
    table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    md5int = f"CAST(conv(substr(md5({_DP_SEED_S}), 1, 12), 16, 10) AS BIGINT)"
    return spark.sql("WITH " + _dp_sql(md5int))


def dp_counts_oracle() -> str:
    md5int = (
        f"CAST(concat('0x', substr(md5({_DP_SEED_S}), 1, 12)) AS BIGINT)"
    )
    return "WITH " + _dp_sql(md5int)


# ---------------------------------------------------------------------------
# benford_audit — first-significant-digit distribution of order totals
# against Benford's law: the classic fabricated-/corrupted-numeric-data
# screen (a synthetic generator, a broken currency conversion, or a
# truncating ETL step all bend the leading-digit curve long before any
# range constraint fires). Complements constraint_audit: ranges say
# "values are legal", Benford says "values are PLAUSIBLE as a
# population".
#
# Exactness: the digit is extracted from the BIGINT cents carrier via
# integer string representation (substr of a BIGINT's text form —
# engine-stable, unlike float log10 at power-of-ten knife edges); all
# counts are exact BIGINTs joined onto a literal 9-row digit spine so
# zero-count digits still report. Doubles appear only in the final
# readout columns (observed share, Benford share log10(1+1/d), and the
# chi-square term n·(obs−exp)²/exp), each rounded 6 dp.
#
# Shape: one map-side-combinable fold into 9 rows, then a broadcast
# join against the literal spine. Nothing here scales with anything
# but the digit alphabet.
# ---------------------------------------------------------------------------

_BENFORD_BODY = """
digits AS (SELECT CAST(d AS BIGINT) AS digit
           FROM (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9)) AS t(d)),
obs AS (SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                                AS STRING), 1, 1) AS BIGINT) AS digit,
               CAST(count(*) AS BIGINT) AS n_obs
        FROM orders WHERE o_totalprice > 0
        GROUP BY 1),
tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM obs)
SELECT d.digit,
       CAST(coalesce(o.n_obs, 0) AS BIGINT) AS n_obs,
       round(CAST(coalesce(o.n_obs, 0) AS DOUBLE) / tot.n, 6) AS obs_share,
       round(log10(1.0e0 + 1.0e0 / d.digit), 6) AS benford_share,
       round(power(CAST(coalesce(o.n_obs, 0) AS DOUBLE) / tot.n
                   - log10(1.0e0 + 1.0e0 / d.digit), 2)
             / log10(1.0e0 + 1.0e0 / d.digit) * tot.n, 6) AS chi2_term
FROM digits d LEFT JOIN obs o ON o.digit = d.digit, tot
"""


def benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N115: Benford first-digit audit of order totals."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql("WITH " + _BENFORD_BODY)


def benford_audit_oracle() -> str:
    return "WITH " + _BENFORD_BODY


# ---------------------------------------------------------------------------
# profile — the per-column data-profiling report (the Deequ-analyzer /
# PROFILE shape): for every audited column, row count, null count,
# exact distinct count, and min/max. constraint_audit answers "does
# the table satisfy MY rules?"; profile answers "what IS this table?"
# — the first query anyone runs against an unfamiliar 100 TB estate,
# and the input from which constraints get written.
#
# Same one-scan discipline as constraint_audit: all per-column stats
# fold into ONE aggregate row per table (conditional aggregates share
# the scan; the count(DISTINCT) legs expand map-side), and Spark's
# stack() unpivots that row — a UNION ALL over a multi-referenced CTE
# would re-scan per column. The oracle unpivots via UNION ALL (DuckDB
# materializes multi-referenced CTEs; oracle plan cost is irrelevant).
#
# Representation discipline: min/max are emitted as STRINGs for a
# uniform report schema, but only from engine-stable renderings —
# BIGINTs and VARCHARs directly, DOUBLEs through their exact integer
# cents carrier (float→string formatting differs across engines;
# integer→string never does). Timestamp columns are profiled by their
# epoch-second BIGINT for the same reason.
# ---------------------------------------------------------------------------

_PROFILE_ORDERS = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) - count(o_orderkey) AS BIGINT) AS nn_okey,
       CAST(count(DISTINCT o_orderkey) AS BIGINT) AS nd_okey,
       CAST(CAST(min(o_orderkey) AS BIGINT) AS STRING) AS mn_okey,
       CAST(CAST(max(o_orderkey) AS BIGINT) AS STRING) AS mx_okey,
       CAST(count(*) - count(o_custkey) AS BIGINT) AS nn_ckey,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS nd_ckey,
       CAST(CAST(min(o_custkey) AS BIGINT) AS STRING) AS mn_ckey,
       CAST(CAST(max(o_custkey) AS BIGINT) AS STRING) AS mx_ckey,
       CAST(count(*) - count(o_orderstatus) AS BIGINT) AS nn_stat,
       CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS nd_stat,
       min(o_orderstatus) AS mn_stat,
       max(o_orderstatus) AS mx_stat,
       CAST(count(*) - count(o_totalprice) AS BIGINT) AS nn_price,
       CAST(count(DISTINCT CAST(round(o_totalprice * 100) AS BIGINT))
            AS BIGINT) AS nd_price,
       CAST(CAST(round(min(o_totalprice) * 100) AS BIGINT) AS STRING)
         AS mn_price,
       CAST(CAST(round(max(o_totalprice) * 100) AS BIGINT) AS STRING)
         AS mx_price,
       CAST(count(*) - count(o_orderpriority) AS BIGINT) AS nn_prio,
       CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS nd_prio,
       min(o_orderpriority) AS mn_prio,
       max(o_orderpriority) AS mx_prio
FROM orders
"""

_PROFILE_DOCS = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) - count(doc_id) AS BIGINT) AS nn_doc,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS nd_doc,
       CAST(CAST(min(doc_id) AS BIGINT) AS STRING) AS mn_doc,
       CAST(CAST(max(doc_id) AS BIGINT) AS STRING) AS mx_doc,
       CAST(count(*) - count(lang) AS BIGINT) AS nn_lang,
       CAST(count(DISTINCT lang) AS BIGINT) AS nd_lang,
       min(lang) AS mn_lang,
       max(lang) AS mx_lang,
       CAST(count(*) - count(source) AS BIGINT) AS nn_src,
       CAST(count(DISTINCT source) AS BIGINT) AS nd_src,
       min(source) AS mn_src,
       max(source) AS mx_src,
       CAST(count(*) - count(n_chars) AS BIGINT) AS nn_nc,
       CAST(count(DISTINCT n_chars) AS BIGINT) AS nd_nc,
       CAST(CAST(min(n_chars) AS BIGINT) AS STRING) AS mn_nc,
       CAST(CAST(max(n_chars) AS BIGINT) AS STRING) AS mx_nc
FROM documents
"""

_PROFILE_COLS = {
    "orders": [
        ("o_orderkey", "okey"), ("o_custkey", "ckey"),
        ("o_orderstatus", "stat"), ("o_totalprice_cents", "price"),
        ("o_orderpriority", "prio"),
    ],
    "documents": [
        ("doc_id", "doc"), ("lang", "lang"),
        ("source", "src"), ("n_chars", "nc"),
    ],
}


def _profile_stack(tbl: str) -> str:
    cols = _PROFILE_COLS[tbl]
    args = ", ".join(
        f"'{name}', n_rows, nn_{s}, nd_{s}, mn_{s}, mx_{s}"
        for name, s in cols
    )
    return (
        f"SELECT '{tbl}' AS table_name, stack({len(cols)}, {args}) AS "
        "(column_name, n_rows, n_null, n_distinct, min_repr, max_repr)"
    )


def _profile_union(tbl: str, src: str) -> str:
    cols = _PROFILE_COLS[tbl]
    return "\n  UNION ALL\n".join(
        f"  SELECT '{tbl}' AS table_name, '{name}' AS column_name, "
        f"n_rows, nn_{s} AS n_null, nd_{s} AS n_distinct, "
        f"mn_{s} AS min_repr, mx_{s} AS max_repr FROM {src}"
        for name, s in cols
    )


def profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N119: per-column profiling report, one scan per table."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        f"WITH o AS ({_PROFILE_ORDERS}), d AS ({_PROFILE_DOCS}) "
        f"{_profile_stack('orders')} FROM o UNION ALL "
        f"{_profile_stack('documents')} FROM d"
    )


def profile_oracle() -> str:
    return (
        f"WITH o AS MATERIALIZED ({_PROFILE_ORDERS}), "
        f"d AS MATERIALIZED ({_PROFILE_DOCS}) "
        f"{_profile_union('orders', 'o')} UNION ALL "
        f"{_profile_union('documents', 'd')}"
    )


# ---------------------------------------------------------------------------
# corr_matrix — pairwise Pearson correlation over lineitem's numeric
# measures (quantity, extendedprice, discount, tax): the profiling step
# after q_profile's per-column view — which columns MOVE TOGETHER. The
# multicollinearity screen before any model fit, and the redundancy map
# before wide-table layout decisions (correlated columns compress/
# cluster together; q_zorder_stats decides layout, this decides which
# columns deserve one).
#
# Exactness: values enter as centi-unit BIGINTs (all four measures are
# 2-decimal business numbers); the five moments per pair (n, Σx, Σy,
# Σxy, Σx², Σy²) fold as exact DECIMAL(38,0) carriers (pairwise
# products hit ~1e14/row at sf0.1 — BIGINT would overflow the sum well
# before 100 TB). Every double exists only in the final 1-row corr
# expression, spelled identically on both engines; the whole matrix is
# ONE scan + ONE 1-row reduce (all 14 moments in a single partial-agg
# fold — map-side combined, nothing shuffles but 14 numbers/partition).
# ---------------------------------------------------------------------------

_CORR_COLS = [
    ("quantity", "l_quantity"),
    ("extendedprice", "l_extendedprice"),
    ("discount", "l_discount"),
    ("tax", "l_tax"),
]


def _corr_matrix_sql(pack: str) -> str:
    cols = _CORR_COLS
    cents = ", ".join(
        f"CAST(round({src} * 100) AS BIGINT) AS c{i}"
        for i, (_, src) in enumerate(cols)
    )
    sums = ["CAST(count(*) AS BIGINT) AS n"]
    for i in range(len(cols)):
        sums.append(f"CAST(sum(c{i}) AS DECIMAL(38, 0)) AS s{i}")
    for i in range(len(cols)):
        for j in range(i, len(cols)):
            sums.append(
                f"CAST(sum(CAST(c{i} AS DECIMAL(18, 0))"
                f" * CAST(c{j} AS DECIMAL(18, 0))) AS DECIMAL(38, 0))"
                f" AS p{i}{j}"
            )

    def corr(i: int, j: int) -> str:
        return (
            f"round((CAST(n AS DOUBLE) * CAST(p{i}{j} AS DOUBLE)"
            f" - CAST(s{i} AS DOUBLE) * CAST(s{j} AS DOUBLE))"
            f" / (sqrt(CAST(n AS DOUBLE) * CAST(p{i}{i} AS DOUBLE)"
            f"     - CAST(s{i} AS DOUBLE) * CAST(s{i} AS DOUBLE))"
            f"  * sqrt(CAST(n AS DOUBLE) * CAST(p{j}{j} AS DOUBLE)"
            f"     - CAST(s{j} AS DOUBLE) * CAST(s{j} AS DOUBLE))), 6)"
        )

    structs = ", ".join(
        pack.format(x=cols[i][0], y=cols[j][0], corr=corr(i, j))
        for i in range(len(cols))
        for j in range(i + 1, len(cols))
    )
    return f"""
    li AS (SELECT {cents} FROM lineitem),
    m AS (SELECT {", ".join(sums)} FROM li)
    """, structs


def corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N141: exact-moment Pearson matrix over lineitem measures."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    body, structs = _corr_matrix_sql(
        "named_struct('col_x', '{x}', 'col_y', '{y}', 'n', n,"
        " 'corr', {corr})"
    )
    return spark.sql(
        f"WITH {body} SELECT inline(array({structs})) FROM m"
    )


def corr_matrix_oracle() -> str:
    body, structs = _corr_matrix_sql(
        "struct_pack(col_x := '{x}', col_y := '{y}', n := n,"
        " corr := {corr})"
    )
    return (
        f"WITH {body} SELECT unnest([{structs}], recursive := true) FROM m"
    )


# ---------------------------------------------------------------------------
# mutual_info — mutual information (bits) between `lang` and `source`
# + normalized MI: the information-theoretic dependence audit next to
# q_chi2's significance test (χ² asks "is the association real", MI
# asks "how many BITS does knowing the source tell you about the
# language" — the quantity that decides whether a sampling mix can
# treat the two as independent strata). Completes the trio with
# label_leakage (token↔label MI screen): this is the metadata↔metadata
# edition over the documents table.
#
# MI = Σ_ij (c_ij/N)·log2(N·c_ij/(r_i·c_j)); H(lang), H(source), and
# NMI = MI / min(H_lang, H_source). Counts and margins exact BIGINTs;
# each cell's log2 rounds 6 dp → DECIMAL(18,6) × exact DECIMAL count,
# so all three sums are exact decimal arithmetic (order-independent);
# the log2 argument is composed in DOUBLE (c·N overflows BIGINT at
# corpus scale — the ratio doesn't).
#
# ONE map-side-combinable (lang, source) fold; margins re-fold the
# O(langs·sources) cell frame; 1-row readout.
# ---------------------------------------------------------------------------


_MI_CELLS_BATCH = (
    "SELECT lang, source, CAST(count(*) AS BIGINT) AS c"
    " FROM documents GROUP BY lang, source"
)


def _mi_sql(cells_src: str = _MI_CELLS_BATCH) -> str:
    log_ratio = (
        "log2(CAST(c.c AS DOUBLE) * CAST(n1.n AS DOUBLE)"
        " / (CAST(rl.rc AS DOUBLE) * CAST(cs.cc AS DOUBLE)))"
    )
    h = (
        "round(-CAST(sum(CAST({tot} AS DECIMAL(18, 0))"
        " * CAST(round(log2(CAST({tot} AS DOUBLE)"
        " / CAST(n1.n AS DOUBLE)), 6) AS DECIMAL(18, 6))) AS DOUBLE)"
        " / CAST(max(n1.n) AS DOUBLE), 6)"
    )
    return f"""
    cells AS ({cells_src}),
    rl AS (SELECT lang, CAST(sum(c) AS BIGINT) AS rc
           FROM cells GROUP BY lang),
    cs AS (SELECT source, CAST(sum(c) AS BIGINT) AS cc
           FROM cells GROUP BY source),
    n1 AS (SELECT CAST(sum(c) AS BIGINT) AS n,
                  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                  CAST(count(DISTINCT source) AS BIGINT) AS n_sources
           FROM cells),
    mi AS (SELECT round(CAST(sum(CAST(c.c AS DECIMAL(18, 0))
                   * CAST(round({log_ratio}, 6) AS DECIMAL(18, 6)))
                   AS DOUBLE) / CAST(max(n1.n) AS DOUBLE), 6) AS mi_bits
           FROM cells c
           JOIN rl ON rl.lang = c.lang
           JOIN cs ON cs.source = c.source
           CROSS JOIN n1),
    hl AS (SELECT {h.format(tot="rl.rc")} AS h_lang
           FROM rl CROSS JOIN n1),
    hs AS (SELECT {h.format(tot="cs.cc")} AS h_source
           FROM cs CROSS JOIN n1)
    SELECT n1.n, n1.n_langs, n1.n_sources,
           mi.mi_bits, hl.h_lang, hs.h_source,
           round(mi.mi_bits / least(hl.h_lang, hs.h_source), 6) AS nmi
    FROM mi CROSS JOIN hl CROSS JOIN hs CROSS JOIN n1
    """


def mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N142: lang↔source mutual information + NMI dependence audit."""
    table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql("WITH " + _mi_sql())


def mutual_info_oracle() -> str:
    return "WITH " + _mi_sql()


# ---------------------------------------------------------------------------
# Streaming mutual information — the merge-algebra family's first
# NONLINEAR readout: the (lang, source) contingency cells are additive
# partials (the same fenced snapshot merge as the leaderboard/drift
# streams), and MI/H/NMI are re-DERIVED per read over the merged
# O(langs·sources) snapshot. The claim this stream adds over its
# additive siblings: an information-theoretic statistic — entropies,
# normalized MI — is batch-boundary-invisible as long as its SUFFICIENT
# STATISTIC is mergeable; the nonlinearity lives entirely in the
# read-time projection. Two REAL availableNow passes over parity-split
# documents must hash-match the one-shot batch q_mutual_info oracle.
# State is O(langs·sources) regardless of stream length.
# ---------------------------------------------------------------------------

_MI_SNAP_SCHEMA = "lang string, source string, c bigint"


def _merge_mi_cells(
    spark: SparkSession, batch_df: DataFrame, snap_dir: str, batch_id: int
) -> None:
    from pyspark.sql import functions as F

    delta = batch_df.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    passes.merge_snapshot(
        spark, snap_dir, batch_id, _MI_SNAP_SCHEMA,
        lambda current: passes.add_on_keys(
            current, delta, ["lang", "source"], ["c"]
        ).repartition(2, "lang"),
    )


def stream_mutual_info_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """T16, oracle-checked: two availableNow passes over parity-split
    documents maintaining the contingency-cell snapshot; the MI/H/NMI
    readout over the merged cells must hash-match the one-shot batch
    q_mutual_info."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source"
    )
    snap = passes.two_pass(
        spark, sf_dir, "t16_mi_", docs.filter("doc_id % 2 = 0"),
        docs.filter("doc_id % 2 = 1"),
        passes.foreach_merge(
            spark, "doc_id bigint, lang string, source string", _merge_mi_cells
        ),
    )
    spark.read.parquet(snap).createOrReplaceTempView("mi_snap")
    return spark.sql(
        "WITH " + _mi_sql("SELECT lang, source, c FROM mi_snap")
    )


# ---------------------------------------------------------------------------
# simpsons_audit — correlation-reversal (Simpson's paradox) detection:
# does the POOLED quantity↔unit-price relationship across all lineitems
# carry the same sign as the WITHIN-brand relationship? Aggregate-level
# dashboards routinely read the pooled slope; if strata reverse it, the
# pooled number is a composition artifact, not a causal readout — the
# audit every pricing/elasticity analysis should run before trusting a
# trend (the stratified sibling of q_price_elasticity, which estimates
# the within-stratum slope this audit validates the DIRECTION of).
# Exactness: x = integer quantity, y = unit price in exact micro-units;
# each covariance numerator n·Σxy − Σx·Σy is assembled in DECIMAL(38,0)
# (the squared-sum overflow lesson — BIGINT dies at 10×), so every SIGN
# is exact integer arithmetic and the flip verdict is bit-exact. The
# published slope is one double division of those exact carriers.
# Scale shape: part dim broadcast onto lineitem, ONE brand-keyed
# map-side-combinable moment fold (O(#brands) rows), pooled row = the
# same moments re-folded, crossed back (1-row frame, whitelist contract).
# ---------------------------------------------------------------------------


def _simpsons_sql() -> str:
    dec = "DECIMAL(38,0)"
    return f"""
    li AS (SELECT p.p_brand AS brand,
                  CAST(round(l.l_quantity) AS BIGINT) AS x,
                  CAST(round(l.l_extendedprice * 1000000 / l.l_quantity)
                       AS BIGINT) AS y
           FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
    m AS (SELECT brand, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(CAST(x AS {dec}) * y) AS {dec}) AS sxy,
                 CAST(sum(CAST(x AS {dec}) * x) AS {dec}) AS sxx
          FROM li GROUP BY brand),
    pooled AS (SELECT CAST(sum(n) AS BIGINT) AS n,
                      CAST(sum(sx) AS BIGINT) AS sx,
                      CAST(sum(sy) AS BIGINT) AS sy,
                      CAST(sum(sxy) AS {dec}) AS sxy,
                      CAST(sum(sxx) AS {dec}) AS sxx
               FROM m),
    sgn AS (SELECT m.brand, m.n,
                   CAST(m.n AS {dec}) * m.sxy
                     - CAST(m.sx AS {dec}) * m.sy AS cov_num,
                   CAST(m.n AS {dec}) * m.sxx
                     - CAST(m.sx AS {dec}) * m.sx AS var_num,
                   CAST(p.n AS {dec}) * p.sxy
                     - CAST(p.sx AS {dec}) * p.sy AS pool_cov_num,
                   CAST(p.n AS {dec}) * p.sxx
                     - CAST(p.sx AS {dec}) * p.sx AS pool_var_num
            FROM m CROSS JOIN pooled p)
    SELECT brand, n,
           CAST(sign(cov_num) AS BIGINT) AS within_sign,
           CAST(sign(pool_cov_num) AS BIGINT) AS pooled_sign,
           CAST(sign(cov_num) AS BIGINT)
             <> CAST(sign(pool_cov_num) AS BIGINT) AS flipped,
           round(CAST(cov_num AS DOUBLE) / CAST(var_num AS DOUBLE), 6)
             AS slope_upm_r6,
           round(CAST(pool_cov_num AS DOUBLE)
                 / CAST(pool_var_num AS DOUBLE), 6) AS pooled_slope_upm_r6
    FROM sgn
    """


def simpsons_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N184: Simpson's-paradox sign audit, exact DECIMAL(38,0) interior."""
    for t in ("lineitem", "part"):
        table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql("WITH " + _simpsons_sql())


def simpsons_audit_oracle() -> str:
    return "WITH " + _simpsons_sql()


# ---------------------------------------------------------------------------
# filter_parity — subgroup FAIRNESS audit of the quality filter: does the
# pass rate differ across languages enough to skew the corpus mix? The
# four-fifths (80%) rule from disparate-impact testing, applied where a
# training-data pipeline actually needs it — a filter that passes one
# language at half another's rate silently rewrites the data mix, and
# nobody reviews that decision unless an audit emits it. Threshold =
# the corpus MEDIAN quality score (data-derived, so the audit stays
# non-degenerate at every scale factor); pass = strictly above. All
# rates exact integer basis points; parity compares each group against
# the MOST-FAVORED group (the rule's definition), flag at < 8000 bp.
# Scale: one narrow scan → the 1-row median frame (boundary-broadcast
# discipline) → one lang-keyed fold → a 1-row max-rate frame crossed
# back. Nothing data-scaled re-shuffles.
# ---------------------------------------------------------------------------


def _filter_parity_sql(quality: str, pct: str, idiv: str) -> str:
    return f"""
    q AS (SELECT doc_id, lang, {quality} AS qual FROM tk),
    thr AS (SELECT {pct}(qual, 0.5) AS med FROM q),
    flags AS (SELECT lang,
                     CASE WHEN qual > t.med THEN 1 ELSE 0 END AS pass
              FROM q CROSS JOIN thr t),
    g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(pass) AS BIGINT) AS n_pass,
                 CAST(sum(pass) * 10000 {idiv} count(*) AS BIGINT)
                   AS pass_bp
          FROM flags GROUP BY lang),
    mx AS (SELECT CAST(max(pass_bp) AS BIGINT) AS max_bp FROM g)
    SELECT g.lang, g.n_docs, g.n_pass, g.pass_bp, m.max_bp,
           CAST(g.pass_bp * 10000 {idiv} greatest(m.max_bp, 1) AS BIGINT)
             AS parity_bp,
           g.pass_bp * 10000 {idiv} greatest(m.max_bp, 1) < 8000
             AS four_fifths_flag
    FROM g CROSS JOIN mx m
    """


def filter_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N202: four-fifths-rule parity audit of the quality filter by lang."""
    from ..functions import text as T

    table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        f"WITH tk AS (SELECT *, {T.TOKS_SPARK} AS toks FROM documents),"
        + _filter_parity_sql(T.quality_spark(), "percentile", "div")
    )


def filter_parity_oracle() -> str:
    from ..functions import text as T

    return (
        f"WITH tk AS (SELECT *, {T.TOKS_DUCK} AS toks FROM documents),"
        + _filter_parity_sql(T.quality_duck(), "quantile_cont", "//")
    )
