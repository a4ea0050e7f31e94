"""Physical-layout planning & shuffle-health diagnostics (SURVEY §2.11 ext).

Operating a 100 TB table is as much about LAYOUT as about queries: which
keys skew the shuffles, and how to cluster files so scans skip data.
These operators are the planning/diagnostic passes an operator of a
large deployment runs (the reference — /root/reference/main.go — has no
storage layer at all; north-star scope per BASELINE.json):

- ``skew_report``  — group-size distribution for a prospective shuffle
  key: per-decile group counts and sizes plus min/max. The report that
  decides between a plain hash shuffle, salting (q_groupby_concat_salted
  / q_join_salted), and AQE skew-join handling.
- ``zorder_stats`` — Z-order (Morton) interleaving of two dimensions
  into a space-filling-curve key, rows assigned to files by z-region,
  with per-file min/max extents on BOTH dimensions — the data-skipping
  index a lakehouse OPTIMIZE ZORDER produces, and the evidence that a
  2-D-filtered scan can prune most files.

Both are exact integer computations, differentially oracled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..checkpoints import scoped_checkpoint
from ..tables import table

# ---------------------------------------------------------------------------
# skew_report — one map-side-combinable fold to (key, n) — the shuffle
# under diagnosis is the one being sized, so this costs exactly one run
# of it — then a decile cut over GROUP SIZES by value against exact
# decile boundaries (the q_rfm_segments boundary-broadcast pattern,
# VERDICT r3 #3): `percentile`/`quantile_cont` collapse the (key, n)
# frame to ONE 9-boundary row (Spark's Percentile partial-aggregates
# value-count buffers map-side — no executor holds the key list), and
# each key classifies narrowly as 1 + #(boundaries < n). The previous
# spelling — `ntile(10) OVER (ORDER BY n, user_id)` — was an
# unpartitioned WindowExec over O(#keys) rows: #keys ≈ #users scales
# with data, so at 100 TB that is a whole-keyspace sort on one executor.
# Value cuts put size-ties in the same decile (the honest histogram for
# a skew report — heavily-tied small sizes no longer straddle bins);
# boundary values are interpolated doubles, bit-identical cross-engine
# (q_percentiles precedent), and integer n vs double boundary compares
# exactly. Oracle moves in lockstep.
# ---------------------------------------------------------------------------


def _skew_report_sql(pct: str, arr: str, idx) -> str:
    ladder = " + ".join(
        f"CAST(n > db[{idx(k)}] AS BIGINT)" for k in range(9)
    )
    return f"""
    WITH g AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n
               FROM events GROUP BY user_id),
    b AS (SELECT {pct}(n, {arr}) AS db FROM g),
    d AS (SELECT n, 1 + {ladder} AS decile FROM g CROSS JOIN b)
    SELECT decile,
           CAST(count(*) AS BIGINT) AS n_groups,
           min(n) AS min_size,
           max(n) AS max_size,
           CAST(sum(n) AS BIGINT) AS sum_rows
    FROM d GROUP BY decile
    """


_DECILES = ", ".join(f"0.{k}" for k in range(1, 10))


def skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-decile group-size distribution for ``events.user_id`` — the
    shuffle-key health report (max_size/avg in the top decile is the
    skew factor that picks plain hash vs salting vs AQE skew split)."""
    table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        _skew_report_sql("percentile", f"array({_DECILES})", lambda k: k)
    )


def skew_report_oracle() -> str:
    return _skew_report_sql(
        "quantile_cont", f"[{_DECILES}]", lambda k: k + 1
    )


# ---------------------------------------------------------------------------
# zorder_stats — Morton interleave of (o_custkey, order epoch-day), both
# masked to 16 bits; z-region = top 4 bits of the 32-bit z-value → 16
# files. The bit-spread is the standard shift-or-mask ladder (5 narrow
# integer ops per dimension — whole-stage codegen, zero shuffle); the
# only shuffle is the final 16-group stats fold. Production writes the
# rows range-partitioned by zval (a parallel sort-shuffle); file
# assignment by fixed z-region keeps THIS op narrow and the oracle
# exact, and the emitted per-file (custkey, day) extents are precisely
# the min/max skipping index readers prune on.
# ---------------------------------------------------------------------------


def _spread(col: str) -> str:
    """Interleave zeros between the low 16 bits of ``col`` (portable:
    only <<, &, | — identical operators in Spark SQL and DuckDB)."""
    s = f"({col} & 65535)"
    for shift, mask in ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)):
        s = f"(({s} | ({s} << {shift})) & {mask})"
    return s


def _zorder_sql(day_expr: str, idiv: str) -> str:
    """``idiv`` is the engine's integer-division operator (Spark ``div``,
    DuckDB ``//``) — float division would be 1-ulp-fragile exactly at the
    integer boundaries the curve cuts on. Dimensions are min-max scaled
    to the full 16-bit range first (raw keys rarely fill their bit width,
    which would collapse every row into one z-region); the 1-row extent
    frame rides the established CROSS JOIN scalar-broadcast pattern
    (bm25/unigram_logprob)."""
    zx = _spread("x16")
    zy = _spread("y16")
    return f"""
    WITH b AS (SELECT o_custkey, {day_expr} AS d FROM orders),
    s AS (SELECT min(o_custkey) AS cmin, max(o_custkey) AS cmax,
                 min(d) AS dmin, max(d) AS dmax
          FROM b),
    n AS (SELECT o_custkey, d,
                 coalesce(((o_custkey - cmin) * 65535) {idiv} nullif(cmax - cmin, 0), 0) AS x16,
                 coalesce(((d - dmin) * 65535) {idiv} nullif(dmax - dmin, 0), 0) AS y16
          FROM b CROSS JOIN s),
    z AS (SELECT o_custkey, d,
                 CAST(({zx}) | (({zy}) << 1) AS BIGINT) AS zval
          FROM n)
    SELECT CAST((zval >> 28) AS BIGINT) AS file_id,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(o_custkey) AS min_custkey, max(o_custkey) AS max_custkey,
           min(d) AS min_day, max(d) AS max_day
    FROM z GROUP BY file_id
    """


def zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        _zorder_sql(
            "CAST(datediff(CAST(o_orderdate AS DATE), DATE '1992-01-01') AS BIGINT)",
            "div",
        )
    )


def zorder_stats_oracle() -> str:
    return _zorder_sql(
        "CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT)",
        "//",
    )


# ---------------------------------------------------------------------------
# gini_concentration — corpus-concentration audit: the Gini coefficient
# (plus top-source share) of BYTES per source over ``documents``. The
# curation readout behind every mixing policy (mix_temperature upweights
# tails on the premise that mass is concentrated; this measures HOW
# concentrated) and the corpus-level sibling of skew_report (that one
# sizes a shuffle key, this one audits the data estate itself).
#
# G = (2·Σᵢ i·x₍ᵢ₎ − (m+1)·Σx) / (m·Σx) over ascending-sorted masses —
# every term integer. The rank-weighted sum Σ i·x₍ᵢ₎ never sorts
# globally: masses fold to distinct values, values are coarsened into
# DIGIT-CLASS buckets (b = 1000·digits(x) + top-3-digits(x), a pure
# integer coarsening of the numeric order, ≤ ~19k buckets regardless of
# data volume), bucket offsets are a prefix sum over that bounded frame,
# and the tied-block contribution x·(t·off + t(t+1)/2) is decided per
# distinct value with exact integers (t(t+1) is always even, so the
# halving is exact in both engines' integer division). DECIMAL(38,0)
# carriers keep rank×mass products safe past BIGINT at petabyte masses.
# The only doubles are the final two divisions, rounded 6 dp.
# ---------------------------------------------------------------------------


def _gini_sql(idiv: str) -> str:
    return f"""
    src AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS x
            FROM documents GROUP BY source),
    vals AS (SELECT x, CAST(count(*) AS BIGINT) AS t,
                    CAST(length(CAST(x AS STRING)) * 1000
                         + x {idiv} CAST(power(10, greatest(
                               length(CAST(x AS STRING)) - 3, 0))
                             AS BIGINT) AS BIGINT) AS b
             FROM src GROUP BY x),
    bt AS (SELECT b, CAST(sum(t) AS BIGINT) AS tb FROM vals GROUP BY b),
    boff AS (SELECT b,
               CAST(coalesce(sum(tb) OVER (ORDER BY b
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS BIGINT) AS off
             FROM bt),
    cum AS (SELECT v.x, v.t,
                   CAST(o.off + sum(v.t) OVER (PARTITION BY v.b
                          ORDER BY v.x ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) - v.t AS BIGINT) AS lo
            FROM vals v JOIN boff o ON o.b = v.b),
    six AS (SELECT CAST(sum(CAST(x AS DECIMAL(18,0))
                            * (CAST(t AS DECIMAL(18,0)) * lo
                               + CAST(t * (t + 1) {idiv} 2
                                      AS DECIMAL(18,0))))
                        AS DECIMAL(38,0)) AS v
            FROM cum),
    nn AS (SELECT CAST(count(*) AS DECIMAL(18,0)) AS m,
                  CAST(sum(x) AS DECIMAL(18,0)) AS s,
                  CAST(max(x) AS BIGINT) AS mx,
                  CAST(count(*) AS BIGINT) AS n_sources,
                  CAST(sum(x) AS BIGINT) AS total_chars
           FROM src)
    SELECT nn.n_sources, nn.total_chars,
           round(CAST(2 * six.v - (nn.m + 1) * nn.s AS DOUBLE)
                 / CAST(nn.m * nn.s AS DOUBLE), 6) AS gini,
           round(CAST(nn.mx AS DOUBLE) / nn.total_chars, 6) AS top1_share
    FROM nn, six
    """


def gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N116: exact rank-weighted Gini of bytes-per-source, no global sort."""
    table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql("WITH " + _gini_sql("div"))


def gini_concentration_oracle() -> str:
    return "WITH " + _gini_sql("//")


# ---------------------------------------------------------------------------
# hill_tail — Hill estimator of the revenue distribution's tail index:
# α̂ = k / Σᵢ ln(x₍ᵢ₎/x₍ₖ₊₁₎) over the top-k order statistics. The
# tail-RISK audit that completes the concentration family: gini says
# how unequal the masses are, zipf says how the middle decays,
# benford says the digits are plausible — Hill says whether the tail
# is heavy enough that sums are dominated by single records (α ≤ 2
# means infinite variance: capacity planning, sampling error bars and
# mean-based SLAs all break). Heavy-tail awareness is exactly what
# separates p99 engineering from mean engineering at 100 TB.
#
# Shape: the top-(k+1) multiset arrives via ORDER BY ... LIMIT — a
# TakeOrderedAndProject, never a global sort — with o_orderkey
# tie-break making the cut deterministic; the rank window runs on the
# LIMIT-bounded frame (k+1 rows by construction). Only doubles: the
# ln ratios and the final division, rounded 6 dp.
# ---------------------------------------------------------------------------

HILL_K = 200  # top-k order statistics in the estimator


def _hill_sql() -> str:
    return f"""
    t AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c, o_orderkey
          FROM orders ORDER BY c DESC, o_orderkey LIMIT {HILL_K + 1}),
    r AS (SELECT c, row_number() OVER (ORDER BY c DESC, o_orderkey) AS rk
          FROM t),
    th AS (SELECT CAST(c AS BIGINT) AS xk FROM r WHERE rk = {HILL_K + 1})
    SELECT CAST({HILL_K} AS BIGINT) AS k,
           th.xk AS threshold_cents,
           round({HILL_K} / sum(ln(CAST(r.c AS DOUBLE) / th.xk)), 6)
             AS hill_alpha
    FROM r, th WHERE r.rk <= {HILL_K}
    GROUP BY th.xk
    """


def hill_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N131: Hill tail-index over TakeOrdered top-k order statistics."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql("WITH " + _hill_sql())


def hill_tail_oracle() -> str:
    return "WITH " + _hill_sql()


# ---------------------------------------------------------------------------
# schema_merge — the schema-EVOLUTION read: a 100 TB estate is never
# written by one schema version; files laid down before a column
# existed must scan as NULL next to files that carry it. This op
# exercises Spark's real reader capability (parquet `mergeSchema`) on
# a deterministic two-generation layout derived from events — an
# either-generation id/type spine where generation 1 lacks the
# value_cents column and generation 2 carries it — then emits the
# schema-evolution audit: per column, rows present vs NULL-backfilled.
# The oracle re-derives the same audit from the events table by parity
# arithmetic, so the on-disk evolution plumbing (write old-schema
# files, write new-schema files, merged scan) is what is actually
# under differential test. Executes at plan time like the streaming
# ops (whitelisted in _EXECUTING); scratch files are session-scoped.
# ---------------------------------------------------------------------------


def schema_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10: mergeSchema scan over a two-generation parquet layout."""
    import os

    from pyspark.sql import functions as F

    from ..streaming.passes import scratch_dir

    base = scratch_dir("s10_schemamerge_")
    ev = table(spark, sf_dir, "events")
    # generation 1: before the value column existed
    ev.filter("event_id % 2 = 0").select("event_id", "event_type").coalesce(
        1
    ).write.parquet(os.path.join(base, "gen=1"))
    # generation 2: the evolved schema
    ev.filter("event_id % 2 = 1").select(
        "event_id",
        "event_type",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("value_cents"),
    ).coalesce(1).write.parquet(os.path.join(base, "gen=2"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(base, "gen=1"), os.path.join(base, "gen=2")
    )
    merged.createOrReplaceTempView("schema_merged")
    return spark.sql(
        """
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(value_cents) AS BIGINT) AS n_with_value,
               CAST(count(*) - count(value_cents) AS BIGINT)
                 AS n_null_backfill,
               CAST(coalesce(sum(value_cents), 0) AS BIGINT)
                 AS value_cents_total
        FROM schema_merged GROUP BY event_type
        """
    )


def schema_merge_oracle() -> str:
    return """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_with_value,
           CAST(sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_backfill,
           CAST(coalesce(sum(CASE WHEN event_id % 2 = 1
                             THEN CAST(round(value * 100) AS BIGINT) END), 0)
                AS BIGINT) AS value_cents_total
    FROM events GROUP BY event_type
    """


# ---------------------------------------------------------------------------
# bucketed_join — the persisted-shuffle capability as a first-class
# query: bucketing is the 100 TB recipe for REPEATED joins on one key
# (pay the shuffle once at write; every subsequent join on the bucket
# key is co-located, NO exchange on either side). The op writes
# orders and customer bucketed+sorted by custkey (8 buckets,
# overwrite-idempotent session tables), joins them with broadcast
# disabled so nothing can hide the claim, and returns revenue per
# market segment; the oracle is the plain join over the original
# parquet — so the differential proves the bucketed layout changes the
# PLAN, never the answer. The zero-exchange claim itself is pinned in
# tests/test_plans.py on this op's executed join.
# ---------------------------------------------------------------------------


def bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11: co-located join over bucketed tables — the persisted shuffle."""
    import os
    import shutil
    from urllib.parse import urlparse

    # a previous SESSION's metastore may have left the managed location
    # behind without this session's catalog knowing the table — drop
    # both halves or saveAsTable refuses with LOCATION_ALREADY_EXISTS
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for t in ("q_bucketed_orders", "q_bucketed_customer"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(wh, t), ignore_errors=True)
    table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    ).write.bucketBy(8, "o_custkey").sortBy("o_custkey").mode(
        "overwrite"
    ).saveAsTable("q_bucketed_orders")
    table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    ).write.bucketBy(8, "c_custkey").sortBy("c_custkey").mode(
        "overwrite"
    ).saveAsTable("q_bucketed_customer")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o = spark.table("q_bucketed_orders")
        c = spark.table("q_bucketed_customer")
        out = (
            o.join(c, o.o_custkey == c.c_custkey)
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(
                    F.round(F.col("o_totalprice") * 100).cast("long")
                ).alias("revenue_cents"),
            )
        )
        # materialize the co-located join while broadcast is still off
        # (the conf is plan-time state; the checkpoint pins the result,
        # and the next call frees it)
        return scoped_checkpoint(out, "bucketed_join")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def bucketed_join_oracle() -> str:
    return """
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
    """


# ---------------------------------------------------------------------------
# partition_pruning — the partition-layout capability as a first-class
# query: Hive-style partitionBy(day) write, then a day-range read that
# must touch ONLY the matching partition directories. At 100 TB
# partition pruning is the difference between scanning a morning and
# scanning a year; zorder_stats plans WITHIN-file skipping, this one
# exercises the directory-level pruning Spark does before any file is
# opened. The op writes events partitioned by epoch-day, reads back
# with a closed-form day predicate (last PRUNE_LAST_DAYS days of the
# fixture), and returns the per-day envelope; the oracle derives the
# same answer from the unpartitioned events table, so the partitioned
# write + pruned scan is what the differential tests. The
# PartitionFilters pin lives in tests/test_plans.py.
# ---------------------------------------------------------------------------

PRUNE_LAST_DAYS = 7


def partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12: Hive-partitioned write + directory-pruned day-range scan."""
    import os

    from ..streaming.passes import scratch_dir
    from ..tables import EPOCH_NTZ

    base = scratch_dir("s12_prune_")
    loc = os.path.join(base, "events_by_day")
    ev = table(spark, sf_dir, "events").selectExpr(
        "event_id",
        "event_type",
        "CAST(round(value * 100) AS BIGINT) AS cents",
        f"CAST(timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts) div "
        "86400000000 AS BIGINT) AS day",
    )
    ev.write.partitionBy("day").parquet(loc)
    part = spark.read.parquet(loc)
    horizon = part.agg(F.max("day")).collect()[0][0]
    pruned = part.filter(F.col("day") > horizon - PRUNE_LAST_DAYS)
    pruned.createOrReplaceTempView("events_pruned")
    return spark.sql(
        """
        SELECT day, CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(cents) AS BIGINT) AS cents_total
        FROM events_pruned GROUP BY day
        """
    )


def partition_pruning_oracle() -> str:
    d = 86_400_000_000
    return f"""
    WITH e AS (SELECT epoch_us(ts) // {d} AS day,
                      CAST(round(value * 100) AS BIGINT) AS cents
               FROM events),
    h AS (SELECT max(day) AS horizon FROM e)
    SELECT CAST(e.day AS BIGINT) AS day,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(e.cents) AS BIGINT) AS cents_total
    FROM e, h WHERE e.day > h.horizon - {PRUNE_LAST_DAYS}
    GROUP BY e.day
    """


# ---------------------------------------------------------------------------
# format_scan — FORMAT-parity capability as a first-class query: the
# same events land as parquet, CSV and JSON-Lines (the lake's usual
# trio — and the read-side mirror of the reference's ingest formats:
# Values/TSV/JSONEachRow on the way IN, main.go:264-286), each is read
# back with its format-appropriate reader, and per-(format, type)
# rollups must be IDENTICAL — proving the engine's answer does not
# depend on the wire format. The oracle derives all three legs from the
# parquet fixture, so the CSV/JSONL writes + schema-explicit reads are
# exactly what the differential tests.
#
# Format discipline: the projected columns are (event_id BIGINT,
# event_type STRING, cents BIGINT) — integers and a clean string, the
# subset every text format round-trips losslessly (timestamps/doubles
# deliberately converted BEFORE the write: text formats' precision and
# zone pitfalls are the reason a lake standardizes on binary formats,
# and the op documents that by construction). Reads use EXPLICIT
# schemas — inference is nondeterministic under sampling and forbidden
# here.
#
# Scale: each leg is one scan + one map-side-combinable fold; the
# writes are plan-time artifacts (whitelisted _EXECUTING).
# ---------------------------------------------------------------------------

_FORMAT_LEGS = ("parquet", "csv", "jsonl")


def format_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..streaming.passes import scratch_dir

    base = scratch_dir("s13_formats_")
    ev = table(spark, sf_dir, "events").selectExpr(
        "event_id",
        "event_type",
        "CAST(round(value * 100) AS BIGINT) AS cents",
    )
    locs = {f: os.path.join(base, f) for f in _FORMAT_LEGS}
    ev.write.parquet(locs["parquet"])
    ev.write.option("header", True).csv(locs["csv"])
    ev.write.json(locs["jsonl"])

    schema = "event_id bigint, event_type string, cents bigint"
    legs = {
        "parquet": spark.read.parquet(locs["parquet"]),
        "csv": spark.read.schema(schema).option("header", True)
        .csv(locs["csv"]),
        "jsonl": spark.read.schema(schema).json(locs["jsonl"]),
    }
    out = None
    for fmt in _FORMAT_LEGS:
        leg = (
            legs[fmt]
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum("cents").cast("bigint").alias("cents_total"),
            )
            .select(F.lit(fmt).alias("fmt"), "event_type", "n",
                    "cents_total")
        )
        out = leg if out is None else out.unionByName(leg)
    return out


def format_scan_oracle() -> str:
    legs = " UNION ALL ".join(
        f"SELECT '{fmt}' AS fmt, event_type, CAST(count(*) AS BIGINT) AS n,"
        " CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)"
        " AS cents_total FROM events GROUP BY event_type"
        for fmt in _FORMAT_LEGS
    )
    return legs
