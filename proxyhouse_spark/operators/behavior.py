"""Event-behavior analytics over ``events`` (north-star relational ext).

The product-analytics passes a streaming event pipeline serves from the
same micro-batch core the reference feeds ClickHouse for (README.md:7 —
the reference's whole purpose is getting events INTO an analytics store;
these are the queries run on the other side):

- ``event_funnel``     — strictly-ordered view → click → purchase funnel:
                         per-user stage timestamps via staged min-after-t
                         aggregations, then stage counts.
- ``cohort_retention`` — classic D1/D7 cohort retention: cohort = first
                         event date per user; retained-on-day-N = any
                         event exactly N days after cohort date.

Scale notes (100 TB): both ops shuffle on ``user_id`` once and reuse that
partitioning across the staged aggregations (Catalyst sees the common key;
AQE coalesces). Outputs are O(stages) / O(days) rows — the final agg is a
near-free reduction. All outputs are integers/dates — no floats, bit-exact
across engines.

Reference parity note: ABSENT in the reference (no data-value computation
exists there, SURVEY §2.5); north-star surface per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..streaming import passes
from ..tables import table


def _events(spark: SparkSession, sf_dir: str) -> None:
    table(spark, sf_dir, "events").createOrReplaceTempView("events")


# ---------------------------------------------------------------------------
# event_funnel — strict ordering: click must follow the user's FIRST view,
# purchase must follow that first qualifying click.
# ---------------------------------------------------------------------------

_FUNNEL_BODY = """
v AS (SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS tv
      FROM events GROUP BY user_id),
c AS (SELECT e.user_id, min(e.ts) AS tc
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND v.tv IS NOT NULL AND e.ts > v.tv
      GROUP BY e.user_id),
p AS (SELECT e.user_id, min(e.ts) AS tp
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.tc
      GROUP BY e.user_id)
SELECT 1 AS stage_id, 'view' AS stage,
       CAST(count(*) AS BIGINT) AS n_users
FROM v WHERE tv IS NOT NULL
UNION ALL
SELECT 2 AS stage_id, 'view>click' AS stage, CAST(count(*) AS BIGINT) AS n_users
FROM c
UNION ALL
SELECT 3 AS stage_id, 'view>click>purchase' AS stage,
       CAST(count(*) AS BIGINT) AS n_users
FROM p
"""


def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-stage funnel. The staged min-after-t joins all hash on
    user_id — one logical shuffle, reused."""
    _events(spark, sf_dir)
    return spark.sql(f"WITH {_FUNNEL_BODY}")


def event_funnel_oracle() -> str:
    return f"WITH {_FUNNEL_BODY}"


# ---------------------------------------------------------------------------
# cohort_retention — D0 cohort size + D1/D7 return counts per cohort date.
# ---------------------------------------------------------------------------


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    _events(spark, sf_dir)
    return spark.sql(
        """
        WITH d AS (SELECT user_id, to_date(ts) AS d FROM events),
        u AS (SELECT user_id, min(d) AS cohort_date FROM d GROUP BY user_id)
        SELECT u.cohort_date, CAST(count(DISTINCT u.user_id) AS BIGINT) AS n_users,
               CAST(count(DISTINCT CASE WHEN datediff(d.d, u.cohort_date) = 1
                                        THEN u.user_id END) AS BIGINT) AS n_d1,
               CAST(count(DISTINCT CASE WHEN datediff(d.d, u.cohort_date) = 7
                                        THEN u.user_id END) AS BIGINT) AS n_d7
        FROM u JOIN d ON u.user_id = d.user_id
        GROUP BY u.cohort_date
        """
    )


def cohort_retention_oracle() -> str:
    return """
    WITH d AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
    u AS (SELECT user_id, min(d) AS cohort_date FROM d GROUP BY user_id)
    SELECT u.cohort_date, CAST(count(DISTINCT u.user_id) AS BIGINT) AS n_users,
           CAST(count(DISTINCT CASE WHEN datediff('day', u.cohort_date, d.d) = 1
                                    THEN u.user_id END) AS BIGINT) AS n_d1,
           CAST(count(DISTINCT CASE WHEN datediff('day', u.cohort_date, d.d) = 7
                                    THEN u.user_id END) AS BIGINT) AS n_d7
    FROM u JOIN d ON u.user_id = d.user_id
    GROUP BY u.cohort_date
    """


# ---------------------------------------------------------------------------
# anomaly_p99 — per-event-type outliers above the exact p99 threshold.
# Percentile-threshold anomaly flagging instead of z-scores on purpose:
# exact interpolating percentiles are bit-identical between Spark's
# `percentile` and DuckDB's `quantile_cont` — but only over EXACT inputs
# (the q_percentiles identity is proven over milli-unit integers). The
# original spelling took the percentile of the raw double column; the
# two engines' interpolation arithmetic differs by an ulp there, and the
# 100× differential caught it: at ~sf1 every value repeats (the probe's
# key-shift leaves `value` unchanged), the p99 lands ON a repeated
# value, and a one-ulp threshold difference flipped all 10 copies
# through the `>` cut (9980 vs 9990 rows). The threshold and the cut now
# both live in exact milli-units; p99 is reported in original units.
#
# Scale (100 TB): pass 1 computes 5 thresholds (one tiny row per type,
# exact percentile needs the per-group sort — at scale swap in
# approx_percentile's mergeable t-digest, same plan shape); pass 2 is a
# broadcast-join filter, shuffle-free on the fact side.
# ---------------------------------------------------------------------------

_ANOM_P99 = """
m AS (SELECT event_id, event_type, value,
             CAST(round(value * 1000) AS BIGINT) AS mv FROM events),
p AS (SELECT event_type, {pctl}(mv, 0.99) AS p99m FROM m GROUP BY event_type)
SELECT m.event_id, m.event_type, round(m.value, 2) AS value,
       round(p.p99m / 1000.0e0, 4) AS p99
FROM m JOIN p ON m.event_type = p.event_type
WHERE m.mv > p.p99m
"""


def anomaly_p99(spark: SparkSession, sf_dir: str) -> DataFrame:
    _events(spark, sf_dir)
    return spark.sql("WITH " + _ANOM_P99.format(pctl="percentile"))


def anomaly_p99_oracle() -> str:
    return "WITH " + _ANOM_P99.format(pctl="quantile_cont")


# ---------------------------------------------------------------------------
# linreg_by_group — per-group closed-form OLS (trend analytics): for each
# event_type, the least-squares line of value against hour-of-day. The
# distributed-ML workhorse shape: ONE map-side-combinable aggregation
# collecting the five sufficient statistics (n, Σx, Σx², Σy, Σxy), then
# O(groups) closed-form arithmetic — no iterative solver, no driver data.
# Float discipline: y is rounded to 6 dp and carried as DECIMAL so every
# Σ is EXACT integer/decimal addition (order-independent — Spark's
# parallel partial aggregation and DuckDB's serial scan agree
# bit-for-bit); the final slope/intercept divisions run on identical
# doubles in both engines. Reference parity: ABSENT (no value analysis
# of any kind in /root/reference); north-star analytics surface.
# ---------------------------------------------------------------------------


def _linreg_sql(hour_fn: str) -> str:
    return f"""
    WITH pts AS (
      SELECT event_type,
             CAST({hour_fn} AS BIGINT) AS x,
             CAST(round(value, 6) AS DECIMAL(18, 6)) AS y
      FROM events),
    stats AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             sum(y) AS sy,
             sum(CAST(x AS DECIMAL(18, 6)) * y) AS sxy
      FROM pts GROUP BY event_type)
    SELECT event_type, n,
           round((n * CAST(sxy AS DOUBLE) - sx * CAST(sy AS DOUBLE))
                 / (n * sxx - sx * sx), 6) AS slope,
           round((CAST(sy AS DOUBLE) - ((n * CAST(sxy AS DOUBLE)
                    - sx * CAST(sy AS DOUBLE)) / (n * sxx - sx * sx)) * sx)
                 / n, 6) AS intercept
    FROM stats
    """


def linreg_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    _events(spark, sf_dir)
    return spark.sql(_linreg_sql("hour(ts)"))


def linreg_by_group_oracle() -> str:
    return _linreg_sql("hour(ts)")


# ---------------------------------------------------------------------------
# drift_psi — distribution-drift detection between two time slices: the
# Population Stability Index (the standard ML-ops drift metric; PSI > 0.2
# conventionally = retrain/investigate) of each event type's value
# distribution, first half of the month vs second. Fixed 10-bin value
# grid + add-one smoothing (zero-count bins would send ln(p/q) to ±inf);
# each (pa-pb)·ln(pa/pb) term is rounded to 6 dp and summed as DECIMAL —
# the token_entropy/unigram_logprob exactness discipline, so parallel and
# serial engines agree bit-for-bit. Scale: ONE map-side-combinable
# shuffle over events to (type, slice, bin) counts; everything after is
# O(types × bins) — the drift job over 100 TB of events costs one
# aggregation pass, and in production the same fold runs incrementally
# per day (mergeable counts, the incremental_rollup contract).
# ---------------------------------------------------------------------------


_PSI_COUNTS = """
SELECT event_type, slice, bin, CAST(count(*) AS BIGINT) AS n
FROM (SELECT event_type,
             CASE WHEN extract(day FROM ts) <= 15 THEN 0 ELSE 1 END AS slice,
             CAST(greatest(least(floor(value / 50), 9), 0) AS BIGINT) AS bin
      FROM events) e
GROUP BY event_type, slice, bin
"""


def _psi_sql(bin_gen: str, c: str = "c") -> str:
    """PSI tail over a ``c(event_type, slice, bin, n)`` counts relation —
    returned WITHOUT a leading WITH so each engine picks its own staging
    for the counts relation ``c`` (Spark: checkpointed temp view under a
    scoped name; DuckDB: plain CTE)."""
    body = f"""
    t AS (SELECT event_type,
                 CAST(sum(CASE WHEN slice = 0 THEN n ELSE 0 END) AS BIGINT) AS ta,
                 CAST(sum(CASE WHEN slice = 1 THEN n ELSE 0 END) AS BIGINT) AS tb
          FROM {c} GROUP BY event_type),
    grid AS (SELECT ty.event_type, b.bin
             FROM (SELECT DISTINCT event_type FROM {c}) ty
             CROSS JOIN ({bin_gen}) b),
    f AS (SELECT g.event_type, g.bin,
                 coalesce(ca.n, 0) AS ca, coalesce(cb.n, 0) AS cb
          FROM grid g
          LEFT JOIN {c} ca ON ca.event_type = g.event_type
                        AND ca.bin = g.bin AND ca.slice = 0
          LEFT JOIN {c} cb ON cb.event_type = g.event_type
                        AND cb.bin = g.bin AND cb.slice = 1),
    p AS (SELECT f.event_type, t.ta, t.tb,
                 CAST(ca + 1 AS DOUBLE) / (ta + 10) AS pa,
                 CAST(cb + 1 AS DOUBLE) / (tb + 10) AS pb
          FROM f JOIN t ON f.event_type = t.event_type)
    SELECT event_type, ta AS n_first, tb AS n_second,
           round(CAST(sum(CAST(round((pa - pb) * ln(pa / pb), 6)
                               AS DECIMAL(18, 6))) AS DOUBLE), 6) AS psi
    FROM p GROUP BY event_type, ta, tb
    """
    return body


def drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spark inlines CTEs, so referencing the counts three times (slice-0
    # join, slice-1 join, type grid) would re-scan events three times.
    # Stage the O(types × bins) counts frame once (scoped localCheckpoint,
    # the minhash staging pattern; on a cluster: write the counts table,
    # then join it) and run the PSI tail over the materialized rows.
    from ..checkpoints import scoped_checkpoint

    _events(spark, sf_dir)
    counts = scoped_checkpoint(spark.sql(_PSI_COUNTS), "psi_counts")
    counts.createOrReplaceTempView("psi_counts")
    return spark.sql(
        "WITH "
        + _psi_sql("SELECT explode(sequence(0, 9)) AS bin", c="psi_counts")
    )


def drift_psi_oracle() -> str:
    # DuckDB side keeps the counts as a plain CTE (oracle states
    # semantics; engine-side staging is a Spark plan concern)
    return (
        f"WITH c AS ({_PSI_COUNTS}), "
        + _psi_sql("SELECT unnest(range(0, 10)) AS bin")
    )


# ---------------------------------------------------------------------------
# attribution — last-touch conversion attribution (the marketing-
# analytics face of the as-of join): each purchase is attributed to the
# SAME user's latest click at-or-before it within a 7-day window;
# purchases with no qualifying click are 'organic' (NULL attribution).
# Spark side reuses q_join_asof's union-merge respelling — interleave
# clicks and purchases sorted by (user, time), carry the last click
# forward — ONE shuffle+sort of the event stream, no purchases × clicks
# expansion (the naive equi-join is quadratic-in-history for hot users).
# Tie discipline: at equal timestamps clicks sort before purchases
# (inclusive same-instant contract) and by ascending click_id, so
# "last carried" is the highest click_id — matching the oracle's
# (ts DESC, click_id DESC) argmax exactly. Cents integer; the window
# check nulls BOTH attribution columns past 7 days.
# ---------------------------------------------------------------------------

ATTRIBUTION_WINDOW_S = 7 * 24 * 3600


def attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    ev = table(spark, sf_dir, "events")
    clicks = ev.filter("event_type = 'click'").select(
        F.col("user_id").alias("uid"),
        F.col("ts").alias("t"),
        F.lit(0).alias("kind"),
        F.col("event_id").alias("click_id"),
        F.lit(None).cast("bigint").alias("purchase_id"),
        F.lit(None).cast("bigint").alias("purchase_cents"),
    )
    purchases = ev.filter("event_type = 'purchase'").select(
        F.col("user_id").alias("uid"),
        F.col("ts").alias("t"),
        F.lit(1).alias("kind"),
        F.lit(None).cast("bigint").alias("click_id"),
        F.col("event_id").alias("purchase_id"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("purchase_cents"),
    )
    from .relational import union_merge_asof

    # carry t only from click rows (ct is NULL on purchase rows); the
    # union-merge carry-forward core — window order, tie discipline,
    # ignorenulls carry — is shared with join_asof
    carried = union_merge_asof(
        purchases.withColumn("ct", F.lit(None).cast(ev.schema["ts"].dataType)),
        clicks.withColumn("ct", F.col("t")),
        ["click_id", "ct"],
        F.coalesce("click_id", "purchase_id"),
    )
    # exact-microsecond diff, floored to seconds: Spark's timestampdiff
    # SECOND is duration-based while DuckDB's date_diff('second') counts
    # boundary crossings — they disagree on sub-second offsets. Micros
    # are exact in both (parquet stores integral micros), so micros DIV
    # 1e6 is engine-identical.
    secs = F.expr(
        "timestampdiff(MICROSECOND, l_ct, t) div 1000000"
    ).cast("bigint")
    in_window = F.col("l_click_id").isNotNull() & (secs <= ATTRIBUTION_WINDOW_S)
    return carried.select(
        "purchase_id",
        F.col("uid").alias("user_id"),
        "purchase_cents",
        F.when(in_window, F.col("l_click_id")).alias("attributed_click_id"),
        F.when(in_window, secs).cast("bigint").alias("secs_since_click"),
    )


def attribution_oracle() -> str:
    return f"""
    WITH p AS (SELECT event_id AS purchase_id, user_id, ts,
                      CAST(round(value * 100) AS BIGINT) AS purchase_cents
               FROM events WHERE event_type = 'purchase'),
    c AS (SELECT event_id AS click_id, user_id, ts
          FROM events WHERE event_type = 'click'),
    j AS (SELECT p.purchase_id, c.click_id,
                 CAST(date_diff('microsecond', c.ts, p.ts) // 1000000
                      AS BIGINT) AS secs,
                 row_number() OVER (PARTITION BY p.purchase_id
                                    ORDER BY c.ts DESC, c.click_id DESC) AS rn
          FROM p JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts
               AND date_diff('microsecond', c.ts, p.ts) // 1000000
                 <= {ATTRIBUTION_WINDOW_S})
    SELECT p.purchase_id, p.user_id, p.purchase_cents,
           j.click_id AS attributed_click_id,
           j.secs AS secs_since_click
    FROM p LEFT JOIN (SELECT * FROM j WHERE rn = 1) j
      ON p.purchase_id = j.purchase_id
    """


# ---------------------------------------------------------------------------
# rfm_segments — RFM customer segmentation (the classic CRM/warehouse
# pass): per customer Recency (days since last order), Frequency
# (order count), Monetary (lifetime cents), each cut into quartiles,
# customers rolled up per (r, f, m) segment code. The textbook spelling
# ntile(4)s the customer list — a global sort of one row per ENTITY
# (defensible, like unigram_logprob's terciles, but avoidable): here the
# quartile BOUNDARIES come from one exact-percentile row (O(1),
# broadcast back) and each customer classifies narrowly — no global
# sort at any scale. Exact integers everywhere; percentile values are
# bit-identical cross-engine (proven by q_percentiles), so boundary
# comparisons cannot flip. Spark `percentile` ≡ DuckDB `quantile_cont`
# is the only dialect difference.
# ---------------------------------------------------------------------------

_RFM_ASOF = "DATE '2002-01-01'"  # fixture orders end 2001-08-01


def _rfm_sql(pct: str, arr: str) -> str:
    # arr: Spark `array(...)` vs DuckDB `[...]`; element access is 0-based
    # in Spark SQL brackets, 1-based in DuckDB — the i1/i2/i3 format slots
    return f"""
    cust AS (SELECT o_custkey,
                    CAST(date_diff_days AS BIGINT) AS recency_days,
                    n_orders, cents
             FROM (SELECT o_custkey,
                          {{recency}} AS date_diff_days,
                          CAST(count(*) AS BIGINT) AS n_orders,
                          CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                               AS BIGINT) AS cents
                   FROM orders GROUP BY o_custkey) g),
    b AS (SELECT {pct}(recency_days, {arr}) AS rb,
                 {pct}(n_orders, {arr}) AS fb,
                 {pct}(cents, {arr}) AS mb
          FROM cust),
    coded AS (SELECT
        CASE WHEN recency_days <= rb[{{i1}}] THEN 4
             WHEN recency_days <= rb[{{i2}}] THEN 3
             WHEN recency_days <= rb[{{i3}}] THEN 2 ELSE 1 END AS r,
        CASE WHEN n_orders <= fb[{{i1}}] THEN 1
             WHEN n_orders <= fb[{{i2}}] THEN 2
             WHEN n_orders <= fb[{{i3}}] THEN 3 ELSE 4 END AS f,
        CASE WHEN cents <= mb[{{i1}}] THEN 1
             WHEN cents <= mb[{{i2}}] THEN 2
             WHEN cents <= mb[{{i3}}] THEN 3 ELSE 4 END AS m,
        cents
      FROM cust CROSS JOIN b)
    SELECT r, f, m,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(cents) AS BIGINT) AS segment_cents
    FROM coded GROUP BY r, f, m
    """


def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    recency = (
        f"min(datediff({_RFM_ASOF}, CAST(o_orderdate AS DATE)))"
    )
    sql = _rfm_sql("percentile", "array(0.25, 0.5, 0.75)").format(
        recency=recency, i1=0, i2=1, i3=2
    )
    return spark.sql("WITH " + sql)


def rfm_segments_oracle() -> str:
    recency = (
        f"min(date_diff('day', CAST(o_orderdate AS DATE), {_RFM_ASOF}))"
    )
    return "WITH " + _rfm_sql("quantile_cont", "[0.25, 0.5, 0.75]").format(
        recency=recency, i1=1, i2=2, i3=3
    )


# ---------------------------------------------------------------------------
# dau_mau — rolling engagement (DAU, 28-day MAU, stickiness): windowed
# COUNT DISTINCT has no distributable window form, so the exact spelling
# is cover-set expansion — dedup to (user, active-day), explode each
# into the 28 rolling windows it covers, dedup (user, covered-day),
# count per day (cover rows past the last observed day are pruned with
# a scalar max — they could never join a DAU row and would only inflate
# the dedup shuffle). Cost: a bounded 28× expansion of the per-(user, day)
# table (already ~1000× smaller than events) — the standard exact
# answer; the approximate scale path is an HLL sketch per day merged
# over the window (mergeable, O(sketch) per day — q_approx_distinct's
# machinery). Stickiness reported in integer basis points (exact DIV).
# ---------------------------------------------------------------------------


def _dau_mau_sql(day_expr: str, gen_off: str, idiv: str, cross: str) -> str:
    return f"""
    ud AS (SELECT DISTINCT user_id, {day_expr} AS day FROM events),
    dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY day),
    cov AS (SELECT DISTINCT user_id, day + off AS d FROM ud{cross}{gen_off}
            WHERE day + off <= (SELECT max(day) FROM ud)),
    mau AS (SELECT d AS day, CAST(count(*) AS BIGINT) AS mau28
            FROM cov GROUP BY d)
    SELECT dau.day, dau.dau, mau.mau28,
           CAST((dau.dau * 10000) {idiv} mau.mau28 AS BIGINT) AS stickiness_bp
    FROM dau JOIN mau ON dau.day = mau.day
    """


def dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    _events(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _dau_mau_sql(
            "datediff(CAST(ts AS DATE), DATE '1970-01-01')",
            "LATERAL VIEW explode(sequence(0, 27)) t AS off",
            "div",
            " ",
        )
    )


def dau_mau_oracle() -> str:
    return "WITH " + _dau_mau_sql(
        "date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))",
        "(SELECT unnest(range(0, 28)) AS off) t",
        "//",
        ", ",
    )


# ---------------------------------------------------------------------------
# basket_pairs — market-basket co-occurrence (the Apriori/association-
# rules first step): which part pairs appear together in the same order,
# top-20 by support, with lift in integer basis points. Pair enumeration
# is the within-group self-join on the ORDER key — expansion bounded by
# basket_size² (~4² here), never corpus²; at 100 TB this is the standard
# co-occurrence shape (the key is the basket id, baskets are small by
# domain). Lift = co·N / (n_a·n_b) computed as one exact integer DIV
# after the top-20 cut — the scalar N row and the per-part counts join
# only 20 rows. Ties broken (co DESC, part_a, part_b).
# ---------------------------------------------------------------------------

BASKET_TOP = 20


def _basket_sql(idiv: str, cross: str) -> str:
    return f"""
    items AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS part
              FROM lineitem),
    pc AS (SELECT part, CAST(count(*) AS BIGINT) AS n_part
           FROM items GROUP BY part),
    n AS (SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n_orders FROM items),
    pairs AS (SELECT a.part AS part_a, b.part AS part_b,
                     CAST(count(*) AS BIGINT) AS co
              FROM items a JOIN items b
                ON a.okey = b.okey AND a.part < b.part
              GROUP BY a.part, b.part),
    top AS (SELECT part_a, part_b, co FROM pairs
            ORDER BY co DESC, part_a, part_b LIMIT {BASKET_TOP})
    SELECT t.part_a, t.part_b, t.co,
           CAST((t.co * 10000) {idiv}
                greatest(CAST(1 AS BIGINT),
                         (pa.n_part * pb.n_part) {idiv} n.n_orders)
                AS BIGINT) AS lift_bp
    FROM top t
    JOIN pc pa ON pa.part = t.part_a
    JOIN pc pb ON pb.part = t.part_b{cross}n
    """


def basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql("WITH " + _basket_sql("div", " CROSS JOIN "))


def basket_pairs_oracle() -> str:
    return "WITH " + _basket_sql("//", ", ")


# ---------------------------------------------------------------------------
# interval_coverage — gaps-and-islands interval union: each event opens
# a 30-minute activity interval; overlapping/touching intervals per user
# merge into islands, reported as per-user island count + total covered
# seconds. The classic spelling for "how much wall-clock was this user
# actually active" (billing meters, SLA uptime, ad-exposure dedup all
# reduce to it). Algebra note: interval union is the third classic
# windowed monoid in the repo after running sums (pack_global) and
# running mins (skyline) — here the running MAX of interval ends decides
# island starts.
#
# All arithmetic is exact BIGINT epoch-micros (parquet stores integral
# micros; the epoch extraction is the only dialect-split expression —
# tables.epoch_micros ≡ DuckDB epoch_us on naive timestamps), so no
# float or timezone can flip an island boundary between engines.
#
# At 100 TB: ONE shuffle on user_id; both windows and both aggregations
# are per-user-partition narrow operations on top of it (window order
# within key, map-side-combinable island fold). Touching intervals
# (prev_end == next_start) merge — `<=` not `<` — documented contract.
# ---------------------------------------------------------------------------

COVERAGE_WINDOW_S = 1800  # each event covers [ts, ts + 30 min)


def _islands_sql(iv: str) -> str:
    """Portable SQL: intervals ``{iv}(user_id, s, e)`` → merged island
    spans ``spans(user_id, island, island_s, island_e)``. Pure BIGINT;
    identical text runs in Spark and DuckDB, and the streaming merge
    (cdc.stream_coverage_query) folds batches through this same core."""
    return f"""
    flagged AS (SELECT user_id, s, e,
                       CASE WHEN s <= coalesce(max(e) OVER (
                                PARTITION BY user_id ORDER BY s, e
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING),
                              CAST(-1 AS BIGINT))
                            THEN 0 ELSE 1 END AS is_start
                FROM {iv}),
    islands AS (SELECT user_id, s, e,
                       sum(is_start) OVER (PARTITION BY user_id
                                           ORDER BY s, e
                                           ROWS BETWEEN UNBOUNDED PRECEDING
                                                    AND CURRENT ROW) AS island
                FROM flagged),
    spans AS (SELECT user_id, island,
                     min(s) AS island_s, max(e) AS island_e
              FROM islands GROUP BY user_id, island)
    """


def _coverage_rollup_sql(idiv: str) -> str:
    """idiv: the integer-division operator — Spark `div`, DuckDB `//`
    (a bare `/` would yield DOUBLE covered_secs in Spark and break the
    oracle hash far from the cause)."""
    return f"""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_islands,
           CAST(sum(island_e - island_s) AS BIGINT) {idiv} 1000000 AS covered_secs
    FROM spans GROUP BY user_id
    """


def _interval_coverage_sql(epoch_us: str, idiv: str) -> str:
    span = COVERAGE_WINDOW_S * 1_000_000
    return (
        f"""
    iv AS (SELECT user_id, {epoch_us} AS s, {epoch_us} + {span} AS e
           FROM events),
    """
        + _islands_sql("iv")
        + _coverage_rollup_sql(idiv)
    )


def interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables import EPOCH_NTZ

    table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        "WITH "
        + _interval_coverage_sql(
            f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts)", "div"
        )
    )


def interval_coverage_oracle() -> str:
    return "WITH " + _interval_coverage_sql("epoch_us(ts)", "//")


# ---------------------------------------------------------------------------
# event_transitions — first-order Markov transition counts over each
# user's event sequence: (event_type → next event_type) pairs ordered by
# time, with terminal events transitioning to the sentinel '<end>'. The
# sequence-mining complement of q_event_funnel (funnel checks ONE fixed
# path; this surfaces ALL observed steps, the input to next-action
# models and Sankey journey charts). Deterministic under timestamp ties
# via the (ts, event_id) total order.
#
# At 100 TB: ONE shuffle on user_id for the lead() window, then a
# map-side-combinable fold on the O(|types|²) transition key — the
# canonical window-then-agg plan with no data-scaling join anywhere.
# ---------------------------------------------------------------------------

_EVENT_TRANSITIONS = """
    seq AS (SELECT user_id, event_type AS src,
                   coalesce(lead(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id),
                     '<end>') AS dst
            FROM events)
    SELECT src, dst, CAST(count(*) AS BIGINT) AS n_transitions
    FROM seq GROUP BY src, dst
    """


def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql("WITH " + _EVENT_TRANSITIONS)


def event_transitions_oracle() -> str:
    return "WITH " + _EVENT_TRANSITIONS


# ---------------------------------------------------------------------------
# pagerank — iterative graph analytics (the second fixpoint algorithm
# after dedup_clusters' label propagation): PageRank over the product
# co-purchase graph (directed edges both ways between every pair of
# parts appearing in the same order — the q_basket_pairs relation as a
# graph), 3 power iterations unrolled, damping 0.85.
#
# Exactness discipline: scores are BIGINT micro-units PER NODE (init =
# PR_SCALE each, total mass N·PR_SCALE) — per-node scaling keeps the
# integer precision independent of graph size; the earlier fixed-total-
# mass spelling (PR_SCALE split across N nodes) underflowed at sf0.1
# (50 micro-units/node, every contribution div outd truncating to 0 —
# pure tie-break output, invisible to the differential because the
# oracle mirrored the same underflow). Each iteration:
#   contrib(node) = score div out_degree     (INTEGER division)
#   score' = (15·PR_SCALE) div 100  +  (85·sum(contribs)) div 100
# — all integer adds/divs, so the float-summation-order hazard of
# distributed PageRank does not exist, and the truncation loss is
# ≤ out_degree micro-units per node per iteration against a ~PR_SCALE
# score: ≤ 0.1%% at any realistic degree. Deterministic, mirrored by
# the oracle.
#
# At 100 TB: each iteration is the standard distributed PageRank step —
# one equi-join of the edge list against the O(nodes) score frame on
# src, one map-side-combinable fold on dst. Edges partition by src and
# re-shuffle on dst once per iteration; the score frame is broadcast-
# sized relative to edges at any realistic graph density. Iterations
# are unrolled (3) so the whole computation is one declarative plan —
# the loop-until-convergence variant lives in dedup_clusters, which
# already proves the distributed-fixpoint machinery.
# ---------------------------------------------------------------------------

PR_SCALE = 1_000_000
PR_ITERS = 3


def _pagerank_sql(idiv: str) -> str:
    it = f"""
    items AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS part
              FROM lineitem),
    edges AS (SELECT DISTINCT a.part AS src, b.part AS dst
              FROM items a JOIN items b
                ON a.okey = b.okey AND a.part <> b.part),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outd
            FROM edges GROUP BY src),
    s0 AS (SELECT src AS part, CAST({PR_SCALE} AS BIGINT) AS score FROM deg)
    """
    for k in range(PR_ITERS):
        it += f""",
    c{k} AS (SELECT e.dst AS part,
                    CAST(sum(s.score {idiv} d.outd) AS BIGINT) AS contrib
             FROM edges e
             JOIN s{k} s ON s.part = e.src
             JOIN deg d ON d.src = e.src
             GROUP BY e.dst),
    s{k + 1} AS (SELECT s.part,
                    CAST((15 * {PR_SCALE}) {idiv} 100 AS BIGINT)
                    + CAST((85 * coalesce(c.contrib, 0)) {idiv} 100 AS BIGINT)
                      AS score
             FROM s0 s
             LEFT JOIN c{k} c ON c.part = s.part)
    """
    return it + f"""
    SELECT part, score AS score_micros
    FROM s{PR_ITERS}
    ORDER BY score DESC, part
    LIMIT 20
    """

def pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inline CTE spelling is KEPT deliberately (r10 measurement):
    the textual plan shows 40 lineitem scans / 98 Exchanges
    (plans/r10/q_pagerank_before.txt), but at runtime AQE's exchange
    reuse dedups the identical `edges`/`deg`/`s0` subtrees, so the graph
    is derived once. A staged scoped_checkpoint spelling (edges+outd
    materialized once, linear iteration chain) was built and measured
    this round: same-window walls 4.89 s staged vs 4.34 s inline, CPU
    186 s vs 157 s per 4 runs — the two serialized checkpoint actions
    and non-codegen block-manager scans cost more than the (already
    deduped) re-derivation. Contrast q_kcore/q_er_links, where the
    duplicated subtrees are NOT identical across references and staging
    halves real CPU."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql("WITH " + _pagerank_sql("div"))


def pagerank_oracle() -> str:
    return "WITH " + _pagerank_sql("//")


# ---------------------------------------------------------------------------
# sessionize — the numbered SESSION TABLE (the warehouse artifact behind
# every funnel/retention/attribution pass): each user's events split
# into sessions at >30-minute inactivity gaps, sessions numbered in
# time order per user, reported with event count and exact duration.
# Differs from q_session_window (Spark's session_window aggregate —
# per-window counts) by materializing the per-user session ORDINAL,
# which windowed aggregation cannot express: session_no is the running
# sum of gap-starts — the same gaps-and-islands core as
# interval_coverage, driven by point gaps instead of interval overlap.
#
# All arithmetic exact BIGINT epoch-micros; first event of a user
# starts session 1 via a far-past sentinel (fixture timestamps are all
# post-1995, the sentinel is pre-1970). ONE shuffle on user_id; both
# windows and the session fold are per-key narrow.
# ---------------------------------------------------------------------------

SESSION_GAP_S = 1800


def _sessionize_sql(epoch_us: str, idiv: str) -> str:
    gap = SESSION_GAP_S * 1_000_000
    return f"""
    ev AS (SELECT user_id, event_id, {epoch_us} AS t FROM events),
    flagged AS (SELECT user_id, event_id, t,
                       CASE WHEN t - coalesce(lag(t) OVER (
                                PARTITION BY user_id ORDER BY t, event_id),
                              CAST(-4000000000000000 AS BIGINT)) > {gap}
                            THEN 1 ELSE 0 END AS is_start
                FROM ev),
    sess AS (SELECT user_id, t,
                    sum(is_start) OVER (PARTITION BY user_id
                                        ORDER BY t, event_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                                 AND CURRENT ROW) AS session_no
             FROM flagged)
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(t) - min(t) AS BIGINT) {idiv} 1000000 AS duration_secs
    FROM sess GROUP BY user_id, session_no
    """


def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables import EPOCH_NTZ

    table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        "WITH "
        + _sessionize_sql(
            f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts)", "div"
        )
    )


def sessionize_oracle() -> str:
    return "WITH " + _sessionize_sql("epoch_us(ts)", "//")


# ---------------------------------------------------------------------------
# top_paths — frequent 3-step user journeys (the Sankey-diagram query):
# each user's time-ordered event sequence windowed into (e1, e2, e3)
# trigrams, top-20 paths by count. Adds sequence DEPTH to N67's 1-step
# transition matrix — the path trigram is what journey analyses and
# next-2-action models consume. Deterministic under ts ties via the
# (ts, event_id) total order; truncated sequences (fewer than 3
# remaining events) drop out via the NULL lead.
#
# At 100 TB: ONE shuffle on user_id for the two leads, then a
# map-side-combinable fold on the O(|types|³) path key and a
# TakeOrdered top-20 — no data-scaling join.
# ---------------------------------------------------------------------------

_TOP_PATHS = """
    seq AS (SELECT event_type AS e1,
                   lead(event_type, 1) OVER w AS e2,
                   lead(event_type, 2) OVER w AS e3
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS n_paths
    FROM seq WHERE e3 IS NOT NULL
    GROUP BY e1, e2, e3
    ORDER BY n_paths DESC, e1, e2, e3
    LIMIT 20
    """


def top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql("WITH " + _TOP_PATHS)


def top_paths_oracle() -> str:
    return "WITH " + _TOP_PATHS


# ---------------------------------------------------------------------------
# mom_growth — month-over-month revenue growth (the reporting-layer
# staple): monthly revenue in exact cents, previous month via lag over
# the tiny ordered month series, growth in exact integer basis points
# (cross-multiplied div — no float ratio in the hash; negative-growth
# months are safe: Spark `div` and DuckDB integer `//` BOTH truncate
# toward zero — DuckDB floors only for floats — verified empirically
# and exercised by the fixture's 41 down months). The month fold
# is the only data-scale aggregation; the lag window runs over
# O(#months) rows.
# ---------------------------------------------------------------------------


def _mom_growth_sql(idiv: str, ts_type: str = "TIMESTAMP") -> str:
    # ts_type: the month-bucket cast target — Spark needs TIMESTAMP_NTZ
    # (fixture timestamps are wall-clock naive), DuckDB's TIMESTAMP is
    # already naive. An explicit dialect parameter, like the epoch
    # extraction in interval_coverage/sessionize (ADVICE r3: the old
    # .replace() surgery would silently rewrite any future TIMESTAMP
    # cast added to this shared SQL).
    return f"""
    m AS (SELECT CAST(date_trunc('month', o_orderdate) AS {ts_type}) AS month,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS rev_cents
          FROM orders GROUP BY 1),
    g AS (SELECT month, rev_cents,
                 lag(rev_cents) OVER (ORDER BY month) AS prev_cents
          FROM m)
    SELECT month, rev_cents, prev_cents,
           CAST(((rev_cents - prev_cents) * 10000) {idiv} prev_cents
                AS BIGINT) AS growth_bp
    FROM g
    """


def mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql("WITH " + _mom_growth_sql("div", ts_type="TIMESTAMP_NTZ"))


def mom_growth_oracle() -> str:
    return "WITH " + _mom_growth_sql("//")


# ---------------------------------------------------------------------------
# triangles — the third graph-analytics member (after dedup_clusters'
# label-propagation CC and pagerank's power iteration): triangle count +
# global clustering coefficient over the same part co-purchase graph.
#
# The naive 3-way self-join counts every triangle 6× and its wedge
# enumeration is Σ d² over RAW degrees — the hub nodes blow it up. The
# scalable spelling is degree ORIENTATION (Cohen's MapReduce algorithm /
# Suri & Vassilvitskii's MR triangle counting): orient every undirected
# edge from the (degree, id)-smaller endpoint to the larger, so each
# triangle has exactly ONE source corner (counted once, no /6
# correction) and per-node out-degree is bounded by O(√m) — wedge
# enumeration drops from Σ d(hub)² to Σ d_out², the classic √m bound.
#
# Plan shape: wedges = oriented ⋈ oriented on src (equi-join); closure =
# wedge ⋈ oriented on BOTH endpoints (equi-join on the composite key).
# The π-order comparison (deg, id) rides as plain predicates on the
# equi-joins — deliberately NOT a global rank window, which would be a
# whole-graph single-partition sort; degrees attach by equi-join
# instead. Output is the one-row graph summary (nodes, edges, wedges,
# triangles, clustering coefficient) — count state, not the graph.
# ---------------------------------------------------------------------------

_TRIANGLES = """
    items AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS part
              FROM lineitem),
    pairs AS (SELECT DISTINCT a.part AS u, b.part AS v
              FROM items a JOIN items b
                ON a.okey = b.okey AND a.part < b.part),
    deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
              SELECT u AS n FROM pairs
              UNION ALL SELECT v AS n FROM pairs) e GROUP BY n),
    oriented AS (
      SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND p.u < p.v)
                  THEN p.u ELSE p.v END AS src,
             CASE WHEN du.d < dv.d OR (du.d = dv.d AND p.u < p.v)
                  THEN p.v ELSE p.u END AS dst,
             CASE WHEN du.d < dv.d OR (du.d = dv.d AND p.u < p.v)
                  THEN dv.d ELSE du.d END AS dd
      FROM pairs p JOIN deg du ON du.n = p.u JOIN deg dv ON dv.n = p.v),
    tri AS (
      SELECT CAST(count(*) AS BIGINT) AS n_triangles
      FROM oriented o1
      JOIN oriented o2
        ON o2.src = o1.src
           AND (o1.dd < o2.dd OR (o1.dd = o2.dd AND o1.dst < o2.dst))
      JOIN oriented o3 ON o3.src = o1.dst AND o3.dst = o2.dst),
    gstats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(d * (d - 1)) AS BIGINT) AS wedges2 FROM deg),
    estats AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM pairs)
    SELECT g.n_nodes, e.n_edges, CAST(g.wedges2 / 2 AS BIGINT) AS n_wedges,
           t.n_triangles,
           round(6.0e0 * t.n_triangles / g.wedges2, 6) AS clustering_coeff
    FROM gstats g, estats e, tri t
    """


def triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N88: degree-oriented distributed triangle count + clustering coeff.

    The Spark side stages the oriented edge list ONCE via scoped
    localCheckpoint: the CTE feeds FOUR plan branches (o1, o2, o3, the
    degree/edge summaries), and with lineage intact Spark re-executes
    the items self-join + distinct + degree joins per branch — the
    minhash staging lesson (dedup.py). Undirected degrees for the
    summary are re-derived from the staged frame (src ∪ dst incidence),
    so nothing upstream of the checkpoint is read twice. Both triangle
    joins are hinted SHUFFLE_HASH: every frame scales with the graph,
    so a broadcast would collect the edge list through the driver
    (measured: staging + hints cut the sf0.1 bench median 9.8 s → 4.3 s).
    """
    from ..checkpoints import scoped_checkpoint

    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    oriented = spark.sql(
        """
        WITH items AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS part
                       FROM lineitem),
        pairs AS (SELECT DISTINCT a.part AS u, b.part AS v
                  FROM items a JOIN items b
                    ON a.okey = b.okey AND a.part < b.part),
        deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
                  SELECT u AS n FROM pairs
                  UNION ALL SELECT v AS n FROM pairs) e GROUP BY n)
        SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND p.u < p.v)
                    THEN p.u ELSE p.v END AS src,
               CASE WHEN du.d < dv.d OR (du.d = dv.d AND p.u < p.v)
                    THEN p.v ELSE p.u END AS dst,
               CASE WHEN du.d < dv.d OR (du.d = dv.d AND p.u < p.v)
                    THEN dv.d ELSE du.d END AS dd
        FROM pairs p JOIN deg du ON du.n = p.u JOIN deg dv ON dv.n = p.v
        """
    )
    # r11 measured-and-REVERTED, twice (guide §1.1 — two more instances
    # of empirical-beats-first-principles; quiet windows, steal < 0.3%):
    # (a) VERDICT r10 #2's wedge PRE-AGGREGATION — count wedges per
    #     (v1, v2) endpoint pair so only distinct pairs cross the
    #     closure exchange — read 7.29 s / 86 s CPU per run vs 4.01 s /
    #     41 s CPU for this spelling: the fixture graph's wedge endpoint
    #     pairs are almost all DISTINCT, so the extra HashAggregate
    #     built a giant hash table and reduced nothing.
    # (b) CHECKED KEY PACKING — (dd, dst) and the closure key each into
    #     one BIGINT behind a runtime max(id)/max(degree) < 2^31 check —
    #     read 4.17 s / 45 s CPU: qtime's shuffle-bytes metric was
    #     IDENTICAL (2836.6 MB per 4 runs) with and without packing,
    #     proving the wedge/closure exchanges were never the dominant
    #     shuffle — the oriented STAGING (items self-join + pair
    #     DISTINCT + degree joins, ~2.1-3.0 s) and the wedge join's CPU
    #     (~2.0-2.8 s) split the wall, and packing only added pack/
    #     unpack arithmetic to the CPU half. At a scale where ids fit
    #     32 bits AND the closure exchange dominates, (b) is the first
    #     thing to re-try; at sf0.1 both lose.
    scoped_checkpoint(oriented, "tri_oriented").createOrReplaceTempView(
        "oriented_v"
    )
    return spark.sql(
        """
        WITH tri AS (
          SELECT /*+ SHUFFLE_HASH(o1, o2, o3) */
                 CAST(count(*) AS BIGINT) AS n_triangles
          FROM oriented_v o1
          JOIN oriented_v o2
            ON o2.src = o1.src
               AND (o1.dd < o2.dd OR (o1.dd = o2.dd AND o1.dst < o2.dst))
          JOIN oriented_v o3 ON o3.src = o1.dst AND o3.dst = o2.dst),
        deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
                  SELECT src AS n FROM oriented_v
                  UNION ALL SELECT dst AS n FROM oriented_v) e GROUP BY n),
        gstats AS (
          SELECT CAST(count(*) AS BIGINT) AS n_nodes,
                 CAST(sum(d * (d - 1)) AS BIGINT) AS wedges2 FROM deg),
        estats AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM oriented_v)
        SELECT g.n_nodes, e.n_edges, CAST(g.wedges2 / 2 AS BIGINT) AS n_wedges,
               t.n_triangles,
               round(6.0e0 * t.n_triangles / g.wedges2, 6) AS clustering_coeff
        FROM gstats g, estats e, tri t
        """
    )


def triangles_oracle() -> str:
    return "WITH " + _TRIANGLES


# ---------------------------------------------------------------------------
# hits — Kleinberg's HITS (hubs & authorities), completing the graph
# family's third classic next to PageRank (importance diffuses along
# edges) and label propagation (labels contract): mutual reinforcement
# on a BIPARTITE graph. The purchase relation customer → part is the
# textbook instance: a hub is a customer whose basket concentrates on
# authoritative parts, an authority is a part bought by strong hubs —
# the shape recommender bootstraps use. On a symmetric graph hubs ≡
# authorities, so the bipartite edge set is also what makes the two
# scores informative.
#
# Exactness discipline (the pagerank contract): scores are BIGINT
# micro-units, init h = HITS_SCALE per customer; each half-iteration is
# one equi-join + map-side-combinable fold, then L1 re-normalization to
# mean HITS_SCALE per node — spelled as integer multiply-then-divide by
# the 1-row global total (broadcast scalar frame, the whitelisted
# pattern). HITS_SCALE = 10⁴ keeps the worst intermediate
# (raw · n_nodes · SCALE ≈ 2×10¹⁵) far inside BIGINT while truncation
# loss stays ≤ degree micro-units per node. Two full h→a→h rounds
# unrolled; the convergence-loop machinery lives in dedup_clusters.
#
# At 100 TB: edges partition by the join key per half-step (src for
# a-updates, dst for h-updates); score frames are O(nodes); the only
# global object is the 1-row L1 total. Same plan algebra as pagerank.
# ---------------------------------------------------------------------------

HITS_SCALE = 10_000


def _hits_sql(idiv: str) -> str:
    s = HITS_SCALE
    return f"""
    ed AS (SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
           FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
           WHERE o.o_custkey IS NOT NULL),
    cn AS (SELECT CAST(count(DISTINCT c) AS BIGINT) AS n FROM ed),
    pn AS (SELECT CAST(count(DISTINCT p) AS BIGINT) AS n FROM ed),
    h0 AS (SELECT DISTINCT c, CAST({s} AS BIGINT) AS h FROM ed),
    a1r AS (SELECT e.p, CAST(sum(h.h) AS BIGINT) AS r
            FROM ed e JOIN h0 h ON h.c = e.c GROUP BY e.p),
    a1t AS (SELECT CAST(sum(r) AS BIGINT) AS t FROM a1r),
    a1 AS (SELECT p, CAST((r * pn.n * {s}) {idiv} a1t.t AS BIGINT) AS a
           FROM a1r, pn, a1t),
    h1r AS (SELECT e.c, CAST(sum(a.a) AS BIGINT) AS r
            FROM ed e JOIN a1 a ON a.p = e.p GROUP BY e.c),
    h1t AS (SELECT CAST(sum(r) AS BIGINT) AS t FROM h1r),
    h1 AS (SELECT c, CAST((r * cn.n * {s}) {idiv} h1t.t AS BIGINT) AS h
           FROM h1r, cn, h1t),
    a2r AS (SELECT e.p, CAST(sum(h.h) AS BIGINT) AS r
            FROM ed e JOIN h1 h ON h.c = e.c GROUP BY e.p),
    a2t AS (SELECT CAST(sum(r) AS BIGINT) AS t FROM a2r),
    a2 AS (SELECT p, CAST((r * pn.n * {s}) {idiv} a2t.t AS BIGINT) AS a
           FROM a2r, pn, a2t)
    SELECT p AS part, a AS authority_micros
    FROM a2 ORDER BY a DESC, p LIMIT 20
    """


def hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N93: bipartite HITS hubs/authorities, exact integer arithmetic."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql("WITH " + _hits_sql("div"))


def hits_oracle() -> str:
    return "WITH " + _hits_sql("//")


# ---------------------------------------------------------------------------
# Streaming triangle count — incremental graph analytics, and the
# 3-clique generalization of the stream-minhash emission rule: a
# triangle is counted EXACTLY ONCE, by the batch in which its
# last-arriving edge lands. Per batch: new edges = the batch's
# co-purchase pairs anti-joined against the stored edge index (so
# re-delivery and cross-batch duplicate pairs count nothing); the batch
# delta = DISTINCT canonical triangles (a < b < c) closed by at least
# one new edge, enumerated with the new-edge leg ALWAYS the small side
# (new-edge ⋈ adjacency on u, then the closing-edge membership probe) —
# per-batch cost O(batch wedges), never O(graph wedges). A triangle
# whose edges all predate the batch is never enumerated; one closed by
# several same-batch edges collapses under the canonical-triple
# DISTINCT. Accumulated Σ deltas must equal the one-shot count, and the
# read-time summary (nodes/edges/wedges re-derived from the edge index,
# triangles = Σ deltas) hash-matches the batch q_triangles oracle
# VERBATIM — delta-correctness proven through the differential gate.
#
# Deliberate contrast with the batch op: degree ORIENTATION is not
# stable under streaming (arrivals change degrees, which would flip
# stored orientations), so the index stores undirected canonical edges
# (u < v) and enumeration canonicalizes triples instead — orientation
# affects COST bounds only, never the count; a production deployment
# re-orients periodically at compaction, exactly like the IVF
# quantizer's freeze/retrain contract (similarity.stream_ann_query).
#
# This graph arrives ORDER-LOCAL (each order contributes its own part
# pairs), so parity-splitting ORDERS streams the exact full edge set —
# the co-purchase analog of document batches.
# ---------------------------------------------------------------------------


def _merge_triangles(
    spark: SparkSession, batch_df: DataFrame, base: str, batch_id: int
) -> None:
    import os

    from pyspark.sql import functions as F

    snap = os.path.join(base, "edges")
    deltas = os.path.join(base, "deltas")
    if passes.applied(snap, batch_id):
        return
    pairs = (
        batch_df.alias("a")
        .join(batch_df.alias("b"), "okey")
        .where("a.part < b.part")
        .selectExpr("a.part AS u", "b.part AS v")
        .distinct()
    )
    # edges carry their batch id: a replay after a crash between the edge
    # append and the marker reads the index WITHOUT its own rows, so it
    # recomputes the same new edges and the same delta
    index = (
        passes.read_snapshot(spark, snap, "u bigint, v bigint, bid bigint")
        .filter(F.col("bid") != batch_id)
        .select("u", "v")
        .distinct()
    )
    new = pairs.join(index, ["u", "v"], "left_anti").localCheckpoint()
    # adjacency = accumulated ∪ new, both directions; the new-edge leg is
    # the small side of every join below
    und = index.unionByName(new)
    adj = und.unionByName(und.selectExpr("v AS u", "u AS v"))
    n = new.alias("n")
    w = n.join(adj.alias("x"), F.col("x.u") == F.col("n.u")).where(
        "x.v <> n.v"
    ).selectExpr("n.u AS eu", "n.v AS ev", "x.v AS w")
    closed = w.join(
        adj.alias("c"),
        (F.col("c.u") == F.col("ev")) & (F.col("c.v") == F.col("w")),
        "left_semi",
    )
    tri = closed.selectExpr(
        "least(eu, ev, w) AS a",
        "CAST(eu + ev + w - least(eu, ev, w) - greatest(eu, ev, w) AS BIGINT) AS b",
        "greatest(eu, ev, w) AS c",
    ).distinct()
    delta = tri.count()
    spark.createDataFrame(
        [(batch_id, delta)], "bid bigint, delta bigint"
    ).write.mode("append").parquet(deltas)
    new.withColumn("bid", F.lit(batch_id).cast("bigint")).write.mode(
        "append"
    ).parquet(snap)
    passes.mark_applied(snap, batch_id)


def stream_triangles_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T18, oracle-checked: two availableNow passes over parity-split
    orders maintain the edge index and per-batch triangle deltas; the
    assembled summary must hash-match the one-shot batch q_triangles."""
    import os

    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    items = spark.sql(
        "SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem"
    )
    base = passes.two_pass(
        spark, sf_dir, "t18_tri_", items.filter("okey % 2 = 0"),
        items.filter("okey % 2 = 1"),
        passes.foreach_merge(spark, "okey bigint, part bigint", _merge_triangles),
    )
    spark.read.parquet(os.path.join(base, "edges")).dropDuplicates(
        ["u", "v"]
    ).createOrReplaceTempView("tri_edges")
    # a crash between the delta append and the marker re-appends an
    # IDENTICAL (bid, delta) row on replay (the compute is deterministic):
    # bid-keyed dedup on read absorbs it — the any-winner-correct pattern
    spark.read.parquet(os.path.join(base, "deltas")).dropDuplicates(
        ["bid"]
    ).createOrReplaceTempView("tri_deltas")
    return spark.sql(
        """
        WITH deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
                       SELECT u AS n FROM tri_edges
                       UNION ALL SELECT v AS n FROM tri_edges) e GROUP BY n),
        gstats AS (
          SELECT CAST(count(*) AS BIGINT) AS n_nodes,
                 CAST(sum(d * (d - 1)) AS BIGINT) AS wedges2 FROM deg),
        estats AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM tri_edges),
        tri AS (SELECT CAST(sum(delta) AS BIGINT) AS n_triangles
                FROM tri_deltas)
        SELECT g.n_nodes, e.n_edges, CAST(g.wedges2 / 2 AS BIGINT) AS n_wedges,
               t.n_triangles,
               round(6.0e0 * t.n_triangles / g.wedges2, 6) AS clustering_coeff
        FROM gstats g, estats e, tri t
        """
    )


# ---------------------------------------------------------------------------
# The co-purchase part graph (parts sharing an order, undirected, u < v)
# is the shared substrate of the whole graph family — ONE definition so
# a change to the graph (say, excluding cancelled orders) cannot
# silently put two graph ops on different graphs. `mat` emits DuckDB's
# AS MATERIALIZED for the oracles (the planner inlines multiply-
# referenced CTEs; Spark callers stage the frame via scoped_checkpoint
# instead).
# ---------------------------------------------------------------------------


def _copurchase_cte(mat: bool) -> str:
    m = "MATERIALIZED " if mat else ""
    return f"""items AS {m}(SELECT DISTINCT l_orderkey AS okey,
                     l_partkey AS part FROM lineitem),
    pairs AS {m}(SELECT DISTINCT a.part AS u, b.part AS v
           FROM items a JOIN items b
             ON a.okey = b.okey AND a.part < b.part)"""


# ---------------------------------------------------------------------------
# kcore — k-core peeling, the graph family's density-decomposition
# member: PageRank ranks nodes, label propagation groups them,
# triangles measure local closure; the k-core answers "what survives
# when the periphery is repeatedly stripped?" — the standard spam/bot
# core extraction and the pre-filter community detectors run before the
# expensive per-community work. A node is in the k-core iff it keeps
# degree ≥ k after every node that cannot is removed; removal cascades,
# so the computation is a fixpoint of (degree → filter → restrict).
#
# Graph: the same co-purchase part graph as q_triangles (parts sharing
# an order). k is DATA-DERIVED — ⌊0.8 × average degree⌋ computed in a
# 1-row frame — so the peel stays non-degenerate at every scale factor
# instead of pinning a constant that only bites at sf0.01 (measured
# there: 2000 → 1705 → 1420 → 901 nodes over three rounds, i.e. both a
# real cascade and a surviving core candidate). Three rounds unrolled,
# the same contract as pagerank/HITS: the loop-until-convergence
# machinery lives in q_dedup_clusters and is deliberately not repeated.
#
# At 100 TB: each round is one degree fold (map-side combinable) plus
# two LEFT SEMI restrictions on the node key — edges shuffle on their
# endpoint, never replicate; the only global object is the 1-row k
# threshold. Round cost is O(surviving edges), monotonically shrinking.
# Exactness: counts and the threshold are BIGINT arithmetic throughout;
# no floats anywhere, so the differential is bit-exact by construction.
#
# Spark-side staging: Catalyst INLINES chained CTEs, and every peel
# round references its predecessor three times (degree fold + two semi
# restrictions) — a single WITH chain re-derives the order self-join
# 3^round times. So each round's surviving edge frame is staged through
# scoped_checkpoint (the triangles/k-means pattern; a durable staging
# table on a real cluster) and the one-WITH spelling below is the
# DuckDB oracle only, where CTEs materialize once.
# ---------------------------------------------------------------------------


def _kcore_sql(idiv: str) -> str:
    # nodes_kept at round r = distinct endpoints of the surviving edge
    # frame (a kept node whose every neighbor peeled carries no edge and
    # drops out) — the same quantity the Spark side derives, so the
    # differential compares one definition, not two. This SQL is the
    # DuckDB ORACLE only (the Spark side stages rounds imperatively);
    # AS MATERIALIZED forces DuckDB to evaluate each multiply-referenced
    # peel frame once — the planner's default inlining re-derives the
    # base self-join 3^round times (measured 48.7 s → 0.09 s at sf0.01).
    peel = []
    for r in range(3):
        p, n = f"e{r + 1}", f"e{r}"
        keep, d = f"k{r}", f"d{r}"
        peel.append(f"""
    {keep} AS MATERIALIZED (SELECT n FROM {d}, kk WHERE d >= kk.k),
    {p} AS MATERIALIZED (SELECT u, v FROM {n}
            WHERE u IN (SELECT n FROM {keep})
              AND v IN (SELECT n FROM {keep})),
    d{r + 1} AS MATERIALIZED (SELECT n, CAST(count(*) AS BIGINT) AS d
            FROM (
              SELECT u AS n FROM {p} UNION ALL SELECT v AS n FROM {p}) x
            GROUP BY n)""")
    rounds = " UNION ALL ".join(
        f"""SELECT {r} AS round, (SELECT count(*) FROM d{r}) AS nodes_kept,
           (SELECT count(*) FROM e{r}) AS edges_kept,
           (SELECT k FROM kk) AS k"""
        for r in range(4)
    )
    return f"""
    {_copurchase_cte(mat=True)},
    e0 AS MATERIALIZED (SELECT u, v FROM pairs),
    d0 AS MATERIALIZED (SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
             SELECT u AS n FROM e0 UNION ALL SELECT v AS n FROM e0) x
           GROUP BY n),
    kk AS MATERIALIZED (SELECT CAST((sum(d) * 4) {idiv} (count(*) * 5)
                                    AS BIGINT) AS k
           FROM d0),{",".join(peel)}
    {rounds}
    ORDER BY round
    """


def kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N96: adaptive-k core peeling over the co-purchase graph.

    r10 staging (guide §1.2/§2.4): each round's DEGREE frame is
    materialized alongside the peeled edge frame — it was already being
    computed inside the round's plan (the keep-filter needs it), and the
    summary needs exactly its row count (one degree row per surviving
    endpoint ≡ one DISTINCT endpoint), so materializing it turns the old
    summary's four distinct-endpoint shuffles over full edge frames into
    four count(*) scalar subqueries over already-materialized tiny
    frames. Round-0's degree frame also feeds the threshold directly
    (the old spelling re-folded degrees a second time for kk)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from ..checkpoints import scoped_checkpoint

    # r11 (VERDICT r10 #3, guide §1.2/§5): the fixpoint was DRIVER-ACTION
    # bound (8 cores beat 32 at sf0.1 — scheduling, not dataflow). Two
    # alternatives were measured in interleaved fresh-JVM A/B rounds:
    # (a) fusing each round's edge+degree checkpoint into ONE tagged
    #     union frame (9 actions -> 5) was wall-NEUTRAL locally (3.7 vs
    #     4.0 s medians, within round-to-round noise) but read +48%
    #     shuffle bytes (671 vs 452 MB per 4 runs) and +56% tasks — the
    #     degree branch re-runs the peel join from the reused exchange,
    #     i.e. it trades an O(1)-latency driver action for a duplicated
    #     O(edges) pass. Rejected: wrong trade at scale.
    # (b) KEPT: every summary quantity now rides an observe() metric on
    #     the materialization that already computes it (observed metrics
    #     fire on localCheckpoint — verified), so the old final action's
    #     12 scalar-subquery stages (4 union branches x 3 subqueries
    #     over the checkpointed views) collapse into a pre-computed
    #     4-row local frame. Same engine-computed numbers — each count
    #     is aggregated inside the round's own job, nothing is collected
    #     but the per-round scalars the summary row carries anyway.
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    n_edges: list[int] = []
    n_nodes: list[int] = []

    def _count_obs(df):
        obs = Observation()
        return df.observe(obs, F.count(F.lit(1)).alias("n")), obs

    edges = spark.sql(
        f"WITH {_copurchase_cte(mat=False)} SELECT u, v FROM pairs"
    )
    e_obs, obs = _count_obs(edges)
    edges = scoped_checkpoint(e_obs, "kcore_e0")
    n_edges.append(obs.get["n"])
    edges.createOrReplaceTempView("kcore_edges_0")

    def _deg(r: int):
        d = spark.sql(
            f"""
            SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
              SELECT u AS n FROM kcore_edges_{r}
              UNION ALL SELECT v AS n FROM kcore_edges_{r}) x GROUP BY n
            """
        )
        d_obs, obs = _count_obs(d)
        d = scoped_checkpoint(d_obs, f"kcore_d{r}")
        n_nodes.append(obs.get["n"])
        d.createOrReplaceTempView(f"kcore_deg_{r}")

    _deg(0)
    # the 1-row threshold frame is referenced by every round's filter;
    # checkpointing it once turns those into constant-frame reads, and
    # its observe carries the k value out for the summary
    kk_obs = Observation()
    kk = scoped_checkpoint(
        spark.sql(
            "SELECT CAST((sum(d) * 4) div (count(*) * 5) AS BIGINT) AS k "
            "FROM kcore_deg_0"
        ).observe(kk_obs, F.max("k").alias("k")),
        "kcore_kk",
    )
    k_val = kk_obs.get["k"]
    kk.createOrReplaceTempView("kcore_kk")
    for r in range(3):
        nxt = spark.sql(
            f"""
            WITH keep AS (SELECT n FROM kcore_deg_{r}, kcore_kk
                          WHERE d >= kcore_kk.k)
            SELECT u, v FROM kcore_edges_{r}
            WHERE u IN (SELECT n FROM keep) AND v IN (SELECT n FROM keep)
            """
        )
        nxt_obs, obs = _count_obs(nxt)
        nxt = scoped_checkpoint(nxt_obs, f"kcore_e{r + 1}")
        n_edges.append(obs.get["n"])
        nxt.createOrReplaceTempView(f"kcore_edges_{r + 1}")
        _deg(r + 1)
    return spark.createDataFrame(
        [
            (r, n_nodes[r] or 0, n_edges[r] or 0, k_val)
            for r in range(4)
        ],
        "round int, nodes_kept bigint, edges_kept bigint, k bigint",
    )


def kcore_oracle() -> str:
    return "WITH " + _kcore_sql("//")


# ---------------------------------------------------------------------------
# assortativity — degree-mixing coefficient (Newman 2002), the summary
# statistic that closes the graph-structure trio: triangles measure
# local closure, k-core measures density layering, assortativity
# measures WHO connects to whom — hubs-to-hubs (r > 0, social-network
# shape) vs hubs-to-leaves (r < 0, internet/protein shape). It decides
# which skew strategy a pipeline needs: disassortative graphs
# concentrate join fan-out on hub keys (salt them), assortative ones
# spread it.
#
# r = Pearson correlation of endpoint degrees over the DIRECTED view of
# the symmetric edge set (each undirected edge contributes both
# orientations — Newman's definition; it also makes the x and y moment
# sums symmetric by construction, a free consistency check). All five
# moments are BIGINT sums of exact integers — with max degree d and m
# edges the largest (Σxy ≤ 2m·d²) fits BIGINT through d ≈ 10⁶ at
# billion-edge scale; past that the sums widen to DECIMAL(38,0), same
# plan. The single double appears in the final 1-row Pearson ratio,
# rounded 6 dp.
#
# At 100 TB: degree fold is map-side combinable; the two degree
# attachments are equi-joins on the node key (shuffle-hash, nothing
# quadratic); the moment fold collapses everything to ONE row before
# any float exists.
# ---------------------------------------------------------------------------

_DEG_SQL = """SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
              SELECT u AS n FROM {pairs}
              UNION ALL SELECT v AS n FROM {pairs}) x
            GROUP BY n"""


def _assort_body(pairs: str, deg: str) -> str:
    return f"""
    sym AS (SELECT u, v FROM {pairs}
            UNION ALL SELECT v AS u, u AS v FROM {pairs}),
    j AS (SELECT du.d AS x, dv.d AS y FROM sym s
          JOIN {deg} du ON du.n = s.u JOIN {deg} dv ON dv.n = s.v),
    m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x * y) AS BIGINT) AS sxy,
                 CAST(sum(x * x) AS BIGINT) AS sxx,
                 CAST(sum(y * y) AS BIGINT) AS syy FROM j),
    g AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
                 CAST(min(d) AS BIGINT) AS min_degree,
                 CAST(max(d) AS BIGINT) AS max_degree FROM {deg}),
    e AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM {pairs})
    SELECT g.n_nodes, e.n_edges, g.min_degree, g.max_degree,
           round((CAST(m.n AS DOUBLE) * m.sxy
                  - CAST(m.sx AS DOUBLE) * m.sy)
                 / sqrt((CAST(m.n AS DOUBLE) * m.sxx
                         - CAST(m.sx AS DOUBLE) * m.sx)
                        * (CAST(m.n AS DOUBLE) * m.syy
                           - CAST(m.sy AS DOUBLE) * m.sy)),
                 6) AS assortativity
    FROM m, g, e
"""


def assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N102: Newman degree-assortativity over the co-purchase graph.

    The edge and degree frames are each referenced 3-5 times by the
    moment/summary CTEs, so both are staged once via scoped_checkpoint
    (Catalyst inlines CTEs — the kcore lesson; the oracle says
    AS MATERIALIZED for the same reason)."""
    from ..checkpoints import scoped_checkpoint

    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    pairs = spark.sql(
        f"WITH {_copurchase_cte(mat=False)} SELECT u, v FROM pairs"
    )
    scoped_checkpoint(pairs, "assort_pairs").createOrReplaceTempView(
        "assort_pairs"
    )
    deg = spark.sql(_DEG_SQL.format(pairs="assort_pairs"))
    scoped_checkpoint(deg, "assort_deg").createOrReplaceTempView("assort_deg")
    return spark.sql("WITH " + _assort_body("assort_pairs", "assort_deg"))


def assortativity_oracle() -> str:
    return (
        f"WITH {_copurchase_cte(mat=True)},\n"
        f"    deg AS MATERIALIZED ({_DEG_SQL.format(pairs='pairs')}),"
        + _assort_body("pairs", "deg")
    )


# ---------------------------------------------------------------------------
# bfs_hops — breadth-first hop-expansion profile, the TRAVERSAL member
# completing the graph family (diffusion = pagerank, contraction =
# label-prop CC, closure = triangles, layering = k-core, bipartite =
# HITS, mixing = assortativity): from a deterministic source (the
# max-degree node, ties to the smallest id — the "where would an
# outbreak start" convention), how much of the graph does each hop
# reach? The per-hop frontier/visited counts are the expansion profile
# that sizes iterative graph workloads (a frontier that saturates by
# hop 2 means 2 join rounds, not a 30-round budget) and estimates the
# effective diameter.
#
# Three hops unrolled (saturation on the dense co-purchase graph is
# hop-2; the loop-until-empty-frontier machinery lives in
# q_dedup_clusters). Each hop = one equi-join frontier⋈edges on the
# node key + an anti-join against visited — both keyed, nothing
# quadratic. Spark stages each hop's frontier/visited frames through
# scoped_checkpoint (the kcore lesson: Catalyst inlines CTEs and each
# hop references its predecessors multiply). All counts BIGINT;
# bit-exact differential by construction.
# ---------------------------------------------------------------------------

BFS_HOPS = 3


def _bfs_oracle_sql() -> str:
    # DuckDB oracle only (the Spark side stages hops imperatively);
    # AS MATERIALIZED stops the planner from re-inlining the multiply-
    # referenced frontier/visited chain — the kcore oracle lesson.
    hops = []
    for h in range(1, BFS_HOPS + 1):
        hops.append(f"""
    f{h} AS MATERIALIZED (SELECT DISTINCT s.v AS n FROM sym s
             JOIN f{h - 1} f ON f.n = s.u
             WHERE s.v NOT IN (SELECT n FROM vis{h - 1})),
    vis{h} AS MATERIALIZED (SELECT n FROM vis{h - 1}
             UNION SELECT n FROM f{h})""")
    rounds = " UNION ALL ".join(
        f"""SELECT {h} AS hop, (SELECT count(*) FROM f{h}) AS frontier,
            (SELECT count(*) FROM vis{h}) AS visited"""
        for h in range(0, BFS_HOPS + 1)
    )
    return f"""
    {_copurchase_cte(mat=True)},
    sym AS MATERIALIZED (SELECT u, v FROM pairs
            UNION ALL SELECT v AS u, u AS v FROM pairs),
    deg AS (SELECT u AS n, CAST(count(*) AS BIGINT) AS d FROM sym
            GROUP BY u),
    src AS MATERIALIZED (SELECT n FROM deg ORDER BY d DESC, n LIMIT 1),
    f0 AS MATERIALIZED (SELECT n FROM src),
    vis0 AS MATERIALIZED (SELECT n FROM src),{",".join(hops)}
    {rounds}
    ORDER BY hop
    """


def bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N104: BFS hop-expansion profile from the max-degree source."""
    from ..checkpoints import scoped_checkpoint

    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    sym = spark.sql(
        f"""WITH {_copurchase_cte(mat=False)}
        SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs"""
    )
    sym = scoped_checkpoint(sym, "bfs_sym")
    sym.createOrReplaceTempView("bfs_sym")
    src = spark.sql(
        """
        SELECT u AS n FROM bfs_sym GROUP BY u
        ORDER BY CAST(count(*) AS BIGINT) DESC, u LIMIT 1
        """
    )
    src = scoped_checkpoint(src, "bfs_f0")
    src.createOrReplaceTempView("bfs_f0")
    src.createOrReplaceTempView("bfs_vis0")
    for h in range(1, BFS_HOPS + 1):
        f = spark.sql(
            f"""
            SELECT DISTINCT s.v AS n FROM bfs_sym s
            JOIN bfs_f{h - 1} f ON f.n = s.u
            WHERE s.v NOT IN (SELECT n FROM bfs_vis{h - 1})
            """
        )
        f = scoped_checkpoint(f, f"bfs_f{h}")
        f.createOrReplaceTempView(f"bfs_f{h}")
        vis = spark.sql(
            f"SELECT n FROM bfs_vis{h - 1} UNION SELECT n FROM bfs_f{h}"
        )
        vis = scoped_checkpoint(vis, f"bfs_vis{h}")
        vis.createOrReplaceTempView(f"bfs_vis{h}")
    rounds = " UNION ALL ".join(
        f"""SELECT {h} AS hop,
            (SELECT count(*) FROM bfs_f{h}) AS frontier,
            (SELECT count(*) FROM bfs_vis{h}) AS visited"""
        for h in range(0, BFS_HOPS + 1)
    )
    return spark.sql(rounds + " ORDER BY hop")


def bfs_hops_oracle() -> str:
    return "WITH " + _bfs_oracle_sql()


# ---------------------------------------------------------------------------
# ab_test — two-proportion experiment readout, opening the
# experimentation-analytics verb the behavioral family was missing:
# funnels/retention/attribution DESCRIBE behavior, an A/B readout
# DECIDES between treatments. Users are deterministically hashed into
# variants (md5 parity — the hash_split discipline: reproducible under
# any repartitioning, no RNG state, and the real-world assignment
# mechanism), the success metric is "above-mean purchaser" (np · n_users
# > Σnp — an exact integer comparison, so the split is non-degenerate at
# every scale factor without a fixture-tuned constant), and the readout
# is the standard two-proportion pooled z-score plus the SRM guard
# (sample-ratio-mismatch chi² against the expected 50/50 — the check
# every experiment platform runs FIRST, because a biased assignment
# invalidates the z-score before it is read).
#
# Exactness: counts BIGINT; rates and both statistics are single double
# expressions over exact integers, rounded 6 dp (no distributed float
# folds — everything collapses to one row of counts first).
#
# At 100 TB: two map-side-combinable aggregations (user grain, then
# variant grain) and a 1-row readout. The user-grain fold shuffles on
# user_id once; nothing else moves.
# ---------------------------------------------------------------------------


# Variant assignment shared by ab_test and cuped — ONE definition, since
# the CUPED adjustment is only valid when both readouts split users
# identically (editing one copy of the hash without the other would put
# the two ops on silently different experiments).
_PICK_SPARK = (
    "CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 12), 16, 10) "
    "AS BIGINT) % 2 = 0"
)
_PICK_DUCK = (
    "CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 12)) "
    "AS BIGINT) % 2 = 0"
)


def _ab_sql(md5pick: str) -> str:
    return f"""
    e AS (SELECT user_id,
                 CAST(sum(CASE WHEN event_type = 'purchase'
                          THEN 1 ELSE 0 END) AS BIGINT) AS np
          FROM events GROUP BY user_id),
    t AS (SELECT CAST(count(*) AS BIGINT) AS nu,
                 CAST(sum(np) AS BIGINT) AS tp FROM e),
    u AS (SELECT user_id,
                 CASE WHEN {md5pick} THEN 'A' ELSE 'B' END AS variant,
                 CASE WHEN np * (SELECT nu FROM t) > (SELECT tp FROM t)
                      THEN 1 ELSE 0 END AS converted
          FROM e),
    v AS (SELECT variant, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(converted) AS BIGINT) AS conv
          FROM u GROUP BY variant),
    w AS (SELECT
            max(CASE WHEN variant = 'A' THEN n END) AS n_a,
            max(CASE WHEN variant = 'A' THEN conv END) AS conv_a,
            max(CASE WHEN variant = 'B' THEN n END) AS n_b,
            max(CASE WHEN variant = 'B' THEN conv END) AS conv_b
          FROM v)
    SELECT n_a, conv_a, n_b, conv_b,
           round(CAST(conv_a AS DOUBLE) / n_a, 6) AS cr_a,
           round(CAST(conv_b AS DOUBLE) / n_b, 6) AS cr_b,
           round((CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
                 / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                        * (1.0 - CAST(conv_a + conv_b AS DOUBLE)
                                 / (n_a + n_b))
                        * (1.0 / n_a + 1.0 / n_b)),
                 6) AS z_score,
           round((CAST(n_a AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) / 2)
                 * (CAST(n_a AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) / 2)
                 / (CAST(n_a + n_b AS DOUBLE) / 2)
                 + (CAST(n_b AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) / 2)
                 * (CAST(n_b AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) / 2)
                 / (CAST(n_a + n_b AS DOUBLE) / 2),
                 6) AS srm_chi2
    FROM w
    """


def ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N105: deterministic-assignment A/B readout with SRM guard."""
    table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql("WITH " + _ab_sql(_PICK_SPARK))


def ab_test_oracle() -> str:
    return "WITH " + _ab_sql(_PICK_DUCK)


# ---------------------------------------------------------------------------
# cuped — variance-reduced experiment readout (Deng, Xu, Kohavi &
# Walker, WSDM 2013: "Improving the sensitivity of online controlled
# experiments"), the power half of the experimentation pair: ab_test is
# the plain readout, CUPED subtracts the part of the outcome each
# user's PRE-EXPERIMENT behavior already predicted — Y_adj = Y −
# θ(X − x̄), θ = cov(X,Y)/var(X) — shrinking variance by corr²(X,Y) and
# making the same z-threshold detect smaller effects with the same
# traffic. This is the single most-used sensitivity trick in industry
# experimentation.
#
# Periods: the pre/experiment boundary is the DATA-DERIVED midpoint of
# the event time span ((min+max)/2 in exact epoch micros — no
# fixture-tuned date), X = pre-period purchases, Y = experiment-period
# purchases per user; assignment is the same md5-parity as ab_test.
#
# Exactness: every moment (n, Σx, Σy, Σxx, Σxy, Σyy per variant) is a
# BIGINT sum of exact integers folded map-side to a 2-row frame; θ,
# variances, both z-scores and the variance-reduction ratio are single
# double expressions over those 1-row/2-row frames, rounded 6 dp — no
# distributed float folds anywhere.
#
# At 100 TB: one user-grain fold (shuffles on user_id once), one
# variant-grain fold to 2 rows, a 1-row readout. The same shape as
# ab_test with five extra integer sums.
# ---------------------------------------------------------------------------


def _cuped_sql(epoch_us: str, md5pick: str, idiv: str) -> str:
    return f"""
    ev AS (SELECT user_id, {epoch_us} AS t,
                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
           FROM events),
    s AS (SELECT CAST((min(t) + max(t)) {idiv} 2 AS BIGINT) AS mid
          FROM ev),
    u AS (SELECT user_id,
                 CASE WHEN {md5pick} THEN 'A' ELSE 'B' END AS variant,
                 CAST(sum(CASE WHEN t <= (SELECT mid FROM s)
                          THEN p ELSE 0 END) AS BIGINT) AS x,
                 CAST(sum(CASE WHEN t > (SELECT mid FROM s)
                          THEN p ELSE 0 END) AS BIGINT) AS y
          FROM ev GROUP BY user_id),
    m AS (SELECT variant, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x * x) AS BIGINT) AS sxx,
                 CAST(sum(x * y) AS BIGINT) AS sxy,
                 CAST(sum(y * y) AS BIGINT) AS syy
          FROM u GROUP BY variant),
    g AS (SELECT CAST(sum(n) AS BIGINT) AS n, CAST(sum(sx) AS BIGINT) AS sx,
                 CAST(sum(sy) AS BIGINT) AS sy,
                 CAST(sum(sxx) AS BIGINT) AS sxx,
                 CAST(sum(sxy) AS BIGINT) AS sxy,
                 CAST(sum(syy) AS BIGINT) AS syy FROM m),
    th AS (SELECT
             (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
               / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
               AS theta,
             CAST(sx AS DOUBLE) / n AS mx,
             (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)
               / (CAST(n AS DOUBLE) * n) AS var_y,
             (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
               / (CAST(n AS DOUBLE) * n) AS var_x,
             (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
               / (CAST(n AS DOUBLE) * n) AS cov_xy
           FROM g),
    w AS (SELECT
            max(CASE WHEN variant = 'A' THEN n END) AS n_a,
            max(CASE WHEN variant = 'A' THEN sx END) AS sx_a,
            max(CASE WHEN variant = 'A' THEN sy END) AS sy_a,
            max(CASE WHEN variant = 'B' THEN n END) AS n_b,
            max(CASE WHEN variant = 'B' THEN sx END) AS sx_b,
            max(CASE WHEN variant = 'B' THEN sy END) AS sy_b
          FROM m)
    SELECT w.n_a, w.n_b,
           round(th.theta, 6) AS theta,
           round(CAST(w.sy_a AS DOUBLE) / w.n_a
                 - CAST(w.sy_b AS DOUBLE) / w.n_b, 6) AS diff_raw,
           round((CAST(w.sy_a AS DOUBLE) / w.n_a
                  - th.theta * (CAST(w.sx_a AS DOUBLE) / w.n_a - th.mx))
                 - (CAST(w.sy_b AS DOUBLE) / w.n_b
                    - th.theta * (CAST(w.sx_b AS DOUBLE) / w.n_b - th.mx)),
                 6) AS diff_cuped,
           round((CAST(w.sy_a AS DOUBLE) / w.n_a
                  - CAST(w.sy_b AS DOUBLE) / w.n_b)
                 / sqrt(th.var_y * (1.0 / w.n_a + 1.0 / w.n_b)),
                 6) AS z_raw,
           round(((CAST(w.sy_a AS DOUBLE) / w.n_a
                   - th.theta * (CAST(w.sx_a AS DOUBLE) / w.n_a - th.mx))
                  - (CAST(w.sy_b AS DOUBLE) / w.n_b
                     - th.theta * (CAST(w.sx_b AS DOUBLE) / w.n_b - th.mx)))
                 / sqrt((th.var_y - th.theta * th.cov_xy)
                        * (1.0 / w.n_a + 1.0 / w.n_b)),
                 6) AS z_cuped,
           round(1.0 - (th.var_y - th.theta * th.cov_xy) / th.var_y, 6)
             AS var_reduction
    FROM w, th
    """


def cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N106: CUPED variance-reduced A/B readout (WSDM 2013)."""
    from ..tables import EPOCH_NTZ

    table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        "WITH "
        + _cuped_sql(
            f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts)", _PICK_SPARK, "div"
        )
    )


def cuped_oracle() -> str:
    return "WITH " + _cuped_sql("epoch_us(ts)", _PICK_DUCK, "//")


# ---------------------------------------------------------------------------
# seasonal_anomaly — seasonal-baseline residual detection, the
# decomposition verb next to anomaly_p99's global percentile cut: a
# value that is normal at Friday 20:00 can be a 5σ outlier at Tuesday
# 04:00, and a global threshold cannot see the difference. The baseline
# is the (day-of-week, hour) slot profile — the classic weekly
# seasonality grid — and the report is the top-20 events by |z| against
# their OWN slot's mean and deviation.
#
# Calendar discipline: dow/hour are derived from epoch microseconds by
# integer arithmetic ((epoch_days + 4) % 7 → 0=Sunday, since the epoch
# is a Thursday; epoch_hours % 24) — NOT from dayofweek()/hour(), whose
# numbering conventions differ between engines (Spark 1=Sunday, DuckDB
# 0=Sunday; the classic cross-dialect trap). Exactness: event values enter as milli-unit DECIMAL(18,0), and
# the slot moments (n, Σv, Σv²) are exact DECIMAL folds — BIGINT would
# overflow on Σv² (value ≤ ~10³ → v² in milli-units ≈ 3·10¹¹ per row;
# ~10⁷ rows breaches 2⁶³, observed at the 10× probe), while DECIMAL
# sums stay exact and order-independent with 10³⁸ headroom. Mean, σ,
# and z are single double expressions over those, rounded 6 dp (z is
# unit-invariant, so milli vs micro only defines the value-rounding
# contract).
#
# At 100 TB: slot moments are one map-side-combinable groupBy into a
# 168-row frame (broadcast); the residual pass is a narrow scan joined
# against that frame; the top-k cut plans TakeOrderedAndProject.
# ---------------------------------------------------------------------------

SEASONAL_TOP = 20


def _seasonal_sql(epoch_us: str, idiv: str) -> str:
    return f"""
    ev AS (SELECT event_id, user_id, event_type, value,
                  (CAST(({epoch_us}) {idiv} 86400000000 AS BIGINT) + 4) % 7
                    AS dow,
                  CAST(({epoch_us}) {idiv} 3600000000 AS BIGINT) % 24 AS hod,
                  CAST(round(value * 1000) AS DECIMAL(18, 0)) AS vu
           FROM events),
    slot AS (SELECT dow, hod, CAST(count(*) AS BIGINT) AS n,
                    sum(vu) AS sv,
                    sum(vu * vu) AS svv
             FROM ev GROUP BY dow, hod),
    z AS (SELECT e.event_id, e.user_id, e.event_type, e.dow, e.hod,
                 round(e.value, 6) AS value,
                 round(CAST(s.sv AS DOUBLE) / s.n / 1000.0, 6)
                   AS slot_mean,
                 round((e.vu - CAST(s.sv AS DOUBLE) / s.n)
                       / sqrt((CAST(s.svv AS DOUBLE)
                               - CAST(s.sv AS DOUBLE) * s.sv / s.n)
                              / (s.n - 1)),
                       6) AS z_score
          FROM ev e JOIN slot s ON s.dow = e.dow AND s.hod = e.hod
          WHERE s.n >= 2)
    SELECT event_id, user_id, event_type,
           CAST(dow AS BIGINT) AS dow, CAST(hod AS BIGINT) AS hod,
           value, slot_mean, z_score
    FROM z
    ORDER BY abs(z_score) DESC, event_id LIMIT {SEASONAL_TOP}
    """


def seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N107: weekly-seasonality residual outliers (top-|z| per slot grid)."""
    from ..tables import EPOCH_NTZ

    table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        "WITH "
        + _seasonal_sql(f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts)", "div")
    )


def seasonal_anomaly_oracle() -> str:
    return "WITH " + _seasonal_sql("epoch_us(ts)", "//")


# ---------------------------------------------------------------------------
# welch_metric — continuous-metric readout completing the experiment
# trio: ab_test compares PROPORTIONS, cuped de-noises a COUNT metric,
# this one compares MEANS of a continuous metric (per-user average
# event value) with Welch's unequal-variance t statistic — the correct
# default when variant variances differ (pooling is the classic
# anti-pattern Welch 1947 fixed) — plus the Welch–Satterthwaite
# effective degrees of freedom, which is what turns the statistic into
# a p-value downstream.
#
# Exactness: per-user metric = milli-unit value sum div event count
# (BIGINT); variant moments (n, Σm, Σm²) are exact BIGINT folds (m ≤
# ~10⁶ milli-units → Σm² ≈ 10¹² per user, safely inside BIGINT through
# ~10⁶ users per variant; the DECIMAL widening documented on
# seasonal_anomaly applies beyond that); t and dof are single double
# expressions over the 2-row frame, rounded 6 dp.
#
# At 100 TB: identical shape to ab_test — user fold, variant fold,
# 1-row readout.
# ---------------------------------------------------------------------------


def _welch_sql(md5pick: str, idiv: str) -> str:
    va = "(CAST(sa2 AS DOUBLE) - CAST(sa AS DOUBLE) * sa / n_a) / (n_a - 1)"
    vb = "(CAST(sb2 AS DOUBLE) - CAST(sb AS DOUBLE) * sb / n_b) / (n_b - 1)"
    return f"""
    u AS (SELECT user_id,
                 CASE WHEN {md5pick} THEN 'A' ELSE 'B' END AS variant,
                 CAST(sum(CAST(round(value * 1000) AS BIGINT))
                      {idiv} count(*) AS BIGINT) AS m
          FROM events GROUP BY user_id),
    v AS (SELECT variant, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(m) AS BIGINT) AS s,
                 CAST(sum(m * m) AS BIGINT) AS s2
          FROM u GROUP BY variant),
    w AS (SELECT
            max(CASE WHEN variant = 'A' THEN n END) AS n_a,
            max(CASE WHEN variant = 'A' THEN s END) AS sa,
            max(CASE WHEN variant = 'A' THEN s2 END) AS sa2,
            max(CASE WHEN variant = 'B' THEN n END) AS n_b,
            max(CASE WHEN variant = 'B' THEN s END) AS sb,
            max(CASE WHEN variant = 'B' THEN s2 END) AS sb2
          FROM v)
    SELECT n_a, n_b,
           round(CAST(sa AS DOUBLE) / n_a / 1000.0, 6) AS mean_a,
           round(CAST(sb AS DOUBLE) / n_b / 1000.0, 6) AS mean_b,
           round((CAST(sa AS DOUBLE) / n_a - CAST(sb AS DOUBLE) / n_b)
                 / sqrt(({va}) / n_a + ({vb}) / n_b),
                 6) AS t_welch,
           round((({va}) / n_a + ({vb}) / n_b)
                 * (({va}) / n_a + ({vb}) / n_b)
                 / (({va}) * ({va}) / (CAST(n_a AS DOUBLE) * n_a)
                    / (n_a - 1)
                    + ({vb}) * ({vb}) / (CAST(n_b AS DOUBLE) * n_b)
                      / (n_b - 1)),
                 6) AS dof_ws
    FROM w
    """


def welch_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N108: Welch unequal-variance t readout on a continuous metric."""
    table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql("WITH " + _welch_sql(_PICK_SPARK, "div"))


def welch_metric_oracle() -> str:
    return "WITH " + _welch_sql(_PICK_DUCK, "//")


# ---------------------------------------------------------------------------
# bootstrap_ci — Poisson-bootstrap confidence interval for the mean
# metric, the UNCERTAINTY member of the experimentation family: the
# z/t readouts assume approximate normality of the mean; the bootstrap
# makes no such assumption and is what a platform reports when the
# metric is skewed (revenue-like metrics almost always are). The
# classical bootstrap resamples n-of-n WITH replacement — not
# distributable, because a resample needs global coordination; the
# Poisson bootstrap (each row enters each replicate Poisson(1) times,
# the large-n limit of the multinomial — Chamandy et al., "Estimating
# uncertainty for massive data streams", Google 2012) makes the weight
# ROW-LOCAL, which is the whole trick: replicate weights become a
# per-row expression and the replicate means one map-side-combinable
# fold.
#
# Determinism: the Poisson(1) draw is the inverse CDF applied to a
# md5-hash uniform over (user_id, replicate) — the dp_counts seeding
# discipline; the cumulative-pmf thresholds are hardcoded double
# literals, identical in both engines, so every weight is bit-equal.
# R = 32 replicates; the CI is the 2.5/97.5 percentile of the 32
# replicate means (a bounded 32-row frame — percentile aggregate, no
# window).
#
# At 100 TB: the user-metric fold shuffles on user_id once; the
# replicate explode is a constant ×R narrow expansion with a map-side-
# combinable (replicate) fold to an R-row frame. Nothing else moves.
# ---------------------------------------------------------------------------

BOOT_R = 32
# cumulative Poisson(1) pmf: P(X <= k) for k = 0..6 (k = 7 absorbs the tail)
_POIS_CDF = (
    "0.36787944117144233", "0.7357588823428847", "0.9196986029286058",
    "0.9810118431238462", "0.9963401531726563", "0.9994058151824183",
    "0.9999167588507119",
)


def _bootstrap_sql(md5int: str, pct: str, explode_r: str) -> str:
    ladder = " ".join(
        f"WHEN u < {c} THEN {k}" for k, c in enumerate(_POIS_CDF)
    )
    return f"""
    m AS (SELECT user_id,
                 CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT)
                   AS tot
          FROM events GROUP BY user_id),
    x AS (SELECT user_id, tot, r FROM m{explode_r}),
    w AS (SELECT tot, r,
                 CASE {ladder} ELSE 7 END AS wt
          FROM (SELECT tot, r,
                       (({md5int} % 1000000) + 0.5) / 1000000.0 AS u
                FROM x)),
    rep AS (SELECT r, round(CAST(sum(wt * tot) AS DOUBLE)
                            / sum(wt) / 1000.0, 6) AS mean_r
            FROM w GROUP BY r),
    base AS (SELECT round(CAST(sum(tot) AS DOUBLE) / count(*) / 1000.0, 6)
               AS mean_obs FROM m)
    SELECT (SELECT mean_obs FROM base) AS mean_obs,
           round({pct}(mean_r, 0.025), 6) AS ci_lo,
           round({pct}(mean_r, 0.975), 6) AS ci_hi,
           CAST(count(*) AS BIGINT) AS n_replicates
    FROM rep
    """


def bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N109: deterministic Poisson-bootstrap CI for the mean user metric."""
    table(spark, sf_dir, "events").createOrReplaceTempView("events")
    md5int = (
        "CAST(conv(substr(md5(concat(CAST(user_id AS STRING), ':', "
        "CAST(r AS STRING))), 1, 12), 16, 10) AS BIGINT)"
    )
    return spark.sql(
        "WITH "
        + _bootstrap_sql(
            md5int, "percentile",
            f" LATERAL VIEW explode(sequence(0, {BOOT_R - 1})) t AS r",
        )
    )


def bootstrap_ci_oracle() -> str:
    md5int = (
        "CAST(concat('0x', substr(md5(concat(CAST(user_id AS VARCHAR), ':', "
        "CAST(r AS VARCHAR))), 1, 12)) AS BIGINT)"
    )
    return "WITH " + _bootstrap_sql(
        md5int, "quantile_cont",
        f", unnest(range(0, {BOOT_R})) AS t(r)",
    )


# ---------------------------------------------------------------------------
# mannwhitney — rank-based nonparametric readout closing the
# experimentation family's fourth face: parametric mean (welch),
# variance-reduced (cuped), resampled (bootstrap), and now DISTRIBUTION
# comparison — Mann–Whitney U asks "does a random A user beat a random
# B user?", robust to the outliers and skew that move a mean without
# moving the experience of a typical user.
#
# The scale problem is the global rank: a naive rank() over the
# combined sample is a whole-population single-partition sort (the
# round-3 unigram finding). Spelled instead with the two-phase
# distributed prefix pattern (pack_global's machinery, generalized from
# packing offsets to midranks): (1) fold to distinct metric VALUES with
# (total, A) counts; (2) per-bucket count totals — the only
# unpartitioned window runs over this O(#buckets) frame, bounded by the
# metric RANGE (value div 1000), not the corpus; (3) broadcast bucket
# offsets back and finish with a bucket-partitioned running sum.
# Midranks ride ×2 (midrank2 = 2·below + t + 1) so ties stay in exact
# integers; U itself is exact in half-units, and the tie-corrected
# normal approximation (σ² with the Σ(t³−t) correction) is the single
# double at the end.
# ---------------------------------------------------------------------------

MW_BUCKET = 1000  # milli-units per rank bucket (metric-range knob)


def _mw_sql(md5pick: str, idiv: str) -> str:
    return f"""
    u AS (SELECT user_id,
                 CASE WHEN {md5pick} THEN 1 ELSE 0 END AS is_a,
                 CAST(sum(CAST(round(value * 1000) AS BIGINT))
                      {idiv} count(*) AS BIGINT) AS m
          FROM events GROUP BY user_id),
    vals AS (SELECT m, CAST(count(*) AS BIGINT) AS t,
                    CAST(sum(is_a) AS BIGINT) AS ta,
                    CAST(m {idiv} {MW_BUCKET} AS BIGINT) AS b
             FROM u GROUP BY m),
    bt AS (SELECT b, CAST(sum(t) AS BIGINT) AS tb FROM vals GROUP BY b),
    boff AS (SELECT b, CAST(coalesce(sum(tb) OVER (ORDER BY b
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS BIGINT) AS off
             FROM bt),
    ranked AS (SELECT v.m, v.t, v.ta,
                      CAST(o.off + coalesce(sum(v.t) OVER (PARTITION BY v.b
                             ORDER BY v.m ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING), 0) AS BIGINT) AS below
               FROM vals v JOIN boff o ON o.b = v.b),
    agg AS (SELECT CAST(sum(ta) AS BIGINT) AS n_a,
                   CAST(sum(t) - sum(ta) AS BIGINT) AS n_b,
                   CAST(sum(ta * (2 * below + t + 1)) AS BIGINT) AS r2a,
                   CAST(sum(t * t * t - t) AS BIGINT) AS tie3
            FROM ranked)
    SELECT n_a, n_b,
           CAST(r2a - 2 * ((n_a * (n_a + 1)) {idiv} 2) AS DOUBLE)
             / 2 AS u_a,
           round(((CAST(r2a AS DOUBLE) - n_a * (n_a + 1)) / 2
                  - CAST(n_a AS DOUBLE) * n_b / 2)
                 / sqrt(CAST(n_a AS DOUBLE) * n_b / 12.0
                        * ((n_a + n_b + 1)
                           - CAST(tie3 AS DOUBLE)
                             / ((CAST(n_a AS DOUBLE) + n_b)
                                * (n_a + n_b - 1)))),
                 6) AS z_normal
    FROM agg
    """


def mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N110: Mann–Whitney U via two-phase distributed midranks."""
    table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql("WITH " + _mw_sql(_PICK_SPARK, "div"))


def mannwhitney_oracle() -> str:
    return "WITH " + _mw_sql(_PICK_DUCK, "//")


# ---------------------------------------------------------------------------
# ks_test — exact two-sample Kolmogorov–Smirnov distance between the
# variant metric distributions: D = max_v |F_A(v) − F_B(v)|, the
# UNBINNED counterpart of drift_psi (PSI needs a bin design and hides
# everything inside a bin; KS is binning-free and exact) and the
# distribution-level sibling of mannwhitney (U detects a location
# shift, KS detects ANY distributional difference — variance, shape,
# bimodality). Reported with the scaled statistic
# D·√(n_A·n_B/(n_A+n_B)) that the Kolmogorov distribution converts to
# a p-value downstream.
#
# Same two-phase scaffolding as mannwhitney (distinct-value fold →
# O(#buckets) offset prefix → bucket-partitioned running sums), carried
# for BOTH counters (all, A) at once; the supremum is then a plain max
# aggregate over distinct values — no global sort anywhere. Exactness:
# D's numerator is the integer |cumA·n_B − cumB·n_A| (≤ n²,
# BIGINT-safe through ~10⁹ users; DECIMAL widening past that), so the
# argmax is decided in exact arithmetic and the single double is the
# final division, rounded 6 dp.
# ---------------------------------------------------------------------------


def _ks_sql(md5pick: str, idiv: str) -> str:
    return f"""
    u AS (SELECT user_id,
                 CASE WHEN {md5pick} THEN 1 ELSE 0 END AS is_a,
                 CAST(sum(CAST(round(value * 1000) AS BIGINT))
                      {idiv} count(*) AS BIGINT) AS m
          FROM events GROUP BY user_id),
    vals AS (SELECT m, CAST(count(*) AS BIGINT) AS t,
                    CAST(sum(is_a) AS BIGINT) AS ta,
                    CAST(m {idiv} {MW_BUCKET} AS BIGINT) AS b
             FROM u GROUP BY m),
    bt AS (SELECT b, CAST(sum(t) AS BIGINT) AS tb,
                  CAST(sum(ta) AS BIGINT) AS tab
           FROM vals GROUP BY b),
    boff AS (SELECT b,
               CAST(coalesce(sum(tb) OVER (ORDER BY b
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS BIGINT) AS off,
               CAST(coalesce(sum(tab) OVER (ORDER BY b
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS BIGINT) AS offa
             FROM bt),
    cum AS (SELECT v.m,
                   CAST(o.off + sum(v.t) OVER (PARTITION BY v.b
                          ORDER BY v.m ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS BIGINT) AS call,
                   CAST(o.offa + sum(v.ta) OVER (PARTITION BY v.b
                          ORDER BY v.m ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS BIGINT) AS ca
            FROM vals v JOIN boff o ON o.b = v.b),
    nn AS (SELECT CAST(sum(ta) AS BIGINT) AS n_a,
                  CAST(sum(t) - sum(ta) AS BIGINT) AS n_b FROM vals),
    sup AS (SELECT CAST(max(abs(ca * (SELECT n_b FROM nn)
                                - (call - ca) * (SELECT n_a FROM nn)))
                        AS BIGINT) AS dnum
            FROM cum)
    SELECT nn.n_a, nn.n_b,
           round(CAST(sup.dnum AS DOUBLE) / nn.n_a / nn.n_b, 6) AS ks_d,
           round(CAST(sup.dnum AS DOUBLE) / nn.n_a / nn.n_b
                 * sqrt(CAST(nn.n_a AS DOUBLE) * nn.n_b
                        / (nn.n_a + nn.n_b)),
                 6) AS ks_stat
    FROM nn, sup
    """


def ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N111: exact two-sample KS distance via two-phase cumulative counts."""
    table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql("WITH " + _ks_sql(_PICK_SPARK, "div"))


def ks_test_oracle() -> str:
    return "WITH " + _ks_sql(_PICK_DUCK, "//")


# ---------------------------------------------------------------------------
# kaplan_meier — product-limit time-to-conversion curve: the
# right-censoring-aware counterpart of cohort_retention and event_funnel
# (the funnel counts who EVER converted; KM answers "what fraction has
# NOT yet purchased by day t since first touch", giving later cohorts —
# whose observation was cut short — their correct statistical weight
# instead of silently counting them as non-converters). Duration = whole
# days from a user's first event to their first 'purchase' (exact
# epoch-microsecond integer division); observation is administratively
# truncated at KM_WINDOW_DAYS — a user whose first purchase lands after
# the window (or never) is right-censored at min(window, last-seen age).
# (A pure never-purchased censoring rule is degenerate on the fixture —
# every user converts — so the window is what exercises both arms; it is
# also the honest product question: "conversion within W days".)
#
# Estimator: S(t) = prod_{t_i <= t} (1 - d_i/n_i) over distinct event
# times, censored-at-t users still at risk AT t (the standard
# events-before-censorings convention). Shape: one shuffle on user_id
# for the duration fold, then a groupBy on duration whose output is
# O(KM_WINDOW_DAYS + 1) rows by construction — so the unpartitioned
# at-risk/product prefix windows run on a bounded frame (whitelisted).
# Floats: n_i, d_i are exact BIGINTs; the only doubles are the final
# ln/exp product (rounded 6 dp, same discipline as welch/ks_stat); a
# d_i = n_i extinction step is routed around ln(0) (Spark returns NULL
# there, DuckDB -inf) with an exact zero-flag carried by the same
# prefix window.
# ---------------------------------------------------------------------------

KM_WINDOW_DAYS = 3  # administrative censoring horizon (days since first
# touch): the product question is "converted within 3 days"


def _km_sql(epoch: str, idiv: str) -> str:
    day = 86_400_000_000  # exact micros per day
    return f"""
    u AS (SELECT user_id,
                 CAST(min({epoch}) {idiv} {day} AS BIGINT) AS d0,
                 CAST(max({epoch}) {idiv} {day} AS BIGINT) AS dlast,
                 CAST(min(CASE WHEN event_type = 'purchase'
                               THEN {epoch} END) {idiv} {day}
                      AS BIGINT) AS dp
          FROM events GROUP BY user_id),
    life AS (SELECT CASE WHEN dp IS NOT NULL
                              AND dp - d0 <= {KM_WINDOW_DAYS}
                         THEN CAST(dp - d0 AS BIGINT)
                         ELSE CAST(least({KM_WINDOW_DAYS},
                                         dlast - d0) AS BIGINT)
                    END AS t,
                    CASE WHEN dp IS NOT NULL
                              AND dp - d0 <= {KM_WINDOW_DAYS}
                         THEN 1 ELSE 0 END AS churned
             FROM u),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM life),
    agg AS (SELECT t, CAST(count(*) AS BIGINT) AS n_t,
                   CAST(sum(churned) AS BIGINT) AS d_t
            FROM life GROUP BY t),
    risk AS (SELECT a.t, a.n_t, a.d_t,
                    CAST(tot.n - coalesce(sum(a.n_t) OVER (ORDER BY a.t
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
             FROM agg a, tot),
    km AS (SELECT t, n_risk, d_t,
                  sum(CASE WHEN d_t > 0 AND d_t < n_risk
                           THEN ln(CAST(n_risk - d_t AS DOUBLE) / n_risk)
                           ELSE 0.0e0 END)
                    OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS lsum,
                  max(CASE WHEN d_t >= n_risk THEN 1 ELSE 0 END)
                    OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS extinct
           FROM risk)
    SELECT t AS t_days, n_risk, d_t AS n_events,
           round(CASE WHEN extinct = 1 THEN 0.0e0 ELSE exp(lsum) END,
                 6) AS survival
    FROM km WHERE d_t > 0
    """


def kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N112: product-limit time-to-conversion curve with right censoring."""
    from ..tables import EPOCH_NTZ

    _events(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _km_sql(f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts)", "div")
    )


def kaplan_meier_oracle() -> str:
    return "WITH " + _km_sql("epoch_us(ts)", "//")


# ---------------------------------------------------------------------------
# autocorr — sample autocorrelation of the daily metric series per
# event_type at lags 1 and 7 (the day-over-day persistence and the
# weekly echo): the time-series diagnostic that tells a pipeline
# whether seasonal_anomaly's weekly-slot model is even justified
# (lag-7 ACF ≈ 0 means "no weekly structure, don't deseasonalize").
#
# r_k = Σ_{t≤n−k}(x_t−x̄)(x_{t+k}−x̄) / Σ(x_t−x̄)² over the DENSE daily
# index [dmin, dmax] per type, missing days = 0. The dense spine is
# never materialized: expanding the numerator,
#   n²·num = n²·Σx_t·x_{t+k} − n·S·(H_k+T_k) + (n−k)·S²
#   n²·den = n²·Σx²           − n·S²
# where every term is a sum over OBSERVED days only (zero days vanish
# from P, H, T, S, Σx² alike; n = dmax−dmin+1 counts them exactly) —
# so the whole statistic is decided in exact DECIMAL integer
# arithmetic (x = daily milli-value sums; DECIMAL(38,0) carriers keep
# n²Σx² safe past the BIGINT ceiling at ~10⁹-row days) and the single
# double is the final division, rounded 6 dp.
#
# Shape: one shuffle for the (type, day) fold; the lag product is an
# equi-join of the daily frame with itself on (type, day+k) after
# broadcasting the 2-row lag list and the per-type moment frame —
# O(#types·#days) rows throughout, never corpus-sized.
# ---------------------------------------------------------------------------


def _acf_sql(epoch: str, idiv: str, wide: str) -> str:
    # ``wide`` is the engine's exact >64-bit integer carrier: Spark has no
    # int128 so it rides DECIMAL(38,0); DuckDB's DECIMAL multiply binds the
    # RESULT to the operands' combined width, and at sf0.1 a single day's
    # milli-value sum passes 1e9 — the x·x products overflow the int64
    # fast path ("Overflow in multiplication of DECIMAL(18)") — so the
    # oracle multiplies in HUGEINT (native int128, caught by the round-5
    # full-registry sf0.1 differential).
    day = 86_400_000_000
    return f"""
    d AS (SELECT event_type,
                 CAST({epoch} {idiv} {day} AS BIGINT) AS d,
                 CAST(sum(CAST(round(value * 1000) AS BIGINT))
                      AS DECIMAL(18,0)) AS x
          FROM events GROUP BY event_type, CAST({epoch} {idiv} {day} AS BIGINT)),
    m AS (SELECT event_type,
                 CAST(min(d) AS BIGINT) AS dmin,
                 CAST(max(d) AS BIGINT) AS dmax,
                 CAST(max(d) - min(d) + 1 AS {wide}) AS n,
                 CAST(sum(x) AS {wide}) AS s,
                 CAST(sum(CAST(x AS {wide}) * CAST(x AS {wide}))
                      AS {wide}) AS sxx
          FROM d GROUP BY event_type),
    ks AS (SELECT CAST(1 AS BIGINT) AS lag
           UNION ALL SELECT CAST(7 AS BIGINT)),
    pk AS (SELECT m.event_type, ks.lag, m.n, m.s, m.sxx,
                  CAST(m.dmax - m.dmin + 1 AS BIGINT) AS n_days,
                  CAST(coalesce(sum(CAST(a.x AS {wide}) * CAST(b.x AS {wide})),
                                0) AS {wide}) AS p,
                  CAST(coalesce(sum(CASE WHEN a.d <= m.dmax - ks.lag
                                         THEN a.x END), 0)
                       AS {wide}) AS h,
                  CAST(coalesce(sum(CASE WHEN a.d >= m.dmin + ks.lag
                                         THEN a.x END), 0)
                       AS {wide}) AS t
           FROM m, ks
           JOIN d a ON a.event_type = m.event_type
           LEFT JOIN d b ON b.event_type = a.event_type
                        AND b.d = a.d + ks.lag
           GROUP BY m.event_type, ks.lag, m.n, m.s, m.sxx,
                    m.dmax, m.dmin)
    SELECT event_type, lag, n_days,
           CASE WHEN n * n * sxx - n * s * s = 0 THEN NULL
                ELSE round(CAST(n * n * p - n * s * (h + t)
                                + (n - lag) * s * s AS DOUBLE)
                           / CAST(n * n * sxx - n * s * s AS DOUBLE), 6)
           END AS acf
    FROM pk
    """


def autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N113: exact-arithmetic daily-series autocorrelation at lags 1, 7."""
    from ..tables import EPOCH_NTZ

    _events(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _acf_sql(
            f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts)", "div",
            "DECIMAL(38,0)",
        )
    )


def autocorr_oracle() -> str:
    return "WITH " + _acf_sql("epoch_us(ts)", "//", "HUGEINT")


# ---------------------------------------------------------------------------
# cusum — CUSUM changepoint scan over the daily activity series per
# event_type: the level-shift detector that complements autocorr
# (persistence) and seasonal_anomaly (pointwise outliers) — "did the
# MEAN of this series change, and when?". Statistic: the scale-free
# D* = max_k |S_k/S_n − k/n| over the dense daily index (the empirical
# bridge sup — CUSUM's max-type form), with the argmax day as the
# changepoint candidate.
#
# Exactness: the sup is decided on the integer numerator
# |n·S_k − k·S_n| (counts × day-index: BIGINT-safe through ~10¹⁴-row
# series), ties broken to the smallest k by an integer min — the only
# double is the final division by n·S_n, rounded 6 dp. Dense-index
# semantics without a spine: S is a step function, so over a missing-
# day run |S − kμ| is linear in k and maximal at run ends — both ends
# are emitted per observed day ((k_d, S_d) after the step and
# (k_d − 1, S_d − x_d) before it, which also covers the initial zero
# run), so the sup over ALL dense k is the max over 2·#observed
# candidates.
#
# Shape: one shuffle for the (type, day) fold; the cumulative sum is a
# window PARTITIONED by event_type (never single-partition); max and
# argmax are plain group-bys. O(#types·#days) rows end to end.
# ---------------------------------------------------------------------------


def _cusum_sql(epoch: str, idiv: str) -> str:
    day = 86_400_000_000
    return f"""
    d AS (SELECT event_type,
                 CAST({epoch} {idiv} {day} AS BIGINT) AS d,
                 CAST(count(*) AS BIGINT) AS x
          FROM events
          GROUP BY event_type, CAST({epoch} {idiv} {day} AS BIGINT)),
    m AS (SELECT event_type,
                 CAST(min(d) AS BIGINT) AS dmin,
                 CAST(max(d) - min(d) + 1 AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS s_n
          FROM d GROUP BY event_type),
    c AS (SELECT event_type, d, x,
                 CAST(sum(x) OVER (PARTITION BY event_type ORDER BY d
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS cum
          FROM d),
    cand AS (SELECT c.event_type,
                    CAST(c.d - m.dmin + 1 AS BIGINT) AS k,
                    c.cum AS s, m.n, m.s_n, m.dmin
             FROM c JOIN m ON m.event_type = c.event_type
             UNION ALL
             SELECT c.event_type,
                    CAST(c.d - m.dmin AS BIGINT) AS k,
                    CAST(c.cum - c.x AS BIGINT) AS s, m.n, m.s_n, m.dmin
             FROM c JOIN m ON m.event_type = c.event_type),
    num AS (SELECT event_type, k, n, s_n, dmin,
                   CAST(abs(n * s - k * s_n) AS BIGINT) AS v
            FROM cand WHERE k >= 1 AND k < n),
    mx AS (SELECT event_type, CAST(max(v) AS BIGINT) AS mv
           FROM num GROUP BY event_type)
    SELECT n.event_type,
           CAST(min(n.n) AS BIGINT) AS n_days,
           CAST(min(n.k) AS BIGINT) AS cp_k,
           CAST(min(n.dmin + n.k - 1) AS BIGINT) AS cp_day,
           round(CAST(min(x.mv) AS DOUBLE)
                 / (CAST(min(n.n) AS DOUBLE) * min(n.s_n)), 6) AS cusum_rel
    FROM num n JOIN mx x ON x.event_type = n.event_type AND n.v = x.mv
    GROUP BY n.event_type
    """


def cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N114: CUSUM level-shift scan, integer-exact argmax per series."""
    from ..tables import EPOCH_NTZ

    _events(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _cusum_sql(f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts)", "div")
    )


def cusum_oracle() -> str:
    return "WITH " + _cusum_sql("epoch_us(ts)", "//")


# ---------------------------------------------------------------------------
# twap — time-weighted average of the event metric per event_type, the
# irregular-sampling-correct mean: a plain avg(value) over-weights
# chatty periods (ten samples in a burst minute count 10×); weighting
# each sample by how long it REMAINED the latest observation (LOCF —
# the gapfill_locf carry, folded instead of materialized) weights by
# exposure time. TWAP = Σᵤ Σᵢ vᵢ·(tᵢ₊₁−tᵢ) / Σᵤ spanᵤ per type, i.e.
# each user's last-observation-carried-forward integral over their own
# observation window, pooled across users (single-event users carry
# zero span and drop out of both sums).
#
# Exactness: milli-value × microsecond-gap products in DECIMAL(38,0)
# carriers (a month-long gap × large metric already brushes the BIGINT
# ceiling); the only double is the final division, rounded 6 dp. The
# seconds readout avoids DECIMAL integer division entirely — DuckDB
# ROUNDS a DECIMAL `//` where Spark's `div` truncates — by the exact
# mod-subtract spelling (x − x%10⁶)/10⁶, divisible by construction.
# Shape: the lead window is partitioned by (user_id, event_type) —
# partition count scales WITH the corpus (never a per-type
# single-partition sort); the pooled fold is one map-side-combinable
# aggregate to O(#types) rows.
# ---------------------------------------------------------------------------


def _twap_sql(epoch: str) -> str:
    return f"""
    s AS (SELECT user_id, event_type,
                 CAST(round(value * 1000) AS BIGINT) AS v,
                 CAST({epoch} AS BIGINT) AS t,
                 lead(CAST({epoch} AS BIGINT)) OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY {epoch}, event_id) AS t_next
          FROM events),
    w AS (SELECT event_type,
                 CAST(sum(CAST(v AS DECIMAL(18,0))
                          * CAST(t_next - t AS DECIMAL(18,0)))
                      AS DECIMAL(38,0)) AS wsum,
                 CAST(sum(CAST(t_next - t AS DECIMAL(18,0)))
                      AS DECIMAL(38,0)) AS span_us,
                 CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
          FROM s WHERE t_next IS NOT NULL
          GROUP BY event_type)
    SELECT event_type, n_users,
           CAST((span_us - span_us % 1000000) / 1000000 AS BIGINT)
             AS span_secs,
           round(CAST(wsum AS DOUBLE) / CAST(span_us AS DOUBLE) / 1000.0e0,
                 6) AS twap
    FROM w
    """


def twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N118: LOCF time-weighted average, exposure-time-correct mean."""
    from ..tables import EPOCH_NTZ

    _events(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _twap_sql(f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts)")
    )


def twap_oracle() -> str:
    return "WITH " + _twap_sql("epoch_us(ts)")


# ---------------------------------------------------------------------------
# cohort_ltv — cumulative revenue per user by acquisition cohort and
# age: the LTV curve that closes the acquisition triad
# (cohort_retention = "do they come back", kaplan_meier = "how fast do
# they convert", cohort_ltv = "what are they WORTH over time"). Cohort
# = a user's first-event day; every purchase contributes its cents at
# age = purchase day − cohort day; the curve is the running total per
# cohort divided by the FULL cohort size (non-purchasers dilute, as an
# LTV must — revenue-only denominators flatter the number).
#
# Exactness: day arithmetic in epoch-microsecond integer division,
# revenue in exact BIGINT cents, the cumulative sum a window
# PARTITIONED by cohort (each partition is O(#days) by calendar
# construction), cohort sizes an equi-joined exact count; the only
# double is the final per-user division, rounded 6 dp. Rows are
# emitted at observed (cohort, age) purchase points — the running
# total at an observed age is the correct cumulative regardless of
# gaps, so no day spine is materialized.
# ---------------------------------------------------------------------------


def _ltv_sql(epoch: str, idiv: str) -> str:
    day = 86_400_000_000
    return f"""
    u AS (SELECT user_id,
                 CAST(min({epoch}) {idiv} {day} AS BIGINT) AS cohort
          FROM events GROUP BY user_id),
    sz AS (SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_size
           FROM u GROUP BY cohort),
    p AS (SELECT e.user_id,
                 CAST({epoch} {idiv} {day} AS BIGINT) AS d,
                 CAST(round(e.value * 100) AS BIGINT) AS cents
          FROM events e WHERE e.event_type = 'purchase'),
    a AS (SELECT u.cohort, CAST(p.d - u.cohort AS BIGINT) AS age_days,
                 CAST(sum(p.cents) AS BIGINT) AS rev,
                 CAST(count(*) AS BIGINT) AS n_purchases
          FROM p JOIN u ON u.user_id = p.user_id
          GROUP BY u.cohort, p.d - u.cohort),
    c AS (SELECT cohort, age_days, n_purchases,
                 CAST(sum(rev) OVER (PARTITION BY cohort ORDER BY age_days
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS cum_cents
          FROM a)
    SELECT c.cohort AS cohort_day, s.cohort_size, c.age_days,
           c.n_purchases, c.cum_cents,
           round(CAST(c.cum_cents AS DOUBLE) / s.cohort_size / 100.0e0,
                 6) AS ltv_per_user
    FROM c JOIN sz s ON s.cohort = c.cohort
    """


def cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N120: cumulative-revenue LTV curve per acquisition cohort."""
    from ..tables import EPOCH_NTZ

    _events(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _ltv_sql(f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts)", "div")
    )


def cohort_ltv_oracle() -> str:
    return "WITH " + _ltv_sql("epoch_us(ts)", "//")


# ---------------------------------------------------------------------------
# qte — quantile treatment effects for the A/B experiment: exact
# per-variant quartiles + p90 of the per-user metric and their
# differences. Completes the experiment readout ladder — ab_test/welch
# see the MEAN shift, mannwhitney sees a location shift, ks_test sees
# that SOMETHING differs; QTE says WHERE in the distribution the
# treatment acts (a p90-only effect is a whale story, a p25-only
# effect is a floor-raise — same mean, opposite product decisions).
#
# Uses the same variant hash as ab_test/cuped/mannwhitney (one
# definition, same experiment) and the proven cross-engine identity
# Spark `percentile` ≡ DuckDB `quantile_cont` (bit-identical
# interpolating quantiles, q_percentiles) over the exact per-user
# milli-unit metric. One pass: the per-variant quantile arrays fold in
# a single GROUP BY is_a (2-row frame); the readout crosses two 1-row
# frames with a literal 4-row quantile spine. Values rounded 6 dp at
# emission.
# ---------------------------------------------------------------------------

QTE_QUANTS = [("p25", 0.25), ("p50", 0.5), ("p75", 0.75), ("p90", 0.9)]


def _qte_sql(md5pick: str, idiv: str, pct: str, arr: str,
             base: int) -> str:
    spine = ", ".join(
        f"('{lbl}', {q}, {i + base})"
        for i, (lbl, q) in enumerate(QTE_QUANTS)
    )
    return f"""
    u AS (SELECT user_id,
                 CASE WHEN {md5pick} THEN 1 ELSE 0 END AS is_a,
                 CAST(sum(CAST(round(value * 1000) AS BIGINT))
                      {idiv} count(*) AS BIGINT) AS m
          FROM events GROUP BY user_id),
    g AS (SELECT is_a, {pct}(m, {arr}) AS qs FROM u GROUP BY is_a),
    qa AS (SELECT qs FROM g WHERE is_a = 1),
    qb AS (SELECT qs FROM g WHERE is_a = 0),
    spine AS (SELECT q_label, CAST(q AS DOUBLE) AS q, idx
              FROM (VALUES {spine}) AS t(q_label, q, idx))
    SELECT s.q_label, s.q,
           round(qa.qs[s.idx] / 1000.0e0, 6) AS val_a,
           round(qb.qs[s.idx] / 1000.0e0, 6) AS val_b,
           round((qa.qs[s.idx] - qb.qs[s.idx]) / 1000.0e0, 6) AS qte
    FROM spine s, qa, qb
    """


def qte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N121: quantile treatment effects, exact interpolating quantiles."""
    _events(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _qte_sql(_PICK_SPARK, "div", "percentile",
                   "array(0.25, 0.5, 0.75, 0.9)", base=0)
    )


def qte_oracle() -> str:
    return (
        "WITH "
        + _qte_sql(_PICK_DUCK, "//", "quantile_cont",
                   "[0.25, 0.5, 0.75, 0.9]", base=1)
    )


# ---------------------------------------------------------------------------
# mad_outliers — robust outlier screen per event_type: median/MAD
# z-scores (the 0.6745 consistency constant makes MAD estimate σ under
# normality) with the standard |z| > 3.5 cut. The robust third of the
# anomaly toolkit: anomaly_p99 thresholds on a tail quantile (itself
# dragged by outliers), seasonal_anomaly needs a calendar model; MAD
# is the estimator that does not move when the contamination grows —
# a 10% bot burst shifts mean/stddev z-scores but leaves median/MAD
# almost untouched.
#
# Exactness: per-event milli-unit integers; medians via the proven
# Spark `percentile` ≡ DuckDB `quantile_cont` identity (interpolated
# halves are exact .5 fractions); the z comparison is pure IEEE
# arithmetic on identical inputs (no libm), so the > 3.5 cut cannot
# flip across engines. A zero MAD (>50% ties) is routed to zero
# outliers rather than a division. Two exact-percentile passes — the
# documented per-group-sort caveat applies; q_mad_outliers_approx below
# is the shipped sketch swap (the q_percentiles/q_approx_percentiles
# pairing), accuracy pinned against this exact op in pytest.
# ---------------------------------------------------------------------------

MAD_K = 0.6745  # consistency constant: MAD * 1/K estimates sigma
MAD_CUT = 3.5  # the classic Iglewicz-Hoaglin modified-z threshold


def _mad_cte(pct: str, p: str) -> str:
    """The median/MAD/modified-z chain as a CTE list ending in ``{p}res``.

    ``p`` prefixes every CTE name so two instances of the chain (exact
    `percentile` and sketch `approx_percentile`) can coexist in one
    statement — the composition q_mad_outliers_approx's accuracy-twin
    oracle needs (VERDICT r08 #4)."""
    return f"""
    {p}u AS (SELECT event_type,
                 CAST(round(value * 1000) AS BIGINT) AS m
          FROM events),
    {p}b AS (SELECT event_type, {pct}(m, 0.5) AS med
          FROM {p}u GROUP BY event_type),
    {p}d AS (SELECT u.event_type, u.m, b.med,
                 abs(u.m - b.med) AS adev
          FROM {p}u u JOIN {p}b b ON b.event_type = u.event_type),
    {p}m2 AS (SELECT event_type, {pct}(adev, 0.5) AS mad
           FROM {p}d GROUP BY event_type),
    {p}res AS (
    SELECT d.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(min(d.med) / 1000.0e0, 6) AS median,
           round(min(m2.mad) / 1000.0e0, 6) AS mad,
           CAST(sum(CASE WHEN m2.mad > 0
                              AND abs({MAD_K}e0 * (d.m - d.med) / m2.mad)
                                  > {MAD_CUT}e0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           round(CASE WHEN min(m2.mad) > 0
                      THEN max(abs({MAD_K}e0 * (d.m - d.med) / m2.mad))
                      ELSE 0.0e0 END, 6) AS max_abs_z
    FROM {p}d d JOIN {p}m2 m2 ON m2.event_type = d.event_type
    GROUP BY d.event_type)
    """


def _mad_sql(pct: str) -> str:
    return _mad_cte(pct, "") + " SELECT * FROM res"


def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N122: median/MAD robust z outlier screen per event type."""
    _events(spark, sf_dir)
    return spark.sql("WITH " + _mad_sql("percentile"))


def mad_outliers_oracle() -> str:
    return "WITH " + _mad_sql("quantile_cont")


#: q_mad_outliers_approx verdict bounds (the test_round5_ops pins, moved
#: into the query so the driver's hash gate enforces them — VERDICT r08
#: #4): approx_percentile default accuracy 10000 → rank error ≤ 1/10000,
#: which keeps medians/MADs within 1% relative on the fixture's spread;
#: the |z| > 3.5 cut is a tail count, so a hair of median shift may move
#: boundary events — ±1% of the group (min 1 event).
MAD_APPROX_REL_TOL = 0.01


def mad_outliers_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N122b: the scale path of q_mad_outliers — both medians via
    `approx_percentile` (mergeable quantile sketch: map-side partial
    aggregation, O(sketch) shuffle bytes per group) instead of the exact
    `percentile`, which sorts every group's values. Same screen, same
    thresholds; only the quantile estimator changes — textually the same
    CTE chain (`_mad_cte`), so the two ops cannot drift.

    Hash-oracled via its accuracy twin (VERDICT r08 #4 — previously
    rows-only, with the bounds living in tests/test_round5_ops.py): both
    chains run in ONE statement, the cross-engine columns are the exact
    twin's (event_type, n_events), and the sketch-vs-exact bounds ride
    along as integer verdicts the oracle declares all-ones. Deterministic
    per dataset (no RNG in the sketch).

    NOTE (ADVICE r09 #2): because the REGISTERED op is this
    gate-instrumented twin, it executes the exact per-group-sort chain
    too and is strictly more expensive than q_mad_outliers; the
    O(sketch) scale claim and any quoted probe figures apply to the
    sketch-only chain (the `approx_percentile` CTE alone), which is the
    variant a 100 TB deployment would run."""
    _events(spark, sf_dir)
    tol = MAD_APPROX_REL_TOL
    return spark.sql(
        "WITH "
        + _mad_cte("percentile", "e")
        + ","
        + _mad_cte("approx_percentile", "a")
        + f"""
        SELECT e.event_type, e.n_events,
               CAST(abs(a.median - e.median)
                    <= greatest(abs(e.median) * {tol}e0, 0.01e0)
                    AS INT) AS med_ok,
               CAST(abs(a.mad - e.mad)
                    <= greatest(abs(e.mad) * {tol}e0, 0.01e0)
                    AS INT) AS mad_ok,
               CAST(abs(a.n_outliers - e.n_outliers)
                    <= greatest(1, CAST(e.n_events * {tol}e0 AS BIGINT))
                    AS INT) AS outliers_ok
        FROM eres e JOIN ares a ON a.event_type = e.event_type
        """
    )


def mad_outliers_approx_oracle() -> str:
    """The exact chain cross-engine; the sketch laws as all-ones verdicts."""
    return (
        "WITH "
        + _mad_cte("quantile_cont", "e")
        + """
        SELECT event_type, n_events,
               CAST(1 AS INT) AS med_ok, CAST(1 AS INT) AS mad_ok,
               CAST(1 AS INT) AS outliers_ok
        FROM eres
        """
    )


# ---------------------------------------------------------------------------
# burstiness — index of dispersion (Fano factor) of the dense daily
# count series per event_type: Var/Mean ≈ 1 for Poisson arrivals,
# ≫ 1 for bursty traffic (bot storms, batch backfills), ≪ 1 for
# rate-limited/metronomic sources. The one-number arrival-process
# characterization that tells an ingest operator whether p99 sizing
# can assume Poisson — complementing autocorr (is today like
# yesterday), cusum (did the level change) and mad_outliers (which
# points are wild).
#
# Exactness: with S = Σx and Q = Σx² over OBSERVED days (zero days add
# nothing to either) and n = dmax−dmin+1 the dense length, population
# variance is (nQ − S²)/n² and the Fano factor collapses to
# (nQ − S²)/(n·S) — all-integer numerator and denominator (DECIMAL
# carriers past the BIGINT ceiling), one rounded double per readout.
# One shuffle for the (type, day) fold; O(#types) output.
# ---------------------------------------------------------------------------


def _fano_sql(epoch: str, idiv: str) -> str:
    day = 86_400_000_000
    return f"""
    d AS (SELECT event_type,
                 CAST({epoch} {idiv} {day} AS BIGINT) AS d,
                 CAST(count(*) AS BIGINT) AS x
          FROM events
          GROUP BY event_type, CAST({epoch} {idiv} {day} AS BIGINT)),
    m AS (SELECT event_type,
                 CAST(max(d) - min(d) + 1 AS DECIMAL(18,0)) AS n,
                 CAST(sum(x) AS DECIMAL(18,0)) AS s,
                 CAST(sum(x * x) AS DECIMAL(38,0)) AS q
          FROM d GROUP BY event_type)
    SELECT event_type,
           CAST(n AS BIGINT) AS n_days,
           CAST(s AS BIGINT) AS n_events,
           round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_daily,
           round(CAST(n * q - s * s AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE)), 6) AS fano
    FROM m
    """


def burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N125: Fano factor of dense daily counts, all-integer interior."""
    from ..tables import EPOCH_NTZ

    _events(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _fano_sql(f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts)", "div")
    )


def burstiness_oracle() -> str:
    return "WITH " + _fano_sql("epoch_us(ts)", "//")


# ---------------------------------------------------------------------------
# percentile_bands — the monitoring band chart: per calendar day, the
# p10/p50/p90 envelope of the event metric. What an on-call dashboard
# plots behind the live line — the day-granular distributional summary
# that anomaly_p99 (one global threshold) and mad_outliers (one robust
# center) deliberately collapse away. Exact interpolating percentiles
# over milli-unit integers via the proven Spark `percentile` ≡ DuckDB
# `quantile_cont` identity, rounded 6 dp; grouping is a plain
# (day) fold — map-side combinable into O(#days) groups, no windows at
# all. The per-group exact-percentile sort caveat applies per DAY
# (bounded by daily volume); the t-digest swap is the documented scale
# path.
# ---------------------------------------------------------------------------


def _bands_sql(epoch: str, idiv: str, pct: str, arr: str,
               base: int) -> str:
    day = 86_400_000_000
    return f"""
    v AS (SELECT CAST({epoch} {idiv} {day} AS BIGINT) AS d,
                 CAST(round(value * 1000) AS BIGINT) AS m
          FROM events),
    g AS (SELECT d, CAST(count(*) AS BIGINT) AS n_events,
                 {pct}(m, {arr}) AS qs
          FROM v GROUP BY d)
    SELECT d AS day_num, n_events,
           round(qs[{base}] / 1000.0e0, 6) AS p10,
           round(qs[{base + 1}] / 1000.0e0, 6) AS p50,
           round(qs[{base + 2}] / 1000.0e0, 6) AS p90
    FROM g
    """


def percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N126: daily p10/p50/p90 monitoring bands, exact quantiles."""
    from ..tables import EPOCH_NTZ

    _events(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _bands_sql(
            f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts)", "div",
            "percentile", "array(0.1, 0.5, 0.9)", base=0,
        )
    )


def percentile_bands_oracle() -> str:
    return "WITH " + _bands_sql(
        "epoch_us(ts)", "//", "quantile_cont", "[0.1, 0.5, 0.9]", base=1
    )


# ---------------------------------------------------------------------------
# decay — exponentially-decayed activity scores per event_type: the
# "trending now" readout every feed/ranking pipeline maintains, with a
# 7-day half-life (this week counts double next week's weight). The
# twist is that the whole computation is EXACT: with the half-life an
# integer number of days, the weight of an event aged a weeks is
# 2^(−a), and scaling by 2^62 makes every weight the exact integer
# 2^(62−a) (clamped at a = 62, i.e. ~8.5 years — below one 2⁻⁶²
# relative unit). Weighted sums ride DECIMAL(38,0) carriers
# (milli-value × 2^62 ≈ 10^24 ≪ 10^38); powers of two are exactly
# representable in IEEE doubles, so even the power() call is
# bit-exact in both engines. The only rounding anywhere is the two
# final divisions, 6 dp.
#
# decayed_count = Σ 2^(−age_weeks) (the half-life-discounted volume);
# decayed_mean = Σ v·w / Σ w (what's the metric been RECENTLY).
# One map-side-combinable fold; O(#types) output.
# ---------------------------------------------------------------------------

DECAY_HL_DAYS = 7  # half-life: one week


def _decay_sql(epoch: str, idiv: str) -> str:
    day = 86_400_000_000
    return f"""
    v AS (SELECT event_type,
                 CAST(round(value * 1000) AS BIGINT) AS m,
                 CAST({epoch} {idiv} {day} AS BIGINT) AS d
          FROM events),
    h AS (SELECT CAST(max(d) AS BIGINT) AS horizon FROM v),
    w AS (SELECT v.event_type, v.m,
                 CAST(power(2, 62 - least((h.horizon - v.d)
                                          {idiv} {DECAY_HL_DAYS}, 62))
                      AS DECIMAL(38,0)) AS wt
          FROM v, h),
    g AS (SELECT event_type,
                 CAST(count(*) AS BIGINT) AS n_events,
                 CAST(sum(wt) AS DECIMAL(38,0)) AS sw,
                 CAST(sum(CAST(m AS DECIMAL(18,0)) * wt)
                      AS DECIMAL(38,0)) AS swv
          FROM w GROUP BY event_type)
    SELECT event_type, n_events,
           round(CAST(sw AS DOUBLE) / power(2, 62), 6) AS decayed_count,
           round(CAST(swv AS DOUBLE) / CAST(sw AS DOUBLE) / 1000.0e0,
                 6) AS decayed_mean
    FROM g
    """


def decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N128: half-life-decayed activity scores in exact power-of-two
    integer arithmetic."""
    from ..tables import EPOCH_NTZ

    _events(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _decay_sql(f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts)", "div")
    )


def decay_oracle() -> str:
    return "WITH " + _decay_sql("epoch_us(ts)", "//")


# ---------------------------------------------------------------------------
# seasonality_strength — how much of the daily-volume variance does
# the weekly cycle explain? The eta-squared of the weekday-means model
# over the dense daily count series per event_type: SSB/SST, where SSB
# is the between-weekday sum of squares and SST the total. This is the
# quantitative license for seasonal_anomaly's weekly-slot model (and
# the honest report when there is none): strength ≈ 0 says "don't
# deseasonalize", ≈ 1 says the weekday alone predicts the day.
#
# Dense semantics without a spine: per weekday class, the observed-day
# sums S_w/Q fold normally (missing days contribute 0) while the DENSE
# class size n_w comes from closed-form integer calendar arithmetic —
# n_w = (dmax − r_w) div 7 + 1 with r_w the first in-range day of
# class w, using the ((x % 7) + 7) % 7 spelling because C-style %
# keeps the dividend's sign in both engines. Weekday = (d + 4) % 7
# (epoch day 0 = Thursday), derived from epoch-day integers — never
# dayofweek(), whose numbering differs across engines. The readout
# divisions are the only doubles (class means, eta²), rounded 6 dp;
# the peak-weekday argmax breaks exact-rational ties by weekday index.
# ---------------------------------------------------------------------------


def _seasonality_sql(epoch: str, idiv: str) -> str:
    day = 86_400_000_000
    return f"""
    d AS (SELECT event_type,
                 CAST({epoch} {idiv} {day} AS BIGINT) AS d,
                 CAST(count(*) AS BIGINT) AS x
          FROM events
          GROUP BY event_type, CAST({epoch} {idiv} {day} AS BIGINT)),
    span AS (SELECT event_type,
                    CAST(min(d) AS BIGINT) AS dmin,
                    CAST(max(d) AS BIGINT) AS dmax,
                    CAST(max(d) - min(d) + 1 AS BIGINT) AS n,
                    CAST(sum(x) AS BIGINT) AS s,
                    CAST(sum(x * x) AS BIGINT) AS q
             FROM d GROUP BY event_type),
    wd AS (SELECT event_type,
                  CAST(((d + 4) % 7 + 7) % 7 AS BIGINT) AS w,
                  CAST(sum(x) AS BIGINT) AS s_w
           FROM d GROUP BY event_type, ((d + 4) % 7 + 7) % 7),
    cls AS (SELECT sp.event_type, wd.w, wd.s_w, sp.n, sp.s, sp.q,
                   -- dense class size: first in-range day of class w,
                   -- then every 7th day through dmax
                   CAST((sp.dmax - (sp.dmin
                          + ((wd.w - ((sp.dmin + 4) % 7 + 7) % 7) % 7
                             + 7) % 7)) {idiv} 7 + 1 AS BIGINT) AS n_w
            FROM wd JOIN span sp ON sp.event_type = wd.event_type),
    m AS (SELECT event_type,
                 CAST(min(n) AS BIGINT) AS n_days,
                 min(s) AS s, min(q) AS q,
                 sum(CAST(s_w AS DOUBLE) * s_w / n_w) AS ssb_raw
          FROM cls GROUP BY event_type),
    peak AS (SELECT event_type, w AS peak_weekday
             FROM (SELECT event_type, w,
                          row_number() OVER (PARTITION BY event_type
                            ORDER BY CAST(s_w AS DOUBLE) / n_w DESC, w)
                            AS rk
                   FROM cls) p
             WHERE rk = 1)
    SELECT m.event_type, m.n_days, p.peak_weekday,
           round((m.ssb_raw - CAST(m.s AS DOUBLE) * m.s / m.n_days)
                 / (CAST(m.q AS DOUBLE)
                    - CAST(m.s AS DOUBLE) * m.s / m.n_days),
                 6) AS strength
    FROM m JOIN peak p ON p.event_type = m.event_type
    """


def seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N129: eta-squared of the weekday-means model over dense daily
    counts."""
    from ..tables import EPOCH_NTZ

    _events(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _seasonality_sql(
            f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts)", "div"
        )
    )


def seasonality_strength_oracle() -> str:
    return "WITH " + _seasonality_sql("epoch_us(ts)", "//")


# ---------------------------------------------------------------------------
# gap_percentiles — the session-gap design readout: exact p50/p90/p99
# of the inter-event gap (seconds between a user's consecutive events,
# pooled). This is the number q_sessionize's gap constant should be
# READ FROM — the knee between p90 and p99 is where "same visit"
# ends — and the op doubles as the engine's demonstration that exact
# global percentiles DON'T need a global sort: the known-weak shape of
# `percentile` (one sort per group, whole-corpus group) is replaced by
# two-phase ORDER-STATISTIC SELECTION — distinct-gap fold →
# digit-class bucket offsets (the q_gini scaffolding) → cumulative
# counts → the k-th smallest value is min(v | cum ≥ k), folded as SIX
# conditional mins in ONE aggregate (no rank join, no BNLJ, no sort).
#
# Interpolation is exact by construction: the target rank
# (n−1)·p sits at integer lo = num div 100 with fraction
# (num % 100)/100, so v_lo + (v_hi − v_lo)·frac is a rational with
# denominator 100 — bit-stable in both engines. Gaps are exact
# integer seconds (epoch-microsecond subtraction, idiv 10⁶).
# ---------------------------------------------------------------------------

GAP_PCTS = [50, 90, 99]  # integer percents — keeps interpolation rational


def _gapp_sql(epoch: str, idiv: str) -> str:
    sel = []
    for p in GAP_PCTS:
        sel.append(
            f"min(CASE WHEN cum >= n1.lo{p} + 1 THEN v END) AS vlo{p}, "
            f"min(CASE WHEN cum >= n1.lo{p} + 2 THEN v END) AS vhi{p}"
        )
    lo_defs = ", ".join(
        f"CAST((n - 1) * {p} {{idiv}} 100 AS BIGINT) AS lo{p}, "
        f"CAST((n - 1) * {p} % 100 AS BIGINT) AS fr{p}"
        for p in GAP_PCTS
    ).replace("{idiv}", idiv)
    out_rows = "\nUNION ALL\n".join(
        f"SELECT CAST({p} AS BIGINT) AS pct, "
        f"round(s.vlo{p} + (coalesce(s.vhi{p}, s.vlo{p}) - s.vlo{p}) "
        f"* n1.fr{p} / 100.0e0, 6) AS gap_secs "
        f"FROM s, n1" + (" WHERE n1.n > 1" if p == GAP_PCTS[0] else
                         " WHERE n1.n > 1")
        for p in GAP_PCTS
    )
    return f"""
    g AS (SELECT CAST((lead_t - t) {idiv} 1000000 AS BIGINT) AS v
          FROM (SELECT CAST({epoch} AS BIGINT) AS t,
                       lead(CAST({epoch} AS BIGINT)) OVER (
                         PARTITION BY user_id ORDER BY {epoch}, event_id)
                         AS lead_t
                FROM events) x
          WHERE lead_t IS NOT NULL),
    vals AS (SELECT v, CAST(count(*) AS BIGINT) AS t,
                    CAST(length(CAST(v AS STRING)) * 1000
                         + v {idiv} CAST(power(10, greatest(
                               length(CAST(v AS STRING)) - 3, 0))
                             AS BIGINT) AS BIGINT) AS b
             FROM g GROUP BY v),
    n1 AS (SELECT CAST(sum(t) AS BIGINT) AS n, {lo_defs}
           FROM vals),
    bt AS (SELECT b, CAST(sum(t) AS BIGINT) AS tb FROM vals GROUP BY b),
    boff AS (SELECT b,
               CAST(coalesce(sum(tb) OVER (ORDER BY b
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS BIGINT) AS off
             FROM bt),
    cumv AS (SELECT va.v,
                    CAST(o.off + sum(va.t) OVER (PARTITION BY va.b
                           ORDER BY va.v ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS BIGINT) AS cum
             FROM vals va JOIN boff o ON o.b = va.b),
    s AS (SELECT {", ".join(sel)} FROM cumv, n1)
    {out_rows}
    """


def gap_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N130: exact global percentiles by two-phase order-statistic
    selection — no global sort, no per-group percentile buffer."""
    from ..tables import EPOCH_NTZ

    _events(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _gapp_sql(f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts)", "div")
    )


def gap_percentiles_oracle() -> str:
    return "WITH " + _gapp_sql("epoch_us(ts)", "//")


# ---------------------------------------------------------------------------
# theil_sen — Theil–Sen robust trend of the daily metric series: the
# median of all pairwise slopes (and the median-residual intercept).
# The robust counterpart of linreg_by_group's OLS: one bot-storm day
# drags a least-squares slope arbitrarily; the slope median has a 29%
# breakdown point. THE trend number for noisy ops series.
#
# Exactness: daily sums enter as milli-unit BIGINTs; each slope is one
# double division of exact integers; the median is an exact order
# statistic (lo + (hi−lo)·0.5 at even counts, spelled IDENTICALLY on
# both engines so interpolation is bit-identical); the intercept reuses
# the UNROUNDED slope in per-day residuals, again a spelled-out median.
#
# Scale shape: the day series is calendar-bounded (O(#days)), so the
# O(#days²) pair set is a bounded frame, not a data-scaled one. The
# Spark spelling is JOIN-FREE: the series folds into ONE row and the
# pair/median algebra runs in codegen'd higher-order array functions
# (transform/slice/flatten/array_sort) — no self-join, no window, no
# whitelist entry. The DuckDB oracle spells pair generation as the
# textbook d1<d2 self-join — an INDEPENDENT plan whose agreement pins
# the HOF algebra.
# ---------------------------------------------------------------------------

_TS_DAY = 86_400_000_000


def _ts_series_sql(epoch: str, idiv: str) -> str:
    return f"""
    d AS (SELECT CAST({epoch} {idiv} {_TS_DAY} AS BIGINT) AS day,
                 CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS v
          FROM events
          GROUP BY CAST({epoch} {idiv} {_TS_DAY} AS BIGINT))
    """


def _ts_median(arr: str, n: str, el: str) -> str:
    """Exact interpolating median over a SORTED array/list expression —
    the same lo/hi spelling on both engines (1-based indexing in both).
    ``el`` is the dialect accessor (Spark ``element_at`` / DuckDB
    ``list_extract``). Indices go through floor() of an exact
    integer-valued division — never CAST(x.5 AS INT), which ROUNDS in
    DuckDB and truncates in Spark."""
    lo = f"CAST(floor(({n} + 1) / 2) AS INT)"
    hi = f"CAST(floor({n} / 2) + 1 AS INT)"
    return (
        f"({el}({arr}, {lo})"
        f" + ({el}({arr}, {hi}) - {el}({arr}, {lo})) * 0.5e0)"
    )


def theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N137: Theil–Sen median-slope trend, join-free HOF spelling."""
    from ..tables import EPOCH_NTZ

    _events(spark, sf_dir)
    med_s = _ts_median("s", "np", "element_at")
    med_r = _ts_median("r", "n_days", "element_at")
    return spark.sql(
        "WITH "
        + _ts_series_sql(
            f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts)", "div"
        )
        + f""",
    arr AS (SELECT array_sort(collect_list(struct(day, v))) AS a FROM d),
    sl AS (SELECT a, size(a) AS n_days,
                  array_sort(flatten(transform(a, (x, i) ->
                      transform(slice(a, i + 2, size(a)), y ->
                          CAST(y.v - x.v AS DOUBLE)
                          / CAST(y.day - x.day AS DOUBLE))))) AS s
           FROM arr),
    med AS (SELECT a, n_days, size(s) AS np, {med_s} AS slope FROM sl),
    fin AS (SELECT n_days, np, slope,
                   array_sort(transform(a, x ->
                       CAST(x.v AS DOUBLE)
                       - slope * CAST(x.day AS DOUBLE))) AS r
            FROM med)
    SELECT CAST(n_days AS BIGINT) AS n_days,
           CAST(np AS BIGINT) AS n_pairs,
           round(slope, 6) AS slope_milli_per_day,
           round({med_r}, 6) AS intercept_milli
    FROM fin
    """
    )


def theil_sen_oracle() -> str:
    med_s = _ts_median("s", "np", "list_extract")
    med_r = _ts_median("r", "n_days", "list_extract")
    return (
        "WITH "
        + _ts_series_sql("epoch_us(ts)", "//")
        + f""",
    pairs AS (SELECT CAST(b.v - a.v AS DOUBLE)
                     / CAST(b.day - a.day AS DOUBLE) AS slope
              FROM d a JOIN d b ON b.day > a.day),
    sl AS (SELECT (SELECT list_sort(list(slope)) FROM pairs) AS s,
                  (SELECT CAST(count(*) AS BIGINT) FROM d) AS n_days),
    med AS (SELECT n_days, CAST(len(s) AS BIGINT) AS np,
                   {med_s} AS slope
            FROM sl),
    fin AS (SELECT n_days, np, slope,
                   (SELECT list_sort(list(CAST(v AS DOUBLE)
                                          - m.slope * CAST(day AS DOUBLE)))
                    FROM d) AS r
            FROM med m)
    SELECT n_days, np AS n_pairs,
           round(slope, 6) AS slope_milli_per_day,
           round({med_r}, 6) AS intercept_milli
    FROM fin
    """
    )


# ---------------------------------------------------------------------------
# chi2 — Pearson χ² independence audit of event_type × day-of-week
# (+ Cramér's V effect size): does traffic MIX shift across the week,
# or only volume? seasonality_strength asks "do totals move by
# weekday"; this asks the orthogonal question about composition — the
# classic pre-test before pooling weekday data into one model.
#
# dow by integer epoch arithmetic ((epoch_days + 4) % 7, 0=Sunday) —
# never dayofweek(), whose numbering differs across engines. All
# counts/margins exact BIGINTs. The χ² sum is 35 double terms whose
# ADDITION ORDER would differ between engines (Spark partial aggs vs
# DuckDB's scan order) — instead the cell frame folds into ONE sorted
# array and χ² is a sequential higher-order `aggregate` fold, spelled
# identically on both engines: bit-identical before rounding.
#
# ONE shuffle ((type,dow) fold, map-side combinable), margins re-fold
# the O(r·c) cell frame, output one row.
# ---------------------------------------------------------------------------


def _chi2_cells_sql(epoch: str, idiv: str) -> str:
    return f"""
    cells AS (SELECT event_type,
                     CAST(({epoch} {idiv} {_TS_DAY} + 4) % 7 AS BIGINT) AS dow,
                     CAST(count(*) AS BIGINT) AS o
              FROM events
              GROUP BY event_type,
                       CAST(({epoch} {idiv} {_TS_DAY} + 4) % 7 AS BIGINT)),
    rt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS row_tot
           FROM cells GROUP BY event_type),
    ct AS (SELECT dow, CAST(sum(o) AS BIGINT) AS col_tot
           FROM cells GROUP BY dow),
    n1 AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                  CAST(count(DISTINCT event_type) AS BIGINT) AS r,
                  CAST(count(DISTINCT dow) AS BIGINT) AS c
           FROM cells),
    terms AS (SELECT c.event_type, c.dow,
                     (CAST(c.o AS DOUBLE)
                      - CAST(rt.row_tot AS DOUBLE) * CAST(ct.col_tot AS DOUBLE)
                        / CAST(n1.n AS DOUBLE))
                     * (CAST(c.o AS DOUBLE)
                        - CAST(rt.row_tot AS DOUBLE) * CAST(ct.col_tot AS DOUBLE)
                          / CAST(n1.n AS DOUBLE))
                     / (CAST(rt.row_tot AS DOUBLE) * CAST(ct.col_tot AS DOUBLE)
                        / CAST(n1.n AS DOUBLE)) AS term
              FROM cells c
              JOIN rt ON rt.event_type = c.event_type
              JOIN ct ON ct.dow = c.dow
              CROSS JOIN n1)
    """


def chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N138: χ² independence of event_type × weekday + Cramér's V."""
    from ..tables import EPOCH_NTZ

    _events(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _chi2_cells_sql(
            f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts)", "div"
        )
        + """,
    folded AS (SELECT aggregate(
                   array_sort(collect_list(struct(event_type, dow, term))),
                   CAST(0 AS DOUBLE), (acc, x) -> acc + x.term) AS chi2
               FROM terms)
    SELECT n1.n, n1.r, n1.c,
           CAST((n1.r - 1) * (n1.c - 1) AS BIGINT) AS dof,
           round(f.chi2, 6) AS chi2,
           round(sqrt(f.chi2 / (CAST(n1.n AS DOUBLE)
                 * CAST(least(n1.r - 1, n1.c - 1) AS DOUBLE))), 6)
             AS cramers_v
    FROM folded f CROSS JOIN n1
    """
    )


def chi2_oracle() -> str:
    return (
        "WITH "
        + _chi2_cells_sql("epoch_us(ts)", "//")
        + """,
    folded AS (SELECT list_reduce(
                   list_prepend(CAST(0 AS DOUBLE),
                       list_transform(
                           list_sort(list(struct_pack(
                               event_type := event_type,
                               dow := dow, term := term))),
                           x -> x.term)),
                   (acc, x) -> acc + x) AS chi2
               FROM terms)
    SELECT n1.n, n1.r, n1.c,
           CAST((n1.r - 1) * (n1.c - 1) AS BIGINT) AS dof,
           round(f.chi2, 6) AS chi2,
           round(sqrt(f.chi2 / (CAST(n1.n AS DOUBLE)
                 * CAST(least(n1.r - 1, n1.c - 1) AS DOUBLE))), 6)
             AS cramers_v
    FROM folded f CROSS JOIN n1
    """
    )


# ---------------------------------------------------------------------------
# markov_stationary — the stationary distribution of the event-type
# Markov chain: where q_event_transitions' matrix SENDS traffic in the
# long run. π = πP by power iteration from uniform — the one-number-
# per-state summary that says which state the session process actually
# lives in (vs the marginal frequency, which mixes users who never
# transition). The pagerank discipline on a POLICY-BOUNDED state space:
# exact integer micro-unit mass, transition application = equi-join on
# the source state + fold, iterations unrolled (3) into one declarative
# plan, convergence reported as the L1 delta of the last step.
#
# Exactness: transition counts BIGINT; each step's mass transfer is
# π_i·c_ij div c_i in integer micros (dialect-parameterized div) — no
# floats anywhere except the final readout ratio. Truncation loses ≤1
# micro per (i,j) cell per step — deterministic on both engines.
#
# Scale: ONE shuffle (user_id) for the lag pairs; every π/matrix frame
# is O(#types) / O(#types²) — policy-bounded; iterations are bounded
# frames folding into bounded frames.
# ---------------------------------------------------------------------------

MARKOV_SCALE = 1_000_000
MARKOV_ITERS = 3


def _markov_sql(epoch: str, idiv: str) -> str:
    body = f"""
    seq AS (SELECT user_id, event_type, {epoch} AS t, event_id
            FROM events),
    pairs AS (SELECT lag(event_type) OVER (PARTITION BY user_id
                                           ORDER BY t, event_id) AS src,
                     event_type AS dst
              FROM seq),
    m AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS c
          FROM pairs WHERE src IS NOT NULL GROUP BY src, dst),
    outd AS (SELECT src, CAST(sum(c) AS BIGINT) AS tot FROM m GROUP BY src),
    nt AS (SELECT CAST(count(*) AS BIGINT) AS k FROM outd),
    p0 AS (SELECT o.src AS event_type,
                  CAST({MARKOV_SCALE} AS BIGINT) {idiv} nt.k AS mass
           FROM outd o CROSS JOIN nt)
    """
    for i in range(MARKOV_ITERS):
        body += f""",
    p{i + 1} AS (SELECT m.dst AS event_type,
                    CAST(sum(p.mass * m.c {idiv} o.tot) AS BIGINT) AS mass
             FROM m
             JOIN p{i} p ON p.event_type = m.src
             JOIN outd o ON o.src = m.src
             GROUP BY m.dst)
    """
    last, prev = f"p{MARKOV_ITERS}", f"p{MARKOV_ITERS - 1}"
    return body + f"""
    SELECT a.event_type,
           a.mass AS pi_micros,
           b.mass AS prev_pi_micros,
           abs(a.mass - b.mass) AS delta_micros,
           round(CAST(a.mass AS DOUBLE) / {MARKOV_SCALE}, 6) AS pi
    FROM {last} a JOIN {prev} b ON b.event_type = a.event_type
    """


def markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N146: stationary distribution of the event-type Markov chain."""
    from ..tables import EPOCH_NTZ

    _events(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _markov_sql(
            f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts)", "div"
        )
    )


def markov_stationary_oracle() -> str:
    return "WITH " + _markov_sql("epoch_us(ts)", "//")


# ---------------------------------------------------------------------------
# winsorize — winsorized and trimmed means per event type: the ROBUST
# aggregation verbs next to mad_outliers' robust DETECTION. A raw mean
# over ops metrics is owned by its top outlier; the winsorized mean
# clamps the tails to the p05/p95 boundaries, the trimmed mean drops
# them — the pair every SLA/report pipeline should publish alongside
# (and usually instead of) the raw mean.
#
# Exactness: values are milli-unit BIGINTs; the p05/p95 boundaries come
# from the proven Spark `percentile` ≡ DuckDB `quantile_cont` identity
# (interpolated doubles). The clamped sum is NOT folded over per-row
# doubles (order-nondeterministic): it is REGROUPED exactly as
# n_below·lo + n_above·hi + Σ(untouched integers) — counts and the
# middle sum are exact integers, so the winsorized mean is a single
# deterministic expression per type. Trimmed mean is all-integer.
#
# Shape: one (type) percentile fold → O(#types) boundary frame →
# equi-join back on type → one conditional-aggregate fold. Per-group
# exact-percentile caveat as elsewhere: the boundary pass buffers per
# TYPE (policy-bounded); t-digest is the documented scale swap.
# ---------------------------------------------------------------------------

WINSOR_LO = 0.05
WINSOR_HI = 0.95


def _winsorize_sql(pct: str) -> str:
    return f"""
    v AS (SELECT event_type,
                 CAST(round(value * 1000) AS BIGINT) AS m
          FROM events),
    b AS (SELECT event_type,
                 {pct}(m, {WINSOR_LO}) AS lo,
                 {pct}(m, {WINSOR_HI}) AS hi,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(m) AS BIGINT) AS s
          FROM v GROUP BY event_type),
    c AS (SELECT v.event_type,
                 CAST(count(CASE WHEN CAST(v.m AS DOUBLE) < b.lo
                                 THEN 1 END) AS BIGINT) AS n_below,
                 CAST(count(CASE WHEN CAST(v.m AS DOUBLE) > b.hi
                                 THEN 1 END) AS BIGINT) AS n_above,
                 CAST(sum(CASE WHEN CAST(v.m AS DOUBLE) >= b.lo
                                AND CAST(v.m AS DOUBLE) <= b.hi
                               THEN v.m ELSE 0 END) AS BIGINT) AS s_mid
          FROM v JOIN b ON b.event_type = v.event_type
          GROUP BY v.event_type)
    SELECT b.event_type, b.n,
           round(CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE) / 1000, 6)
             AS raw_mean,
           round((CAST(c.n_below AS DOUBLE) * b.lo
                  + CAST(c.n_above AS DOUBLE) * b.hi
                  + CAST(c.s_mid AS DOUBLE))
                 / CAST(b.n AS DOUBLE) / 1000, 6) AS winsor_mean,
           round(CAST(c.s_mid AS DOUBLE)
                 / CAST(b.n - c.n_below - c.n_above AS DOUBLE) / 1000, 6)
             AS trimmed_mean,
           c.n_below + c.n_above AS n_tail
    FROM b JOIN c ON c.event_type = b.event_type
    """


def winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N148: winsorized + trimmed means, exact regrouped clamp sums."""
    _events(spark, sf_dir)
    return spark.sql("WITH " + _winsorize_sql("percentile"))


def winsorize_oracle() -> str:
    return "WITH " + _winsorize_sql("quantile_cont")


# ---------------------------------------------------------------------------
# ratio_metric_delta — the DELTA-METHOD readout for a ratio metric
# (revenue per event, the metric shape naive t-tests get WRONG: users,
# not events, are the randomization unit, and R = Σx/Σy is a ratio of
# sums whose variance has a covariance term). Var(X̄/Ȳ) ≈
# (s_x² − 2R·s_xy + R²·s_y²) / (n·ȳ²) — Deng et al. KDD 2018 shape,
# the fourth member of the experimentation panel (proportions → CUPED →
# continuous mean → ratio).
#
# Exactness: per-user x (milli revenue) / y (event count) are BIGINTs;
# the five per-variant moments fold as DECIMAL(38,0) carriers; R, the
# three (co)variances and z are single double expressions over the
# 2-row variant frame, spelled identically on both engines, rounded 6.
# Same _PICK assignment as ab_test/cuped (shared constant — the three
# readouts must split users identically).
#
# Shape: user fold (ONE user_id shuffle) → variant fold (2 rows) →
# pivoted 1-row readout. Nothing else moves.
# ---------------------------------------------------------------------------


def _ratio_delta_sql(md5pick: str) -> str:
    # sample (co)variances over user grain, n-1 denominator
    def var(p: str) -> str:
        return (
            f"(CAST({p}sxx AS DOUBLE) - CAST({p}sx AS DOUBLE)"
            f" * CAST({p}sx AS DOUBLE) / CAST({p}n AS DOUBLE))"
            f" / CAST({p}n - 1 AS DOUBLE)"
        )

    def vary(p: str) -> str:
        return (
            f"(CAST({p}syy AS DOUBLE) - CAST({p}sy AS DOUBLE)"
            f" * CAST({p}sy AS DOUBLE) / CAST({p}n AS DOUBLE))"
            f" / CAST({p}n - 1 AS DOUBLE)"
        )

    def cov(p: str) -> str:
        return (
            f"(CAST({p}sxy AS DOUBLE) - CAST({p}sx AS DOUBLE)"
            f" * CAST({p}sy AS DOUBLE) / CAST({p}n AS DOUBLE))"
            f" / CAST({p}n - 1 AS DOUBLE)"
        )

    def r(p: str) -> str:
        return f"(CAST({p}sx AS DOUBLE) / CAST({p}sy AS DOUBLE))"

    def se2(p: str) -> str:
        ybar = f"(CAST({p}sy AS DOUBLE) / CAST({p}n AS DOUBLE))"
        return (
            f"(({var(p)}) - 2e0 * ({r(p)}) * ({cov(p)})"
            f" + ({r(p)}) * ({r(p)}) * ({vary(p)}))"
            f" / (CAST({p}n AS DOUBLE) * ({ybar}) * ({ybar}))"
        )

    agg = ", ".join(
        f"CAST(sum(CASE WHEN pick = {flag} THEN {ex} ELSE 0 END)"
        f" AS DECIMAL(38, 0)) AS {p}{name}"
        for flag, p in (("TRUE", "a_"), ("FALSE", "b_"))
        for name, ex in (
            ("n", "1"), ("sx", "x"), ("sy", "y"),
            ("sxx", "x * x"), ("syy", "y * y"), ("sxy", "x * y"),
        )
    )
    return f"""
    u AS (SELECT user_id,
                 CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT)
                   AS x,
                 CAST(count(*) AS BIGINT) AS y,
                 {md5pick} AS pick
          FROM events GROUP BY user_id),
    m AS (SELECT {agg} FROM u)
    SELECT CAST(a_n AS BIGINT) AS n_a, CAST(b_n AS BIGINT) AS n_b,
           round({r("a_")} / 1000, 6) AS ratio_a,
           round({r("b_")} / 1000, 6) AS ratio_b,
           round(({r("a_")} - {r("b_")}) / 1000, 6) AS diff,
           round(sqrt(({se2("a_")}) + ({se2("b_")})) / 1000, 6) AS se,
           round(({r("a_")} - {r("b_")})
                 / sqrt(({se2("a_")}) + ({se2("b_")})), 6) AS z
    FROM m
    """


def ratio_metric_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N149: delta-method variance for the revenue-per-event ratio."""
    _events(spark, sf_dir)
    return spark.sql("WITH " + _ratio_delta_sql(_PICK_SPARK))


def ratio_metric_delta_oracle() -> str:
    return "WITH " + _ratio_delta_sql(_PICK_DUCK)


# ---------------------------------------------------------------------------
# did — difference-in-differences readout: (Ā_post − Ā_pre) −
# (B̄_post − B̄_pre) over the same data-derived midpoint boundary as
# cuped and the same _PICK split as the rest of the experimentation
# panel. Fifth member of that panel, and the causal verb the others
# lack: CUPED uses the pre-period to SHRINK variance of a post-only
# contrast; DiD uses it to DIFFERENCE OUT a level shift common to both
# arms (the parallel-trends estimator every launch-vs-holdout readout
# with a confounded rollout needs).
#
# Unit = (user, period) cell mean of milli-value sums; the estimate is
# a linear combination of four cell means, SE = √(Σ s²_c/n_c) over the
# four cells (the standard two-period two-group normal approximation).
# All moments exact BIGINT/DECIMAL; floats only in the 1-row readout.
#
# Shape: ONE user_id-grain fold (the midpoint is a 1-row scalar frame),
# then a 4-row cell fold, then the pivoted readout. One shuffle.
# ---------------------------------------------------------------------------


def _did_sql(epoch_us: str, md5pick: str, idiv: str) -> str:
    cells = ", ".join(
        f"CAST(sum(CASE WHEN pick = {pk} AND post = {po}"
        f" THEN {ex} ELSE 0 END) AS DECIMAL(38, 0)) AS {p}_{name}"
        for pk, po, p in (
            ("TRUE", 0, "a_pre"), ("TRUE", 1, "a_post"),
            ("FALSE", 0, "b_pre"), ("FALSE", 1, "b_post"),
        )
        for name, ex in (("n", "1"), ("s", "m"), ("q", "m * m"))
    )

    def mean(c: str) -> str:
        return f"(CAST({c}_s AS DOUBLE) / CAST({c}_n AS DOUBLE))"

    def se2(c: str) -> str:
        # s²_c / n_c with the n−1 sample variance
        return (
            f"((CAST({c}_q AS DOUBLE) - CAST({c}_s AS DOUBLE)"
            f" * CAST({c}_s AS DOUBLE) / CAST({c}_n AS DOUBLE))"
            f" / CAST({c}_n - 1 AS DOUBLE) / CAST({c}_n AS DOUBLE))"
        )

    est = (
        f"(({mean('a_post')}) - ({mean('a_pre')})"
        f" - (({mean('b_post')}) - ({mean('b_pre')})))"
    )
    se = (
        f"sqrt(({se2('a_post')}) + ({se2('a_pre')})"
        f" + ({se2('b_post')}) + ({se2('b_pre')}))"
    )
    return f"""
    ev AS (SELECT user_id, {epoch_us} AS t,
                  CAST(round(value * 1000) AS BIGINT) AS v
           FROM events),
    bnd AS (SELECT CAST((min(t) + max(t)) {idiv} 2 AS BIGINT) AS mid
            FROM ev),
    u AS (SELECT user_id,
                 CASE WHEN t <= (SELECT mid FROM bnd) THEN 0 ELSE 1 END
                   AS post,
                 {md5pick} AS pick,
                 CAST(sum(v) AS BIGINT) AS m
          FROM ev
          GROUP BY user_id,
                   CASE WHEN t <= (SELECT mid FROM bnd) THEN 0 ELSE 1 END),
    c AS (SELECT {cells} FROM u)
    SELECT round({mean('a_pre')} / 1000, 6) AS a_pre_mean,
           round({mean('a_post')} / 1000, 6) AS a_post_mean,
           round({mean('b_pre')} / 1000, 6) AS b_pre_mean,
           round({mean('b_post')} / 1000, 6) AS b_post_mean,
           round({est} / 1000, 6) AS did,
           round({se} / 1000, 6) AS se,
           round({est} / ({se}), 6) AS z
    FROM c
    """


def did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N153: difference-in-differences over the midpoint boundary."""
    from ..tables import EPOCH_NTZ

    _events(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _did_sql(
            f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts)",
            _PICK_SPARK, "div",
        )
    )


def did_oracle() -> str:
    return "WITH " + _did_sql("epoch_us(ts)", _PICK_DUCK, "//")


# ---------------------------------------------------------------------------
# mde — minimum-detectable-effect planner: given the CURRENT metric
# variance and user count, the smallest lift a two-arm split can
# reliably see — MDE = (z_α/2 + z_β)·√(2σ²/n_per_arm), the number every
# experiment review asks for BEFORE launch ("can this test even detect
# the effect we hope for?"). Closes the experimentation panel's loop:
# the other five grade a finished experiment; this one sizes the next.
#
# z constants pinned (α = 0.05 two-sided → 1.959964, power 0.8 →
# 0.841621) — textual constants, not engine erf() calls, so both
# engines agree bit-for-bit. σ² from exact BIGINT/DECIMAL user-metric
# moments; readout reported absolute and as % of the current mean.
# One user-grain fold → 1-row frame. One shuffle.
# ---------------------------------------------------------------------------

MDE_Z_ALPHA = 1.959964  # two-sided 5%
MDE_Z_BETA = 0.841621   # 80% power


def _mde_sql() -> str:
    var = (
        "(CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)"
        " / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE)"
    )
    mde = (
        f"({MDE_Z_ALPHA} + {MDE_Z_BETA})"
        f" * sqrt(2e0 * ({var}) / (CAST(n AS DOUBLE) / 2e0))"
    )
    return f"""
    u AS (SELECT user_id,
                 CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT)
                   AS m
          FROM events GROUP BY user_id),
    g AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(m) AS DECIMAL(38, 0)) AS s,
                 CAST(sum(CAST(m AS DECIMAL(19, 0)) * m) AS DECIMAL(38, 0))
                   AS q
          FROM u)
    SELECT n AS n_users,
           round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000, 6)
             AS mean_metric,
           round(sqrt({var}) / 1000, 6) AS sd_metric,
           round({mde} / 1000, 6) AS mde_abs,
           round(({mde}) / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) * 100,
                 4) AS mde_pct
    FROM g
    """


def mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N154: minimum-detectable-effect experiment sizing."""
    _events(spark, sf_dir)
    return spark.sql("WITH " + _mde_sql())


def mde_oracle() -> str:
    return "WITH " + _mde_sql()


# ---------------------------------------------------------------------------
# funnel_ttc — time-to-convert percentiles BETWEEN funnel stages: the
# latency face of q_event_funnel's count face (counts say HOW MANY
# convert, this says HOW LONG the survivors take — the number that sets
# attribution windows and windowFunnel's W honestly, instead of
# folklore 24 h). Reuses the funnel's staged-min frame verbatim
# (first view → first click after it → first purchase after that), then
# exact interpolating p25/p50/p90 of the two stage gaps in integer
# SECONDS via the proven percentile ≡ quantile_cont identity.
#
# One user_id-grain staged fold (the funnel machinery, one logical
# shuffle) → O(2) output rows; per-stage percentile buffers are
# O(converting users) — the documented per-group caveat, t-digest swap.
# ---------------------------------------------------------------------------


def _funnel_ttc_sql(epoch: str, idiv: str, pct: str) -> str:
    return f"""
    e AS (SELECT user_id, event_type, {epoch} AS t FROM events),
    v AS (SELECT user_id, min(CASE WHEN event_type = 'view' THEN t END) AS tv
          FROM e GROUP BY user_id),
    c AS (SELECT e.user_id, min(e.t) AS tc
          FROM e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND v.tv IS NOT NULL AND e.t > v.tv
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, min(e.t) AS tp
          FROM e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.t > c.tc
          GROUP BY e.user_id),
    g1 AS (SELECT (c.tc - v.tv) {idiv} 1000000 AS gap_s
           FROM c JOIN v ON v.user_id = c.user_id),
    g2 AS (SELECT (p.tp - c.tc) {idiv} 1000000 AS gap_s
           FROM p JOIN c ON c.user_id = p.user_id)
    SELECT 1 AS stage_id, 'view>click' AS transition,
           CAST(count(*) AS BIGINT) AS n_users,
           round({pct}(gap_s, 0.25), 4) AS p25_s,
           round({pct}(gap_s, 0.5), 4) AS p50_s,
           round({pct}(gap_s, 0.9), 4) AS p90_s
    FROM g1
    UNION ALL
    SELECT 2 AS stage_id, 'click>purchase' AS transition,
           CAST(count(*) AS BIGINT) AS n_users,
           round({pct}(gap_s, 0.25), 4) AS p25_s,
           round({pct}(gap_s, 0.5), 4) AS p50_s,
           round({pct}(gap_s, 0.9), 4) AS p90_s
    FROM g2
    """


def funnel_ttc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N155: stage-transition latency percentiles for the funnel."""
    from ..tables import EPOCH_NTZ

    _events(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _funnel_ttc_sql(
            f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts)",
            "div", "percentile",
        )
    )


def funnel_ttc_oracle() -> str:
    return "WITH " + _funnel_ttc_sql("epoch_us(ts)", "//", "quantile_cont")


# ---------------------------------------------------------------------------
# modularity — Newman modularity Q of the BRAND partition over the
# co-purchase part graph: the QUALITY-of-partition metric completing
# the graph family's verbs (pagerank = importance, triangles = closure,
# kcore = layering, assortativity = mixing, dedup_clusters = finding
# components; this GRADES a given community structure). The question it
# answers for a pipeline: is `brand` a real blocking key for this graph
# (Q ≫ 0 → partition-by-brand co-locates most joins) or a fiction?
#
# Exactness: Q = Σ_c [m_c/m − (d_c/2m)²] collapses over the common
# denominator 4m² to (Σ_c 4·m·m_c − Σ_c d_c²) / (4m²) — all-integer
# numerator and denominator (DECIMAL carriers for d_c²), ONE double
# division, rounded 6. Per-community terms reported alongside.
#
# Scale: edges = the pagerank co-purchase frame (equi-joins on okey);
# community attach = broadcastable part dim; everything after the edge
# fold is O(#brands). Edge frame staged once (multi-referenced).
# ---------------------------------------------------------------------------


def _modularity_sql(edges: str) -> str:
    return f"""
    bp AS (SELECT p_partkey AS part, p_brand AS brand FROM part),
    deg AS (SELECT e.src AS part, CAST(count(*) AS BIGINT) AS d
            FROM {edges} e GROUP BY e.src),
    m1 AS (SELECT CAST(sum(d) AS BIGINT) AS m2  -- 2m (directed count)
           FROM deg),
    dc AS (SELECT b.brand, CAST(sum(d.d) AS BIGINT) AS d_c
           FROM deg d JOIN bp b ON b.part = d.part
           GROUP BY b.brand),
    mc AS (SELECT ba.brand, CAST(count(*) AS BIGINT) AS m2_c  -- 2·m_c
           FROM {edges} e
           JOIN bp ba ON ba.part = e.src
           JOIN bp bb ON bb.part = e.dst AND bb.brand = ba.brand
           GROUP BY ba.brand),
    terms AS (SELECT d.brand,
                     coalesce(c.m2_c, 0) AS m2_c, d.d_c,
                     CAST(d.d_c AS DECIMAL(38, 0))
                     * CAST(d.d_c AS DECIMAL(38, 0)) AS dc2
              FROM dc d LEFT JOIN mc c ON c.brand = d.brand),
    q AS (SELECT CAST(sum(CAST(m2_c AS DECIMAL(38, 0)) * m1.m2) AS
                      DECIMAL(38, 0)) AS num_in,
                 CAST(sum(dc2) AS DECIMAL(38, 0)) AS num_deg,
                 CAST(max(m1.m2) AS BIGINT) AS m2,
                 CAST(count(*) AS BIGINT) AS n_communities
          FROM terms CROSS JOIN m1)
    SELECT n_communities,
           CAST(m2 / 2 AS BIGINT) AS n_edges,
           round(CAST(num_in - num_deg AS DOUBLE)
                 / (CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE)), 6)
             AS modularity
    FROM q
    """


_COPURCHASE_EDGES = """
    items AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS part
              FROM lineitem),
    edges AS (SELECT DISTINCT a.part AS src, b.part AS dst
              FROM items a JOIN items b
                ON a.okey = b.okey AND a.part <> b.part)
"""


def modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N156: Newman modularity of the brand partition, all-integer."""
    from ..checkpoints import scoped_checkpoint

    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    table(spark, sf_dir, "part").createOrReplaceTempView("part")
    edges = spark.sql("WITH " + _COPURCHASE_EDGES + " SELECT * FROM edges")
    scoped_checkpoint(edges, "modularity_edges").createOrReplaceTempView(
        "mod_edges"
    )
    return spark.sql("WITH " + _modularity_sql("mod_edges"))


def modularity_oracle() -> str:
    return (
        "WITH "
        + _COPURCHASE_EDGES
        + ", edges_m AS MATERIALIZED (SELECT * FROM edges),"
        + _modularity_sql("edges_m")
    )


# ---------------------------------------------------------------------------
# lateness_profile — the out-of-orderness audit that sizes WATERMARKS
# from data instead of folklore: for each event in ARRIVAL order
# (event_id — the ingestion sequence), lateness = how far the stream's
# event-time high-water mark had already passed this event's timestamp
# (0 for in-order arrivals). Reported as an hour-bucketed histogram
# with cumulative shares plus the p99-covering watermark delay — the
# number every `withWatermark(...)` in streaming/pipeline.py should be
# justified by. The streaming ops define what LATE means; this op
# measures how much lateness the source actually produces.
#
# The 100 TB shape: the high-water mark is a PREFIX MAX over the whole
# arrival order — the same whole-corpus single-partition hazard as the
# sweep-line's prefix sum, solved the same two-phase way (pack_global
# generalized from sums to MAX): arrival-bucket-partitioned running
# maxima + an O(#buckets) bucket-max offset frame, where #buckets =
# corpus/LAT_BUCKET (the documented pack_global whitelist shape). The
# DuckDB oracle spells ONE global window — the differential proves the
# two-phase max decomposition exact.
#
# Exactness: everything integer micros; the p99 cut is the exact
# comparison 100·cum ≥ 99·total — no float percentile.
# ---------------------------------------------------------------------------

LAT_BUCKET = 1024  # arrival-order events per phase-1 partition
_HOUR_US = 3_600_000_000


def _lateness_hist(hwm_frame: str) -> str:
    return f"""
    lat AS (SELECT CASE WHEN h IS NULL OR h <= t THEN CAST(0 AS BIGINT)
                        ELSE h - t END AS l
            FROM {hwm_frame}),
    hist AS (SELECT CAST(l {{idiv}} {_HOUR_US} AS BIGINT) AS late_hours,
                    CAST(count(*) AS BIGINT) AS n
             FROM lat GROUP BY CAST(l {{idiv}} {_HOUR_US} AS BIGINT)),
    cum AS (SELECT late_hours, n,
                   CAST(sum(n) OVER (ORDER BY late_hours
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS cum_n,
                   CAST(sum(n) OVER () AS BIGINT) AS total
            FROM hist),
    wm AS (SELECT CAST(min(late_hours) AS BIGINT) AS watermark_hours
           FROM cum WHERE 100 * cum_n >= 99 * total)
    SELECT c.late_hours, c.n, c.cum_n,
           round(CAST(c.cum_n AS DOUBLE) / CAST(c.total AS DOUBLE), 6)
             AS cum_share,
           w.watermark_hours
    FROM cum c CROSS JOIN wm w
    """


def lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N161: watermark-sizing lateness histogram, two-phase prefix max."""
    from ..tables import EPOCH_NTZ

    _events(spark, sf_dir)
    epoch = f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts)"
    hwm = f"""
    ev AS (SELECT event_id, {epoch} AS t,
                  event_id div {LAT_BUCKET} AS b
           FROM events),
    ph1 AS (SELECT event_id, t, b,
                   max(t) OVER (PARTITION BY b ORDER BY event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING) AS local_h
            FROM ev),
    bmax AS (SELECT b, max(t) AS bm FROM ev GROUP BY b),
    -- O(#buckets) = corpus/LAT_BUCKET frame: the pack_global shape
    boff AS (SELECT b, max(bm) OVER (ORDER BY b
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) AS off
             FROM bmax),
    hw AS (SELECT p.t, greatest(coalesce(p.local_h, CAST(-1 AS BIGINT)),
                                coalesce(o.off, CAST(-1 AS BIGINT))) AS h0
           FROM ph1 p JOIN boff o ON o.b = p.b),
    hwm AS (SELECT t, CASE WHEN h0 < 0 THEN NULL ELSE h0 END AS h FROM hw)
    """
    return spark.sql(
        "WITH " + hwm + "," + _lateness_hist("hwm").format(idiv="div")
    )


def lateness_profile_oracle() -> str:
    hwm = """
    ev AS (SELECT event_id, epoch_us(ts) AS t FROM events),
    hwm AS (SELECT t,
                   max(t) OVER (ORDER BY event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING) AS h
            FROM ev)
    """
    return "WITH " + hwm + "," + _lateness_hist("hwm").format(idiv="//")


# ---------------------------------------------------------------------------
# growth_accounting — the product-growth ledger: every active user-day
# classified as NEW (first day ever), RETAINED (also active yesterday)
# or RESURRECTED (returning after a gap), plus the CHURNED count (active
# yesterday, silent today). The decomposition behind every "DAU is up,
# is that good?" conversation — dau_mau gives the ratio, cohort tables
# the long arc; this is the day-over-day flux ledger they both hide.
# Identity pinned in tests: active(d) = new + retained + resurrected,
# and retained(d) = active(d−1) − churned(d).
#
# Churn AT the horizon is observable (active on horizon−1, silent on
# the horizon); churn at horizon+1 is NOT (no tomorrow to be silent
# in) — the ledger stops at the horizon by the administrative-cutoff
# rule (the kaplan_meier censoring discipline), pinned.
#
# All-integer; ONE shuffle on user_id (distinct user-days + lag/lead
# share the sort), then an O(#days) day fold.
# ---------------------------------------------------------------------------


def _growth_sql(epoch: str, idiv: str, ad_src: str | None = None) -> str:
    ad = ad_src or (
        f"SELECT DISTINCT user_id, "
        f"CAST({epoch} {idiv} {_TS_DAY} AS BIGINT) AS day FROM events"
    )
    return f"""
    ad AS ({ad}),
    hz AS (SELECT CAST(max(day) AS BIGINT) AS horizon FROM ad),
    seq AS (SELECT user_id, day,
                   lag(day) OVER (PARTITION BY user_id ORDER BY day)
                     AS prev,
                   lead(day) OVER (PARTITION BY user_id ORDER BY day)
                     AS nxt
            FROM ad),
    flux AS (SELECT day,
                    CAST(count(*) AS BIGINT) AS n_active,
                    CAST(sum(CASE WHEN prev IS NULL
                                  THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
                    CAST(sum(CASE WHEN prev = day - 1
                                  THEN 1 ELSE 0 END) AS BIGINT)
                      AS n_retained,
                    CAST(sum(CASE WHEN prev IS NOT NULL AND prev < day - 1
                                  THEN 1 ELSE 0 END) AS BIGINT)
                      AS n_resurrected
             FROM seq GROUP BY day),
    churn AS (SELECT day + 1 AS day, CAST(count(*) AS BIGINT) AS n_churned
              FROM seq CROSS JOIN hz
              WHERE (nxt IS NULL OR nxt > day + 1) AND day + 1 <= horizon
              GROUP BY day + 1)
    SELECT f.day, f.n_active, f.n_new, f.n_retained, f.n_resurrected,
           coalesce(c.n_churned, 0) AS n_churned
    FROM flux f LEFT JOIN churn c ON c.day = f.day
    """


def growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N166: new/retained/resurrected/churned day-over-day ledger."""
    from ..tables import EPOCH_NTZ

    _events(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _growth_sql(
            f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts)", "div"
        )
    )


def growth_accounting_oracle() -> str:
    return "WITH " + _growth_sql("epoch_us(ts)", "//")


# ---------------------------------------------------------------------------
# churn_label — predictive-LABEL construction with a hard temporal
# boundary: features from days strictly BEFORE horizon − 7, label =
# silent during the last 7 days. The label-engineering verb that closes
# the feature family's loop (lag_features builds X, this builds a
# leak-free y): every feature column is computable on the boundary
# date, nothing after it leaks in — the temporal analogue of
# target_encoding's self-exclusion, and the supervised frame a churn
# model trains on directly.
#
# All-integer features (counts, milli sums, recency days). ONE user
# fold; the boundary is a 1-row scalar frame.
# ---------------------------------------------------------------------------

CHURN_WINDOW_DAYS = 7


def _churn_label_sql(epoch: str, idiv: str) -> str:
    return f"""
    ev AS (SELECT user_id,
                  CAST({epoch} {idiv} {_TS_DAY} AS BIGINT) AS day,
                  CAST(round(value * 1000) AS BIGINT) AS v,
                  event_type
           FROM events),
    hz AS (SELECT CAST(max(day) - {CHURN_WINDOW_DAYS} AS BIGINT)
                    AS boundary
           FROM ev),
    u AS (SELECT user_id,
                 CAST(count(*) AS BIGINT) AS n_events,
                 CAST(sum(v) AS BIGINT) AS milli_total,
                 CAST(sum(CASE WHEN event_type = 'purchase'
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
                 CAST(max(day) AS BIGINT) AS last_day,
                 CAST(count(DISTINCT day) AS BIGINT) AS n_active_days
          FROM ev CROSS JOIN hz
          WHERE day < boundary
          GROUP BY user_id),
    lab AS (SELECT user_id, CAST(1 AS INT) AS seen_after
            FROM ev CROSS JOIN hz
            WHERE day >= boundary
            GROUP BY user_id)
    SELECT u.user_id, u.n_events, u.milli_total, u.n_purchases,
           u.n_active_days,
           CAST((SELECT boundary FROM hz) - u.last_day AS BIGINT)
             AS recency_days,
           CAST(CASE WHEN l.seen_after IS NULL THEN 1 ELSE 0 END AS INT)
             AS churned
    FROM u LEFT JOIN lab l ON l.user_id = u.user_id
    """


def churn_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N167: leak-free supervised churn frame (features | boundary | y)."""
    from ..tables import EPOCH_NTZ

    _events(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _churn_label_sql(
            f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts)", "div"
        )
    )


def churn_label_oracle() -> str:
    return "WITH " + _churn_label_sql("epoch_us(ts)", "//")


# ---------------------------------------------------------------------------
# Streaming growth ledger — the IDEMPOTENT-SET-UNION member of the
# merge-algebra family carrying a windowed-classification readout: the
# ledger's sufficient statistic is the distinct (user, day) activity
# set, whose merge is a plain union — idempotent, so re-delivered
# batches are harmless even without the batch-id fence (the
# stream_dedup property), while NEW/RETAINED/RESURRECTED/CHURNED are
# re-derived per read over the merged set (the nonlinear-readout
# thesis, third instance after MI and AUC — here the readout is not
# even a statistic but a per-row temporal CLASSIFICATION). Two REAL
# availableNow passes over parity-split events hash-match the one-shot
# batch q_growth_accounting. State = O(users × active days), the
# ledger's own output grain.
# ---------------------------------------------------------------------------

_GROWTH_SNAP_SCHEMA = "user_id bigint, day bigint"


def _merge_user_days(
    spark: SparkSession, batch_df: DataFrame, snap_dir: str, batch_id: int
) -> None:
    delta = batch_df.select("user_id", "day").distinct()
    passes.merge_snapshot(
        spark, snap_dir, batch_id, _GROWTH_SNAP_SCHEMA,
        lambda current: current.unionByName(delta)
        .distinct()
        .repartition(4, "user_id"),
    )


def stream_growth_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T18, oracle-checked: two availableNow passes maintaining the
    distinct user-day set; the ledger over the merged set must
    hash-match the one-shot batch q_growth_accounting."""
    from ..tables import EPOCH_NTZ

    ev = table(spark, sf_dir, "events").selectExpr(
        "event_id",
        "user_id",
        f"CAST(timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts)"
        f" div {_TS_DAY} AS BIGINT) AS day",
    )
    snap = passes.two_pass(
        spark, sf_dir, "t18_growth_", ev.filter("event_id % 2 = 0"),
        ev.filter("event_id % 2 = 1"),
        passes.foreach_merge(
            spark, "event_id bigint, user_id bigint, day bigint",
            _merge_user_days,
        ),
    )
    spark.read.parquet(snap).createOrReplaceTempView("growth_snap")
    return spark.sql(
        "WITH "
        + _growth_sql(
            "", "", ad_src="SELECT user_id, day FROM growth_snap"
        )
    )


# ---------------------------------------------------------------------------
# basket_rules — DIRECTED association rules over the top co-occurring
# pairs: support, confidence and lift for both directions A→B and B→A.
# Completes q_basket_pairs' symmetric view with the asymmetric one that
# drives action (lift is symmetric — "these sell together"; confidence
# is not — "A's buyers buy B" ≠ "B's buyers buy A", and the
# recommendation goes on the HIGH-confidence side). All metrics exact
# integer basis points after the top-K cut.
# ---------------------------------------------------------------------------


def _basket_rules_sql(idiv: str, cross: str) -> str:
    base = _basket_sql(idiv, cross)
    # reuse the pair machinery up to `top`, then unpivot to directed rules
    head = base[: base.index("SELECT t.part_a")].rstrip()
    if not head.endswith(","):
        head += ","
    return (
        head
        + f"""
    rules AS (
        SELECT part_a AS antecedent, part_b AS consequent, co FROM top
        UNION ALL
        SELECT part_b AS antecedent, part_a AS consequent, co FROM top)
    SELECT d.antecedent, d.consequent, d.co,
           CAST((d.co * 10000) {idiv} n.n_orders AS BIGINT) AS support_bp,
           CAST((d.co * 10000) {idiv} pa.n_part AS BIGINT)
             AS confidence_bp,
           CAST((d.co * 10000) {idiv}
                greatest(CAST(1 AS BIGINT),
                         (pa.n_part * pb.n_part) {idiv} n.n_orders)
                AS BIGINT) AS lift_bp
    FROM rules d
    JOIN pc pa ON pa.part = d.antecedent
    JOIN pc pb ON pb.part = d.consequent{cross}n
    """
    )


def basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N172: directed support/confidence/lift rules on the top pairs."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql("WITH " + _basket_rules_sql("div", " CROSS JOIN "))


def basket_rules_oracle() -> str:
    return "WITH " + _basket_rules_sql("//", ", ")


# ---------------------------------------------------------------------------
# attribution_linear — MULTI-touch attribution: each purchase's cents
# split equally across ALL the user's clicks in the trailing 7-day
# window (q_attribution's last-touch gives the final click everything;
# linear is the other bookend every marketing mix debate runs between).
# Exact-integer credit: every click gets cents div n, and the LAST
# click (by the same (ts, click_id) tie discipline as last-touch) also
# carries the remainder — so per-purchase credit sums to the purchase
# cents EXACTLY (pinned), no fractional-cent leakage at any scale.
#
# Shape: the purchase×clicks-in-window join is a USER-keyed equi-join
# with range predicates — the expansion is the OUTPUT (each qualifying
# touch earns a credit row), bounded by clicks-per-user-week, never
# corpus²; rollup to the attribution-day grain. One shuffle pattern on
# user_id, then a day fold.
# ---------------------------------------------------------------------------


def _attr_linear_sql(epoch: str, idiv: str) -> str:
    win = ATTRIBUTION_WINDOW_S * 1_000_000
    day = 86_400_000_000
    return f"""
    ev AS (SELECT user_id, event_id, event_type, {epoch} AS t,
                  CAST(round(value * 100) AS BIGINT) AS cents
           FROM events
           WHERE event_type IN ('click', 'purchase')),
    touches AS (SELECT p.user_id, p.event_id AS purchase_id,
                       p.cents, c.event_id AS click_id, c.t AS click_t
                FROM ev p JOIN ev c
                  ON c.user_id = p.user_id
                     AND c.event_type = 'click'
                     AND c.t <= p.t AND c.t >= p.t - {win}
                WHERE p.event_type = 'purchase'),
    ranked AS (SELECT *,
                      CAST(count(*) OVER (PARTITION BY purchase_id)
                        AS BIGINT) AS n,
                      row_number() OVER (PARTITION BY purchase_id
                                         ORDER BY click_t DESC,
                                                  click_id DESC) AS rk
               FROM touches),
    credit AS (SELECT user_id, click_id, click_t,
                      CASE WHEN rk = 1
                           THEN cents - (n - 1) * (cents {idiv} n)
                           ELSE cents {idiv} n END AS credit_cents
               FROM ranked)
    SELECT CAST(click_t {idiv} {day} AS BIGINT) AS day,
           CAST(count(*) AS BIGINT) AS n_touches,
           CAST(count(DISTINCT click_id) AS BIGINT) AS n_clicks,
           CAST(sum(credit_cents) AS BIGINT) AS credited_cents
    FROM credit GROUP BY CAST(click_t {idiv} {day} AS BIGINT)
    """


def attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N176: equal-split multi-touch attribution, exact to the cent."""
    from ..tables import EPOCH_NTZ

    _events(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _attr_linear_sql(
            f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts)", "div"
        )
    )


def attribution_linear_oracle() -> str:
    return "WITH " + _attr_linear_sql("epoch_us(ts)", "//")


# ---------------------------------------------------------------------------
# activity_streaks — gaps-and-islands on per-user ACTIVE DAYS: the
# consecutive-day streak readout (Duolingo/GitHub-graph shape) that
# retention teams actually ship, and the canonical islands idiom
# (day − row_number ≡ constant within an island) the relational surface
# should demonstrate. Aggregated to the streak-length histogram — the
# distribution of each user's LONGEST streak — plus the users' total
# active days per bucket, so the output grain is O(max streak length),
# not O(users).
# Everything integer; the windows are PARTITIONED BY user_id (data-scale
# key, user-bounded frames — never a global sort).
# ---------------------------------------------------------------------------


def _streaks_sql(epoch: str, idiv: str) -> str:
    day_us = 86_400_000_000
    return f"""
    d AS (SELECT DISTINCT user_id,
                 CAST({epoch} {idiv} {day_us} AS BIGINT) AS day
          FROM events),
    isl AS (SELECT user_id, day,
                   day - row_number() OVER (PARTITION BY user_id
                                            ORDER BY day) AS grp
            FROM d),
    streaks AS (SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len
                FROM isl GROUP BY user_id, grp),
    per_user AS (SELECT user_id,
                        CAST(max(len) AS BIGINT) AS max_streak,
                        CAST(count(*) AS BIGINT) AS n_streaks,
                        CAST(sum(len) AS BIGINT) AS active_days
                 FROM streaks GROUP BY user_id)
    SELECT max_streak,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(n_streaks) AS BIGINT) AS n_streaks,
           CAST(sum(active_days) AS BIGINT) AS active_days
    FROM per_user GROUP BY max_streak
    """


def activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N185: consecutive-active-day streak histogram (gaps-and-islands)."""
    from ..tables import EPOCH_NTZ

    _events(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _streaks_sql(
            f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts)", "div"
        )
    )


def activity_streaks_oracle() -> str:
    return "WITH " + _streaks_sql("epoch_us(ts)", "//")


# ---------------------------------------------------------------------------
# ipf_raking — iterative proportional fitting (raking): reweight the
# FIRST half-period's (event_type, weekday) contingency table so its
# marginals match the SECOND half's — the survey-statistics / experiment
# post-stratification workhorse (match the panel to the population on
# known margins without touching the joint). Three unrolled IPF rounds
# (row-scale then column-scale each) on the O(types × 7) cell frame.
# Zero cells stay zero (IPF cannot create mass — the standard caveat);
# with zeros the marginal fit is the best KL projection available, and
# the residual is the reader's to judge from fitted-vs-target columns.
# Float discipline (the embedding_drift lesson): every scaled weight is
# rounded to 9 dp and summed as DECIMAL(38,9) — addition order never
# matters — then ONE double multiply/divide per cell per step on those
# identical-by-construction values; so the whole fixpoint is bit-exact
# cross-engine despite being float-valued.
# Scale shape: ONE corpus shuffle (the (type, dow, half) fold), then six
# equi-joins on the bounded cell frame. Every w-step is referenced twice
# downstream (its marginal sum and the next rescale), so a naive WITH
# chain doubles the inlined plan per step (2⁶ re-derivations — Catalyst
# AND DuckDB both inline multiply-referenced CTEs, the kcore/markov
# lesson): the Spark side stages each round via scoped_checkpoint, the
# oracle marks every round AS MATERIALIZED.
# ---------------------------------------------------------------------------


def _ipf_base_sql(epoch: str, idiv: str) -> str:
    """ONE corpus pass: (event_type, dow, half) counts; half 0 = raked
    period (cells), half 1 = target period (marginals only)."""
    return f"""
    ev AS (SELECT event_type,
                  (CAST({epoch} {idiv} 86400000000 AS BIGINT) + 4) % 7
                    AS dow,
                  CAST({epoch} AS BIGINT) AS t
           FROM events),
    b AS (SELECT CAST((min(t) + max(t)) {idiv} 2 AS BIGINT) AS mid FROM ev),
    base AS (SELECT event_type, dow,
                    CASE WHEN t <= mid THEN 0 ELSE 1 END AS half,
                    CAST(count(*) AS BIGINT) AS n
             FROM ev CROSS JOIN b
             GROUP BY event_type, dow, CASE WHEN t <= mid THEN 0 ELSE 1 END)
    """


def _ipf_frames_sql() -> str:
    """The bounded frames derived from ``base``: period-1 cells (with the
    DECIMAL(38,9) weight carrier) and the two period-2 target marginals."""
    return """
    c0 AS (SELECT event_type, dow, n, CAST(n AS DECIMAL(38, 9)) AS wd
           FROM base WHERE half = 0),
    tr AS (SELECT event_type, CAST(sum(n) AS DOUBLE) AS tgt
           FROM base WHERE half = 1 GROUP BY event_type),
    tc AS (SELECT dow, CAST(sum(n) AS DOUBLE) AS tgt
           FROM base WHERE half = 1 GROUP BY dow)
    """


def _ipf_step_sql(
    src: str, axis: str, tgt: str, si: str = "s", mat: str = ""
) -> tuple[str, str]:
    """One IPF scaling step as (marginal-CTE, rescale-SELECT): rescale
    ``src`` so its ``axis`` marginal matches ``tgt`` — marginal sums
    exact DECIMAL (addition order never matters), then one double
    multiply/divide per cell, re-rounded to the 9 dp carrier so the next
    round starts from identical values on both engines. ``si`` names the
    marginal CTE (unique per step in the oracle's single WITH chain);
    ``mat`` is DuckDB's MATERIALIZED."""
    cte = f"{si} AS {mat}(SELECT {axis}, sum(wd) AS s FROM {src} GROUP BY {axis})"
    select = f"""
    SELECT c.event_type, c.dow, c.n,
           CAST(round(CAST(c.wd AS DOUBLE) * t.tgt
                      / CAST({si}.s AS DOUBLE), 9) AS DECIMAL(38, 9)) AS wd
    FROM {src} c
    JOIN {si} ON {si}.{axis} = c.{axis}
    JOIN {tgt} t ON t.{axis} = c.{axis}
    """
    return cte, select


_IPF_READOUT = """
SELECT event_type, dow, n,
       round(CAST(wd AS DOUBLE), 6) AS fitted_r6,
       round(CAST(wd AS DOUBLE) / n, 6) AS weight_r6
FROM {src}
"""

_IPF_AXES = [("event_type", "tr"), ("dow", "tc")] * 3


def ipf_raking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N189: 3-round IPF raking of period-1 cells onto period-2 margins."""
    from ..checkpoints import scoped_checkpoint
    from ..tables import EPOCH_NTZ

    _events(spark, sf_dir)
    base = scoped_checkpoint(
        spark.sql(
            "WITH "
            + _ipf_base_sql(
                f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts)", "div"
            )
            + " SELECT * FROM base"
        ),
        "ipf_base",
    )
    base.createOrReplaceTempView("ipf_base")
    for name in ("c0", "tr", "tc"):
        spark.sql(
            "WITH base AS (SELECT * FROM ipf_base),"
            + _ipf_frames_sql()
            + f" SELECT * FROM {name}"
        ).createOrReplaceTempView(f"ipf_{name}")
    src = "ipf_c0"
    for i, (axis, tgt) in enumerate(_IPF_AXES, start=1):
        cte, select = _ipf_step_sql(src, axis, f"ipf_{tgt}")
        stepped = scoped_checkpoint(
            spark.sql("WITH " + cte + select), f"ipf_w{i}"
        )
        stepped.createOrReplaceTempView(f"ipf_w{i}")
        src = f"ipf_w{i}"
    return spark.sql(_IPF_READOUT.format(src=src))


def _ipf_frames_sql_mat() -> str:
    return """
    c0 AS MATERIALIZED (SELECT event_type, dow, n,
                               CAST(n AS DECIMAL(38, 9)) AS wd
           FROM base WHERE half = 0),
    tr AS MATERIALIZED (SELECT event_type, CAST(sum(n) AS DOUBLE) AS tgt
           FROM base WHERE half = 1 GROUP BY event_type),
    tc AS MATERIALIZED (SELECT dow, CAST(sum(n) AS DOUBLE) AS tgt
           FROM base WHERE half = 1 GROUP BY dow)
    """


def ipf_raking_oracle() -> str:
    steps = []
    src = "c0"
    for i, (axis, tgt) in enumerate(_IPF_AXES, start=1):
        cte, select = _ipf_step_sql(
            src, axis, tgt, si=f"s{i}", mat="MATERIALIZED "
        )
        steps.append(f"{cte}, w{i} AS MATERIALIZED ({select})")
        src = f"w{i}"
    return (
        "WITH "
        + _ipf_base_sql("epoch_us(ts)", "//")
        + ","
        + _ipf_frames_sql_mat()
        + ","
        + ",".join(steps)
        + _IPF_READOUT.format(src=src)
    )


# ---------------------------------------------------------------------------
# heavy_changers — top-k TRAFFIC SHIFTERS between the two half-periods:
# the users whose activity count moved the most (|first − second|, exact
# integers). The "heavy changers" question is the standard second
# question after heavy hitters in network/abuse monitoring — a stable
# top talker is boring; a sudden riser or vanisher is the signal.
# One user-keyed conditional fold over the corpus (the midpoint is a
# 1-row scalar frame, decay/cuped whitelist shape), then TakeOrdered
# top-20 with a deterministic (delta DESC, user_id) tiebreak.
# ---------------------------------------------------------------------------

HEAVY_CHANGERS_K = 20


def _heavy_changers_sql(epoch: str, idiv: str) -> str:
    return f"""
    ev AS (SELECT user_id, CAST({epoch} AS BIGINT) AS t FROM events),
    b AS (SELECT CAST((min(t) + max(t)) {idiv} 2 AS BIGINT) AS mid FROM ev),
    h AS (SELECT user_id,
                 CAST(sum(CASE WHEN t <= mid THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_first,
                 CAST(sum(CASE WHEN t > mid THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_second
          FROM ev CROSS JOIN b GROUP BY user_id)
    SELECT user_id, n_first, n_second,
           abs(n_first - n_second) AS delta
    FROM h
    ORDER BY delta DESC, user_id
    LIMIT {HEAVY_CHANGERS_K}
    """


def heavy_changers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N190: top-k activity shifters between half-periods, exact integers."""
    from ..tables import EPOCH_NTZ

    _events(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _heavy_changers_sql(
            f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts)", "div"
        )
    )


def heavy_changers_oracle() -> str:
    return "WITH " + _heavy_changers_sql("epoch_us(ts)", "//")
