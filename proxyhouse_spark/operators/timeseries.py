"""Time-series monitoring operators over the events stream.

The production-monitoring tail every analytics engine grows once dashboards
exist: rolling robust baselines (median), exponential smoothing (EWMA),
changepoint localization (binary segmentation's first split), and a
distribution-free trend test (Mann-Kendall). All four run at the DAILY grain:
one shuffle reduces the raw corpus to O(#event_types × #days) rows, and every
downstream step is bounded by days — independent of row count, which is what
makes the family safe at 100 TB (the reference proxy has no query surface at
all; these extend SURVEY §2.11's monitoring family — siblings of
q_seasonal_anomaly / q_cusum / q_autocorr).

Cross-engine discipline (the traps log in MEMORY): epoch math from
timestampdiff-vs-epoch_us dialect params, integer division via div-vs-//,
exact-interpolated medians via the percentile ≡ quantile_cont identity, and
sequential HOF folds (Spark ``aggregate`` ≡ DuckDB ``list_reduce`` with a
prepended seed) for the order-sensitive EWMA recurrence — per-expression IEEE
double ops are exactly rounded and therefore bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..streaming import passes
from ..tables import table

DAY_US = 86_400_000_000


def _events(spark: SparkSession, sf_dir: str) -> None:
    table(spark, sf_dir, "events").createOrReplaceTempView("events")


def _daily_sql(epoch: str, idiv: str) -> str:
    """Shared base: the one data-scale shuffle — events → (type, day) grain.

    ``n`` is the daily event count, ``cents`` the exact integer daily value
    sum (the same round(value*100) carrier the attribution family uses).
    """
    return f"""
    ev AS (SELECT CAST({epoch} {idiv} {DAY_US} AS BIGINT) AS day, event_type,
                  CAST(round(value * 100) AS BIGINT) AS cents
           FROM events),
    daily AS (SELECT event_type, day,
                     CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(cents) AS BIGINT) AS cents
              FROM ev GROUP BY event_type, day)
    """


# ---------------------------------------------------------------------------
# rolling_median — trailing-7-day EXACT median of the daily event count per
# event_type: the robust baseline a spike detector compares today against
# (mean-based baselines chase their own outliers; the median doesn't).
# Spelled SCALE-FIRST: not a per-row sort window but a bounded 7-offset
# explode + equi-keyed re-group — each daily row contributes to exactly 7
# target days, so the blowup is a constant 7× on the O(types×days) frame,
# never on the raw corpus. Missing calendar days are ABSENT from the window
# (n_days reports the actual support), not imputed zero — a gap in ingestion
# should widen uncertainty, not drag the baseline to zero.
# ---------------------------------------------------------------------------


def _rolling_median_sql(epoch: str, idiv: str, pct: str, explode_k: str) -> str:
    return (
        _daily_sql(epoch, idiv)
        + f""",
    win AS (SELECT d.event_type, d.day + t.k AS day, d.n
            FROM daily d{explode_k}),
    med AS (SELECT event_type, day,
                   CAST(count(*) AS BIGINT) AS n_days,
                   round({pct}(n, 0.5), 1) AS med7
            FROM win GROUP BY event_type, day)
    SELECT m.event_type, m.day, d.n, m.n_days, m.med7
    FROM med m JOIN daily d ON d.event_type = m.event_type AND d.day = m.day
    """
    )


def rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N177: trailing-7-day exact median baseline per event_type."""
    from ..tables import EPOCH_NTZ

    _events(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _rolling_median_sql(
            f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts)",
            "div",
            "percentile",
            " LATERAL VIEW explode(sequence(0, 6)) t AS k",
        )
    )


def rolling_median_oracle() -> str:
    return "WITH " + _rolling_median_sql(
        "epoch_us(ts)", "//", "quantile_cont", ", unnest(range(0, 7)) AS t(k)"
    )


# ---------------------------------------------------------------------------
# changepoint — binary segmentation's FIRST split per event_type: the day τ
# that maximizes the between-segment sum-of-squares reduction
# gain(τ) = S₁²/n₁ + S₂²/n₂ − T²/n over the daily counts. The k=1 core of
# every offline changepoint stack (PELT/BinSeg); q_cusum answers "is it
# drifting NOW", this answers "WHEN did the level shift".
# Exactness: prefix sums are integers; each candidate's gain is a fixed
# left-to-right chain of IEEE double ops on those integers, so both engines
# produce bit-identical doubles and the argmax (gain DESC, day ASC tie) is
# deterministic. Segment means are published as exact integer ppm
# (micro-events/day). The windows are PARTITIONED by event_type and bounded
# by #days — the corpus never enters a window.
# ---------------------------------------------------------------------------


def _changepoint_tail(idiv: str) -> str:
    """The changepoint argmax over an existing ``daily(event_type, day, n)``
    frame — shared by the batch op and the streaming snapshot readout."""
    return f"""
    ord AS (SELECT event_type, day, n,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY day) AS i,
                   sum(n) OVER (PARTITION BY event_type
                                ORDER BY day) AS s1,
                   CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
                     AS nd,
                   sum(n) OVER (PARTITION BY event_type) AS tot
            FROM daily),
    gain AS (SELECT event_type, day, i, nd, s1, tot,
                    CAST(s1 AS DOUBLE) * s1 / i
                      + CAST(tot - s1 AS DOUBLE) * (tot - s1) / (nd - i)
                      - CAST(tot AS DOUBLE) * tot / nd AS g
             FROM ord WHERE i < nd),
    best AS (SELECT *, row_number() OVER (PARTITION BY event_type
                                          ORDER BY g DESC, day) AS rk
             FROM gain)
    SELECT event_type, day AS split_day, nd AS n_days,
           round(g, 6) AS gain_r6,
           CAST(s1 * CAST(1000000 AS BIGINT) {idiv} i AS BIGINT)
             AS mean_before_ppm,
           CAST((tot - s1) * CAST(1000000 AS BIGINT) {idiv} (nd - i)
                AS BIGINT) AS mean_after_ppm
    FROM best WHERE rk = 1
    """


def _changepoint_sql(epoch: str, idiv: str) -> str:
    return _daily_sql(epoch, idiv) + "," + _changepoint_tail(idiv)


def changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N178: binary-segmentation level-shift localization per event_type."""
    from ..tables import EPOCH_NTZ

    _events(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _changepoint_sql(
            f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts)", "div"
        )
    )


def changepoint_oracle() -> str:
    return "WITH " + _changepoint_sql("epoch_us(ts)", "//")


# ---------------------------------------------------------------------------
# ewma — per-day exponentially-weighted moving average (α = 1/4) of the
# daily value sum per event_type: the smoothing every latency/revenue
# dashboard runs, and the recurrence (ewma_t = ewma_{t-1} + α(x_t −
# ewma_{t-1})) that plain SQL windows cannot express because it is
# order-SENSITIVE. Spelled as the proven sequential-HOF-fold scaffold
# (chi2 / split_half discipline): one array of the type's daily values
# sorted by day, then each day's readout folds its own prefix slice —
# O(days²) lambda steps per type, bounded by the calendar, zero extra
# shuffles. Seed = first observation (standard EWMA init; a zero seed
# would fabricate a ramp-in). α = 1/4 is exactly representable in binary,
# so both engines run identical IEEE ops in identical order.
# ---------------------------------------------------------------------------


def _ewma_sql(epoch: str, idiv: str, arr: str, fold: str) -> str:
    return (
        _daily_sql(epoch, idiv)
        + f""",
    ord AS (SELECT event_type, day, cents,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY day) AS i
            FROM daily),
    arr AS (SELECT event_type, {arr} AS xs FROM ord GROUP BY event_type)
    SELECT o.event_type, o.day, o.cents, round({fold}, 6) AS ewma_r6
    FROM ord o JOIN arr a ON a.event_type = o.event_type
    """
    )


def ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N179: order-sensitive EWMA recurrence as a sequential HOF fold."""
    from ..tables import EPOCH_NTZ

    _events(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _ewma_sql(
            f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts)",
            "div",
            "transform(array_sort(collect_list(struct(day, cents))), "
            "s -> CAST(s.cents AS DOUBLE))",
            "aggregate(slice(a.xs, 2, o.i - 1), element_at(a.xs, 1), "
            "(acc, v) -> acc + CAST(0.25 AS DOUBLE) * (v - acc))",
        )
    )


def ewma_oracle() -> str:
    return "WITH " + _ewma_sql(
        "epoch_us(ts)",
        "//",
        "list_transform(list_sort(list(struct_pack(day := day, "
        "cents := cents))), s -> CAST(s.cents AS DOUBLE))",
        "list_reduce(list_prepend(a.xs[1], list_slice(a.xs, 2, o.i)), "
        "(acc, v) -> acc + CAST(0.25 AS DOUBLE) * (v - acc))",
    )


# ---------------------------------------------------------------------------
# mann_kendall — the distribution-free monotone-trend test per event_type:
# S = Σ_{i<j} sign(n_j − n_i) over the daily counts, tie-corrected variance,
# continuity-corrected z. The standard "is this KPI actually trending"
# answer when nothing is Gaussian (the hypothesis-test sibling of
# q_theil_sen's slope estimate — Theil-Sen says how steep, Mann-Kendall says
# whether to believe it). S and the variance are EXACT integers (variance
# published ×18 to avoid the /18 rational); only the final z touches floats.
# The pair join is equi-keyed on event_type over the O(types×days) frame —
# days²·types pairs total, calendar-bounded, never corpus².
# ---------------------------------------------------------------------------


def _mann_kendall_sql(epoch: str, idiv: str) -> str:
    return (
        _daily_sql(epoch, idiv)
        + """,
    ord AS (SELECT event_type, day, n,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY day) AS i
            FROM daily),
    mk AS (SELECT a.event_type,
                  CAST(sum(CAST(sign(b.n - a.n) AS BIGINT)) AS BIGINT) AS s
           FROM ord a JOIN ord b
             ON a.event_type = b.event_type AND a.i < b.i
           GROUP BY a.event_type),
    tt AS (SELECT event_type,
                  CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
           FROM (SELECT event_type, n, CAST(count(*) AS BIGINT) AS t
                 FROM daily GROUP BY event_type, n) tc
           GROUP BY event_type),
    nd AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
           FROM daily GROUP BY event_type)
    SELECT m.event_type, nd.n_days, m.s,
           nd.n_days * (nd.n_days - 1) * (2 * nd.n_days + 5) - tt.tie_term
             AS var18,
           CASE WHEN nd.n_days * (nd.n_days - 1) * (2 * nd.n_days + 5)
                     - tt.tie_term = 0 THEN CAST(0 AS DOUBLE)
                ELSE round((m.s - CAST(sign(m.s) AS BIGINT))
                           / sqrt((nd.n_days * (nd.n_days - 1)
                                   * (2 * nd.n_days + 5) - tt.tie_term)
                                  / CAST(18 AS DOUBLE)), 6)
           END AS z_r6
    FROM mk m
    JOIN tt ON tt.event_type = m.event_type
    JOIN nd ON nd.event_type = m.event_type
    """
    )


def mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N180: tie-corrected Mann-Kendall trend test on daily counts."""
    from ..tables import EPOCH_NTZ

    _events(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _mann_kendall_sql(
            f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts)", "div"
        )
    )


def mann_kendall_oracle() -> str:
    return "WITH " + _mann_kendall_sql("epoch_us(ts)", "//")


# ---------------------------------------------------------------------------
# Streaming changepoint — ONLINE level-shift localization: the
# (event_type, day) count frame is the mergeable sufficient statistic for
# the binary-segmentation gain (the stream_mutual_info / stream_auc
# thesis, third instance: the nonlinear argmax lives entirely in the
# read-time projection over ADDITIVE state). Two REAL availableNow passes
# over parity-split events must hash-match the one-shot batch
# q_changepoint oracle. State is O(types × days) regardless of corpus
# size — a monitoring platform keeps a LIVE "when did this KPI shift"
# answer without ever rescanning history. The additive merge is
# replay-idempotent via the batch-id marker (same snapshot-swap
# discipline as the sibling streams).
# ---------------------------------------------------------------------------

_CP_SNAP_SCHEMA = "event_type string, day bigint, n bigint"


def _merge_daily_counts(
    spark: SparkSession, batch_df: DataFrame, snap_dir: str, batch_id: int
) -> None:
    from pyspark.sql import functions as F

    delta = batch_df.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    passes.merge_snapshot(
        spark, snap_dir, batch_id, _CP_SNAP_SCHEMA,
        lambda current: passes.add_on_keys(
            current, delta, ["event_type", "day"], ["n"]
        ).repartition(2, "event_type"),
    )


def stream_changepoint_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T19, oracle-checked: two availableNow passes maintaining the
    (type, day) count snapshot; the changepoint readout over the merged
    state must hash-match the one-shot batch q_changepoint."""
    from ..tables import EPOCH_NTZ

    _events(spark, sf_dir)
    keyed = spark.sql(
        f"""
        SELECT event_id, event_type,
               CAST(timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts)
                    div {DAY_US} AS BIGINT) AS day
        FROM events
        """
    )
    snap = passes.two_pass(
        spark, sf_dir, "t18_cp_", keyed.filter("event_id % 2 = 0"),
        keyed.filter("event_id % 2 = 1"),
        passes.foreach_merge(
            spark, "event_id bigint, event_type string, day bigint",
            _merge_daily_counts,
        ),
    )
    spark.read.parquet(snap).createOrReplaceTempView("cp_snap")
    return spark.sql(
        "WITH daily AS (SELECT event_type, day, n FROM cp_snap),"
        + _changepoint_tail("div")
    )


# ---------------------------------------------------------------------------
# drawdown — MAX DRAWDOWN of the cumulative daily value curve per
# event_type: the largest peak-to-trough drop, finance's canonical
# worst-case risk readout and just as meaningful for any cumulative KPI
# (revenue run-rate, net subscriber adds). Everything exact integers:
# running sum and running peak over the day-ordered cents, drawdown =
# peak − cum, the argmax packed as dd·10⁹ + (10⁹−1 − day) so the
# EARLIEST trough wins ties deterministically; depth also published in
# exact basis points of the peak. Windows PARTITIONED by event_type and
# bounded by #days (the family's daily-grain contract — the corpus never
# enters a window).
# ---------------------------------------------------------------------------


def _drawdown_sql(epoch: str, idiv: str) -> str:
    enc = "CAST(1000000000 AS BIGINT)"
    return (
        _daily_sql(epoch, idiv)
        + f""",
    run AS (SELECT event_type, day,
                   sum(cents) OVER (PARTITION BY event_type
                                    ORDER BY day) AS cum
            FROM daily),
    dd AS (SELECT event_type, day, cum,
                  max(cum) OVER (PARTITION BY event_type
                                 ORDER BY day) AS peak
           FROM run),
    k AS (SELECT event_type,
                 CAST(count(*) AS BIGINT) AS n_days,
                 CAST(max((peak - cum) * {enc} + ({enc} - 1 - day))
                      AS BIGINT) AS kmax
          FROM dd GROUP BY event_type),
    loc AS (SELECT event_type, n_days,
                   CAST(kmax {idiv} {enc} AS BIGINT) AS max_dd_cents,
                   CAST(({enc} - 1) - (kmax % {enc}) AS BIGINT)
                     AS trough_day
            FROM k)
    SELECT l.event_type, l.n_days, l.max_dd_cents, l.trough_day,
           CAST(l.max_dd_cents * 10000 {idiv} greatest(d.peak, 1)
                AS BIGINT) AS dd_bp
    FROM loc l JOIN dd d
      ON d.event_type = l.event_type AND d.day = l.trough_day
    """
    )


def drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N192: exact-integer max drawdown of the cumulative daily curve."""
    from ..tables import EPOCH_NTZ

    _events(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _drawdown_sql(
            f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts)", "div"
        )
    )


def drawdown_oracle() -> str:
    return "WITH " + _drawdown_sql("epoch_us(ts)", "//")


# ---------------------------------------------------------------------------
# rate_test — did the event RATE change between the two half-periods?
# The Poisson two-sample test via the variance-stabilizing square-root
# transform: for counts c, √c has SD ≈ 1/2 regardless of the rate, so
# with the equal exposures the midpoint split gives by construction,
# z = (√c₂ − √c₁)·√2 — the ops-monitoring "did the error rate move"
# answer where Welch (q_welch_metric) tests MEANS of a value, this tests
# the COUNTING RATE itself. IEEE sqrt is exactly rounded (unlike libm
# trig), so the float path is bit-identical cross-engine; the rate ratio
# is published in exact integer basis points.
# ---------------------------------------------------------------------------


def _rate_test_sql(epoch: str, idiv: str) -> str:
    return f"""
    ev AS (SELECT event_type, CAST({epoch} AS BIGINT) AS t FROM events),
    b AS (SELECT CAST((min(t) + max(t)) {idiv} 2 AS BIGINT) AS mid FROM ev),
    h AS (SELECT event_type,
                 CAST(sum(CASE WHEN t <= mid THEN 1 ELSE 0 END) AS BIGINT)
                   AS c1,
                 CAST(sum(CASE WHEN t > mid THEN 1 ELSE 0 END) AS BIGINT)
                   AS c2
          FROM ev CROSS JOIN b GROUP BY event_type)
    SELECT event_type, c1, c2,
           CAST(c2 * 10000 {idiv} greatest(c1, 1) AS BIGINT) AS ratio_bp,
           round((sqrt(CAST(c2 AS DOUBLE)) - sqrt(CAST(c1 AS DOUBLE)))
                 * sqrt(CAST(2 AS DOUBLE)), 6) AS z_r6
    FROM h
    """


def rate_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N196: Poisson rate-change test via the sqrt transform, per type."""
    from ..tables import EPOCH_NTZ

    _events(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _rate_test_sql(
            f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts)", "div"
        )
    )


def rate_test_oracle() -> str:
    return "WITH " + _rate_test_sql("epoch_us(ts)", "//")


# ---------------------------------------------------------------------------
# holt_linear — Holt's double exponential smoothing (level + trend) per
# event_type: the forecasting step up from q_ewma — EWMA tracks a LEVEL
# and lags any trend by construction; Holt carries (l, b) state
#     l_t = α·x_t + (1−α)(l_{t−1} + b_{t−1})
#     b_t = β(l_t − l_{t−1}) + (1−β)·b_{t−1}
# and forecasts l + b — the one-step-ahead number a capacity planner
# actually wants. A TWO-component recurrence exceeds the scalar fold the
# chi2/ewma scaffold uses, so this op extends it: the accumulator is the
# 2-ARRAY [l, b] and data enters as [x, 0] arrays of the same type
# (DuckDB's list_reduce requires accumulator ≡ element type; NOT a
# struct — DuckDB 1.0 mis-evaluates multi-step struct accumulators,
# verified by a reduced repro, while list accumulators fold correctly;
# only the subscript base differs per dialect). Seeded with the standard
# init l₁ = x₂, b₁ = x₂ − x₁. α = 1/4 and β = 1/2 are exactly binary ⇒
# the whole float recurrence is bit-identical cross-engine. Types need
# ≥ 2 observed days (documented; the fold is undefined on one point).
# ---------------------------------------------------------------------------


def _holt_lambda(i1: str, i2: str, mk: str = "array") -> str:
    """The Holt step as a 2-array fold; ``i1``/``i2`` are the dialect's
    first/second array subscripts (Spark [] is 0-based, DuckDB 1-based)."""
    a, na, bt, nb = (
        "CAST(0.25 AS DOUBLE)", "CAST(0.75 AS DOUBLE)",
        "CAST(0.5 AS DOUBLE)", "CAST(0.5 AS DOUBLE)",
    )
    new_l = f"{a} * e[{i1}] + {na} * (acc[{i1}] + acc[{i2}])"
    new_b = f"{bt} * ({new_l} - acc[{i1}]) + {nb} * acc[{i2}]"
    return f"(acc, e) -> {mk}({new_l}, {new_b})"


def _holt_sql(
    epoch: str, idiv: str, arr: str, fold: str, i1: str, i2: str
) -> str:
    return (
        _daily_sql(epoch, idiv)
        + f""",
    ord AS (SELECT event_type, day, cents FROM daily),
    arr AS (SELECT event_type, {arr} AS xs FROM ord GROUP BY event_type),
    st AS (SELECT event_type, {fold} AS s FROM arr WHERE {{n}} >= 2)
    SELECT event_type, CAST({{n}} AS BIGINT) AS n_days,
           round(s[{i1}], 6) AS level_r6,
           round(s[{i2}], 6) AS trend_r6,
           round(s[{i1}] + s[{i2}], 6) AS forecast_r6
    FROM st JOIN arr USING (event_type)
    """
    )


def holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N197: Holt level+trend smoothing as a 2-array sequential fold."""
    from ..tables import EPOCH_NTZ

    fold = (
        "aggregate(transform(slice(xs, 3, size(xs) - 2), "
        "v -> array(v, CAST(0 AS DOUBLE))), "
        "array(element_at(xs, 2), element_at(xs, 2) - element_at(xs, 1)), "
        + _holt_lambda("0", "1")
        + ")"
    )
    _events(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _holt_sql(
            f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts)",
            "div",
            "transform(array_sort(collect_list(struct(day, cents))), "
            "s -> CAST(s.cents AS DOUBLE))",
            fold,
            "0",
            "1",
        ).format(n="size(xs)")
    )


def holt_linear_oracle() -> str:
    fold = (
        "list_reduce(list_prepend(list_value(xs[2], xs[2] - xs[1]), "
        "list_transform(list_slice(xs, 3, len(xs)), "
        "v -> list_value(v, CAST(0 AS DOUBLE)))), "
        + _holt_lambda("1", "2", "list_value")
        + ")"
    )
    return "WITH " + _holt_sql(
        "epoch_us(ts)",
        "//",
        "list_transform(list_sort(list(struct_pack(day := day, "
        "cents := cents))), s -> CAST(s.cents AS DOUBLE))",
        fold,
        "1",
        "2",
    ).format(n="len(xs)")


# ---------------------------------------------------------------------------
# seasonal_decompose — the additive trend/seasonal/residual split
# (classical decomposition, STL's cheap ancestor) per event_type at the
# daily grain: trend = centered 7-day mean (the rolling_median explode
# discipline, offsets −3..+3, partial support at the series edges
# reported in n_win, not silently imputed), seasonal = per-weekday mean
# of the detrended series, residual = the rest. q_seasonality_strength
# MEASURES how seasonal a series is; this op SHOWS the components a
# dashboard actually plots.
# Float discipline: the trend is the exact rational num/den (integer
# window sums); detrended values are rounded to 9 dp DECIMAL(38,9)
# before the per-weekday mean (exact sums — addition order never
# matters, the ipf/embedding_drift lesson), and each published value is
# one deterministic double chain off those exact carriers. The residual
# adds +0.0 before publishing: a perfectly-explained day rounds to
# IEEE negative zero on one engine and positive zero on the other —
# x + 0.0 canonicalizes both to +0.0 (new cross-engine trap, logged).
# ---------------------------------------------------------------------------


def _seasonal_decompose_sql(epoch: str, idiv: str, explode_k: str) -> str:
    return (
        _daily_sql(epoch, idiv)
        + f""",
    win AS (SELECT d.event_type, d.day + t.k AS day, d.n
            FROM daily d{explode_k}),
    trend AS (SELECT event_type, day,
                     CAST(sum(n) AS BIGINT) AS num,
                     CAST(count(*) AS BIGINT) AS den
              FROM win GROUP BY event_type, day),
    det AS (SELECT d.event_type, d.day, (d.day + 4) % 7 AS dow, d.n,
                   t.num, t.den,
                   CAST(round(d.n - CAST(t.num AS DOUBLE) / t.den, 9)
                        AS DECIMAL(38, 9)) AS det_d
            FROM daily d JOIN trend t
              ON t.event_type = d.event_type AND t.day = d.day),
    seas AS (SELECT event_type, dow,
                    CAST(sum(det_d) AS DECIMAL(38, 9)) AS s_sum,
                    CAST(count(*) AS BIGINT) AS k
             FROM det GROUP BY event_type, dow)
    SELECT d.event_type, d.day, d.dow, d.n, d.den AS n_win,
           round(CAST(d.num AS DOUBLE) / d.den, 6) AS trend_r6,
           round(CAST(s.s_sum AS DOUBLE) / s.k, 6) AS seasonal_r6,
           round(d.n - CAST(d.num AS DOUBLE) / d.den
                 - CAST(s.s_sum AS DOUBLE) / s.k, 6)
             + CAST(0 AS DOUBLE) AS resid_r6
    FROM det d JOIN seas s
      ON s.event_type = d.event_type AND s.dow = d.dow
    """
    )


def seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N199: additive trend/seasonal/residual decomposition per type."""
    from ..tables import EPOCH_NTZ

    _events(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _seasonal_decompose_sql(
            f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts)",
            "div",
            " LATERAL VIEW explode(sequence(-3, 3)) t AS k",
        )
    )


def seasonal_decompose_oracle() -> str:
    return "WITH " + _seasonal_decompose_sql(
        "epoch_us(ts)", "//", ", unnest(range(-3, 4)) AS t(k)"
    )


# ---------------------------------------------------------------------------
# cross_corr — lead-lag CROSS-CORRELATION between the click and purchase
# daily series: Pearson r of (clicks on day d, purchases on day d+lag)
# for lags −7..+7 — the "which series LEADS" discovery every forecasting
# and attribution discussion eventually needs (the funnel family says
# click→purchase takes days; this measures the aggregate-series echo of
# that delay and flags the lag where it peaks). Exactness: per-lag
# moment sums are integers assembled into DECIMAL(38,0) covariance /
# variance numerators (the corr_matrix discipline — BIGINT dies on
# squared sums at 10×); r is one double chain off those exact carriers,
# so the peak flag (r = max r) compares bit-identical doubles.
# Scale shape: two daily-grain folds; the lag explode is a bounded 15×
# on the O(days) frame, the pair join equi-keyed on the shifted day.
# ---------------------------------------------------------------------------

CCF_MAX_LAG = 7


def _cross_corr_sql(epoch: str, idiv: str, explode_lag: str) -> str:
    dec = "DECIMAL(38,0)"
    return (
        _daily_sql(epoch, idiv)
        + f""",
    a AS (SELECT day, n FROM daily WHERE event_type = 'click'),
    b AS (SELECT day, n FROM daily WHERE event_type = 'purchase'),
    sh AS (SELECT t.lag, a.day + t.lag AS day, a.n
           FROM a{explode_lag}),
    p AS (SELECT sh.lag, sh.n AS x, b.n AS y
          FROM sh JOIN b ON b.day = sh.day),
    m AS (SELECT lag, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(CAST(x AS {dec}) * y) AS {dec}) AS sxy,
                 CAST(sum(CAST(x AS {dec}) * x) AS {dec}) AS sxx,
                 CAST(sum(CAST(y AS {dec}) * y) AS {dec}) AS syy
          FROM p GROUP BY lag),
    r AS (SELECT lag, n,
                 (CAST(CAST(n AS {dec}) * sxy
                       - CAST(sx AS {dec}) * sy AS DOUBLE))
                 / sqrt(CAST(CAST(n AS {dec}) * sxx
                             - CAST(sx AS {dec}) * sx AS DOUBLE)
                        * CAST(CAST(n AS {dec}) * syy
                               - CAST(sy AS {dec}) * sy AS DOUBLE)) AS cc
          FROM m),
    best AS (SELECT max(cc) AS peak FROM r)
    SELECT r.lag, r.n, round(r.cc, 6) AS r_r6,
           r.cc = b.peak AS is_peak
    FROM r CROSS JOIN best b
    """
    )


def cross_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N204: click→purchase lead-lag cross-correlation, exact interiors."""
    from ..tables import EPOCH_NTZ

    _events(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _cross_corr_sql(
            f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts)",
            "div",
            f" LATERAL VIEW explode(sequence({-CCF_MAX_LAG}, "
            f"{CCF_MAX_LAG})) t AS lag",
        )
    )


def cross_corr_oracle() -> str:
    return "WITH " + _cross_corr_sql(
        "epoch_us(ts)",
        "//",
        f", unnest(range({-CCF_MAX_LAG}, {CCF_MAX_LAG + 1})) AS t(lag)",
    )


# ---------------------------------------------------------------------------
# anova_dow — one-way ANOVA of the event value by weekday, per
# event_type: "does the metric actually differ by day of week?" — the
# variance-decomposition F = (SSB/(k−1)) / (SSW/(N−k)) that separates a
# real weekday effect from noise; q_chi2 asks the same question about
# COUNTS, this asks it about the VALUE distribution (the parametric
# sibling of q_mannwhitney's two-group rank test, generalized to k
# groups). Exactness: per-(type, dow) sums and squared sums of the cents
# carrier assembled in DECIMAL(38,0) (squared sums die in BIGINT at
# 10×); SSB and SSW are exact-integer compositions of those (scaled by
# N to avoid per-group rational means), and F is ONE double chain at the
# readout — bit-identical cross-engine.
#   SSB·N = Σ_g (N·S_g² / n_g) − (Σ_g S_g)²   [exact if N·S_g² div n_g?]
# — the per-group division is rational, so instead both sums are kept as
# exact DECIMAL numerators over the COMMON denominator Π? No: the
# standard cross-multiplied form used here is
#   SSB = Σ S_g²/n_g − T²/N,  SSW = Σ Q_g − Σ S_g²/n_g
# with each S_g²/n_g evaluated as a double from exact DECIMAL operands —
# a fixed per-group expression, deterministic both engines, then summed
# over the BOUNDED 7-row weekday frame where addition order is fixed by
# a sorted-array sequential fold (the chi2 discipline).
# ---------------------------------------------------------------------------


def _anova_sql(epoch: str, idiv: str, fold: str, arr: str) -> str:
    dec = "DECIMAL(38,0)"
    return f"""
    ev AS (SELECT event_type,
                  (CAST({epoch} {idiv} 86400000000 AS BIGINT) + 4) % 7
                    AS dow,
                  CAST(round(value * 100) AS BIGINT) AS cents
           FROM events),
    g AS (SELECT event_type, dow,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(cents) AS BIGINT) AS s,
                 CAST(sum(CAST(cents AS {dec}) * cents) AS {dec}) AS q
          FROM ev GROUP BY event_type, dow),
    terms AS (SELECT event_type, dow, n, s, q,
                     CAST(CAST(s AS {dec}) * s AS DOUBLE) / n AS sg
              FROM g),
    folded AS (SELECT event_type,
                      CAST(sum(n) AS BIGINT) AS nn,
                      CAST(count(*) AS BIGINT) AS k,
                      CAST(sum(s) AS BIGINT) AS t,
                      CAST(sum(q) AS {dec}) AS qq,
                      {fold} AS ssg
               FROM (SELECT event_type, dow, n, s, q, {arr} AS pair
                     FROM terms) x
               GROUP BY event_type)
    SELECT event_type, nn AS n_rows, k AS n_groups,
           round((ssg - CAST(CAST(t AS {dec}) * t AS DOUBLE) / nn)
                 / (k - 1), 6) AS msb_r6,
           round((CAST(qq AS DOUBLE) - ssg) / (nn - k), 6) AS msw_r6,
           round(((ssg - CAST(CAST(t AS {dec}) * t AS DOUBLE) / nn)
                  / (k - 1))
                 / ((CAST(qq AS DOUBLE) - ssg) / (nn - k)), 6) AS f_r6
    FROM folded
    """


def anova_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N205: one-way weekday ANOVA of the value, exact DECIMAL interiors."""
    from ..tables import EPOCH_NTZ

    _events(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _anova_sql(
            f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts)",
            "div",
            "aggregate(array_sort(collect_list(pair)), "
            "CAST(0 AS DOUBLE), (acc, p) -> acc + p.sg)",
            "named_struct('dow', dow, 'sg', sg)",
        )
    )


def anova_dow_oracle() -> str:
    return "WITH " + _anova_sql(
        "epoch_us(ts)",
        "//",
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        "list_transform(list_sort(list(pair)), p -> p.sg)), "
        "(acc, v) -> acc + v)",
        "struct_pack(dow := dow, sg := sg)",
    )


# ---------------------------------------------------------------------------
# spearman — Spearman rank correlation between the click and purchase
# daily series: Pearson on RANKS — monotone-robust where raw Pearson
# (q_corr_matrix) chases outliers, and the effect-size complement to
# q_mann_kendall's per-series trend test. Tie discipline: the average
# rank is carried ×2 so it stays an exact INTEGER — rank2 = 2·rank_min +
# (tie_count − 1) — and the whole Pearson-on-ranks computation runs on
# DECIMAL(38,0) moments of those integers; ρ is one double chain.
# The ranking windows are unpartitioned but run on the O(#days) joined
# daily frame — calendar-bounded, never data-scaled (whitelisted).
# ---------------------------------------------------------------------------


def _spearman_sql(epoch: str, idiv: str) -> str:
    dec = "DECIMAL(38,0)"
    return (
        _daily_sql(epoch, idiv)
        + f""",
    a AS (SELECT day, n FROM daily WHERE event_type = 'click'),
    b AS (SELECT day, n FROM daily WHERE event_type = 'purchase'),
    j AS (SELECT a.day, a.n AS x, b.n AS y
          FROM a JOIN b ON b.day = a.day),
    rk AS (SELECT day, x, y,
                  2 * rank() OVER (ORDER BY x)
                    + count(*) OVER (PARTITION BY x) - 1 AS rx2,
                  2 * rank() OVER (ORDER BY y)
                    + count(*) OVER (PARTITION BY y) - 1 AS ry2
           FROM j),
    m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(rx2) AS BIGINT) AS sx,
                 CAST(sum(ry2) AS BIGINT) AS sy,
                 CAST(sum(CAST(rx2 AS {dec}) * ry2) AS {dec}) AS sxy,
                 CAST(sum(CAST(rx2 AS {dec}) * rx2) AS {dec}) AS sxx,
                 CAST(sum(CAST(ry2 AS {dec}) * ry2) AS {dec}) AS syy
          FROM rk)
    SELECT n,
           round(CAST(CAST(n AS {dec}) * sxy
                      - CAST(sx AS {dec}) * sy AS DOUBLE)
                 / sqrt(CAST(CAST(n AS {dec}) * sxx
                             - CAST(sx AS {dec}) * sx AS DOUBLE)
                        * CAST(CAST(n AS {dec}) * syy
                               - CAST(sy AS {dec}) * sy AS DOUBLE)), 6)
             AS rho_r6
    FROM m
    """
    )


def spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N207: tie-aware Spearman rank correlation on exact integer ranks."""
    from ..tables import EPOCH_NTZ

    _events(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _spearman_sql(
            f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts)", "div"
        )
    )


def spearman_oracle() -> str:
    return "WITH " + _spearman_sql("epoch_us(ts)", "//")


# ---------------------------------------------------------------------------
# partial_corr — the click↔purchase daily correlation CONTROLLING for
# views: r_xy·z = (r_xy − r_xz·r_yz) / √((1−r_xz²)(1−r_yz²)) — the
# first-order confound check every "clicks drive purchases" claim needs
# when overall traffic moves everything together (a shared driver
# inflates the raw r; the partial strips the part views explain).
# Exactness: all three pairwise r's are single double chains off exact
# DECIMAL(38,0) integer moments of the same joined daily frame; the
# partial formula is a fixed mul/sub/div/sqrt chain on those —
# bit-identical cross-engine.
# ---------------------------------------------------------------------------


def _pc_moments(dec: str) -> str:
    cols = []
    for u, v in (("x", "y"), ("x", "z"), ("y", "z")):
        cols.append(f"CAST(sum(CAST({u} AS {dec}) * {v}) AS {dec}) AS s{u}{v}")
    for u in ("x", "y", "z"):
        cols.append(f"CAST(sum({u}) AS BIGINT) AS s{u}")
        cols.append(f"CAST(sum(CAST({u} AS {dec}) * {u}) AS {dec}) AS s{u}{u}")
    return ", ".join(cols)


def _pc_r(dec: str, u: str, v: str) -> str:
    return (
        f"(CAST(CAST(n AS {dec}) * s{u}{v}"
        f" - CAST(s{u} AS {dec}) * s{v} AS DOUBLE)"
        f" / sqrt(CAST(CAST(n AS {dec}) * s{u}{u}"
        f" - CAST(s{u} AS {dec}) * s{u} AS DOUBLE)"
        f" * CAST(CAST(n AS {dec}) * s{v}{v}"
        f" - CAST(s{v} AS {dec}) * s{v} AS DOUBLE)))"
    )


def _partial_corr_sql(epoch: str, idiv: str) -> str:
    dec = "DECIMAL(38,0)"
    rxy, rxz, ryz = (
        _pc_r(dec, "x", "y"), _pc_r(dec, "x", "z"), _pc_r(dec, "y", "z")
    )
    return (
        _daily_sql(epoch, idiv)
        + f""",
    a AS (SELECT day, n FROM daily WHERE event_type = 'click'),
    b AS (SELECT day, n FROM daily WHERE event_type = 'purchase'),
    c AS (SELECT day, n FROM daily WHERE event_type = 'view'),
    j AS (SELECT a.day, a.n AS x, b.n AS y, c.n AS z
          FROM a JOIN b ON b.day = a.day JOIN c ON c.day = a.day),
    m AS (SELECT CAST(count(*) AS BIGINT) AS n, {_pc_moments(dec)} FROM j)
    SELECT n,
           round({rxy}, 6) AS r_xy_r6,
           round({rxz}, 6) AS r_xz_r6,
           round({ryz}, 6) AS r_yz_r6,
           round(({rxy} - {rxz} * {ryz})
                 / sqrt((CAST(1 AS DOUBLE) - {rxz} * {rxz})
                        * (CAST(1 AS DOUBLE) - {ryz} * {ryz})), 6)
             AS r_xy_given_z_r6
    FROM m
    """
    )


def partial_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N208: click↔purchase correlation controlling for views."""
    from ..tables import EPOCH_NTZ

    _events(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _partial_corr_sql(
            f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts)", "div"
        )
    )


def partial_corr_oracle() -> str:
    return "WITH " + _partial_corr_sql("epoch_us(ts)", "//")


# ---------------------------------------------------------------------------
# rolling_vol — trailing-7-day VOLATILITY (sample std) of the daily value
# per event_type: the companion band to q_rolling_median's robust center
# (center says where the series is; vol says how wide "normal" is — the
# pair every alerting threshold is built from). Same scale-first
# spelling: the bounded 7-offset explode contributes each day to its 7
# trailing windows, per-window moments (n, Σx, Σx²) are EXACT integers
# (squared sums in DECIMAL(38,0)), and the std is one double chain:
# √((n·Σx² − (Σx)²) / (n·(n−1))). Windows with a single observation
# report NULL vol (sample std undefined — published honestly, not 0).
# ---------------------------------------------------------------------------


def _rolling_vol_sql(epoch: str, idiv: str, explode_k: str) -> str:
    dec = "DECIMAL(38,0)"
    return (
        _daily_sql(epoch, idiv)
        + f""",
    win AS (SELECT d.event_type, d.day + t.k AS day, d.cents
            FROM daily d{explode_k}),
    mom AS (SELECT event_type, day,
                   CAST(count(*) AS BIGINT) AS n_win,
                   CAST(sum(cents) AS BIGINT) AS s,
                   CAST(sum(CAST(cents AS {dec}) * cents) AS {dec}) AS q
            FROM win GROUP BY event_type, day)
    SELECT m.event_type, m.day, d.cents, m.n_win,
           CASE WHEN m.n_win > 1 THEN
             round(sqrt(CAST(CAST(m.n_win AS {dec}) * m.q
                             - CAST(m.s AS {dec}) * m.s AS DOUBLE)
                        / (CAST(m.n_win AS DOUBLE) * (m.n_win - 1))), 6)
           END AS vol_r6
    FROM mom m JOIN daily d
      ON d.event_type = m.event_type AND d.day = m.day
    """
    )


def rolling_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N209: trailing-7d sample std from exact integer window moments."""
    from ..tables import EPOCH_NTZ

    _events(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _rolling_vol_sql(
            f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts)",
            "div",
            " LATERAL VIEW explode(sequence(0, 6)) t AS k",
        )
    )


def rolling_vol_oracle() -> str:
    return "WITH " + _rolling_vol_sql(
        "epoch_us(ts)", "//", ", unnest(range(0, 7)) AS t(k)"
    )


# ---------------------------------------------------------------------------
# runs_test — the Wald-Wolfowitz RUNS test on the daily value moves per
# event_type: are up/down days randomly ordered, or does the series
# streak (momentum) or alternate (mean-reversion/oscillation)? The
# distribution-free randomness check that completes the trend pair —
# q_mann_kendall asks "is there a monotone drift", this asks "is the
# ORDERING itself non-random" (a perfectly trendless series can still
# fail it by oscillating). Zero moves are dropped (standard convention,
# documented; n_zero reported). Exactness: runs R, n₊, n₋ are integers
# from a lag comparison over the type-partitioned daily frame;
# E[R] = 2n₊n₋/n + 1 and Var[R] = 2n₊n₋(2n₊n₋−n)/(n²(n−1)) enter the z
# readout as one double chain over exact integer products (DECIMAL(38,0)
# where squared) — bit-identical cross-engine.
# ---------------------------------------------------------------------------


def _runs_test_sql(epoch: str, idiv: str) -> str:
    dec = "DECIMAL(38,0)"
    return (
        _daily_sql(epoch, idiv)
        + f""",
    mv AS (SELECT event_type, day,
                  cents - lag(cents) OVER (PARTITION BY event_type
                                           ORDER BY day) AS diff
           FROM daily),
    sgn AS (SELECT event_type, day,
                   CAST(sign(diff) AS BIGINT) AS s
            FROM mv WHERE diff IS NOT NULL),
    nz AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_zero
           FROM sgn WHERE s = 0 GROUP BY event_type),
    runs AS (SELECT event_type, day, s,
                    lag(s) OVER (PARTITION BY event_type
                                 ORDER BY day) AS prev
             FROM sgn WHERE s <> 0),
    agg AS (SELECT event_type,
                   CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_up,
                   CAST(sum(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_down,
                   CAST(sum(CASE WHEN prev IS NULL OR s <> prev
                                 THEN 1 ELSE 0 END) AS BIGINT) AS r
            FROM runs GROUP BY event_type)
    SELECT a.event_type, a.n_up, a.n_down, a.r AS n_runs,
           CAST(coalesce(z.n_zero, 0) AS BIGINT) AS n_zero,
           round(CAST(2 AS DOUBLE) * a.n_up * a.n_down
                 / (a.n_up + a.n_down) + 1, 6) AS expected_r6,
           round((a.r - (CAST(2 AS DOUBLE) * a.n_up * a.n_down
                         / (a.n_up + a.n_down) + 1))
                 / sqrt(CAST(CAST(2 AS {dec}) * a.n_up * a.n_down
                             * (CAST(2 AS {dec}) * a.n_up * a.n_down
                                - (a.n_up + a.n_down)) AS DOUBLE)
                        / (CAST(CAST(a.n_up + a.n_down AS {dec})
                                * (a.n_up + a.n_down) AS DOUBLE)
                           * (a.n_up + a.n_down - 1))), 6) AS z_r6
    FROM agg a LEFT JOIN nz z ON z.event_type = a.event_type
    """
    )


def runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N210: Wald-Wolfowitz runs test on daily up/down moves per type."""
    from ..tables import EPOCH_NTZ

    _events(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _runs_test_sql(
            f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts)", "div"
        )
    )


def runs_test_oracle() -> str:
    return "WITH " + _runs_test_sql("epoch_us(ts)", "//")


# ---------------------------------------------------------------------------
# forecast_eval — walk-forward ONE-STEP evaluation of the EWMA
# forecaster against the naive carry-forward baseline: the family's
# missing closing loop (q_ewma/q_holt_linear PRODUCE forecasts; nothing
# measured them). For every day t ≥ 2 the EWMA state through t−1
# predicts day t; the naive baseline predicts x_{t−1}; skill =
# 1 − MAE_ewma/MAE_naive (positive = smoothing beats persistence — on a
# noisy series it should; on a random walk it cannot, which is exactly
# what the number is for). Per-day EWMA states come from the q_ewma
# prefix-fold scaffold; naive errors are EXACT integers; EWMA errors are
# rounded to 9 dp DECIMAL before the mean (exact sums, the family
# discipline), and skill is one double chain.
# ---------------------------------------------------------------------------


def _forecast_eval_sql(epoch: str, idiv: str, arr: str, fold_prev: str) -> str:
    dec9 = "DECIMAL(38,9)"
    return (
        _daily_sql(epoch, idiv)
        + f""",
    ord AS (SELECT event_type, day, cents,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY day) AS i,
                   lag(cents) OVER (PARTITION BY event_type
                                    ORDER BY day) AS prev
            FROM daily),
    arr AS (SELECT event_type, {arr} AS xs FROM ord GROUP BY event_type),
    err AS (SELECT o.event_type,
                   CAST(abs(o.cents - o.prev) AS BIGINT) AS naive_err,
                   CAST(round(abs(o.cents - ({fold_prev})), 9)
                        AS {dec9}) AS ewma_err
            FROM ord o JOIN arr a ON a.event_type = o.event_type
            WHERE o.i >= 2)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_evals,
           CAST(sum(naive_err) AS BIGINT) AS naive_abs_err_cents,
           round(CAST(sum(naive_err) AS DOUBLE) / count(*), 6)
             AS mae_naive_r6,
           round(CAST(sum(ewma_err) AS DOUBLE) / count(*), 6)
             AS mae_ewma_r6,
           round(CAST(1 AS DOUBLE)
                 - (CAST(sum(ewma_err) AS DOUBLE) / count(*))
                   / (CAST(sum(naive_err) AS DOUBLE) / count(*)), 6)
             AS skill_r6
    FROM err GROUP BY event_type
    """
    )


def forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N213: walk-forward EWMA-vs-naive one-step forecast skill."""
    from ..tables import EPOCH_NTZ

    _events(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _forecast_eval_sql(
            f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts)",
            "div",
            "transform(array_sort(collect_list(struct(day, cents))), "
            "s -> CAST(s.cents AS DOUBLE))",
            "aggregate(slice(a.xs, 2, o.i - 2), element_at(a.xs, 1), "
            "(acc, v) -> acc + CAST(0.25 AS DOUBLE) * (v - acc))",
        )
    )


def forecast_eval_oracle() -> str:
    return "WITH " + _forecast_eval_sql(
        "epoch_us(ts)",
        "//",
        "list_transform(list_sort(list(struct_pack(day := day, "
        "cents := cents))), s -> CAST(s.cents AS DOUBLE))",
        "list_reduce(list_prepend(a.xs[1], list_slice(a.xs, 2, o.i - 1)), "
        "(acc, v) -> acc + CAST(0.25 AS DOUBLE) * (v - acc))",
    )


# ---------------------------------------------------------------------------
# tv_distance — TOTAL-VARIATION distance between the first- and second-
# half value distributions per event_type: TV = ½·Σ_v |p(v) − q(v)|, the
# third member of the drift triad and the only one that is EXACT with no
# modeling choices — q_drift_psi needs a binning policy, q_ks_test takes
# a supremum (sensitive only to the worst point); TV integrates ALL the
# mass that moved and is the tightest bound on how differently any
# detector could behave across the halves. Fully integer: per-value
# counts cross-multiplied over the common denominator (|c₁·N₂ − c₂·N₁|
# in DECIMAL(38,0), sum exact), published in basis points via the
# mod-subtract exact division. The value domain is the integer cents
# grid — no bins to choose, the histogram IS the distribution.
# ---------------------------------------------------------------------------


def _tv_distance_sql(epoch: str, idiv: str) -> str:
    dec = "DECIMAL(38,0)"
    num = "(tv.s * 10000)"
    den = f"(CAST(2 AS {dec}) * tv.n1 * tv.n2)"
    return f"""
    ev AS (SELECT event_type, CAST({epoch} AS BIGINT) AS t,
                  CAST(round(value * 100) AS BIGINT) AS cents
           FROM events),
    b AS (SELECT CAST((min(t) + max(t)) {idiv} 2 AS BIGINT) AS mid FROM ev),
    h AS (SELECT event_type, cents,
                 CAST(sum(CASE WHEN t <= mid THEN 1 ELSE 0 END) AS BIGINT)
                   AS c1,
                 CAST(sum(CASE WHEN t > mid THEN 1 ELSE 0 END) AS BIGINT)
                   AS c2
          FROM ev CROSS JOIN b GROUP BY event_type, cents),
    tot AS (SELECT event_type,
                   CAST(sum(c1) AS BIGINT) AS n1,
                   CAST(sum(c2) AS BIGINT) AS n2
            FROM h GROUP BY event_type),
    tv AS (SELECT h.event_type, t.n1, t.n2,
                  CAST(count(*) AS BIGINT) AS n_values,
                  CAST(sum(abs(CAST(h.c1 AS {dec}) * t.n2
                               - CAST(h.c2 AS {dec}) * t.n1)) AS {dec}) AS s
           FROM h JOIN tot t ON t.event_type = h.event_type
           GROUP BY h.event_type, t.n1, t.n2)
    SELECT event_type, n1, n2, n_values,
           CAST(({num} - {num} % {den}) / {den} AS BIGINT) AS tv_bp
    FROM tv
    """


def tv_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N214: exact total-variation drift between half-period distributions."""
    from ..tables import EPOCH_NTZ

    _events(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _tv_distance_sql(
            f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts)", "div"
        )
    )


def tv_distance_oracle() -> str:
    return "WITH " + _tv_distance_sql("epoch_us(ts)", "//")
