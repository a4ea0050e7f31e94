"""Model-evaluation operators over the in-repo lang_id classifier
(SURVEY §2.11 ML-eval family; reference-ABSENT, north-star surface).

A training-data platform doesn't just RUN classifiers (lang_id, quality
filters, dedup verdicts) — it has to EVALUATE them at corpus scale. The
two ops here grade the repo's own stopword-share language scorer as a
probabilistic en-detector:

- ``calibration``: reliability table + Expected Calibration Error —
  "when the score says 0.7, is it right 70% of the time?" The metric
  every LLM-as-judge / quality-filter pipeline reports before trusting
  scores as probabilities.
- ``auc``: ROC AUC via the rank-statistic identity (AUC = normalized
  Mann–Whitney U) — threshold-free ranking quality, with the tie-aware
  midrank correction the coarse integer score makes mandatory.

Score discipline: the "probability" is the stopword share in integer
BASIS POINTS — score_bp = 10000·n_stopword_hits div n_tokens — exact on
both engines (the functions/text.py quality-score lesson: integer basis
points, never a float blend). Label = (lang = 'en'). Everything
downstream is exact integer/decimal arithmetic; doubles appear only in
final 1-row readout expressions.

Scale: both ops are one narrow scan → one map-side-combinable fold into
a SCORE-RANGE-bounded frame (≤ 10001 distinct scores / ≤ 11 bins —
policy-bounded, not data-scaled), then O(bins) arithmetic. The AUC
midrank prefix runs on that bounded frame (the mannwhitney whitelist
justification verbatim).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.text import _stoplist_sql
from ..streaming import passes
from ..tables import table

CAL_BINS = 10  # deciles of the score range; bin = score_bp div 1000


def _docs(spark: SparkSession, sf_dir: str) -> None:
    table(spark, sf_dir, "documents").createOrReplaceTempView("documents")


def _score_sql(size_fn: str, filter_fn: str, idiv: str) -> str:
    """Per-doc (score_bp, pos): stopword share in exact basis points."""
    hits = f"{size_fn}({filter_fn}(toks, t -> t IN ({_stoplist_sql()})))"
    return f"""
    tk AS (SELECT doc_id, lang, {{toks}} AS toks FROM documents),
    s AS (SELECT doc_id,
                 CAST((10000 * {hits}) {idiv}
                      greatest({size_fn}(toks), 1) AS BIGINT) AS score_bp,
                 CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
          FROM tk)
    """


# ---------------------------------------------------------------------------
# calibration — reliability bins + ECE, all-integer interior.
#
# ECE = Σ_b (n_b/N)·|conf_b − acc_b| with conf_b = Σscore_bp/(10000·n_b)
# and acc_b = pos_b/n_b. Putting both over the common denominator
# 10000·n_b: each bin's contribution to N·10000·ECE is the exact integer
# |Σscore_bp_b − 10000·pos_b| — so ECE is ONE double division at the
# end, no float accumulation anywhere.
# ---------------------------------------------------------------------------


def _calibration_sql(score: str, idiv: str) -> str:
    return (
        score
        + f""",
    b AS (SELECT CAST(score_bp {idiv} 1000 AS BIGINT) AS bin,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(score_bp) AS BIGINT) AS sum_bp,
                 CAST(sum(pos) AS BIGINT) AS n_pos
          FROM s GROUP BY CAST(score_bp {idiv} 1000 AS BIGINT)),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
                   CAST(sum(abs(sum_bp - 10000 * n_pos)) AS BIGINT)
                     AS ece_num
            FROM b)
    SELECT b.bin, b.n,
           round(CAST(b.sum_bp AS DOUBLE) / (10000e0 * b.n), 6)
             AS confidence,
           round(CAST(b.n_pos AS DOUBLE) / b.n, 6) AS accuracy,
           round(CAST(abs(b.sum_bp - 10000 * b.n_pos) AS DOUBLE)
                 / (10000e0 * b.n), 6) AS gap,
           round(CAST(t.ece_num AS DOUBLE) / (10000e0 * t.nn), 6) AS ece
    FROM b CROSS JOIN tot t
    """
    )


def calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N150: reliability table + exact-integer ECE for the en-scorer."""
    _docs(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _calibration_sql(
            _score_sql("size", "filter", "div").format(
                toks="split(text, ' ', -1)"
            ),
            "div",
        )
    )


def calibration_oracle() -> str:
    return "WITH " + _calibration_sql(
        _score_sql("len", "list_filter", "//").format(
            toks="string_split(text, ' ')"
        ),
        "//",
    )


# ---------------------------------------------------------------------------
# auc — ROC AUC by the Mann–Whitney rank identity with midrank ties:
#   AUC = (Σ_{positives} midrank − n⁺(n⁺+1)/2) / (n⁺·n⁻)
# Midranks ride ×2 to stay integer (the q_mannwhitney discipline):
# 2·midrank(score) = 2·(#rows with smaller score) + n_score + 1, so
#   AUC = (Σ2mid − n⁺(n⁺+1)) / (2·n⁺·n⁻)     — exact integers
# until one final double division. Gini = 2·AUC − 1 rides along.
#
# The rank prefix runs over the per-distinct-score frame — bounded by
# the SCORE RANGE (≤ 10001 basis-point values), not the corpus: the
# mannwhitney two-phase justification verbatim.
# ---------------------------------------------------------------------------


def _auc_tail(g_src: str) -> str:
    """AUC readout over a (score_bp, n, n_pos) histogram — shared by the
    batch op and the streamed snapshot variant (the histogram is the
    mergeable sufficient statistic)."""
    return f"""
    g AS ({g_src}),
    r AS (SELECT score_bp, n, n_pos,
                 CAST(2 * coalesce(sum(n) OVER (ORDER BY score_bp
                          ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0)
                      + n + 1 AS BIGINT) AS mid2
          FROM g),
    m AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
                 CAST(sum(n_pos) AS BIGINT) AS npos,
                 CAST(sum(CAST(n_pos AS DECIMAL(38, 0)) * mid2)
                      AS DECIMAL(38, 0)) AS sum2
          FROM r)
    SELECT nn AS n, npos AS n_pos, nn - npos AS n_neg,
           round(CAST(sum2 - CAST(npos AS DECIMAL(38, 0)) * (npos + 1)
                      AS DOUBLE)
                 / (2e0 * CAST(npos AS DOUBLE)
                    * CAST(nn - npos AS DOUBLE)), 6) AS auc,
           round(CAST(sum2 - CAST(npos AS DECIMAL(38, 0)) * (npos + 1)
                      AS DOUBLE)
                 / (CAST(npos AS DOUBLE) * CAST(nn - npos AS DOUBLE))
                 - 1e0, 6) AS gini
    FROM m
    """


_G_FROM_S = (
    "SELECT score_bp, CAST(count(*) AS BIGINT) AS n,"
    " CAST(sum(pos) AS BIGINT) AS n_pos FROM s GROUP BY score_bp"
)


def _auc_sql(score: str) -> str:
    return score + "," + _auc_tail(_G_FROM_S)


def auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N151: tie-aware ROC AUC of the en-scorer via midrank identity."""
    _docs(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _auc_sql(
            _score_sql("size", "filter", "div").format(
                toks="split(text, ' ', -1)"
            )
        )
    )


def auc_oracle() -> str:
    return "WITH " + _auc_sql(
        _score_sql("len", "list_filter", "//").format(
            toks="string_split(text, ' ')"
        )
    )


# ---------------------------------------------------------------------------
# pr_curve — precision/recall/F1 at every operating threshold + average
# precision: the threshold-CHOOSING companion of q_auc's threshold-free
# grade. A quality-filter pipeline doesn't deploy "AUC 0.8" — it deploys
# "score ≥ s", and this table is where s comes from (the best-F1 row is
# flagged; AP summarizes the whole curve, sklearn's step-wise
# definition: AP = Σ_i (R_i − R_{i−1})·P_i over descending thresholds).
#
# Exactness: thresholds are the distinct basis-point scores (bounded by
# the SCORE RANGE); TP/FP prefixes are exact integers over that frame;
# precision/recall are single rational→double expressions per row. The
# AP sum's terms carry different denominators, so each term is rounded
# to 9 dp DECIMAL before an EXACT decimal sum (the 6-dp-log discipline,
# one digit tighter because terms are ≤ 1): order-independent, engine-
# identical.
# ---------------------------------------------------------------------------


def _pr_curve_sql(score: str) -> str:
    prec = "CAST(cum_pos AS DOUBLE) / CAST(cum_n AS DOUBLE)"
    rec = "CAST(cum_pos AS DOUBLE) / CAST(tot_pos AS DOUBLE)"
    f1 = (
        f"CASE WHEN cum_pos > 0 THEN"
        f" 2e0 * ({prec}) * ({rec}) / (({prec}) + ({rec}))"
        f" ELSE 0e0 END"
    )
    return (
        score
        + f""",
    g AS ({_G_FROM_S}),
    c AS (SELECT score_bp,
                 CAST(sum(n) OVER w AS BIGINT) AS cum_n,
                 CAST(sum(n_pos) OVER w AS BIGINT) AS cum_pos,
                 n_pos,
                 CAST(sum(n_pos) OVER () AS BIGINT) AS tot_pos
          FROM g
          WINDOW w AS (ORDER BY score_bp DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    pts AS (SELECT score_bp, cum_n, cum_pos, tot_pos,
                   round({prec}, 6) AS precision,
                   round({rec}, 6) AS recall,
                   round({f1}, 6) AS f1,
                   CAST(round(CAST(n_pos AS DOUBLE) * ({prec})
                              / CAST(tot_pos AS DOUBLE), 9)
                        AS DECIMAL(28, 9)) AS ap_term
            FROM c),
    summ AS (SELECT CAST(sum(ap_term) AS DOUBLE) AS ap,
                    max(f1) AS best_f1
             FROM pts)
    SELECT p.score_bp AS threshold_bp,
           p.cum_n AS n_predicted_pos, p.cum_pos AS tp,
           p.precision, p.recall, p.f1,
           CAST(p.f1 = s.best_f1 AS BOOLEAN) AS is_best_f1,
           round(s.ap, 6) AS ap
    FROM pts p CROSS JOIN summ s
    """
    )


def pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N152: PR/F1 operating table + step-wise average precision."""
    _docs(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _pr_curve_sql(
            _score_sql("size", "filter", "div").format(
                toks="split(text, ' ', -1)"
            )
        )
    )


def pr_curve_oracle() -> str:
    return "WITH " + _pr_curve_sql(
        _score_sql("len", "list_filter", "//").format(
            toks="string_split(text, ' ')"
        )
    )


# ---------------------------------------------------------------------------
# Streaming AUC — ONLINE evaluation of a classifier over an ever-growing
# corpus: the (score_bp → n, n_pos) histogram is the mergeable
# SUFFICIENT STATISTIC for AUC (the q_stream_mutual_info thesis, second
# instance: the nonlinear rank statistic lives entirely in the read-time
# projection over additive state). Two REAL availableNow passes over
# parity-split documents must hash-match the one-shot batch q_auc
# oracle. State is O(score range) regardless of corpus size — the shape
# that lets a training-data platform publish a LIVE quality-filter AUC
# without ever rescanning history.
# ---------------------------------------------------------------------------

_AUC_SNAP_SCHEMA = "score_bp bigint, n bigint, n_pos bigint"


def _merge_auc_hist(
    spark: SparkSession, batch_df: DataFrame, snap_dir: str, batch_id: int
) -> None:
    from pyspark.sql import functions as F

    delta = batch_df.groupBy("score_bp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("n_pos"),
    )
    passes.merge_snapshot(
        spark, snap_dir, batch_id, _AUC_SNAP_SCHEMA,
        lambda current: passes.add_on_keys(
            current, delta, ["score_bp"], ["n", "n_pos"]
        ).repartition(2, "score_bp"),
    )


def stream_auc_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T17, oracle-checked: two availableNow passes maintaining the
    score histogram; the AUC readout over the merged histogram must
    hash-match the one-shot batch q_auc."""
    _docs(spark, sf_dir)
    scored = spark.sql(
        "WITH "
        + _score_sql("size", "filter", "div").format(
            toks="split(text, ' ', -1)"
        )
        + " SELECT doc_id, score_bp, pos FROM s"
    )
    snap = passes.two_pass(
        spark, sf_dir, "t17_auc_", scored.filter("doc_id % 2 = 0"),
        scored.filter("doc_id % 2 = 1"),
        passes.foreach_merge(
            spark, "doc_id bigint, score_bp bigint, pos int", _merge_auc_hist
        ),
    )
    spark.read.parquet(snap).createOrReplaceTempView("auc_snap")
    return spark.sql(
        "WITH "
        + _auc_tail("SELECT score_bp, n, n_pos FROM auc_snap")
    )


# ---------------------------------------------------------------------------
# cross_validation — k-fold threshold selection WITHOUT leakage: for
# each fold, the operating threshold is chosen by best train-F1 over
# the OTHER folds' score histogram, then graded on the held-out fold.
# The discipline q_pr_curve's single best-F1 row skips (its threshold
# saw the data it's graded on — optimistic by construction) and the
# evaluation twin of q_target_encoding's leave-one-out: selection must
# never see its own test labels. Folds = doc_id % K (the hash_split
# discipline).
#
# Everything rides the (fold, score) histogram: the train histogram is
# total − fold (additivity — no K rescans), TP/FP prefixes run per-fold
# over the score-range-bounded threshold grid, and F1s are exact
# rationals in single rounded expressions. test_f1 ≤ train-optimal by
# construction shows up as the generalization gap column.
# ---------------------------------------------------------------------------

CV_FOLDS = 5


def _cv_sql(score: str, idiv: str) -> str:
    f1 = (
        "round(CASE WHEN {tp} > 0 THEN"
        " 2e0 * CAST({tp} AS DOUBLE)"
        " / (CAST({pp} AS DOUBLE) + CAST({pos} AS DOUBLE))"
        " ELSE 0e0 END, 6)"
    )  # F1 = 2TP/(predicted_pos + actual_pos) — the rational identity
    return (
        score
        + f""",
    sf AS (SELECT score_bp, pos, doc_id % {CV_FOLDS} AS fold FROM s),
    g AS (SELECT fold, score_bp, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(pos) AS BIGINT) AS npos
          FROM sf GROUP BY fold, score_bp),
    tot AS (SELECT score_bp, CAST(sum(n) AS BIGINT) AS n,
                   CAST(sum(npos) AS BIGINT) AS npos
            FROM g GROUP BY score_bp),
    folds AS (SELECT DISTINCT fold FROM g),
    -- the fold × threshold grid: O(K · score-range), policy-bounded
    grid AS (SELECT f.fold, t.score_bp,
                    t.n - coalesce(gg.n, 0) AS tr_n,
                    t.npos - coalesce(gg.npos, 0) AS tr_npos,
                    coalesce(gg.n, 0) AS te_n,
                    coalesce(gg.npos, 0) AS te_npos
             FROM folds f CROSS JOIN tot t
             LEFT JOIN g gg ON gg.fold = f.fold
                           AND gg.score_bp = t.score_bp),
    pfx AS (SELECT fold, score_bp,
                   CAST(sum(tr_n) OVER w AS BIGINT) AS tr_pp,
                   CAST(sum(tr_npos) OVER w AS BIGINT) AS tr_tp,
                   CAST(sum(te_n) OVER w AS BIGINT) AS te_pp,
                   CAST(sum(te_npos) OVER w AS BIGINT) AS te_tp,
                   CAST(sum(tr_npos) OVER p AS BIGINT) AS tr_pos,
                   CAST(sum(te_npos) OVER p AS BIGINT) AS te_pos
            FROM grid
            WINDOW w AS (PARTITION BY fold ORDER BY score_bp DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW),
                   p AS (PARTITION BY fold)),
    scored AS (SELECT fold, score_bp,
                      {f1.format(tp="tr_tp", pp="tr_pp", pos="tr_pos")}
                        AS train_f1,
                      {f1.format(tp="te_tp", pp="te_pp", pos="te_pos")}
                        AS test_f1
               FROM pfx),
    best AS (SELECT fold, score_bp AS threshold_bp, train_f1, test_f1
             FROM (SELECT *, row_number() OVER (
                       PARTITION BY fold
                       ORDER BY train_f1 DESC, score_bp) AS rk
                   FROM scored)
             WHERE rk = 1),
    summ AS (SELECT round(CAST(sum(CAST(test_f1 AS DECIMAL(18, 6)))
                               AS DOUBLE) / count(*), 6) AS mean_test_f1
             FROM best)
    SELECT b.fold, b.threshold_bp, b.train_f1, b.test_f1,
           round(b.train_f1 - b.test_f1, 6) AS gen_gap,
           s2.mean_test_f1
    FROM best b CROSS JOIN summ s2
    """
    )


def cross_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N164: leak-free k-fold threshold selection + held-out grading."""
    _docs(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _cv_sql(
            _score_sql("size", "filter", "div").format(
                toks="split(text, ' ', -1)"
            ),
            "div",
        )
    )


def cross_validation_oracle() -> str:
    return "WITH " + _cv_sql(
        _score_sql("len", "list_filter", "//").format(
            toks="string_split(text, ' ')"
        ),
        "//",
    )


# ---------------------------------------------------------------------------
# char_lang_id — a TRAINED character-bigram language classifier,
# evaluated out-of-fold: per-language char-bigram profiles learned from
# the doc_id-even half, the odd half classified by cosine against the
# profiles, per-language accuracy reported. q_lang_id is the zero-shot
# stopword heuristic; this is the trained upgrade a real pipeline swaps
# in (char n-gram profiles are textcat/fastText's cheap tier).
#
# Honest-fixture reading (pinned): the synthetic corpus draws every
# language's text from ONE shared word distribution — the labels carry
# no text signal (the stopword scorer's AUC is ≈0.44, chance) — so the
# held-out accuracy lands at the 1/k random baseline. That is the eval
# WORKING: an out-of-fold evaluation whose job is to catch useless
# models reports this one as useless; the same machinery reports real
# accuracy the moment the corpus has real languages.
#
# Exact argmax: cosine(doc, lang) ordering per doc is argmax over
# dot²/‖profile‖² (the doc norm is common) — compared via the exact
# integer key floor(dot²·10⁶ / n_l) with a lang tiebreak: dots and
# norms are exact BIGINT/DECIMAL counts, so the winner is identical on
# both engines by construction (no float cosine anywhere).
#
# Scale: bigram explode is a narrow linear pass; profiles are
# O(langs · |Σ|²) — policy-bounded, broadcastable; the scoring join is
# keyed on the bigram; per-doc argmax is a keyed max, not a window.
# ---------------------------------------------------------------------------


def _char_lang_sql(explode: str, bg: str, idiv: str) -> str:
    return f"""
    cb AS (SELECT doc_id, lang, {bg} AS bigram
           FROM documents {explode}),
    prof AS (SELECT lang, bigram, CAST(count(*) AS BIGINT) AS c
             FROM cb WHERE doc_id % 2 = 0 GROUP BY lang, bigram),
    pnorm AS (SELECT lang,
                     CAST(sum(CAST(c AS DECIMAL(19, 0)) * c)
                          AS DECIMAL(38, 0)) AS n2
              FROM prof GROUP BY lang),
    dv AS (SELECT doc_id, lang AS true_lang, bigram,
                  CAST(count(*) AS BIGINT) AS c
           FROM cb WHERE doc_id % 2 = 1 GROUP BY doc_id, lang, bigram),
    dots AS (SELECT d.doc_id, d.true_lang, p.lang AS cand,
                    CAST(sum(CAST(d.c AS DECIMAL(19, 0)) * p.c)
                         AS DECIMAL(38, 0)) AS dot
             FROM dv d JOIN prof p ON p.bigram = d.bigram
             GROUP BY d.doc_id, d.true_lang, p.lang),
    keyed AS (SELECT doc_id, true_lang, cand,
                     CAST((dot * dot * 1000000) {idiv} pn.n2
                          AS DECIMAL(38, 0)) AS k
              FROM dots JOIN pnorm pn ON pn.lang = dots.cand),
    best AS (SELECT doc_id, true_lang,
                    min(cand) AS pred_lang
             FROM keyed k1
             WHERE NOT EXISTS (SELECT 1 FROM keyed k2
                               WHERE k2.doc_id = k1.doc_id
                                 AND (k2.k > k1.k
                                      OR (k2.k = k1.k
                                          AND k2.cand < k1.cand)))
             GROUP BY doc_id, true_lang)
    SELECT true_lang,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(sum(CASE WHEN pred_lang = true_lang
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           CAST((10000 * sum(CASE WHEN pred_lang = true_lang
                                  THEN 1 ELSE 0 END)) {idiv} count(*)
                AS BIGINT) AS accuracy_bp
    FROM best GROUP BY true_lang
    """


def char_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N171: trained char-bigram language ID, out-of-fold accuracy."""
    _docs(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _char_lang_sql(
            "LATERAL VIEW explode(sequence(1, length(text) - 1)) t AS i",
            "substring(text, i, 2)",
            "div",
        )
    )


def char_lang_id_oracle() -> str:
    return "WITH " + _char_lang_sql(
        ", unnest(range(1, length(text))) AS t(i)",
        "substr(text, i, 2)",
        "//",
    )


# ---------------------------------------------------------------------------
# split_half — split-half RELIABILITY of the quality score
# (measurement theory's first question about any metric: does it agree
# with ITSELF?): each document's tokens split by position parity, the
# integer quality score computed independently on each half, Pearson
# between the halves across docs, and the Spearman–Brown correction
# 2r/(1+r) — the reliability the full-length score is entitled to
# claim. A quality filter whose halves disagree is measuring noise, no
# matter what it correlates with downstream.
#
# Exactness: both half-scores are the exact integer-basis-point quality
# blend (functions/text.py) over the parity token slices; the Pearson
# moments are exact DECIMAL(38,0) folds (the corr_matrix discipline);
# r and Spearman–Brown are single 1-row double expressions.
# ---------------------------------------------------------------------------


def _split_half_sql(size_fn: str, filter_fn: str, arr_filter: str,
                    q_of: str, idiv: str) -> str:
    return f"""
    tk AS (SELECT doc_id, {{toks}} AS toks, text FROM documents),
    halves AS (SELECT doc_id,
                      {arr_filter.format(par="0")} AS t_even,
                      {arr_filter.format(par="1")} AS t_odd
               FROM tk),
    sc AS (SELECT doc_id,
                  CAST({q_of.format(t="t_even")} AS BIGINT) AS x,
                  CAST({q_of.format(t="t_odd")} AS BIGINT) AS y
           FROM halves
           WHERE {size_fn}(t_even) > 0 AND {size_fn}(t_odd) > 0),
    m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS DECIMAL(38, 0)) AS sx,
                 CAST(sum(y) AS DECIMAL(38, 0)) AS sy,
                 CAST(sum(CAST(x AS DECIMAL(19, 0)) * y) AS DECIMAL(38, 0))
                   AS sxy,
                 CAST(sum(CAST(x AS DECIMAL(19, 0)) * x) AS DECIMAL(38, 0))
                   AS sxx,
                 CAST(sum(CAST(y AS DECIMAL(19, 0)) * y) AS DECIMAL(38, 0))
                   AS syy
          FROM sc)
    SELECT n,
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
             AS half_corr,
           round(2e0 * ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))
                 / (1e0 + ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))),
                 6) AS spearman_brown
    FROM m
    """


def split_half(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N173: split-half reliability + Spearman–Brown of quality_score."""
    from ..functions import text as T

    _docs(spark, sf_dir)
    arr_filter = ("filter(toks, (tok, i) -> i % 2 = {par})")
    q_of = T.quality_spark(toks="{t}", text="array_join({t}, ' ')")
    return spark.sql(
        "WITH "
        + _split_half_sql(
            "size", "filter", arr_filter, q_of, "div"
        ).format(toks="split(text, ' ', -1)")
    )


def split_half_oracle() -> str:
    from ..functions import text as T

    arr_filter = (
        "list_transform("
        "list_filter(list_transform(toks, (x, i) -> struct_pack("
        "tok := x, i := i)), s -> (s.i - 1) % 2 = {par}), s -> s.tok)"
    )
    q_of = T.quality_duck(toks="{t}", text="array_to_string({t}, ' ')")
    return "WITH " + _split_half_sql(
        "len", "list_filter", arr_filter, q_of, "//"
    ).format(toks="string_split(text, ' ')")


# ---------------------------------------------------------------------------
# conformal — SPLIT-CONFORMAL prediction intervals with empirical
# coverage: the distribution-free uncertainty wrapper every 2026 ML
# deployment is supposed to ship. Three disjoint day-folds: TRAIN fits
# the predictor (weekday-slot mean of the milli metric — deliberately
# the simplest model; conformal wraps ANY predictor), CALIBRATE takes
# the ceil((n+1)(1−α))-th order statistic of absolute residuals (the
# finite-sample-valid conformal rank, not a plug-in quantile), TEST
# reports the empirical coverage the guarantee promises ≥ 1−α on
# exchangeable data.
#
# Exactness: the slot predictor is integer division (deterministic,
# documented floor bias — conformal's guarantee is predictor-agnostic
# so the bias costs interval width, never validity); residuals exact
# integers; the conformal order statistic is a count-based cut over the
# residual-VALUE histogram (min r with cum ≥ k — the AUC machinery
# shape, bounded by the residual range); coverage is exact basis
# points. No floats anywhere but the α constant in the readout.
# ---------------------------------------------------------------------------

CONF_ALPHA_BP = 1000  # α = 0.10 → target coverage 90.00%


def _conformal_sql(epoch: str, idiv: str) -> str:
    day = 86_400_000_000
    return f"""
    ev AS (SELECT CAST({epoch} {idiv} {day} AS BIGINT) AS day,
                  CAST(({epoch} {idiv} {day} + 4) % 7 AS BIGINT) AS dow,
                  CAST(round(value * 1000) AS BIGINT) AS y
           FROM events),
    f AS (SELECT day % 3 AS fold, dow, y FROM ev),
    sm AS (SELECT dow, CAST(sum(y) {idiv} count(*) AS BIGINT) AS yhat
           FROM f WHERE fold = 0 GROUP BY dow),
    calib AS (SELECT abs(fc.y - sm.yhat) AS r
              FROM f fc JOIN sm ON sm.dow = fc.dow
              WHERE fc.fold = 1),
    nc AS (SELECT CAST(count(*) AS BIGINT) AS n FROM calib),
    rk AS (SELECT CAST(((10000 - {CONF_ALPHA_BP}) * (n + 1) + 9999)
                       {idiv} 10000 AS BIGINT) AS k, n
           FROM nc),
    rhist AS (SELECT r, CAST(count(*) AS BIGINT) AS cnt FROM calib
              GROUP BY r),
    rcum AS (SELECT r, CAST(sum(cnt) OVER (ORDER BY r
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum
             FROM rhist),
    qhat AS (SELECT CAST(min(rc.r) AS BIGINT) AS q
             FROM rcum rc CROSS JOIN rk
             WHERE rc.cum >= rk.k),
    test AS (SELECT abs(ft.y - sm.yhat) AS r
             FROM f ft JOIN sm ON sm.dow = ft.dow
             WHERE ft.fold = 2),
    cov AS (SELECT CAST(count(*) AS BIGINT) AS n_test,
                   CAST((10000 * sum(CASE WHEN t.r <= q.q
                                          THEN 1 ELSE 0 END)) {idiv}
                        count(*) AS BIGINT) AS coverage_bp
            FROM test t CROSS JOIN qhat q)
    SELECT rk.n AS n_calib, rk.k AS conformal_rank,
           q.q AS q_milli,
           cov.n_test, cov.coverage_bp,
           {10000 - CONF_ALPHA_BP} AS target_bp
    FROM rk CROSS JOIN qhat q CROSS JOIN cov
    """


def conformal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N174: split-conformal interval + finite-sample coverage audit."""
    from ..tables import EPOCH_NTZ

    _docs(spark, sf_dir)  # registers documents; events view below
    table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        "WITH "
        + _conformal_sql(
            f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts)", "div"
        )
    )


def conformal_oracle() -> str:
    return "WITH " + _conformal_sql("epoch_us(ts)", "//")


# ---------------------------------------------------------------------------
# isotonic_calibration — pool-adjacent-violators over the reliability
# bins: the monotone recalibration map Platt scaling can't give without a
# parametric form. q_calibration DIAGNOSES miscalibration (ECE); this op
# FIXES it — the fitted iso_rate per score bin is the monotone function
# closest (weighted L2) to the observed per-bin accuracy, the standard
# production recalibrator for quality-filter scores used as probabilities.
# Spelled via the PAV minimax identity — no iteration, no state:
#     iso_i = max_{j ≤ i} min_{k ≥ i} (pos_{j..k} / n_{j..k})
# over cumulative (n, pos) prefix sums. Every candidate mean is ONE
# division of exact integers (bit-identical doubles cross-engine), and
# max/min of identical doubles are identical — so the fit is fully
# oracled, not approximately so.
# Scale shape: the corpus collapses to ≤11 score bins (score_bp div 1000,
# policy-bounded) in one map-side-combinable fold; the j≤k pair frame and
# the j≤i≤k triple assembly are theta-joins on that BOUNDED frame
# (≤11² pairs / ≤11³ rows — the conformal/drift_psi whitelist contract),
# never on data-scaled rows.
# ---------------------------------------------------------------------------


def _isotonic_sql(score: str, idiv: str) -> str:
    return (
        score
        + f""",
    b AS (SELECT CAST(score_bp {idiv} 1000 AS BIGINT) AS bin,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(pos) AS BIGINT) AS n_pos
          FROM s GROUP BY CAST(score_bp {idiv} 1000 AS BIGINT)),
    pre AS (SELECT a.bin, a.n, a.n_pos,
                   CAST(sum(c.n) AS BIGINT) AS cn,
                   CAST(sum(c.n_pos) AS BIGINT) AS cp
            FROM b a JOIN b c ON c.bin <= a.bin
            GROUP BY a.bin, a.n, a.n_pos),
    pairs AS (SELECT j.bin AS jb, k.bin AS kb,
                     CAST(k.cp - (j.cp - j.n_pos) AS DOUBLE)
                       / (k.cn - (j.cn - j.n)) AS m
              FROM pre j JOIN pre k ON j.bin <= k.bin),
    inner_min AS (SELECT i.bin, p.jb, min(p.m) AS mn
                  FROM pre i JOIN pairs p
                    ON p.jb <= i.bin AND p.kb >= i.bin
                  GROUP BY i.bin, p.jb),
    iso AS (SELECT bin, max(mn) AS iso_rate FROM inner_min GROUP BY bin)
    SELECT b.bin, b.n, b.n_pos,
           round(CAST(b.n_pos AS DOUBLE) / b.n, 6) AS rate_r6,
           round(i.iso_rate, 6) AS iso_r6
    FROM b JOIN iso i ON i.bin = b.bin
    """
    )


def isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N183: PAV monotone recalibration of the en-scorer, fully oracled."""
    _docs(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _isotonic_sql(
            _score_sql("size", "filter", "div").format(
                toks="split(text, ' ', -1)"
            ),
            "div",
        )
    )


def isotonic_calibration_oracle() -> str:
    return "WITH " + _isotonic_sql(
        _score_sql("len", "list_filter", "//").format(
            toks="string_split(text, ' ')"
        ),
        "//",
    )


# ---------------------------------------------------------------------------
# classifier_agreement — Cohen's κ + McNemar between the repo's two
# en-detectors: the stopword-ratio heuristic (functions.text.lang_id)
# and the basis-point score thresholded at its own median (the
# calibration/auc scorer as a classifier). The two questions every
# model-replacement review asks, answered exactly: κ — do they AGREE
# beyond chance (swap-safety: high κ means downstream sees few flips);
# McNemar — is one actually MORE ACCURATE against truth (only the
# discordant cells b, c carry signal; z = (b−c)/√(b+c)). Everything
# integer until the final divisions: κ's numerator and denominator are
# exact DECIMAL(38,0) count compositions (n·agree − chance vs n² −
# chance), and the discordant counts are plain sums. The median
# threshold is the 1-row boundary-broadcast frame (filter_parity
# discipline).
# ---------------------------------------------------------------------------


def _agreement_sql(score: str, lang_pred: str, pct: str) -> str:
    dec = "DECIMAL(38,0)"
    return (
        score
        + f""",
    preds AS (SELECT s.doc_id,
                     CASE WHEN s.pos = 1 THEN 1 ELSE 0 END AS truth,
                     CASE WHEN tk2.pred = 'en' THEN 1 ELSE 0 END AS a,
                     CASE WHEN s.score_bp > t.med THEN 1 ELSE 0 END AS b
              FROM s
              JOIN (SELECT doc_id, {lang_pred} AS pred FROM tk) tk2
                ON tk2.doc_id = s.doc_id
              CROSS JOIN (SELECT {pct}(score_bp, 0.5) AS med FROM s) t),
    c AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(a) AS BIGINT) AS na,
                 CAST(sum(b) AS BIGINT) AS nb,
                 CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT)
                   AS agree,
                 CAST(sum(CASE WHEN a = truth AND b <> truth
                               THEN 1 ELSE 0 END) AS BIGINT) AS disc_a,
                 CAST(sum(CASE WHEN b = truth AND a <> truth
                               THEN 1 ELSE 0 END) AS BIGINT) AS disc_b
          FROM preds)
    SELECT n, na, nb, agree, disc_a, disc_b,
           CAST(agree * 10000 {{idiv}} n AS BIGINT) AS po_bp,
           round(CAST(CAST(n AS {dec}) * agree
                      - (CAST(na AS {dec}) * nb
                         + CAST(n - na AS {dec}) * (n - nb)) AS DOUBLE)
                 / CAST(CAST(n AS {dec}) * n
                        - (CAST(na AS {dec}) * nb
                           + CAST(n - na AS {dec}) * (n - nb)) AS DOUBLE),
                 6) AS kappa_r6,
           CASE WHEN disc_a + disc_b = 0 THEN CAST(0 AS DOUBLE)
                ELSE round((disc_a - disc_b)
                           / sqrt(CAST(disc_a + disc_b AS DOUBLE)), 6)
           END AS mcnemar_z_r6
    FROM c
    """
    )


def classifier_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N211: Cohen's kappa + McNemar between the two en-detectors."""
    from ..functions.text import lang_id_spark

    _docs(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _agreement_sql(
            _score_sql("size", "filter", "div").format(
                toks="split(text, ' ', -1)"
            ),
            lang_id_spark("toks"),
            "percentile",
        ).format(idiv="div")
    )


def classifier_agreement_oracle() -> str:
    from ..functions.text import lang_id_duck

    return (
        "WITH "
        + _agreement_sql(
            _score_sql("len", "list_filter", "//").format(
                toks="string_split(text, ' ')"
            ),
            lang_id_duck("toks"),
            "quantile_cont",
        ).format(idiv="//")
    )


# ---------------------------------------------------------------------------
# gains_table — cumulative gains / lift by score decile: sort the corpus
# by the scorer descending, cut into population deciles, and report per
# decile the positives captured, cumulative capture rate, and lift vs
# base rate — the campaign-targeting readout ("mail the top 20%, get
# 45% of responders") that q_auc summarizes into one number and
# q_pr_curve slices by threshold. Spelled scale-first: no global sort —
# the decile boundaries are exact interpolated score percentiles in a
# 1-row frame (histogram_eqd discipline), broadcast-classified back;
# capture/lift are exact integer basis points via cross-multiplied
# integer arithmetic (lift_bp = captured·N·10000 div (decile_n·P)).
# Decile populations are equal only up to score TIES (same note as
# histogram_eqd — the coarse integer score makes ties real, and the
# n column reports them honestly).
# ---------------------------------------------------------------------------


def _gains_sql(score: str, pct: str, idiv: str) -> str:
    qs = ", ".join(f"{pct}(score_bp, 0.{k}) AS q{k}" for k in range(1, 10))
    # decile 0 = the HIGHEST scores (descending cut: score > q9 → 0, ...)
    case = " ".join(
        f"WHEN score_bp > b.q{10 - k} THEN {k - 1}" for k in range(1, 10)
    )
    dec = "DECIMAL(38,0)"
    return (
        score
        + f""",
    b AS (SELECT {qs} FROM s),
    cls AS (SELECT CASE {case} ELSE 9 END AS decile, pos
            FROM s CROSS JOIN b),
    g AS (SELECT decile, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(pos) AS BIGINT) AS n_pos
          FROM cls GROUP BY decile),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
                   CAST(sum(n_pos) AS BIGINT) AS pp FROM g),
    cum AS (SELECT decile, n, n_pos,
                   sum(n) OVER (ORDER BY decile) AS cn,
                   sum(n_pos) OVER (ORDER BY decile) AS cp
            FROM g)
    SELECT c.decile, c.n, c.n_pos,
           CAST(c.cp * 10000 {idiv} t.pp AS BIGINT) AS cum_capture_bp,
           CAST(c.cn * 10000 {idiv} t.nn AS BIGINT) AS cum_pop_bp,
           CAST(((CAST(c.cp AS {dec}) * t.nn * 10000)
                 - (CAST(c.cp AS {dec}) * t.nn * 10000)
                   % (CAST(c.cn AS {dec}) * t.pp))
                / (CAST(c.cn AS {dec}) * t.pp) AS BIGINT)
             AS cum_lift_bp
    FROM cum c CROSS JOIN tot t
    """
    )


def gains_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N212: cumulative gains/lift by score decile, boundary-broadcast."""
    _docs(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _gains_sql(
            _score_sql("size", "filter", "div").format(
                toks="split(text, ' ', -1)"
            ),
            "percentile",
            "div",
        )
    )


def gains_table_oracle() -> str:
    return "WITH " + _gains_sql(
        _score_sql("len", "list_filter", "//").format(
            toks="string_split(text, ' ')"
        ),
        "quantile_cont",
        "//",
    )
