"""Query registry — the contract surface of SURVEY.md §2.

Every implemented operator is registered here twice:

- ``QUERIES[name]``: ``(spark, sf_dir) -> DataFrame`` — the Spark-first
  implementation;
- ``ORACLES[name]``: equivalent DuckDB SQL over the pre-registered fixture
  views — the differential-correctness oracle.

Column names/aliases match exactly between the two (the driver sorts columns
by name and hashes values). Operators without a SQL-expressible oracle
(streaming behavior, LSH internals) are registered in QUERIES only.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import scalars
from .operators import dlq, ingest, metrics, relational
from .sources.requests import requests_cte, requests_df

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# ---------------------------------------------------------------------------
# Shared oracle CTE prefixes for the ingest family
# ---------------------------------------------------------------------------

_REQ = f"WITH requests AS ({requests_cte()})"
_VALID = (
    _REQ
    + ", valid AS (SELECT * FROM requests WHERE method = 'POST' AND path = '/' "
    "AND length(body) > 0)"
)
_dispatch = scalars.format_dispatch_sql("query")
_FMTD = (
    _VALID
    + f", fmtd AS (SELECT *, {_dispatch['delimiter']} AS delimiter, "
    f"{_dispatch['separator']} AS separator, {_dispatch['addrows']} AS addrows FROM valid)"
)
_COUNTED = (
    _FMTD
    + f", counted AS (SELECT *, {scalars.row_count_sql('body', 'separator', 'addrows')} "
    "AS n_rows FROM fmtd)"
)


# ---------------------------------------------------------------------------
# S1: ingest source (validated request stream) — SURVEY §2.1 S1
# ---------------------------------------------------------------------------


@register(
    "q_ingest_source",
    _VALID + " SELECT event_id, recv_ts, method, path, uri, query, fmt, body FROM valid",
)
def q_ingest_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accept only POST / non-empty-body requests at '/' (main.go:164-226)."""
    df = ingest.validate_requests(requests_df(spark, sf_dir))
    return df.select("event_id", "recv_ts", "method", "path", "uri", "query", "fmt", "body")


# ---------------------------------------------------------------------------
# P1-P3: rejection filters — SURVEY §2.2
# ---------------------------------------------------------------------------


@register(
    "q_filter_method",
    _REQ + " SELECT method, CAST(count(*) AS BIGINT) AS n FROM requests GROUP BY method",
)
def q_filter_method(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Method dispatch census (main.go:171-225): POST=data, GET=status, else 405."""
    return requests_df(spark, sf_dir).groupBy("method").agg(F.count(F.lit(1)).alias("n"))


@register(
    "q_filter_path",
    _REQ + " SELECT path, CAST(count(*) AS BIGINT) AS n FROM requests GROUP BY path",
)
def q_filter_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-root paths are 404s (main.go:166-169)."""
    return requests_df(spark, sf_dir).groupBy("path").agg(F.count(F.lit(1)).alias("n"))


@register(
    "q_filter_body",
    _REQ + " SELECT event_id, uri FROM requests WHERE method = 'POST' AND length(body) = 0",
)
def q_filter_body(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empty-body POSTs are 405s (main.go:219-221)."""
    df = requests_df(spark, sf_dir)
    return df.filter((F.col("method") == "POST") & (F.length("body") == 0)).select(
        "event_id", "uri"
    )


# ---------------------------------------------------------------------------
# P4/P5: key projection + format dispatch — SURVEY §2.2
# ---------------------------------------------------------------------------


@register("q_project_key", _VALID + " SELECT event_id, uri FROM valid")
def q_project_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key = RawPath + '?' + RawQuery (main.go:187)."""
    df = ingest.validate_requests(requests_df(spark, sf_dir))
    return df.select("event_id", "uri")


@register(
    "q_format_dispatch",
    _FMTD + " SELECT event_id, fmt, delimiter, separator, addrows FROM fmtd",
)
def q_format_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(delimiter, separator, addrows) from the query suffix (main.go:189-197)."""
    df = ingest.with_format(ingest.validate_requests(requests_df(spark, sf_dir)))
    return df.select("event_id", "fmt", "delimiter", "separator", "addrows")


# ---------------------------------------------------------------------------
# A1+A2: the core keyed concat aggregation — SURVEY §2.4
# ---------------------------------------------------------------------------

_CONCAT_SELECT = (
    " SELECT uri, fmt, CASE WHEN fmt = 'Values' THEN string_agg(body, ',' ORDER BY body) "
    "ELSE string_agg(body, '' ORDER BY body) END AS buffer, "
    "CAST(sum(n_rows) AS BIGINT) AS rowcount, CAST(count(*) AS BIGINT) AS n_requests "
    "FROM counted GROUP BY uri, fmt"
)


@register("q_groupby_concat", _COUNTED + _CONCAT_SELECT)
def q_groupby_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key Buffer build: concat bodies + running rowcount (main.go:198-208)."""
    return ingest.buffer_aggregate(requests_df(spark, sf_dir))


@register("q_rowcount", _COUNTED + " SELECT event_id, n_rows FROM counted")
def q_rowcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-request rowcount arithmetic: addrows + count(body, sep) (main.go:206)."""
    df = ingest.with_row_count(
        ingest.with_format(ingest.validate_requests(requests_df(spark, sf_dir)))
    )
    return df.select("event_id", "n_rows")


# ---------------------------------------------------------------------------
# F1/F2/S3: scalar fidelity — SURVEY §2.8, §2.1
# ---------------------------------------------------------------------------


@register(
    "q_extract_table",
    _VALID
    + f" SELECT DISTINCT uri, {scalars.extract_table_sql('uri')} AS table_name FROM valid",
)
def q_extract_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-name extraction incl. %20/+ fallback chain (main.go:323-349)."""
    df = ingest.validate_requests(requests_df(spark, sf_dir))
    return df.select(
        "uri", scalars.extract_table(F.col("uri")).alias("table_name")
    ).distinct()


@register(
    "q_hide_password",
    _VALID
    + f" SELECT DISTINCT uri, {scalars.hide_password_sql('uri')} AS redacted FROM valid",
)
def q_hide_password(spark: SparkSession, sf_dir: str) -> DataFrame:
    """password=… → password=* redaction (main.go:352-363)."""
    df = ingest.validate_requests(requests_df(spark, sf_dir))
    return df.select(
        "uri", scalars.hide_password(F.col("uri")).alias("redacted")
    ).distinct()


@register(
    "q_url_rewrite",
    _VALID
    + " SELECT DISTINCT uri, "
    + scalars.url_rewrite_sql("uri", ingest.FWD_HOST, ingest.REPL_HOST)
    + " AS target_url FROM valid",
)
def q_url_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-host URL rewrite (main.go:385-389)."""
    df = ingest.validate_requests(requests_df(spark, sf_dir))
    return df.select(
        "uri",
        scalars.url_rewrite(F.col("uri"), ingest.FWD_HOST, ingest.REPL_HOST).alias(
            "target_url"
        ),
    ).distinct()


# ---------------------------------------------------------------------------
# S2: batch sink frame — SURVEY §2.1 S2
# ---------------------------------------------------------------------------


@register(
    "q_batch_sink",
    _COUNTED
    + " , agg AS ("
    + _CONCAT_SELECT
    + ") SELECT uri, "
    + scalars.url_rewrite_sql("uri", ingest.FWD_HOST, ingest.REPL_HOST)
    + " AS target_url, "
    + scalars.extract_table_sql("uri")
    + " AS table_name, buffer, rowcount, n_requests FROM agg",
)
def q_batch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One outbound request per distinct key per flush (send(), main.go:376-445)."""
    return ingest.sink_frame(requests_df(spark, sf_dir))


# ---------------------------------------------------------------------------
# Relational north-star (SURVEY §2.3, §2.5-§2.8) — stock Catalyst
# ---------------------------------------------------------------------------

register("q_join_inner", """
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""")(relational.join_inner)

register("q_join_semi", """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
""")(relational.join_semi)

register("q_join_anti", """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
""")(relational.join_anti)

register("q_join_asof", """
WITH j AS (
  SELECT e.event_id, e.user_id, o.o_orderkey, o.o_orderdate, o.o_totalprice,
         row_number() OVER (PARTITION BY e.event_id
                            ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
  FROM events e JOIN orders o
    ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate)
SELECT event_id, user_id, o_orderkey, o_orderdate, o_totalprice FROM j WHERE rn = 1
""")(relational.join_asof)

register("q_window_rank", """
WITH r AS (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rnk
  FROM events)
SELECT user_id, event_id, value, rnk FROM r WHERE rnk <= 3
""")(relational.window_rank)

register("q_window_running_sum", """
SELECT user_id, event_id,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
       AS running_value
FROM events
""")(relational.window_running_sum)

register("q_window_lag", """
SELECT user_id, event_id,
       round(value - lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id), 2)
       AS delta_value
FROM events
""")(relational.window_lag)

register("q_topk", """
SELECT event_id, user_id, value FROM events
ORDER BY value DESC, event_id LIMIT 100
""")(relational.topk)

register("q_union", """
SELECT event_id, event_type, value FROM events WHERE event_type = 'click'
UNION ALL
SELECT event_id, event_type, value FROM events WHERE event_type = 'purchase'
""")(relational.union_slices)

register("q_except", """
SELECT event_id, event_type FROM events WHERE value > 100
EXCEPT ALL
SELECT event_id, event_type FROM events WHERE event_type = 'purchase'
""")(relational.except_slices)

register("q_intersect", """
SELECT user_id FROM events WHERE event_type = 'click'
INTERSECT
SELECT user_id FROM events WHERE event_type = 'purchase'
""")(relational.intersect_slices)

register("q_distinct", """
SELECT DISTINCT user_id, event_type FROM events
""")(relational.distinct_pairs)

register("q_count_distinct", """
SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY event_type
""")(relational.count_distinct)

# HLL++ sketch differs from DuckDB's — hash-oracled via the accuracy-twin
# verdict (exact count cross-engine, sketch law as an all-ones column;
# VERDICT r08 #4, previously rows-only). SURVEY §2.4 A6.
register("q_approx_distinct", relational.approx_distinct_oracle())(
    relational.approx_distinct
)

register("q_rollup", """
SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS n_customers,
       round(sum(c_acctbal), 2) AS total_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
""")(relational.rollup_region_nation)

register("q_cube", """
SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
""")(relational.cube_orders)

register("q_percentiles", """
SELECT event_type,
       round(quantile_cont(value, 0.5), 4)  AS p50,
       round(quantile_cont(value, 0.95), 4) AS p95,
       round(quantile_cont(value, 0.99), 4) AS p99
FROM events GROUP BY event_type
""")(relational.percentiles)

register("q_histogram", """
SELECT CAST(floor(value / 100) AS INT) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       round(min(value), 2) AS lo, round(max(value), 2) AS hi
FROM events GROUP BY 1
""")(relational.histogram)

register("q_pivot", """
SELECT CAST(user_id % 10 AS INT) AS decile,
""" + ",\n".join(
    f"       CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS {t}"
    for t in relational.EVENT_TYPES
) + """
FROM events GROUP BY 1
""")(relational.pivot_event_types)

register("q_json_props", """
SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k,
       CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS total_value
FROM events GROUP BY 1
""")(relational.json_props)

register("q_tumbling_window", """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS total_value
FROM events GROUP BY 1, 2
""")(relational.tumbling_window)

register("q_sliding_window", """
WITH w AS (
  SELECT make_timestamp((epoch_us(ts) // 900000000) * 900000000
                        - CAST(o.o AS BIGINT) * 900000000) AS window_start, value
  FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS o) AS o)
SELECT window_start, CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS total_value
FROM w GROUP BY 1
""")(relational.sliding_window)

register("q_session_window", """
WITH e AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w >= INTERVAL 5 MINUTE THEN 1 ELSE 0 END AS new_sess
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, ts,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM e)
SELECT user_id, min(ts) AS session_start, CAST(count(*) AS BIGINT) AS n
FROM s GROUP BY user_id, sid
""")(relational.session_window)

register("q_pricing_summary", """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 4) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""")(relational.pricing_summary)

register("q_revenue_by_region", """
SELECT r_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY r_name, n_name
""")(relational.revenue_by_region)

register("q_top_customers", """
SELECT c_custkey, c_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
GROUP BY c_custkey, c_name
ORDER BY revenue DESC, c_custkey LIMIT 20
""")(relational.top_customers)


# ---------------------------------------------------------------------------
# Metrics pipeline (SURVEY §2.4 A3-A5)
# ---------------------------------------------------------------------------

_METRIC = (
    _COUNTED
    + ", metric_events AS (SELECT event_id, uri, "
    "'proxy-' || CAST(event_id % 4 AS STRING) AS host, "
    + scalars.extract_table_sql("uri")
    + " AS table_name, n_rows AS rows_received, "
    "CAST(length(body) AS BIGINT) AS bytes_received, "
    "CAST(1 AS BIGINT) AS requests_received FROM counted)"
)

register("q_metric_counters", _METRIC + """
SELECT CAST(sum(rows_received) AS BIGINT) AS rows_received,
       CAST(sum(bytes_received) AS BIGINT) AS bytes_received,
       CAST(sum(requests_received) AS BIGINT) AS requests_received
FROM metric_events
""")(metrics.metric_counters)

register("q_grouping_sets", _METRIC + """
SELECT host, table_name,
       CAST(sum(rows_received) AS BIGINT) AS rows_received,
       CAST(sum(bytes_received) AS BIGINT) AS bytes_received,
       CAST(sum(requests_received) AS BIGINT) AS requests_received
FROM metric_events
GROUP BY GROUPING SETS ((), (host), (table_name))
""")(metrics.metric_grouping_sets)

register("q_metric_ratio", _METRIC + """
, per_key AS (
  SELECT uri, CAST(sum(bytes_received) AS BIGINT) AS bytes_sent,
         CAST(sum(rows_received) AS BIGINT) AS rows_sent
  FROM metric_events GROUP BY uri),
d AS (SELECT *, greatest(CAST(1 AS BIGINT), bytes_sent // 65536) AS duration_ms FROM per_key)
SELECT uri, bytes_sent, rows_sent, duration_ms,
       CASE WHEN bytes_sent <> 0 AND duration_ms <> 0
            THEN bytes_sent // duration_ms END AS bytes_to_ms
FROM d
""")(metrics.metric_ratio)


# ---------------------------------------------------------------------------
# DLQ (SURVEY §2.1 S4/S5, §2.6 O1, §2.9 T2)
# ---------------------------------------------------------------------------

_DLQ = (
    _VALID
    + ", dlq AS (SELECT event_id, uri, body, CAST(event_id % 12 AS INT) AS level, "
    "epoch_us(recv_ts) * 1000 AS created_ns FROM valid WHERE event_id % 9 = 0)"
)

register("q_dlq_spill", _DLQ + """
SELECT event_id, uri, body, level, created_ns FROM dlq
""")(dlq.dlq_frame)

register("q_dlq_scan", _DLQ + """
SELECT event_id, uri, body, level, created_ns FROM dlq WHERE level < 10
""")(dlq.dlq_scan)

register("q_dlq_retry_policy", _DLQ + """
SELECT event_id, uri, level,
       least(level + 1, 10) AS next_level,
       level >= 10 AS quarantined
FROM dlq
""")(dlq.dlq_retry_policy)

register("q_health_status", _DLQ + f"""
, c AS (SELECT CAST(count(*) AS BIGINT) AS errcount FROM dlq WHERE level < 10)
SELECT errcount,
       CASE WHEN errcount >= {dlq.CRIT_LEVEL} THEN 500
            WHEN errcount >= {dlq.WARN_LEVEL} THEN 400 ELSE 200 END AS http_status,
       CASE WHEN errcount >= {dlq.CRIT_LEVEL} THEN 'critical'
            WHEN errcount >= {dlq.WARN_LEVEL} THEN 'warning' ELSE 'ok' END AS health
FROM c
""")(dlq.health_status)

register("q_inout_stats", _VALID + """
SELECT CAST(count(*) AS BIGINT) AS in_requests,
       CAST(count(DISTINCT uri) AS BIGINT) AS out_requests
FROM valid
""")(metrics.inout_stats)

register("q_dlq_replay_order", _DLQ + """
SELECT event_id, uri, level, created_ns,
       CAST(row_number() OVER (ORDER BY level, created_ns, event_id) AS BIGINT)
       AS replay_rank
FROM dlq WHERE level < 10
""")(dlq.dlq_replay_order)


# ---------------------------------------------------------------------------
# LLM-pipeline operators (SURVEY §2.11): dedup family, similarity search,
# text analysis, multimodal plumbing
# ---------------------------------------------------------------------------

from .operators import dedup, multimodal, similarity, textops  # noqa: E402

register("q_dedup_exact", dedup.dedup_exact_oracle())(dedup.dedup_exact)
register("q_minhash_neardup", dedup.minhash_neardup_oracle())(dedup.minhash_neardup)
register("q_ngram_jaccard", dedup.ngram_jaccard_oracle())(dedup.ngram_jaccard)
register("q_simhash", dedup.simhash_oracle())(dedup.simhash)
register("q_simhash_neardup", dedup.simhash_neardup_oracle())(dedup.simhash_neardup)
register("q_embedding_neardup", dedup.embedding_neardup_oracle())(dedup.embedding_neardup)
register("q_embedding_neardup_lsh", dedup.embedding_neardup_lsh_oracle())(
    dedup.embedding_neardup_lsh
)
register("q_dedup_clusters", dedup.dedup_clusters_oracle())(dedup.dedup_clusters)
register("q_dedup_keep_best", dedup.dedup_keep_best_oracle())(
    dedup.dedup_keep_best
)
register("q_substring_dedup", dedup.substring_dedup_oracle())(
    dedup.substring_dedup
)
register("q_containment_dedup", dedup.containment_dedup_oracle())(
    dedup.containment_dedup
)
register("q_stream_substring", dedup.substring_dedup_oracle())(
    dedup.stream_substring_query
)

register("q_knn_cosine", similarity.knn_cosine_oracle())(similarity.knn_cosine)
register("q_knn_lsh", similarity.knn_lsh_oracle())(similarity.knn_lsh)

register("q_text_stats", textops.text_stats_oracle())(textops.text_stats)
register("q_lang_id", textops.lang_id_oracle())(textops.lang_id)
register("q_quality_score", textops.quality_score_oracle())(textops.quality_score)
register("q_token_count", textops.token_count_oracle())(textops.token_count)
register("q_tokenizer_fertility", textops.tokenizer_fertility_oracle())(
    textops.tokenizer_fertility
)
register("q_doc_fingerprint", textops.doc_fingerprint_oracle())(textops.doc_fingerprint)
register("q_winnow", textops.winnow_oracle())(textops.winnow)
register("q_cooccur_pmi", textops.cooccur_pmi_oracle())(textops.cooccur_pmi)
register("q_pii_scan", textops.pii_scan_oracle())(textops.pii_scan)
register("q_text_normalize", textops.text_normalize_oracle())(textops.text_normalize)

register("q_multimodal_meta", multimodal.multimodal_meta_oracle())(
    multimodal.multimodal_meta
)
# Arrow-batched decode plumbing — deterministic fake decoder; integer-moment
# outputs make the Python mapInPandas path fully oracle-checked
register("q_multimodal_features", multimodal.multimodal_features_oracle())(
    multimodal.multimodal_features
)
# Arrow-batched frame sampling — outputs chosen SQL-expressible, full oracle
register("q_frame_sample", multimodal.frame_sample_oracle())(multimodal.frame_sample)


# ---------------------------------------------------------------------------
# Training-data pipeline family (SURVEY §2.11 ext): chunking, deterministic
# splits, URL dedup, n-gram stats, filter funnel
# ---------------------------------------------------------------------------

from .operators import observability, pipeline_ops  # noqa: E402

register("q_doc_chunk", pipeline_ops.doc_chunk_oracle())(pipeline_ops.doc_chunk)
register("q_hash_split", pipeline_ops.hash_split_oracle())(pipeline_ops.hash_split)
register("q_dedup_url", pipeline_ops.dedup_url_oracle())(pipeline_ops.dedup_url)
register("q_ngram_stats", pipeline_ops.ngram_stats_oracle())(pipeline_ops.ngram_stats)
register("q_length_filter", pipeline_ops.length_filter_oracle())(
    pipeline_ops.length_filter
)
register("q_chunk_dedup", pipeline_ops.chunk_dedup_oracle())(
    pipeline_ops.chunk_dedup
)
register("q_sequence_pack", pipeline_ops.sequence_pack_oracle())(
    pipeline_ops.sequence_pack
)

register("q_knn_ivf", similarity.knn_ivf_oracle())(similarity.knn_ivf)
register("q_stream_ann", similarity.knn_ivf_oracle())(similarity.stream_ann_query)
register("q_knn_batch", similarity.knn_batch_oracle())(similarity.knn_batch)
register("q_ann_recall", similarity.ann_recall_oracle())(similarity.ann_recall)
register("q_ndcg", similarity.ndcg_oracle())(similarity.ndcg)
register("q_knn_eval", similarity.knn_eval_oracle())(similarity.knn_eval)
register("q_ts_similarity", similarity.ts_similarity_oracle())(
    similarity.ts_similarity
)

# Range join, hierarchical rollup, sampling/mix family (SURVEY §2.11 ext 2)
from .operators import sampling  # noqa: E402

register("q_range_join", sampling.range_join_oracle())(sampling.range_join)
register("q_hyper_rollup", sampling.hyper_rollup_oracle())(sampling.hyper_rollup)
register("q_stratified_sample", sampling.stratified_sample_oracle())(
    sampling.stratified_sample
)
register("q_neyman_alloc", sampling.neyman_alloc_oracle())(
    sampling.neyman_alloc
)
register("q_mix_temperature", sampling.mix_temperature_oracle())(
    sampling.mix_temperature
)
register("q_mix_materialize", sampling.mix_materialize_oracle())(
    sampling.mix_materialize
)
register("q_corpus_shuffle", sampling.corpus_shuffle_oracle())(
    sampling.corpus_shuffle
)
register("q_repetition_filter", sampling.repetition_filter_oracle())(
    sampling.repetition_filter
)


@register("q_groupby_concat_salted", _COUNTED + _CONCAT_SELECT)
def q_groupby_concat_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted spelling of the core concat — byte-identical output
    (same oracle as q_groupby_concat), for irreducibly skewed keys."""
    return ingest.buffer_aggregate_salted(requests_df(spark, sf_dir))
register("q_embedding_stats", similarity.embedding_stats_oracle())(
    similarity.embedding_stats
)


# ---------------------------------------------------------------------------
# Values round-trip parse (ingest family) + GELF formatting (S6 parity)
# ---------------------------------------------------------------------------

_N_PARSED = r"CAST(len(string_split_regex(buffer, '\),\(')) AS BIGINT)"

@register(
    "q_values_parse",
    _COUNTED
    + " , agg AS ("
    + _CONCAT_SELECT
    + f") SELECT uri, {_N_PARSED} AS n_parsed, rowcount, "
    f"({_N_PARSED} = rowcount) AS matched FROM agg WHERE fmt = 'Values'",
)
def q_values_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse of the core concat: parse Values buffers back into rows and
    reconcile against the reference rowcount arithmetic (main.go:206)."""
    return ingest.values_parse(requests_df(spark, sf_dir))


register("q_gelf_format", observability.gelf_format_oracle(_VALID))(
    observability.gelf_format
)

# zlib output bytes are implementation-defined → the hash-oracled surface
# is the packet-law verdict frame plus a cross-engine json_len recomputed
# by string arithmetic (VERDICT r08 #4, previously rows-only); byte-exact
# packing/chunking stays pinned by tests/test_graylog.py (the port of the
# reference's golden test, graylog_test.go:42-68).
register("q_gelf_packet", observability.gelf_packets_oracle(_VALID))(
    observability.gelf_packet_law
)

_N_LINES = (
    "(len(string_split(buffer, chr(10))) - CASE WHEN "
    "string_split(buffer, chr(10))[-1] = '' THEN 1 ELSE 0 END)"
)

@register(
    "q_lines_parse",
    _COUNTED
    + " , agg AS ("
    + _CONCAT_SELECT
    + f") SELECT uri, fmt, CAST({_N_LINES} AS BIGINT) AS n_parsed, rowcount, "
    f"(CAST({_N_LINES} AS BIGINT) = rowcount) AS matched FROM agg WHERE fmt <> 'Values'",
)
def q_lines_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TSV/CSV buffer round-trip incl. the reference's silent row-merge
    quirk for bodies missing their trailing newline (main.go:194, 203)."""
    return ingest.lines_parse(requests_df(spark, sf_dir))


# ---------------------------------------------------------------------------
# Streaming behaviors T1/T2, oracle-checked: the REAL Structured Streaming
# flush (availableNow) and the REAL replay job run into temp dirs; the
# resulting state must match the SQL-declared semantics.
# ---------------------------------------------------------------------------

from .streaming import pipeline as streaming_pipeline  # noqa: E402

register(
    "q_flush_trigger",
    # the streamed flush must equal the batch sink frame (T1 ≡ S2 semantics)
    _COUNTED
    + " , agg AS ("
    + _CONCAT_SELECT
    + ") SELECT uri, "
    + scalars.url_rewrite_sql("uri", ingest.FWD_HOST, ingest.REPL_HOST)
    + " AS target_url, "
    + scalars.extract_table_sql("uri")
    + " AS table_name, buffer, rowcount, n_requests FROM agg",
)(streaming_pipeline.flush_trigger_query)

register("q_dlq_replay", _DLQ + """
SELECT event_id, uri, body, level + 1 AS level, created_ns
FROM dlq WHERE level < 10 AND level % 2 = 1
UNION ALL
SELECT event_id, uri, body, level, created_ns FROM dlq WHERE level >= 10
""")(streaming_pipeline.dlq_replay_query)

register("q_stream_cumulative", _COUNTED + """
SELECT uri, CAST(count(*) AS BIGINT) AS total_requests,
       CAST(sum(n_rows) AS BIGINT) AS total_rows
FROM counted GROUP BY uri
""")(streaming_pipeline.stream_cumulative_query)

# T3 watermark semantics, declared in SQL: pass 1 (even ids) advances the
# watermark to w1 = max(recv_ts)-10min and its trailing no-data batch emits
# the windows w1 closed (pass-1 counts). Pass 2 (odd ids) drops as late any
# row whose window w1 already closed, then its trailing batch emits windows
# closed by w2 = max(all)-10min, counting pass-1 + non-late pass-2 rows.
# (Boundaries established empirically on Spark 4.1.2 and pinned by
# tests/test_streaming.py::test_watermark_boundary_pins: emission/late
# boundary is window_end <= watermark; availableNow DOES run the trailing
# no-data batch after advancing the watermark; Spark tracks event-time
# stats in milliseconds, so the oracle truncates max(recv_ts) the same way.)
register("q_stream_windowed", _VALID + """
, p1 AS (SELECT * FROM valid WHERE event_id % 2 = 0),
p2 AS (SELECT * FROM valid WHERE event_id % 2 = 1),
wm AS (SELECT date_trunc('milliseconds', max(recv_ts))
              - INTERVAL 10 MINUTE AS w1 FROM p1),
wm2 AS (SELECT date_trunc('milliseconds', max(recv_ts))
               - INTERVAL 10 MINUTE AS w2 FROM valid),
g1 AS (SELECT date_trunc('hour', recv_ts) AS window_start, uri,
              CAST(count(*) AS BIGINT) AS n_requests
       FROM p1 GROUP BY 1, 2),
ok2 AS (SELECT p2.* FROM p2, wm
        WHERE date_trunc('hour', p2.recv_ts) + INTERVAL 1 HOUR > w1),
gmix AS (SELECT date_trunc('hour', recv_ts) AS window_start, uri,
                CAST(count(*) AS BIGINT) AS n_requests
         FROM (SELECT * FROM p1 UNION ALL SELECT * FROM ok2) GROUP BY 1, 2)
SELECT window_start, uri, n_requests FROM g1, wm
WHERE window_start + INTERVAL 1 HOUR <= w1
UNION ALL
SELECT window_start, uri, n_requests FROM gmix, wm, wm2
WHERE window_start + INTERVAL 1 HOUR > w1
  AND window_start + INTERVAL 1 HOUR <= w2
""")(streaming_pipeline.stream_windowed_query)

# T6 dedup-under-replay, declared in SQL (semantics established empirically
# on Spark 4.1.2 and pinned by
# tests/test_streaming.py::test_watermark_boundary_pins — a Spark upgrade
# that shifts a boundary fails THAT test with a targeted message, not this
# oracle): a same-timestamp replayed duplicate is ALWAYS suppressed — below
# the batch-start watermark it drops as late, at/above it the original's
# state is unexpired — and fresh pass-2 rows survive iff recv_ts is
# STRICTLY ABOVE the batch-start watermark w1 = trunc_ms(max(pass-1
# recv_ts)) - 10min (Spark tracks event-time stats in milliseconds, so the
# max truncates; rows exactly AT the watermark are dropped as late).
register("q_stream_dedup", _VALID + """
SELECT event_id, recv_ts, uri, body FROM valid WHERE event_id % 2 = 0
UNION ALL
SELECT event_id, recv_ts, uri, body FROM valid
WHERE event_id % 2 = 1
  AND recv_ts > (SELECT date_trunc('milliseconds', max(recv_ts))
                        - INTERVAL 10 MINUTE
                 FROM valid WHERE event_id % 2 = 0)
""")(streaming_pipeline.stream_dedup_query)

register("q_stream_session_window", _VALID + """
, w1 AS (SELECT date_trunc('milliseconds', max(recv_ts)) - INTERVAL 10 MINUTE AS w
         FROM valid WHERE event_id % 2 = 0),
-- final watermark: advances on every row SEEN in pass 2 (late rows still
-- update max event time), so it ranges over ALL valid rows
w2 AS (SELECT date_trunc('milliseconds', max(recv_ts)) - INTERVAL 10 MINUTE AS w
       FROM valid),
evens AS (SELECT uri, recv_ts, event_id FROM valid WHERE event_id % 2 = 0),
-- phase 1: sessionize the evens; sessions closed by w1 are emitted and
-- their state evicted; rows of still-open sessions survive into phase 2.
-- Every window below orders by (recv_ts, event_id): the session-flag and
-- the running-sum are SEPARATE window passes, and with recv_ts TIES an
-- unstable parallel sort may order a tie block differently in each pass,
-- splitting tied rows across adjacent sessions (observed at the ~sf1
-- scratch, where copy-collapse creates identical (uri, recv_ts) rows:
-- five DuckDB runs returned five different row counts). The tiebreak
-- makes the order total; tied rows share an instant, so WHICH total
-- order is irrelevant to session membership.
e_marked AS (
  SELECT uri, recv_ts, event_id,
         CASE WHEN lag(recv_ts) OVER (PARTITION BY uri
                                      ORDER BY recv_ts, event_id)
                   IS NULL
              OR recv_ts - lag(recv_ts) OVER (PARTITION BY uri
                                              ORDER BY recv_ts, event_id)
                   > INTERVAL 4 HOUR
              THEN 1 ELSE 0 END AS new_session
  FROM evens),
e_sid AS (
  SELECT uri, recv_ts, event_id,
         sum(new_session) OVER (PARTITION BY uri
                                ORDER BY recv_ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS s
  FROM e_marked),
e_sess AS (
  SELECT uri, s, min(recv_ts) AS session_start,
         max(recv_ts) + INTERVAL 4 HOUR AS session_end,
         CAST(count(*) AS BIGINT) AS n_requests
  FROM e_sid GROUP BY uri, s),
e1 AS (SELECT uri, session_start, session_end, n_requests
       FROM e_sess WHERE session_end <= (SELECT w FROM w1)),
open_rows AS (
  SELECT r.uri, r.recv_ts, r.event_id
  FROM e_sid r JOIN e_sess g ON r.uri = g.uri AND r.s = g.s
  WHERE g.session_end > (SELECT w FROM w1)),
-- phase 2: surviving state plus the odd rows that are not late. The late
-- rule is the WINDOW-END rule (same boundary the tumbling oracle pins):
-- an odd row is dropped iff recv_ts + gap <= w1 — a row below w1 but
-- within the gap of it is KEPT (it seeds state; it can only appear in
-- the output if its session closes by w2)
p2 AS (
  SELECT uri, recv_ts, event_id FROM open_rows
  UNION ALL
  SELECT uri, recv_ts, event_id FROM valid
  WHERE event_id % 2 = 1
    AND recv_ts + INTERVAL 4 HOUR > (SELECT w FROM w1)),
p_marked AS (
  SELECT uri, recv_ts, event_id,
         CASE WHEN lag(recv_ts) OVER (PARTITION BY uri
                                      ORDER BY recv_ts, event_id)
                   IS NULL
              OR recv_ts - lag(recv_ts) OVER (PARTITION BY uri
                                              ORDER BY recv_ts, event_id)
                   > INTERVAL 4 HOUR
              THEN 1 ELSE 0 END AS new_session
  FROM p2),
p_sid AS (
  SELECT uri, recv_ts,
         sum(new_session) OVER (PARTITION BY uri
                                ORDER BY recv_ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS s
  FROM p_marked),
p_sess AS (
  SELECT uri, min(recv_ts) AS session_start,
         max(recv_ts) + INTERVAL 4 HOUR AS session_end,
         CAST(count(*) AS BIGINT) AS n_requests
  FROM p_sid GROUP BY uri, s),
e2 AS (SELECT uri, session_start, session_end, n_requests
       FROM p_sess WHERE session_end <= (SELECT w FROM w2))
SELECT uri, session_start, session_end, n_requests FROM e1
UNION ALL
SELECT uri, session_start, session_end, n_requests FROM e2
""")(streaming_pipeline.stream_session_query)

register("q_stream_interval_join", _VALID + f"""
, a AS (SELECT event_id AS a_id, recv_ts AS a_ts, uri FROM valid
        WHERE event_id % 2 = 0),
b AS (SELECT event_id AS b_id, recv_ts AS b_ts, uri FROM valid
      WHERE event_id % 2 = 1)
SELECT a.a_id, b.b_id, a.uri, a.a_ts, b.b_ts
FROM a JOIN b ON a.uri = b.uri AND b.b_ts >= a.a_ts
  AND b.b_ts <= a.a_ts + INTERVAL {streaming_pipeline.IJOIN_WINDOW_DAYS} DAY
""")(streaming_pipeline.stream_interval_join_query)

# NOT registered (the 324-query registry is frozen): the batch oracle for
# the leftOuter interval-join twin, consumed by tools/ijoin_digest.py
# --join-type leftOuter and the differential pytest. The unmatched-A
# emission law is Spark's MEASURED eviction boundary (r08 probe, pinned in
# tests/test_streaming.py): emit iff a_ts + W + 1ms <= watermark_final,
# where watermark_final = least over sides of floor_ms(max event time) -
# delay — Spark's watermark bookkeeping is millisecond-granular and the
# state-value watermark subtracts one further ms. See
# streaming/pipeline.py:stream_interval_join_left_query for the two-pass
# safety argument.
IJOIN_LEFT_ORACLE = _VALID + f"""
, a AS (SELECT event_id AS a_id, recv_ts AS a_ts, uri FROM valid
        WHERE event_id % 2 = 0),
b AS (SELECT event_id AS b_id, recv_ts AS b_ts, uri FROM valid
      WHERE event_id % 2 = 1),
m AS (SELECT a.a_id, b.b_id, a.uri, a.a_ts, b.b_ts
      FROM a JOIN b ON a.uri = b.uri AND b.b_ts >= a.a_ts
        AND b.b_ts <= a.a_ts + INTERVAL {streaming_pipeline.IJOIN_WINDOW_DAYS} DAY),
wm AS (SELECT least(date_trunc('milliseconds', (SELECT max(a_ts) FROM a)),
                    date_trunc('milliseconds', (SELECT max(b_ts) FROM b)))
              - INTERVAL {streaming_pipeline.IJOIN_DELAY_MINUTES} MINUTE AS w)
SELECT a_id, b_id, uri, a_ts, b_ts FROM m
UNION ALL
SELECT a.a_id, CAST(NULL AS BIGINT) AS b_id, a.uri, a.a_ts,
       CAST(NULL AS TIMESTAMP) AS b_ts
FROM a
WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.a_id = a.a_id)
  AND a.a_ts + INTERVAL {streaming_pipeline.IJOIN_WINDOW_DAYS} DAY
      + INTERVAL 1 MILLISECOND <= (SELECT w FROM wm)
"""

_ENRICH_DIM = ", ".join(
    f"('{t}', '{r}')" for t, r in streaming_pipeline.ENRICH_ROUTES
)
register("q_stream_enrich", _VALID + f"""
, named AS (SELECT event_id, uri, {scalars.extract_table_sql('uri')} AS table_name
            FROM valid),
dim(table_name, route) AS (VALUES {_ENRICH_DIM})
SELECT n.event_id, n.uri, n.table_name, dim.route
FROM named n LEFT JOIN dim ON n.table_name = dim.table_name
""")(streaming_pipeline.stream_enrich_query)


# ---------------------------------------------------------------------------
# Retrieval/index + behavior-analytics families (SURVEY §2.11 ext 3)
# ---------------------------------------------------------------------------

from .operators import behavior, retrieval  # noqa: E402

register("q_tfidf", retrieval.tfidf_terms_oracle())(retrieval.tfidf_terms)
register("q_inverted_index", retrieval.inverted_index_oracle())(
    retrieval.inverted_index
)
register("q_decontaminate", retrieval.decontaminate_oracle())(
    retrieval.decontaminate
)
register("q_domain_stats", retrieval.domain_stats_oracle())(retrieval.domain_stats)
register("q_gopher_rules", textops.gopher_rules_oracle())(textops.gopher_rules)
register("q_token_entropy", textops.token_entropy_oracle())(textops.token_entropy)
register("q_zipf_fit", textops.zipf_fit_oracle())(textops.zipf_fit)
register("q_redundancy", textops.redundancy_oracle())(
    textops.redundancy
)
register("q_event_funnel", behavior.event_funnel_oracle())(behavior.event_funnel)
register("q_cohort_retention", behavior.cohort_retention_oracle())(
    behavior.cohort_retention
)
register("q_bm25", retrieval.bm25_rank_oracle())(retrieval.bm25_rank)
register("q_anomaly_p99", behavior.anomaly_p99_oracle())(behavior.anomaly_p99)
register("q_linreg_by_group", behavior.linreg_by_group_oracle())(
    behavior.linreg_by_group
)
register("q_corpus_pipeline", pipeline_ops.corpus_pipeline_oracle())(
    pipeline_ops.corpus_pipeline
)
register("q_span_corruption", pipeline_ops.span_corruption_oracle())(
    pipeline_ops.span_corruption
)
register("q_simhash_wide", dedup.simhash_wide_neardup_oracle())(
    dedup.simhash_wide_neardup
)
register("q_fuzzy_match", dedup.fuzzy_match_oracle())(dedup.fuzzy_match)
register("q_weighted_sample", sampling.weighted_sample_oracle())(
    sampling.weighted_sample
)
register("q_incremental_rollup", sampling.incremental_rollup_oracle())(
    sampling.incremental_rollup
)
register("q_gapfill_locf", sampling.gapfill_locf_oracle())(sampling.gapfill_locf)
register("q_scd2", relational.scd2_intervals_oracle())(relational.scd2_intervals)
register("q_scd2_lookup", relational.scd2_lookup_oracle())(relational.scd2_lookup)

from .operators import cdc  # noqa: E402

register("q_cdc_upsert", cdc.cdc_upsert_oracle())(cdc.cdc_upsert)
register("q_stream_cdc", cdc.cdc_upsert_oracle())(cdc.stream_cdc_query)
register("q_shipping_priority", relational.shipping_priority_oracle())(
    relational.shipping_priority
)
register("q_order_priority", relational.order_priority_check_oracle())(
    relational.order_priority_check
)
register("q_promo_revenue", relational.promo_revenue_oracle())(
    relational.promo_revenue
)
register("q_special_parts", relational.special_parts_oracle())(
    relational.special_parts
)
register("q_knn_pq", similarity.knn_pq_oracle())(similarity.knn_pq)
register("q_jl_project", similarity.jl_project_oracle())(similarity.jl_project)
register("q_stream_drift", behavior.drift_psi_oracle())(
    cdc.stream_drift_query
)
register("q_stream_skyline", relational.skyline_oracle())(
    cdc.stream_skyline_query
)
register("q_stream_topk", cdc.stream_topk_oracle())(cdc.stream_topk_query)
register("q_stream_extrema", cdc.stream_extrema_oracle())(
    cdc.stream_extrema_query
)
register("q_bigram_logprob", retrieval.bigram_logprob_oracle())(
    retrieval.bigram_logprob
)
register("q_unigram_logprob", retrieval.unigram_logprob_oracle())(
    retrieval.unigram_logprob
)

from .operators import clustering  # noqa: E402

register("q_kmeans_embed", clustering.kmeans_embed_oracle())(
    clustering.kmeans_embed
)
register("q_stream_kmeans", clustering.stream_kmeans_oracle())(
    clustering.stream_kmeans_query
)
register("q_semantic_dedup", clustering.semantic_dedup_oracle())(
    clustering.semantic_dedup
)
register("q_silhouette", clustering.silhouette_oracle())(clustering.silhouette)
register("q_join_salted", relational.join_salted_oracle())(relational.join_salted)
register("q_bloom_join", relational.bloom_join_oracle())(
    relational.bloom_join
)
register("q_join_full_outer", relational.join_full_outer_oracle())(
    relational.join_full_outer
)
register("q_unpivot", relational.unpivot_events_oracle())(
    relational.unpivot_events
)
register("q_approx_percentiles", relational.approx_percentiles_oracle())(
    relational.approx_percentiles
)
register("q_vocab_coverage", textops.vocab_coverage_oracle())(
    textops.vocab_coverage
)

from .operators import packing  # noqa: E402

register("q_pack_global", packing.pack_global_oracle())(
    packing.pack_global
)
register("q_bpe_pairs", packing.bpe_pairs_oracle())(packing.bpe_pairs)
register("q_bpe_apply", packing.bpe_apply_oracle())(packing.bpe_apply)
register("q_snapshot_diff", cdc.snapshot_diff_oracle())(cdc.snapshot_diff)

from .operators import layout  # noqa: E402

register(
    "q_replica_audit",
    _COUNTED
    + " , agg AS ("
    + _CONCAT_SELECT
    + "), sink AS (SELECT uri, "
    + scalars.extract_table_sql("uri")
    + " AS table_name, buffer, rowcount FROM agg) "
    + metrics.replica_audit_body(
        "CAST(concat('0x', substr(md5(concat(uri, '|', buffer, '|', "
        "CAST(rowcount AS VARCHAR))), 1, 12)) AS BIGINT)"
    ),
)(metrics.replica_audit)
register("q_window_range", relational.window_range_oracle())(
    relational.window_range
)
register("q_argminmax", relational.agg_argminmax_oracle())(
    relational.agg_argminmax
)
register("q_rfm_segments", behavior.rfm_segments_oracle())(
    behavior.rfm_segments
)
register("q_dau_mau", behavior.dau_mau_oracle())(behavior.dau_mau)
register("q_basket_pairs", behavior.basket_pairs_oracle())(
    behavior.basket_pairs
)
register("q_multimodal_resize", multimodal.multimodal_resize_oracle())(
    multimodal.multimodal_resize
)
register("q_audio_vad", multimodal.audio_vad_oracle())(
    multimodal.audio_vad
)
register("q_skyline", relational.skyline_oracle())(relational.skyline)
register("q_attribution", behavior.attribution_oracle())(behavior.attribution)
register("q_drift_psi", behavior.drift_psi_oracle())(behavior.drift_psi)
register("q_dedup_recall", dedup.dedup_recall_oracle())(dedup.dedup_recall)
register("q_skew_report", layout.skew_report_oracle())(layout.skew_report)
register("q_zorder_stats", layout.zorder_stats_oracle())(layout.zorder_stats)

from .operators import decision_support as ds  # noqa: E402

register("q_forecast_revenue", ds.forecast_revenue_oracle())(ds.forecast_revenue)
register("q_volume_shipping", ds.volume_shipping_oracle())(ds.volume_shipping)
register("q_market_share", ds.market_share_oracle())(ds.market_share)
register("q_product_profit", ds.product_profit_oracle())(ds.product_profit)
register("q_customer_distribution", ds.customer_distribution_oracle())(
    ds.customer_distribution
)
register("q_top_supplier", ds.top_supplier_oracle())(ds.top_supplier)
register("q_parts_supplier_count", ds.parts_supplier_count_oracle())(
    ds.parts_supplier_count
)
register("q_small_qty_revenue", ds.small_qty_revenue_oracle())(
    ds.small_qty_revenue
)
register("q_large_orders", ds.large_orders_oracle())(ds.large_orders)
register("q_waiting_suppliers", ds.waiting_suppliers_oracle())(
    ds.waiting_suppliers
)
register("q_sales_opportunity", ds.sales_opportunity_oracle())(
    ds.sales_opportunity
)
register("q_interval_coverage", behavior.interval_coverage_oracle())(
    behavior.interval_coverage
)
register("q_event_transitions", behavior.event_transitions_oracle())(
    behavior.event_transitions
)
register("q_stream_coverage", behavior.interval_coverage_oracle())(
    cdc.stream_coverage_query
)
register("q_window_ntile", relational.window_ntile_oracle())(
    relational.window_ntile
)
register("q_minhash_incremental", dedup.minhash_incremental_oracle())(
    dedup.minhash_incremental
)
register("q_stream_minhash", dedup.minhash_neardup_oracle())(
    cdc.stream_minhash_query
)
register("q_pagerank", behavior.pagerank_oracle())(behavior.pagerank)
register("q_triangles", behavior.triangles_oracle())(behavior.triangles)
register("q_hits", behavior.hits_oracle())(behavior.hits)
register("q_kcore", behavior.kcore_oracle())(behavior.kcore)
register("q_assortativity", behavior.assortativity_oracle())(
    behavior.assortativity
)
register("q_bfs_hops", behavior.bfs_hops_oracle())(behavior.bfs_hops)
register("q_ab_test", behavior.ab_test_oracle())(behavior.ab_test)
register("q_cuped", behavior.cuped_oracle())(behavior.cuped)
register("q_welch_metric", behavior.welch_metric_oracle())(
    behavior.welch_metric
)
register("q_bootstrap_ci", behavior.bootstrap_ci_oracle())(
    behavior.bootstrap_ci
)
register("q_mannwhitney", behavior.mannwhitney_oracle())(
    behavior.mannwhitney
)
register("q_ks_test", behavior.ks_test_oracle())(behavior.ks_test)
register("q_kaplan_meier", behavior.kaplan_meier_oracle())(
    behavior.kaplan_meier
)
register("q_autocorr", behavior.autocorr_oracle())(behavior.autocorr)
register("q_cusum", behavior.cusum_oracle())(behavior.cusum)
register("q_twap", behavior.twap_oracle())(behavior.twap)
register("q_cohort_ltv", behavior.cohort_ltv_oracle())(
    behavior.cohort_ltv
)
register("q_qte", behavior.qte_oracle())(behavior.qte)
register("q_mad_outliers", behavior.mad_outliers_oracle())(
    behavior.mad_outliers
)
register("q_mad_outliers_approx", behavior.mad_outliers_approx_oracle())(
    behavior.mad_outliers_approx
)
register("q_burstiness", behavior.burstiness_oracle())(
    behavior.burstiness
)
register("q_percentile_bands", behavior.percentile_bands_oracle())(
    behavior.percentile_bands
)
register("q_decay", behavior.decay_oracle())(behavior.decay)
register("q_seasonality_strength",
         behavior.seasonality_strength_oracle())(
    behavior.seasonality_strength
)
register("q_gap_percentiles", behavior.gap_percentiles_oracle())(
    behavior.gap_percentiles
)
register("q_seasonal_anomaly", behavior.seasonal_anomaly_oracle())(
    behavior.seasonal_anomaly
)
register("q_stream_triangles", behavior.triangles_oracle())(
    behavior.stream_triangles_query
)

from .operators import quality  # noqa: E402

register("q_profile", quality.profile_oracle())(quality.profile)
register("q_hill_tail", layout.hill_tail_oracle())(layout.hill_tail)
register("q_schema_merge", layout.schema_merge_oracle())(
    layout.schema_merge
)
register("q_bucketed_join", layout.bucketed_join_oracle())(
    layout.bucketed_join
)
register("q_partition_pruning", layout.partition_pruning_oracle())(
    layout.partition_pruning
)
register("q_gini", layout.gini_concentration_oracle())(
    layout.gini_concentration
)
register("q_benford", quality.benford_audit_oracle())(
    quality.benford_audit
)
register("q_constraint_audit", quality.constraint_audit_oracle())(
    quality.constraint_audit
)
register("q_stream_constraint_audit", quality.constraint_audit_oracle())(
    quality.stream_constraint_audit_query
)
register("q_kanon_audit", quality.kanon_audit_oracle())(quality.kanon_audit)
register("q_label_leakage", quality.label_leakage_oracle())(
    quality.label_leakage
)
register("q_dp_counts", quality.dp_counts_oracle())(quality.dp_counts)
register("q_sessionize", behavior.sessionize_oracle())(behavior.sessionize)
register("q_join_asof_tolerance", relational.join_asof_tolerance_oracle())(
    relational.join_asof_tolerance
)
register("q_join_asof_forward", relational.join_asof_forward_oracle())(
    relational.join_asof_forward
)
register("q_freshness_audit", quality.freshness_audit_oracle())(
    quality.freshness_audit
)
register("q_top_paths", behavior.top_paths_oracle())(behavior.top_paths)
register("q_mom_growth", behavior.mom_growth_oracle())(behavior.mom_growth)
register("q_stream_sessionize", behavior.sessionize_oracle())(
    cdc.stream_sessionize_query
)

from .operators import sequences  # noqa: E402

register("q_window_funnel", sequences.window_funnel_oracle())(
    sequences.window_funnel
)
register("q_sequence_count", sequences.sequence_count_oracle())(
    sequences.sequence_count
)
register("q_max_intersections", sequences.max_intersections_oracle())(
    sequences.max_intersections
)
register("q_theil_sen", behavior.theil_sen_oracle())(behavior.theil_sen)
register("q_chi2", behavior.chi2_oracle())(behavior.chi2)
register("q_entropy_rate", textops.entropy_rate_oracle())(
    textops.entropy_rate
)
register("q_heaps_law", textops.heaps_law_oracle())(textops.heaps_law)
register("q_corr_matrix", quality.corr_matrix_oracle())(
    quality.corr_matrix
)
register("q_mutual_info", quality.mutual_info_oracle())(
    quality.mutual_info
)
register("q_source_diversity", textops.source_diversity_oracle())(
    textops.source_diversity
)
register("q_vocab_overlap", textops.vocab_overlap_oracle())(
    textops.vocab_overlap
)
register("q_rrf_fusion", retrieval.rrf_fusion_oracle())(
    retrieval.rrf_fusion
)
register("q_markov_stationary", behavior.markov_stationary_oracle())(
    behavior.markov_stationary
)
register("q_recursive_hierarchy", relational.recursive_hierarchy_oracle())(
    relational.recursive_hierarchy
)
register("q_stream_mutual_info", quality.mutual_info_oracle())(
    quality.stream_mutual_info_query
)
register("q_winsorize", behavior.winsorize_oracle())(behavior.winsorize)
register("q_ratio_metric_delta", behavior.ratio_metric_delta_oracle())(
    behavior.ratio_metric_delta
)

from .operators import mleval  # noqa: E402

register("q_calibration", mleval.calibration_oracle())(mleval.calibration)
register("q_auc", mleval.auc_oracle())(mleval.auc)
register("q_pr_curve", mleval.pr_curve_oracle())(mleval.pr_curve)
register("q_stream_auc", mleval.auc_oracle())(mleval.stream_auc_query)
register("q_did", behavior.did_oracle())(behavior.did)
register("q_mde", behavior.mde_oracle())(behavior.mde)
register("q_funnel_ttc", behavior.funnel_ttc_oracle())(behavior.funnel_ttc)
register("q_modularity", behavior.modularity_oracle())(behavior.modularity)

from .operators import multimodal  # noqa: E402

register("q_phash_neardup", multimodal.phash_neardup_oracle())(
    multimodal.phash_neardup
)
register("q_format_scan", layout.format_scan_oracle())(layout.format_scan)

from .operators import features  # noqa: E402

register("q_lag_features", features.lag_features_oracle())(
    features.lag_features
)
register("q_target_encoding", features.target_encoding_oracle())(
    features.target_encoding
)
register("q_woe_iv", features.woe_iv_oracle())(features.woe_iv)
register("q_lateness_profile", behavior.lateness_profile_oracle())(
    behavior.lateness_profile
)
register("q_novelty", textops.novelty_oracle())(textops.novelty)
register("q_price_elasticity", ds.price_elasticity_oracle())(
    ds.price_elasticity
)
register("q_cross_validation", mleval.cross_validation_oracle())(
    mleval.cross_validation
)
register("q_ngram_lm_interp", retrieval.ngram_lm_interp_oracle())(
    retrieval.ngram_lm_interp
)
register("q_growth_accounting", behavior.growth_accounting_oracle())(
    behavior.growth_accounting
)
register("q_churn_label", behavior.churn_label_oracle())(
    behavior.churn_label
)
register("q_hamming_sweep", dedup.hamming_sweep_oracle())(
    dedup.hamming_sweep
)
register("q_fulfillment_lag", ds.fulfillment_lag_oracle())(
    ds.fulfillment_lag
)
register("q_embedding_drift", similarity.embedding_drift_oracle())(
    similarity.embedding_drift
)
register("q_stream_growth", behavior.growth_accounting_oracle())(
    behavior.stream_growth_query
)
register("q_char_lang_id", mleval.char_lang_id_oracle())(
    mleval.char_lang_id
)
register("q_basket_rules", behavior.basket_rules_oracle())(
    behavior.basket_rules
)
register("q_split_half", mleval.split_half_oracle())(mleval.split_half)
register("q_conformal", mleval.conformal_oracle())(mleval.conformal)
register("q_repurchase_gap", ds.repurchase_gap_oracle())(
    ds.repurchase_gap
)
register("q_attribution_linear", behavior.attribution_linear_oracle())(
    behavior.attribution_linear
)

from .operators import timeseries  # noqa: E402

register("q_rolling_median", timeseries.rolling_median_oracle())(
    timeseries.rolling_median
)
register("q_changepoint", timeseries.changepoint_oracle())(
    timeseries.changepoint
)
register("q_ewma", timeseries.ewma_oracle())(timeseries.ewma)
register("q_mann_kendall", timeseries.mann_kendall_oracle())(
    timeseries.mann_kendall
)
register("q_heavy_hitters_cms", textops.heavy_hitters_cms_oracle())(
    textops.heavy_hitters_cms
)
register("q_feature_hashing", textops.feature_hashing_oracle())(
    textops.feature_hashing
)
register("q_isotonic_calibration", mleval.isotonic_calibration_oracle())(
    mleval.isotonic_calibration
)
register("q_simpsons_audit", quality.simpsons_audit_oracle())(
    quality.simpsons_audit
)
register("q_stream_changepoint", timeseries.changepoint_oracle())(
    timeseries.stream_changepoint_query
)
register("q_activity_streaks", behavior.activity_streaks_oracle())(
    behavior.activity_streaks
)
register("q_er_links", dedup.er_links_oracle())(dedup.er_links)
register("q_preference_pairs", textops.preference_pairs_oracle())(
    textops.preference_pairs
)
register("q_negative_sampling", similarity.negative_sampling_oracle())(
    similarity.negative_sampling
)
register("q_ipf_raking", behavior.ipf_raking_oracle())(behavior.ipf_raking)
register("q_heavy_changers", behavior.heavy_changers_oracle())(
    behavior.heavy_changers
)
register("q_knn_rerank", similarity.knn_rerank_oracle())(
    similarity.knn_rerank
)
register("q_drawdown", timeseries.drawdown_oracle())(timeseries.drawdown)

from .operators import spatial  # noqa: E402

register("q_spatial_join", spatial.spatial_join_oracle())(
    spatial.spatial_join
)
register("q_spatial_nn", spatial.spatial_nn_oracle())(spatial.spatial_nn)
register("q_morans_i", spatial.morans_i_oracle())(spatial.morans_i)
register("q_stream_spatial", spatial.spatial_join_oracle())(
    spatial.stream_spatial_query
)
register("q_rate_test", timeseries.rate_test_oracle())(timeseries.rate_test)
register("q_holt_linear", timeseries.holt_linear_oracle())(
    timeseries.holt_linear
)
register("q_gapfill_interp", sampling.gapfill_interp_oracle())(
    sampling.gapfill_interp
)
register("q_seasonal_decompose", timeseries.seasonal_decompose_oracle())(
    timeseries.seasonal_decompose
)
register("q_lsh_s_curve", dedup.lsh_s_curve_oracle())(dedup.lsh_s_curve)
register("q_histogram_eqd", relational.histogram_eqd_oracle())(
    relational.histogram_eqd
)
register("q_filter_parity", quality.filter_parity_oracle())(
    quality.filter_parity
)
register("q_pareto_cut", relational.pareto_cut_oracle())(
    relational.pareto_cut
)
register("q_cross_corr", timeseries.cross_corr_oracle())(
    timeseries.cross_corr
)
register("q_anova_dow", timeseries.anova_dow_oracle())(timeseries.anova_dow)
register("q_hhi", relational.hhi_oracle())(relational.hhi)
register("q_spearman", timeseries.spearman_oracle())(timeseries.spearman)
register("q_partial_corr", timeseries.partial_corr_oracle())(
    timeseries.partial_corr
)
register("q_rolling_vol", timeseries.rolling_vol_oracle())(
    timeseries.rolling_vol
)
register("q_runs_test", timeseries.runs_test_oracle())(timeseries.runs_test)
register("q_classifier_agreement", mleval.classifier_agreement_oracle())(
    mleval.classifier_agreement
)
register("q_gains_table", mleval.gains_table_oracle())(mleval.gains_table)
register("q_forecast_eval", timeseries.forecast_eval_oracle())(
    timeseries.forecast_eval
)
register("q_tv_distance", timeseries.tv_distance_oracle())(
    timeseries.tv_distance
)
