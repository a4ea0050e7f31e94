"""Physical-plan regression tests — pin the plan *shape*, not just results.

At 100 TB the plan is the product: a dim join that stops broadcasting, a
filter that stops reaching the parquet scan, or a top-k that materializes
a full sort would all still pass the value oracle while being orders of
magnitude slower. These assertions fail the build instead.
"""

from proxyhouse_spark import registry
from tests.conftest import SF_SMALL


def plan_of(spark, name: str) -> str:
    df = registry.QUERIES[name](spark, SF_SMALL)
    je = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return je.explainString(mode)


def tree_of(plan: str) -> str:
    """The operator tree (first block of formatted explain) — each physical
    operator appears exactly once here, unlike the detail sections."""
    return plan.split("\n\n")[0]


def test_join_tree_broadcasts_all_dims(spark):
    tree = tree_of(plan_of(spark, "q_revenue_by_region"))
    # lineitem probe side + 4 broadcast dims (orders, customer, nation, region)
    assert tree.count("BroadcastHashJoin") == 4
    assert "SortMergeJoin" not in tree
    # a single hash exchange: the final groupBy — joins add none
    assert tree.count("Exchange") - tree.count("BroadcastExchange") == 1


def test_pricing_summary_pushdown_and_pruning(spark):
    plan = plan_of(spark, "q_pricing_summary")
    # the shipdate predicate must reach the parquet reader...
    assert "LessThanOrEqual(l_shipdate" in plan
    # ...and the scan must read only the 7 referenced columns (of 16)
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    cols = read_schema.split("struct<", 1)[1].count(",") + 1
    assert cols == 7
    assert "l_orderkey" not in read_schema


def test_topk_plans_take_ordered_not_global_sort(spark):
    for name in ("q_topk", "q_top_customers"):
        assert "TakeOrderedAndProject" in plan_of(spark, name), name


def test_window_rank_prunes_map_side(spark):
    # the rnk <= 3 filter must push a WindowGroupLimit below the shuffle
    # so each map task emits at most k rows per key
    assert "WindowGroupLimit" in plan_of(spark, "q_window_rank")


def test_join_asof_is_union_merge_not_expansion(spark):
    # the union-merge asof: NO join at all (so no events×orders expansion),
    # one shuffle of the interleaved union on user_id, one partition-local
    # sort feeding the carry-forward window
    plan = plan_of(spark, "q_join_asof")
    tree = tree_of(plan)
    assert "Join" not in tree
    assert "Window" in tree
    assert tree.count("Exchange") - tree.count("BroadcastExchange") == 1


def test_join_asof_tolerance_keeps_the_zero_join_plan(spark):
    # the tolerance is a POST-FILTER on the carried row, so the plan must
    # stay byte-for-byte J3-shaped: no join node, one data exchange, the
    # carry-forward window — a tolerance that crept into an ON clause
    # would resurrect the purchases×clicks expansion
    tree = tree_of(plan_of(spark, "q_join_asof_tolerance"))
    assert "Join" not in tree
    assert "Window" in tree
    assert tree.count("Exchange") - tree.count("BroadcastExchange") == 1


def test_core_concat_is_single_shuffle(spark):
    # map-side partial agg + exactly one exchange on the grouping key
    tree = tree_of(plan_of(spark, "q_groupby_concat"))
    assert tree.count("Exchange") - tree.count("BroadcastExchange") == 1


def test_ingest_pipeline_no_shuffle_before_group(spark):
    # validation + projection + format dispatch + url rewrite are all
    # narrow: the whole sink pipeline shuffles exactly once (the keyed agg)
    tree = tree_of(plan_of(spark, "q_batch_sink"))
    assert tree.count("Exchange") - tree.count("BroadcastExchange") == 1


def test_narrow_ops_have_zero_shuffles(spark):
    for name in ("q_rowcount", "q_length_filter", "q_doc_chunk", "q_lang_id"):
        tree = tree_of(plan_of(spark, name))
        assert "Exchange" not in tree, name


def test_minhash_verify_never_broadcasts_the_sketch(spark):
    # every frame in the staged plan (members, signatures, candidate pairs)
    # scales with the corpus, so every join — band self-join, the two
    # verify joins, the intra-group join, the two expansion joins — must be
    # a shuffled hash join; a single BroadcastExchange means AQE found a
    # corpus-scaling frame to collect through the driver (checkpointed-RDD
    # scans can't column-prune, so that broadcast also drags the shingle
    # arrays along — measured +7 s at sf0.1)
    tree = tree_of(plan_of(spark, "q_minhash_neardup"))
    assert tree.count("ShuffledHashJoin") >= 5
    assert "BroadcastExchange" not in tree


def test_knn_broadcasts_the_probe(spark):
    tree = tree_of(plan_of(spark, "q_knn_cosine"))
    assert "Broadcast" in tree  # 1-row probe side is broadcast, corpus streams


def test_bucketed_join_is_colocated(spark):
    """Bucketing = the persisted half of a shuffle: two tables bucketed by
    the join key join with NO Exchange on either side — the 100 TB recipe
    for repeated joins on the same key (pay the shuffle once at write)."""
    from proxyhouse_spark.tables import table
    from tests.conftest import SF_SMALL

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        table(spark, SF_SMALL, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        ).write.bucketBy(8, "o_custkey").sortBy("o_custkey").mode(
            "overwrite"
        ).saveAsTable("orders_bkt")
        table(spark, SF_SMALL, "customer").select(
            "c_custkey", "c_mktsegment"
        ).write.bucketBy(8, "c_custkey").sortBy("c_custkey").mode(
            "overwrite"
        ).saveAsTable("customer_bkt")

        o, c = spark.table("orders_bkt"), spark.table("customer_bkt")
        joined = o.join(c, o.o_custkey == c.c_custkey)
        plan = joined._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        tree = plan.split("\n\n")[0]
        assert "SortMergeJoin" in tree
        assert "Exchange" not in tree  # co-located: bucket layout IS the shuffle
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS orders_bkt")
        spark.sql("DROP TABLE IF EXISTS customer_bkt")


def test_range_join_is_bucketed_hash_join_not_bnlj(spark):
    # the bucket equi-key must turn the interval predicate into a broadcast
    # HASH join (residual range filter), never BroadcastNestedLoopJoin —
    # the difference between O(events) and O(events × bands) at 100 TB
    tree = tree_of(plan_of(spark, "q_range_join"))
    assert "BroadcastHashJoin" in tree
    assert "NestedLoop" not in tree
    assert "Cartesian" not in tree


def test_hyper_rollup_single_expand_single_shuffle(spark):
    # ROLLUP plans one Expand + partial hash agg: shuffle volume is
    # O(distinct (day, hour) × 3 grouping sets), not O(events)
    plan = plan_of(spark, "q_hyper_rollup")
    tree = tree_of(plan)
    assert tree.count("Expand") == 1
    assert "partial" in plan.lower()
    assert tree.count("Exchange") - tree.count("BroadcastExchange") == 1


def test_sampling_ops_are_narrow(spark):
    # deterministic hash sampling + repetition scoring are pure projections:
    # zero shuffle regardless of corpus size
    for name in ("q_stratified_sample", "q_repetition_filter"):
        tree = tree_of(plan_of(spark, name))
        assert "Exchange" not in tree, name


def test_chunk_dedup_single_hash_shuffle(spark):
    # chunk generation is narrow; the only exchange is the window's hash
    # partition on md5(chunk_text) — uniform key, no corpus-wide sort
    tree = tree_of(plan_of(spark, "q_chunk_dedup"))
    assert tree.count("Exchange") - tree.count("BroadcastExchange") == 1


def test_ts_similarity_sketches_before_topk(spark):
    # profile reduction must partial-agg map-side and the top-20 must plan
    # TakeOrderedAndProject — never a global sort of the user profiles
    plan = plan_of(spark, "q_ts_similarity")
    tree = tree_of(plan)
    assert "TakeOrderedAndProject" in tree
    assert "partial" in plan.lower()
    assert tree.count("Exchange") - tree.count("BroadcastExchange") == 1


def test_corpus_pipeline_single_shuffle(spark):
    # the composed preprocessing job owes exactly ONE shuffle: the dedup
    # window on the normalized-text hash; quality gate, chunk explode and
    # split assignment are narrow (at 100 TB the shuffle moves only
    # (16-byte hash, doc_id) pairs, never text)
    tree = tree_of(plan_of(spark, "q_corpus_pipeline"))
    assert tree.count("Exchange") == 1
    assert "BroadcastExchange" not in tree


def test_bm25_is_topk_not_sort(spark):
    # ranked retrieval must plan TakeOrderedAndProject (partial top-k per
    # partition), never a full global Sort of the scored corpus; the
    # tf computation is a narrow projection — no explode, and the only
    # exchange feeds the one-row global stats aggregate
    tree = tree_of(plan_of(spark, "q_bm25"))
    assert "TakeOrderedAndProject" in tree
    assert "Generate" not in tree  # no explode in the scoring path


def test_anomaly_thresholds_broadcast(spark):
    # the per-type p99 threshold frame is O(event types) and must
    # broadcast; the fact side stays shuffle-free on the probe side
    tree = tree_of(plan_of(spark, "q_anomaly_p99"))
    assert "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in tree


# queries whose callables RUN work when invoked (streaming passes, the CC
# fixpoint driver loop) — excluded from the pure plan sweep
_EXECUTING = {
    "q_flush_trigger",
    "q_dlq_replay",
    "q_stream_cumulative",
    "q_stream_windowed",
    "q_stream_dedup",
    "q_stream_enrich",
    "q_stream_interval_join",
    "q_stream_session_window",
    "q_stream_cdc",
    "q_dedup_clusters",
    "q_dedup_keep_best",  # runs the CC fixpoint when invoked
    "q_stream_coverage",
    "q_stream_topk",     # foreachBatch passes run at plan time; final read
    "q_stream_skyline",  # is a trivial snapshot rollup in each case
    "q_stream_minhash",  # continuous dedup: passes run at plan time too
    "q_stream_sessionize",
    "q_stream_constraint_audit",
    "q_stream_substring",
    "q_stream_ann",
    "q_stream_triangles",
    "q_stream_kmeans",
    "q_stream_extrema",
    "q_stream_mutual_info",  # foreachBatch passes run at plan time
    "q_stream_auc",          # foreachBatch passes run at plan time
    "q_stream_growth",       # foreachBatch passes run at plan time
    "q_stream_changepoint",  # foreachBatch passes run at plan time
    "q_stream_spatial",      # foreachBatch passes run at plan time
    "q_schema_merge",   # writes the two-generation layout at plan time
    "q_bucketed_join",  # writes + checkpoints the bucketed join at plan time
    "q_partition_pruning",  # writes the partitioned layout at plan time
    "q_format_scan",    # writes the csv/jsonl/parquet legs at plan time
}


# Reviewed exceptions: a BroadcastNestedLoopJoin is harmless iff the
# broadcast side is O(1) rows BY CONSTRUCTION (a global aggregate or a
# constant probe) — the standard scalar-frame attach pattern. Each entry
# here names the 1-row/k-row frame that justifies it.
_SCALAR_BNLJ_OK = {
    "q_bm25",             # 1-row corpus stats (n_docs, total_dl, dfs)
    "q_knn_cosine",       # 1-row probe vector
    "q_knn_rerank",       # 1-row probe vector crossed onto the C-row
                          # shortlist (the knn_cosine shape, post-cut)
    "q_knn_batch",        # 3-row probe set
    "q_mix_temperature",  # 1-row corpus total
    "q_unigram_logprob",  # 1-row corpus token total (the LM normalizer)
    "q_kmeans_embed",     # K-row centroid frame (O(K·dim) by construction)
    "q_semantic_dedup",   # K-row centroid frame; pair join pinned shuffle-hash
    "q_vocab_coverage",   # 1-row vocabulary-set frame (V tokens by construction)
    "q_zorder_stats",     # 1-row dimension-extent frame (min-max normalizer)
    "q_drift_psi",        # 10-row bin-grid frame crossed with O(#types) rows
    "q_label_leakage",    # vocab x labels contingency grid: vocab is
                          # Heaps-sublinear, labels policy-bounded — the
                          # same O(types x bins) frame contract as drift_psi
    "q_stream_drift",     # same _psi_sql bin-grid over the O(types x bins) snapshot
    "q_rfm_segments",     # 1-row quartile-boundary frame (the percentile row)
    "q_basket_pairs",     # 1-row basket-count frame crossed with the top-20 cut
    "q_skew_report",      # 1-row decile-boundary frame (the percentile row)
    "q_mix_materialize",  # 1-row sqrt-total frame (the mix normalizer)
    "q_ann_recall",       # 5-row probe set crossed into both scoring branches
    "q_ndcg",             # same 5-row probe cross + the K-row discount spine
                          # joined on r <= min(K, n_rel) — bounded×bounded
    "q_knn_eval",         # EVAL_PROBES-row probe frame crossed into the
                          # corpus scan (corpus never shuffles by probes)
    "q_silhouette",       # K-row centroid frame (same chain as q_kmeans_embed)
    "q_triangles",        # three 1-row count frames crossed for the summary row
    "q_assortativity",    # three 1-row frames (moments, degree extrema, edge
                          # count) crossed for the single summary row
    "q_bpe_apply",        # 1-row pivoted merge-table frame (top-4 pairs)
                          # crossed into the vocabulary segmentation
    "q_cuped",            # two 1-row frames (pivoted variant sums, pooled
                          # theta/variance moments) crossed for the readout
    "q_isotonic_calibration",  # PAV minimax theta-joins on the ≤11-row
                          # score-bin frame (score_bp div 1000 is policy-
                          # bounded): ≤11² pair / ≤11³ triple rows — the
                          # conformal/drift_psi bounded-frame contract
    "q_simpsons_audit",   # 1-row pooled-moments frame crossed back onto
                          # the O(#brands) per-stratum moment fold
    "q_morans_i",         # 1-row totals frame crossed onto the cell frame
                          # (≤ (WORLD/R)² = 2500 cells by construction) +
                          # three 1-row readout crosses
    "q_heavy_changers",   # 1-row midpoint frame crossed into the event
                          # scan (the decay/cuped boundary-anchor shape)
    "q_rate_test",        # same 1-row midpoint boundary-anchor shape
    "q_tv_distance",      # same 1-row midpoint boundary-anchor shape
    "q_histogram_eqd",    # 1-row decile-boundary frame + 1-row total
                          # crossed into the scan (the rfm_segments /
                          # skew_report boundary-broadcast shape)
    "q_filter_parity",    # 1-row median-threshold + 1-row max-rate
                          # frames crossed back (same boundary shape)
    "q_cross_corr",       # 1-row peak-r frame crossed onto the 15-row
                          # lag table for the is_peak flag
    "q_classifier_agreement",  # 1-row median-threshold frame crossed
                          # into the per-doc predictor join (the
                          # filter_parity boundary shape)
    "q_gains_table",      # 1-row decile-boundary + 1-row totals frames
                          # crossed (the histogram_eqd boundary shape)
    "q_lsh_s_curve",      # 1-row corpus-count frame crossed into the
                          # CONSTANT SC_PAIRS sample generator; scoring
                          # legs stay equi-joins on doc_id
    "q_negative_sampling",  # label-exclusion theta join on the BOUNDED
                          # O(B×labels) per-bucket-minima frame (32×labels
                          # rows by construction); the corpus-scaled draw
                          # join stays equi-keyed (bucket, label)
    "q_ks_test",          # two 1-row frames (group sizes, integer supremum)
                          # crossed for the readout
    "q_kaplan_meier",     # 1-row total-subjects frame crossed into the
                          # O(KM_WINDOW_DAYS) duration table
    "q_decay",            # 1-row horizon frame crossed into the event scan
                          # (the age anchor)
    "q_gap_percentiles",  # 1-row rank-target frame crossed into the
                          # distinct-gap cumulative frame and the readout
    "q_hill_tail",        # 1-row threshold order-stat frame crossed into
                          # the LIMIT-k top frame
    "q_autocorr",         # O(#event-types) moment frame crossed with the
                          # 2-row lag list before the daily equi-joins
    "q_benford",          # 1-row total-count frame crossed into the 9-row
                          # digit spine
    "q_gini",             # two 1-row frames (corpus moments, rank-weighted
                          # sum) crossed for the single readout row
    "q_qte",              # two 1-row per-variant quantile-array frames
                          # crossed with the literal 4-row quantile spine
    "q_zipf_fit",         # 1-row corpus-total and OLS-moment frames crossed
                          # into the spectrum points / final readout
    "q_neyman_alloc",     # 1-row share-denominator frame crossed into the
                          # O(#sources) weight table
    "q_hits",             # 1-row L1-total / node-count normalizer frames
    "q_stream_triangles", # same three 1-row count frames as q_triangles
    "q_chi2",             # 1-row (n, r, c) margin frame crossed into the
                          # O(r·c) cell terms and the final readout
    "q_entropy_rate",     # three 1-row frames (weighted-log sum, bigram
                          # totals, context count) crossed for the readout
    "q_heaps_law",        # 1-row (dmin, span) extent frame crossed into the
                          # per-doc and per-token bucket assignment
    "q_mutual_info",      # 1-row N/margin-entropy frames crossed into the
                          # O(langs·sources) cell terms and the readout
    "q_rrf_fusion",       # 1-row BM25 stats frame and 1-row query-vector
                          # frame crossed into each retrieval leg's scan
    "q_markov_stationary",  # 1-row state-count frame crossed into the
                          # O(#types) uniform-init vector
    "q_calibration",      # 1-row ECE-numerator frame crossed into the
                          # O(CAL_BINS) reliability rows
    "q_pr_curve",         # 1-row AP/best-F1 summary frame crossed into the
                          # score-range-bounded threshold rows
    "q_modularity",       # 1-row 2m-total frame crossed into the O(#brands)
                          # community terms
    "q_woe_iv",           # 1-row class-total and IV frames crossed into the
                          # O(#sources) WOE rows
    "q_lateness_profile", # 1-row watermark readout crossed into the
                          # bounded lateness histogram
    "q_cross_validation", # K-row fold spine crossed with the score-range-
                          # bounded threshold frame (the fold×threshold
                          # grid) + the 1-row mean-test-F1 readout
    "q_growth_accounting",  # 1-row horizon frame crossed into the churn
                          # classification
    "q_churn_label",      # 1-row boundary frame crossed into both the
                          # feature and label scans
    "q_basket_rules",     # 1-row basket-count frame crossed with the
                          # top-20 directed-rule cut (the basket_pairs
                          # justification, both directions)
    "q_conformal",        # 1-row conformal-rank / q-hat / coverage frames
                          # crossed for the readout
}


def test_no_query_plans_cartesian_or_nested_loop(spark):
    """Global safety net: at 100 TB a CartesianProduct or a
    BroadcastNestedLoopJoin against a data-scaling side is a query that
    will not finish. Every batch query's physical plan is swept; the
    reviewed scalar-frame cross joins above are the only exceptions, and
    the known-executing callables are covered by targeted tests instead."""
    offenders = []
    for name in sorted(registry.QUERIES):
        if name in _EXECUTING or name in _SCALAR_BNLJ_OK:
            continue
        tree = tree_of(plan_of(spark, name))
        if "CartesianProduct" in tree or "BroadcastNestedLoopJoin" in tree:
            offenders.append(name)
    assert not offenders, offenders


# Reviewed exceptions for the unpartitioned-window sweep: an empty window
# partition spec is harmless iff the frame it sorts is BOUNDED BY
# CONSTRUCTION — O(1) or O(small-k) rows, never O(data). Each entry names
# the bounded frame that justifies it.
_UNPARTITIONED_WINDOW_OK = {
    "q_dlq_replay_order",  # DLQ packets: bounded by failure volume, and the
                           # reference replay contract is SEQUENTIAL anyway
                           # (main.go resend loop — a global order is the op)
    "q_knn_pq",       # row_number over the LIMIT-N_CODES codebook seed (O(1))
    "q_knn_rerank",   # same codebook-seed row_number (shares _pq_ctes)
    "q_hill_tail",    # rank over the LIMIT-(k+1) TakeOrdered frame —
                      # bounded by construction
    "q_spearman",     # rank windows over the O(#days) joined daily frame —
                      # calendar-bounded, never data-scaled
    "q_gains_table",  # cumulative sums over the ≤10-row decile frame
                      # (policy-bounded by construction)
    "q_mom_growth",   # lag over the O(#months) monthly-revenue frame
    "q_pareto_cut",   # rank/cumsum over the O(#brands) revenue fold —
                      # bounded by the dimension, never data
    "q_pack_global",  # prefix sum over the O(#buckets) bucket-total frame —
                      # phase 1 of the documented two-phase distributed scan
    "q_skyline",      # min over the O(#buckets) bucket-minima frame (phase 2
                      # of the same two-phase pattern)
    "q_vocab_coverage",  # row_number over the vocab frame cut to its top-V
                         # head — vocab grows sublinearly (Heaps) and the cut
                         # is the op's own output bound
    "q_bpe_apply",    # row_number over the LIMIT-4 merge-candidate frame
                      # (O(N_MERGES) rows by construction)
    "q_mannwhitney",  # bucket-offset prefix over the O(#buckets) frame —
                      # phase 2 of the two-phase midrank scan; bucket count
                      # is bounded by the metric RANGE (value div 1000),
                      # not the corpus (the pack_global justification)
    "q_zipf_fit",     # same digit-class bucket-offset prefix as q_gini —
                      # the spectrum rank scaffolding, <= ~19k buckets
    "q_gap_percentiles",  # same digit-class scaffolding again — the
                      # order-statistic selection's bucket offsets
    "q_gini",         # bucket-offset prefix over the digit-class frame —
                      # <= ~19k buckets by construction (1000*digits +
                      # top-3-digits), independent of corpus size
    "q_kaplan_meier", # at-risk/product prefix over the duration frame —
                      # O(KM_WINDOW_DAYS + 1) rows by construction (the
                      # administrative censoring horizon caps t)
    "q_ks_test",      # same O(#buckets) offset-prefix frame, carried for
                      # both the all- and A-counters at once
    "q_max_intersections",  # day-offset prefix over the O(#days) net-delta
                      # frame — phase 2 of the two-phase sweep-line; day
                      # count is calendar-bounded (the pack_global shape)
    "q_window_funnel",  # cumulative n_reached over the O(3) depth-histogram
                      # frame — bounded by the funnel's stage count
    "q_heaps_law",    # cumulative token/vocab prefix over the
                      # O(HEAPS_POINTS)=10 checkpoint frame
    "q_rrf_fusion",   # row_number over the two LIMIT-RRF_DEPTH retrieval
                      # legs — bounded by construction (hill_tail shape)
    "q_auc",          # midrank prefix over the per-distinct-score frame —
                      # bounded by the SCORE RANGE (≤ 10001 basis points),
                      # the mannwhitney justification verbatim
    "q_pr_curve",     # TP/FP prefixes over the same score-range-bounded
                      # threshold frame
    "q_lateness_profile",  # bucket-max offset prefix over the
                      # O(corpus/LAT_BUCKET) frame (pack_global shape) +
                      # the cum prefix over the calendar-bounded
                      # O(max-lateness-hours) histogram
    "q_hamming_sweep",  # cumulative prefix over the O(49)-row Hamming
                      # histogram — bounded by the fingerprint width
    "q_conformal",    # cumulative prefix over the residual-VALUE
                      # histogram — bounded by the metric range (the
                      # mannwhitney justification)
}

# windowspecdefinition whose FIRST argument is already an order spec
# (`col ASC|DESC ...`) has an empty partition spec — i.e. a single-partition
# WindowExec.
_UNPARTITIONED_SPEC = __import__("re").compile(
    r"windowspecdefinition\([\w#.]+ (?:ASC|DESC)"
)


def test_no_query_plans_unpartitioned_window_over_data(spark):
    """Global safety net, sibling of the Cartesian sweep (VERDICT r3 #4):
    a WindowExec with an empty partition spec is a whole-input sort on ONE
    executor — fine for a bounded frame, fatal for anything that scales
    with data (the r3 `q_unigram_logprob` / `q_skew_report` findings, both
    since respelled as broadcast percentile boundaries). Sweep every batch
    query's physical plan; the reviewed bounded frames above are the only
    exceptions."""
    offenders = []
    for name in sorted(registry.QUERIES):
        if name in _EXECUTING or name in _UNPARTITIONED_WINDOW_OK:
            continue
        plan = plan_of(spark, name)
        if _UNPARTITIONED_SPEC.search(plan):
            offenders.append(name)
    assert not offenders, offenders


def test_sequence_pack_single_shuffle_no_global_sort(spark):
    """Packing must stay one hash exchange (by shard) + a partitioned
    window — a global ORDER BY would serialize the whole corpus through
    one task at 100 TB."""
    tree = tree_of(plan_of(spark, "q_sequence_pack"))
    assert tree.count("Exchange") == 1
    assert "rangepartitioning" not in tree.lower()  # no global sort
    assert tree.count("Window") == 1


def test_gelf_packet_is_narrow(spark):
    """Wire packetization is embarrassingly parallel: Arrow-batched
    MapInPandas directly over the pruned scan — zero exchanges, validation
    filter pushed below the Python stage."""
    plan = plan_of(spark, "q_gelf_packet")
    tree = tree_of(plan)
    assert "Exchange" not in tree
    assert "MapInPandas" in tree
    assert tree.index("MapInPandas") < tree.index("Filter")  # filter below


def test_semantic_dedup_pair_join_is_shuffle_hash(spark):
    """The within-cluster pair join has two corpus-scaled sides —
    broadcasting either is the minhash scale bug. Centroid frames (K rows)
    are the only broadcasts allowed."""
    tree = tree_of(plan_of(spark, "q_semantic_dedup"))
    assert tree.count("ShuffledHashJoin") == 1
    assert "SortMergeJoin" not in tree


def test_kmeans_centroid_update_is_partial_agg(spark):
    """Centroid recompute must plan map-side partial aggregation on
    (cluster, dim) — shuffle O(K*dim), not O(rows)."""
    plan = plan_of(spark, "q_kmeans_embed")
    assert "partial_avg" in plan  # map-side combine on (cluster, dim)
    assert "CartesianProduct" not in tree_of(plan)


def test_join_salted_fans_hot_keys_across_partitions(spark):
    """The salted join must actually join on (key, salt) — a shuffled hash
    join whose exchange partitions by both columns — not collapse back to
    a broadcast of the exploded dim (which would erase the skew fix)."""
    plan = plan_of(spark, "q_join_salted")
    tree = tree_of(plan)
    assert "ShuffledHashJoin" in tree
    assert "salt" in plan  # join/partition key carries the salt column


def test_linreg_single_shuffle_sufficient_stats(spark):
    """OLS via sufficient statistics must be ONE map-side-combinable
    aggregation — an iterative or join-based plan would be a scale bug."""
    tree = tree_of(plan_of(spark, "q_linreg_by_group"))
    assert tree.count("Exchange") - tree.count("BroadcastExchange") == 1
    assert "Join" not in tree


def test_unigram_model_join_is_broadcast_hash(spark):
    """The unigram LM (vocab-sized, fixed for a trained model) must reach
    the doc-term scan as a broadcast hash join — shuffling the corpus side
    against the model would shuffle input bytes once more for no reason."""
    tree = tree_of(plan_of(spark, "q_unigram_logprob"))
    assert "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in tree


def test_simhash_band_joins_never_broadcast_the_corpus(spark):
    """Both simhash variants' band self-joins have two corpus-scaled
    sides — same contract as the minhash pin: shuffled hash only, zero
    BroadcastExchange anywhere in the plan."""
    for name in ("q_simhash_neardup", "q_simhash_wide"):
        tree = tree_of(plan_of(spark, name))
        assert "ShuffledHashJoin" in tree, name
        assert "BroadcastExchange" not in tree, name


def test_ivf_cell_partitioned_corpus_prunes_scan(spark, tmp_path):
    """The IVF scale claim, demonstrated on storage: with the corpus
    written PARTITIONED BY the coarse quantizer cell, a multi-probe
    candidate scan (cell + Hamming-1 neighbors = 5 of 16 cells) must
    partition-prune — the physical scan touches only the probed cells'
    directories, which is what turns ANN candidate generation into an
    index lookup instead of a full pass at 100 TB."""
    from proxyhouse_spark.functions import vectors as V
    from proxyhouse_spark.operators.similarity import N_CELL_BITS, _probe_cells
    from proxyhouse_spark.sources.corpus import EMB_CORPUS_SPARK
    from proxyhouse_spark.tables import table

    table(spark, SF_SMALL, "embeddings").createOrReplaceTempView("embeddings")
    cell = f"substr({V.lsh_bucket_spark('e')}, 1, {N_CELL_BITS})"
    out = str(tmp_path / "ivf_corpus")
    spark.sql(
        f"SELECT vec_id, label, e, {cell} AS cell FROM ({EMB_CORPUS_SPARK})"
    ).write.partitionBy("cell").parquet(out)

    corpus = spark.read.parquet(out)
    corpus.createOrReplaceTempView("ivf_corpus")
    probed = spark.sql(
        f"""
        WITH p AS (SELECT cell FROM ivf_corpus WHERE vec_id = 0)
        SELECT c.vec_id FROM ivf_corpus c
        JOIN (SELECT explode(array({_probe_cells('cell')})) AS cell FROM p) pc
          ON c.cell = pc.cell
        """
    )
    n_cells = {r.cell for r in corpus.select("cell").distinct().collect()}
    # dynamic partition pruning: the corpus scan must carry a DPP filter
    # on cell (the join key is the partition column). Note an unpruned
    # partitioned scan still prints 'PartitionFilters: []', so the check
    # must demand the dynamicpruning expression itself, not the header.
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()
    # and the result is a strict subset of the corpus (5 of 16 cells)
    rows = probed.count()
    total = corpus.count()
    assert 0 < rows < total
    assert len(n_cells) > 5  # enough cells exist for pruning to matter


def test_pack_global_two_phase_prefix_sum(spark):
    """The global packing manifest must never window the whole corpus in
    one partition: the only SinglePartition exchange feeds the O(#buckets)
    bucket-offset frame, the corpus-sized window is partitioned BY bucket,
    and the offsets come back via broadcast."""
    plan = plan_of(spark, "q_pack_global")
    tree = tree_of(plan)
    assert plan.count("Arguments: SinglePartition") == 1  # tiny bucket frame only
    assert "BroadcastHashJoin" in tree  # offsets broadcast back
    assert tree.count("Window") == 2  # bucket cumsum + within-bucket cumsum
    assert "rangepartitioning" not in plan.lower()  # never a global sort


def test_bpe_pairs_vocab_only_explode_topk(spark):
    """Pair explosion must run over word TYPES (after the (word,count)
    fold), not token instances, and the final cut must plan
    TakeOrderedAndProject, not a global sort."""
    tree = tree_of(plan_of(spark, "q_bpe_pairs"))
    assert "TakeOrderedAndProject" in tree
    assert "Sort" not in tree.replace("TakeOrderedAndProject", "")
    # vocab-only explosion: top-down the first Generate is the char-pair
    # explode, the second the token explode feeding the word fold — the
    # (word,count) HashAggregate must sit BETWEEN them, proving pairs are
    # generated over word types, not token instances
    first_gen = tree.index("Generate")
    second_gen = tree.index("Generate", first_gen + 1)
    assert "HashAggregate" in tree[first_gen:second_gen]
    assert tree.count("Exchange") == 2  # word fold + pair fold, nothing else


def test_snapshot_diff_single_colocatable_join(spark):
    """The version diff is one full-outer equi-join on the primary key —
    both snapshot scans must prune to (key, price) and push their key
    filters down; no second join, no broadcast of a table-sized side."""
    plan = plan_of(spark, "q_snapshot_diff")
    tree = tree_of(plan)
    assert tree.count("SortMergeJoin") + tree.count("ShuffledHashJoin") == 1
    assert "BroadcastHashJoin" not in tree  # both sides scale with the table
    assert plan.count("ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>") == 2


def test_skew_report_is_boundary_broadcast_not_window(spark):
    """The decile cut must be the boundary-broadcast shape (r3 #3): the
    (key, n) fold feeds a partially-aggregated exact percentile that
    collapses to ONE boundary row, broadcast back for a narrow classify —
    no WindowExec anywhere (the old ntile spelling was a whole-keyspace
    single-partition sort: #keys ≈ #users scales with data)."""
    plan = plan_of(spark, "q_skew_report")
    tree = tree_of(plan)
    assert "Window" not in tree
    assert "partial_percentile" in plan  # map-side value-count buffers
    # the keyed fold still shuffles on the diagnosed key exactly once
    assert "hashpartitioning(user_id" in plan


def test_unigram_tercile_is_boundary_broadcast_not_window(spark):
    """Same pattern for the CCNet tercile cut (r3 #2): percentile
    boundaries in a broadcast 1-row frame, zero WindowExec — the old
    ntile(3) was a whole-corpus doc-score sort on one executor."""
    plan = plan_of(spark, "q_unigram_logprob")
    tree = tree_of(plan)
    assert "Window" not in tree
    assert "partial_percentile" in plan


def test_zorder_ladder_stays_narrow(spark):
    """The Morton bit-spread must be pure codegen arithmetic: no joins
    except the 1-row extent broadcast, no Python, and only the two
    aggregation exchanges (global extent row + per-file stats fold)."""
    plan = plan_of(spark, "q_zorder_stats")
    tree = tree_of(plan)
    assert "SortMergeJoin" not in tree and "ShuffledHashJoin" not in tree
    assert "InPandas" not in tree and "BatchEvalPython" not in tree
    assert tree.count("Exchange") <= 3


def test_runtime_bloom_filter_reduces_fact_scan(spark):
    """Spark's runtime row-level bloom filter: a selective dim-side filter
    is turned into a might_contain() predicate on the FACT side before the
    join shuffle — the 100 TB semi-join reduction (shuffle only rows that
    can match). Thresholds are scoped here because the local fixtures are
    far below the production defaults (10 GB application-side scan)."""
    from proxyhouse_spark.tables import table
    from tests.conftest import SF_SMALL

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = table(spark, SF_SMALL, "lineitem").select("l_orderkey", "l_quantity")
        o = (
            table(spark, SF_SMALL, "orders")
            .filter("o_orderpriority = '1-URGENT'")
            .select("o_orderkey")
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey)
        plan = j._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "might_contain" in plan  # fact side pre-filtered...
        assert "bloom_filter_agg" in plan  # ...by the dim-side bloom build
        # and the filter sits on the lineitem (application) side scan
        li_filter = [
            l for l in plan.splitlines()
            if "might_contain" in l and "l_orderkey" in l
        ]
        assert li_filter
        # semantics unchanged vs the plain join
        n_bloom = j.count()
        for k, v in prev.items():
            spark.conf.set(k, v)
        assert n_bloom == li.join(o, li.l_orderkey == o.o_orderkey).count()
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_replica_audit_single_pass_conditional_agg(spark):
    """Both replicas' stats must come from ONE scan + conditional
    aggregates: the keyed concat shuffle plus the table_name fold — no
    second pipeline, no self-join of the sink frame."""
    tree = tree_of(plan_of(spark, "q_replica_audit"))
    assert "Join" not in tree
    assert tree.count("Exchange") - tree.count("BroadcastExchange") == 2


def test_drift_psi_scans_events_once(spark):
    """PSI must fold events exactly once: the O(types × bins) counts frame
    is staged via scoped localCheckpoint (Spark inlines CTEs — referencing
    the counts three times would re-scan events three times), so the
    returned plan reads ONLY the materialized counts, zero parquet scans."""
    plan = plan_of(spark, "q_drift_psi")
    assert "events.parquet" not in plan  # fold already ran, staged once
    assert "Scan ExistingRDD" in plan  # ...into the checkpointed frame
    assert "rangepartitioning" not in plan.lower()


def test_knn_pq_codebook_broadcasts_corpus_streams(spark):
    """PQ plan contract: the 64-row codebook (and the 64-row ADC table)
    broadcast; the corpus side never shuffles for the encode join; the
    final cut is TakeOrdered, not a global sort."""
    tree = tree_of(plan_of(spark, "q_knn_pq"))
    assert "TakeOrderedAndProject" in tree
    assert "BroadcastHashJoin" in tree
    assert "CartesianProduct" not in tree


def test_shipping_priority_broadcasts_dims_topk(spark):
    """Q3 shape: both filtered dims broadcast, lineitem feeds the agg
    without a pre-join shuffle, and the top-10 cut is TakeOrdered."""
    tree = tree_of(plan_of(spark, "q_shipping_priority"))
    assert tree.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in tree
    assert "TakeOrderedAndProject" in tree


def test_order_priority_is_semi_join(spark):
    """Q4 shape: EXISTS decorrelates to a LEFT SEMI join; the orders side
    carries the date-range filter down to its scan."""
    plan = plan_of(spark, "q_order_priority")
    assert "LeftSemi" in plan
    assert "o_orderdate" in next(
        l for l in plan.splitlines() if "PushedFilters" in l and "orders" not in l
    ) or "GreaterThanOrEqual(o_orderdate" in plan


def test_attribution_is_union_merge_not_expansion(spark):
    """Last-touch attribution reuses the as-of union-merge respelling:
    NO join at all (the naive purchases x clicks equi-join is
    quadratic-in-history for hot users), one shuffle of the interleaved
    stream on user_id, one carry-forward window."""
    tree = tree_of(plan_of(spark, "q_attribution"))
    assert "Join" not in tree
    assert "Window" in tree
    assert tree.count("Exchange") - tree.count("BroadcastExchange") == 1


def test_skyline_two_phase_prefix_min(spark):
    """The distributed sort-scan: the only SinglePartition step is the
    O(#buckets) prefix-min frame; the point-level window is partitioned
    BY bucket and the bucket offsets come back via broadcast (the
    pack_global pattern generalized from sums to mins)."""
    plan = plan_of(spark, "q_skyline")
    tree = tree_of(plan)
    assert plan.count("Arguments: SinglePartition") == 1
    assert "BroadcastHashJoin" in tree
    assert "rangepartitioning" not in plan.lower()


def test_promo_revenue_broadcasts_part_prunes_dates(spark):
    """Q14 shape: the part dim broadcasts, the ship-date month reaches the
    lineitem parquet scan as a pushed filter."""
    plan = plan_of(spark, "q_promo_revenue")
    tree = tree_of(plan)
    assert "BroadcastHashJoin" in tree and "SortMergeJoin" not in tree
    assert "GreaterThanOrEqual(l_shipdate" in plan


def test_special_parts_disjunction_stays_keyed(spark):
    """Q19 shape: the OR-of-conjunctions must not defeat the equi-join —
    the partkey key joins hash/broadcast with the disjunction as a
    residual, and the common size/quantity envelope is free to push."""
    tree = tree_of(plan_of(spark, "q_special_parts"))
    assert "BroadcastHashJoin" in tree
    assert "NestedLoop" not in tree and "Cartesian" not in tree


def test_minhash_incremental_probes_with_the_delta_only(spark):
    # the incremental contract in the plan: all three joins (candidate
    # band join + two verify joins) are shuffled hash joins — the sketch
    # and band frames scale with the corpus and must never broadcast —
    # and a FILTER node on is_delta guards the candidate join's probe
    # side, so index-vs-index pairs are never generated. (The column
    # name alone appears in projections regardless; only the Filter
    # condition proves the probe side is restricted.)
    import re

    plan = plan_of(spark, "q_minhash_incremental")
    tree = tree_of(plan)
    assert tree.count("ShuffledHashJoin") >= 3
    assert "BroadcastExchange" not in tree
    assert re.search(r"Condition\s*:.*is_delta", plan), (
        "no Filter condition on is_delta — the candidate join no longer "
        "restricts its probe side to the delta"
    )


def test_join_asof_forward_is_union_merge_not_expansion(spark):
    # the forward direction must inherit the zero-join plan: negating the
    # time axis cannot reintroduce an events×orders join
    plan = plan_of(spark, "q_join_asof_forward")
    tree = tree_of(plan)
    assert "Join" not in tree
    assert "Window" in tree
    assert tree.count("Exchange") - tree.count("BroadcastExchange") == 1


def test_constraint_audit_scans_once_per_value_check_table(spark):
    # the stack() unpivot computes ALL of a table's value checks in one
    # aggregate row — one scan per table — plus one probe scan per RI
    # leg: orders x3 (checks + RI probe + RI build), lineitem x2
    # (checks + RI probe), customer x1. The naive UNION-ALL-over-CTE
    # spelling inlined each reference: 7 scans of orders for 5 checks.
    tree = tree_of(plan_of(spark, "q_constraint_audit"))
    assert tree.count("Scan parquet") == 6
    assert "CartesianProduct" not in tree


def test_triangles_stages_oriented_and_never_broadcasts(spark):
    # the oriented edge list feeds four branches: it must be staged (a
    # checkpoint scan, not four re-executions of the items self-join) and
    # the wedge/closure joins must shuffle-hash — every frame scales with
    # the graph, so a BroadcastExchange would collect the edge list
    # through the driver (the minhash staging lesson)
    tree = tree_of(plan_of(spark, "q_triangles"))
    assert "Scan ExistingRDD" in tree  # the staged oriented frame
    assert tree.count("ShuffledHashJoin") >= 2
    # the only broadcasts allowed are the 1-row summary frames feeding the
    # final BNLJ cross; the edge-list joins themselves must never be a
    # BroadcastHASHJoin (that broadcast side would be the oriented frame)
    assert "BroadcastHashJoin" not in tree


def test_bloom_join_fact_side_never_shuffles_before_the_digest(spark):
    """J7's whole point: the fact scan must flow into the broadcast
    bucket-digest LeftSemi (and then the exact join) with NO data
    exchange on the fact lineage — the only shuffles in the plan are
    the digest's own distinct fold and the final groupBy. A plan where
    the fact side shuffles first has silently become the naive join."""
    tree = tree_of(plan_of(spark, "q_bloom_join"))
    assert tree.count("BroadcastHashJoin LeftSemi") >= 2  # digest + dim
    assert "SortMergeJoin" not in tree
    assert "Cartesian" not in tree and "NestedLoop" not in tree
    # exactly two real exchanges: digest distinct + final aggregate
    assert tree.count("Exchange") - tree.count("BroadcastExchange") == 2


def test_profile_scans_each_table_exactly_once(spark):
    """The profiling report's whole cost model: N columns' stats fold
    into one aggregate row per table (stack() unpivots AFTER the agg),
    so the plan scans orders and documents exactly once each — a
    UNION-ALL-per-column spelling would scan per column (9 scans)."""
    tree = tree_of(plan_of(spark, "q_profile"))
    assert tree.count("Scan parquet") == 2


def test_hill_tail_plans_take_ordered_not_global_sort(spark):
    # the top-(k+1) multiset must arrive via TakeOrderedAndProject —
    # a global Sort here would be the one thing the estimator exists
    # to avoid at scale
    assert "TakeOrderedAndProject" in plan_of(spark, "q_hill_tail")


def test_bucketed_join_registered_query_is_colocated(spark):
    """The registered q_bucketed_join must actually produce the
    co-located plan its docstring claims: SortMergeJoin with NO
    exchange on either side (the bucket layout IS the shuffle). The
    query checkpoints its result, so re-derive the join here over the
    tables the op just wrote, with broadcast disabled the same way."""
    from proxyhouse_spark import registry

    registry.QUERIES["q_bucketed_join"](spark, SF_SMALL)  # writes tables
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o = spark.table("q_bucketed_orders")
        c = spark.table("q_bucketed_customer")
        j = o.join(c, o.o_custkey == c.c_custkey)
        plan = j._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        tree = plan.split("\n\n")[0]
        assert "SortMergeJoin" in tree
        assert "Exchange" not in tree
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_partition_pruning_scan_reads_only_matching_directories(spark):
    """The claim S12 exists for: the day predicate must become a
    PartitionFilters entry on the scan (directory-level pruning), and
    the pruned scan must read strictly fewer files than the full
    layout holds."""
    import os

    from proxyhouse_spark import registry
    from proxyhouse_spark.operators.layout import PRUNE_LAST_DAYS

    registry.QUERIES["q_partition_pruning"](spark, SF_SMALL)
    # the op registers its scratch base in-process; take the newest s12
    from proxyhouse_spark.streaming import passes as pipeline

    loc = next(
        os.path.join(d, "events_by_day")
        for d in reversed(pipeline._SCRATCH_DIRS)
        if os.path.basename(d).startswith("s12_prune_")
    )
    part = spark.read.parquet(loc)
    from pyspark.sql import functions as F

    horizon = part.agg(F.max("day")).collect()[0][0]
    pruned = part.filter(F.col("day") > horizon - PRUNE_LAST_DAYS)
    plan = pruned._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "PartitionFilters" in plan
    line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "day" in line  # the predicate reached the directory level
    n_dirs = len([d for d in os.listdir(loc) if d.startswith("day=")])
    n_kept = pruned.select("day").distinct().count()
    assert n_kept < n_dirs  # pruning must actually drop partitions


def test_no_query_emits_decimal_output(spark):
    """Global output-type sweep: a DECIMAL column in any registered query's
    result is a guaranteed (or trailing-zero-lucky) driver hash mismatch —
    Spark collects DECIMAL(p,6) as Decimal("123.456000") while the driver
    fetches the DuckDB oracle via pandas, which hands back float64
    "123.456".  This caused the four round-4 driver hash-fails
    (q_stream_cdc, q_silhouette, q_cooccur_pmi, q_label_leakage — VERDICT
    r04 finding #1).  Fix pattern: keep DECIMAL carriers for exact
    intermediate arithmetic, but CAST the final projection to DOUBLE (or
    use double literals: 6.0e0, 1000000.0e0).  Plan-only — schemas resolve
    without execution; the known-executing callables are covered by their
    own differential tests, whose check.py::norm() now fails outright on
    any Decimal value."""
    from pyspark.sql.types import ArrayType, DecimalType, MapType, StructType

    def has_decimal(dtype) -> bool:
        if isinstance(dtype, DecimalType):
            return True
        if isinstance(dtype, ArrayType):
            return has_decimal(dtype.elementType)
        if isinstance(dtype, MapType):
            return has_decimal(dtype.keyType) or has_decimal(dtype.valueType)
        if isinstance(dtype, StructType):
            return any(has_decimal(f.dataType) for f in dtype.fields)
        return False

    offenders = {}
    for name in sorted(registry.QUERIES):
        if name in _EXECUTING:
            continue
        df = registry.QUERIES[name](spark, SF_SMALL)
        bad = [
            f"{f.name}:{f.dataType.simpleString()}"
            for f in df.schema.fields
            if has_decimal(f.dataType)
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, offenders


def test_output_type_categories_match_oracle(spark):
    """Global output-type parity sweep vs the DuckDB oracle — the
    generalization of the decimal ban above.  The driver compares results
    by stringify-then-hash, so a column Spark types DOUBLE where the
    oracle returns BIGINT renders "5.0" vs "5": the same divergence class
    as round 4's DECIMAL hash-fails, and one that value-level
    normalization (%.9g) masks.  Both sides are inspected LAZILY — Spark
    schema resolution and DuckDB bind-time relation types — so this runs
    plan-only for every non-executing query; the executing callables are
    covered by tools/type_sweep.py (320/320 clean, 2026-08-15)."""
    import duckdb

    from proxyhouse_spark import registry as reg
    from proxyhouse_spark.tables import TABLES
    from proxyhouse_spark.typecats import duck_cat, spark_cat

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_SMALL}/{t}.parquet')"
        )
    offenders = {}
    for name in sorted(reg.QUERIES):
        if name in _EXECUTING or name not in reg.ORACLES:
            continue
        sdf = reg.QUERIES[name](spark, SF_SMALL)
        stypes = {f.name: spark_cat(f.dataType) for f in sdf.schema.fields}
        rel = con.sql(reg.ORACLES[name])
        otypes = {c: duck_cat(t) for c, t in zip(rel.columns, rel.types)}
        bad = [
            f"{col}: spark={stypes.get(col)} duck={otypes.get(col)}"
            for col in sorted(set(stypes) | set(otypes))
            if stypes.get(col) != otypes.get(col)
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, offenders
