"""CDC changelog apply — upsert/delete compaction (SURVEY §2.11 ext).

Reference parity: ABSENT — /root/reference/main.go appends opaque bytes
and never models row identity, updates, or deletes (the closest thing is
the DLQ replay re-appending whole packets, main.go:447-485). A lakehouse
ingestion pipeline, however, constantly folds a CDC changelog (insert/
update/delete events per primary key) into a queryable snapshot — the
semantic core of Delta/Hudi/Iceberg ``MERGE INTO`` — so the engine ships
it as a first-class operator.

Shape & scale: latest-wins compaction is ONE window (row_number over the
primary key ordered by change sequence descending) — a single shuffle on
the key, partition-local ranking, then a narrow filter dropping
superseded versions and tombstones. No join at all: at 100 TB the
changelog shuffles once on the same key the snapshot table is bucketed
by, making periodic compaction a co-located write. Deletes are plain
rows (tombstones), not side-channel state, so the fold is idempotent and
replay-safe — applying the same changelog twice yields the same
snapshot, which is exactly the at-least-once delivery contract the
reference's DLQ replay imposes downstream (main.go:423-441).

The changelog is synthesized deterministically from the ``orders``
fixture (no RNG): every order arrives as an insert; keys ≡ 0 (mod 7) get
a later status/price update; keys ≡ 0 (mod 21) a second update; keys ≡ 0
(mod 13) a final tombstone. The same SQL runs verbatim in Spark and
DuckDB — the oracle is textually identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..tables import table
from ..streaming import passes

# Portable changelog CTE: (seq, op, key, payload...). seq is the change
# sequence number (commit LSN stand-in); higher seq wins. Prices are
# carried as integer cents so the synthesized updates (+10% / +21%) are
# exact integer arithmetic — identical in Spark and DuckDB, no float
# rounding-rule divergence at half-cent boundaries.
_CHANGELOG = """
base AS (
  SELECT *, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
),
changelog AS (
  SELECT o_orderkey, 0 AS seq, 'I' AS op, o_custkey, o_orderstatus,
         cents, o_orderpriority
  FROM base
  UNION ALL
  SELECT o_orderkey, 1 AS seq, 'U' AS op, o_custkey, 'X' AS o_orderstatus,
         CAST(floor(cents * 11 / 10) AS BIGINT) AS cents, o_orderpriority
  FROM base WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT o_orderkey, 2 AS seq, 'U' AS op, o_custkey, 'Y' AS o_orderstatus,
         CAST(floor(cents * 121 / 100) AS BIGINT) AS cents, o_orderpriority
  FROM base WHERE o_orderkey % 21 = 0
  UNION ALL
  SELECT o_orderkey, 3 AS seq, 'D' AS op, o_custkey, o_orderstatus,
         cents, o_orderpriority
  FROM base WHERE o_orderkey % 13 = 0
)
"""

_APPLY = f"""
WITH {_CHANGELOG},
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn,
         CAST(count(*) OVER (PARTITION BY o_orderkey) AS BIGINT) AS n_versions
  FROM changelog
)
SELECT o_orderkey, o_custkey, o_orderstatus,
       CAST(cents AS DOUBLE) / 100.0 AS o_totalprice, o_orderpriority,
       n_versions
FROM ranked
WHERE rn = 1 AND op <> 'D'
"""


def cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fold a CDC changelog into the current snapshot: latest change per
    key wins, tombstones drop the key entirely."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_APPLY)


def cdc_upsert_oracle() -> str:
    return _APPLY


# ---------------------------------------------------------------------------
# snapshot_diff — table-version diff (the data-versioning audit every
# lakehouse pipeline runs between two snapshots of the same keyed table:
# which keys were added / removed / changed, with before/after values).
# Two deterministic snapshots are synthesized from ``orders``: the "old"
# version is missing keys ≡ 0 (mod 7) (they arrive later), the "new" one
# dropped keys ≡ 0 (mod 5) and repriced keys ≡ 0 (mod 3) by +10 % in
# exact integer cents. The diff itself is ONE full-outer equi-join on the
# primary key — a single co-locatable shuffle; when both snapshot
# versions are bucketed by the key (the layout any versioned table store
# uses) the join is entirely shuffle-free, so diffing two 100 TB
# snapshots costs one partition-local merge pass. Unchanged keys are
# filtered out, keeping the output proportional to the CHANGE volume,
# not the table size. Portable SQL: oracle is textually identical.
# ---------------------------------------------------------------------------

_SNAPSHOT_DIFF = """
WITH base AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
snap_old AS (
  SELECT o_orderkey, cents FROM base WHERE o_orderkey % 7 <> 0
),
snap_new AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 3 = 0
              THEN CAST(floor(cents * 11 / 10) AS BIGINT)
              ELSE cents END AS cents
  FROM base WHERE o_orderkey % 5 <> 0
)
SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
       CASE WHEN o.o_orderkey IS NULL THEN 'added'
            WHEN n.o_orderkey IS NULL THEN 'removed'
            ELSE 'changed' END AS change,
       o.cents AS old_cents,
       n.cents AS new_cents
FROM snap_old o
FULL OUTER JOIN snap_new n ON o.o_orderkey = n.o_orderkey
WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL OR o.cents <> n.cents
"""


def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed diff of two table versions: added / removed / changed rows
    with before/after values; unchanged keys excluded."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_SNAPSHOT_DIFF)


def snapshot_diff_oracle() -> str:
    return _SNAPSHOT_DIFF


# ---------------------------------------------------------------------------
# Streaming continuous apply — the micro-batch face of the same fold:
# each batch of changelog rows is merged into a persistent snapshot
# (read current → union batch → latest-wins per key → atomic rewrite),
# i.e. what Delta/Hudi MERGE does per trigger, built on plain parquet.
# Because the fold is idempotent and latest-wins is associative, applying
# the changelog in ANY batch partitioning yields the same snapshot as
# one big batch apply — which is exactly what q_stream_cdc proves
# through the differential gate (two real availableNow passes, oracle =
# the batch apply SQL). Snapshot rewrite is repartition(key-bucket) +
# tmp-dir + atomic rename (the replay_dlq recipe); at scale the rewrite
# is a co-located write when the snapshot is bucketed by the key.
# ---------------------------------------------------------------------------

_CHANGELOG_SCHEMA = (
    "o_orderkey bigint, seq int, op string, o_custkey bigint, "
    "o_orderstatus string, cents bigint, o_orderpriority string"
)


def _merge_snapshot(
    spark: SparkSession, batch_df: DataFrame, snap_dir: str, batch_id: int
) -> None:
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    w = Window.partitionBy("o_orderkey").orderBy(F.col("seq").desc())
    # tombstones are KEPT in the snapshot store (a later batch must still
    # see that the key was deleted — dropping them here would resurrect a
    # key if an older update replayed); readers filter op <> 'D'
    passes.merge_snapshot(
        spark, snap_dir, batch_id, _CHANGELOG_SCHEMA,
        lambda current: current.unionByName(batch_df)
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .drop("rn")
        .repartition(4, "o_orderkey"),
    )


def cdc_apply_stream(
    spark: SparkSession, source_dir: str, snap_dir: str, checkpoint_dir: str
):
    """One availableNow pass applying the changelog stream to the
    snapshot directory via foreachBatch."""
    return passes.foreach_merge(spark, _CHANGELOG_SCHEMA, _merge_snapshot)(
        source_dir, snap_dir, checkpoint_dir
    )


def stream_cdc_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8, oracle-checked: continuous CDC apply run as two REAL
    availableNow passes — pass 1 delivers the inserts and first updates
    (seq <= 1), pass 2 the second updates and tombstones — then the final
    snapshot (minus tombstones, plus the per-key version count the batch
    operator reports) must hash-match the one-shot batch apply
    (q_cdc_upsert's oracle verbatim). Associativity of latest-wins is the
    property under test: batch boundaries must be invisible in the final
    state."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    changelog = spark.sql(f"WITH {_CHANGELOG} SELECT * FROM changelog")
    snap = passes.two_pass(
        spark, sf_dir, "t8_cdc_", changelog.filter("seq <= 1"),
        changelog.filter("seq >= 2"),
        lambda *dirs: cdc_apply_stream(spark, *dirs),
    )
    # versions per key come from the full changelog (the snapshot holds
    # only the surviving row); recompute declaratively like the batch op
    spark.read.parquet(snap).createOrReplaceTempView("snap")
    return spark.sql(
        f"""
        WITH {_CHANGELOG},
        nv AS (SELECT o_orderkey, CAST(count(*) AS BIGINT) AS n_versions
               FROM changelog GROUP BY o_orderkey)
        SELECT s.o_orderkey, s.o_custkey, s.o_orderstatus,
               CAST(s.cents AS DOUBLE) / 100.0 AS o_totalprice,
               s.o_orderpriority, nv.n_versions
        FROM snap s JOIN nv ON s.o_orderkey = nv.o_orderkey
        WHERE s.op <> 'D'
        """
    )


# ---------------------------------------------------------------------------
# Streaming top-k leaderboard — incremental view maintenance with the
# ADDITIVE merge algebra (stream_cdc above proves latest-wins; this one
# proves sum-mergeability, the algebra behind every continuously-
# maintained aggregate/leaderboard). Each foreachBatch folds the batch's
# per-user cent sums into a persistent totals snapshot (read → full-outer
# add → atomic rewrite; state O(#users), bounded by key cardinality, not
# stream length); the top-k itself is a per-read TakeOrdered over the
# snapshot — never maintained incrementally, because top-k alone is NOT
# mergeable (an evicted key can re-enter; the totals table is the
# mergeable carrier). Two REAL availableNow passes must reproduce the
# one-shot batch answer: associativity of + across arbitrary batch
# boundaries is the property under differential test.
# ---------------------------------------------------------------------------

_TOTALS_SCHEMA = "user_id bigint, total_cents bigint"
TOPK_N = 10


def _merge_totals(
    spark: SparkSession, batch_df: DataFrame, snap_dir: str, batch_id: int
) -> None:
    from pyspark.sql import functions as F

    # additive merges are NOT replay-idempotent (unlike latest-wins):
    # the per-batch fence is what makes at-least-once delivery safe here
    batch_totals = batch_df.groupBy("user_id").agg(
        F.sum("cents").cast("bigint").alias("total_cents")
    )
    passes.merge_snapshot(
        spark, snap_dir, batch_id, _TOTALS_SCHEMA,
        lambda current: passes.add_on_keys(
            current, batch_totals, ["user_id"], ["total_cents"]
        ).repartition(4, "user_id"),
    )


def stream_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T9, oracle-checked: two availableNow passes (events split on
    event_id parity) maintaining the totals snapshot; the final top-10
    must hash-match the one-shot batch leaderboard."""
    ev = table(spark, sf_dir, "events").selectExpr(
        "event_id", "user_id", "CAST(round(value * 100) AS BIGINT) AS cents"
    )
    snap = passes.two_pass(
        spark, sf_dir, "t9_topk_", ev.filter("event_id % 2 = 0"),
        ev.filter("event_id % 2 = 1"),
        passes.foreach_merge(
            spark, "event_id bigint, user_id bigint, cents bigint", _merge_totals
        ),
    )
    spark.read.parquet(snap).createOrReplaceTempView("totals_snap")
    return spark.sql(
        f"""
        SELECT user_id, total_cents FROM totals_snap
        ORDER BY total_cents DESC, user_id LIMIT {TOPK_N}
        """
    )


def stream_topk_oracle() -> str:
    return f"""
    WITH t AS (SELECT user_id,
                      CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                        AS total_cents
               FROM events GROUP BY user_id)
    SELECT user_id, total_cents FROM t
    ORDER BY total_cents DESC, user_id LIMIT {TOPK_N}
    """


# ---------------------------------------------------------------------------
# Streaming drift monitor — the incremental face of q_drift_psi: the
# (type, slice, bin) counts are mergeable partials (plain sums), so a
# stream maintains them per micro-batch with the SAME fenced additive
# snapshot merge as the leaderboard, and the PSI tail is re-derived per
# read over the O(types × bins) snapshot. Two REAL availableNow passes
# over parity-split events must hash-match the one-shot batch PSI —
# proving the drift monitor's numbers never depend on batch boundaries
# (the property an on-call engineer implicitly assumes when the alert
# fires). State is O(types × bins) regardless of stream length.
# ---------------------------------------------------------------------------

_PSI_COUNTS_SCHEMA = "event_type string, slice int, bin bigint, n bigint"


def _merge_psi_counts(
    spark: SparkSession, batch_df: DataFrame, snap_dir: str, batch_id: int
) -> None:
    from pyspark.sql import functions as F

    keys = ["event_type", "slice", "bin"]
    batch_counts = batch_df.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    passes.merge_snapshot(
        spark, snap_dir, batch_id, _PSI_COUNTS_SCHEMA,
        lambda current: passes.add_on_keys(
            current, batch_counts, keys, ["n"]
        ).repartition(2, "event_type"),
    )


def stream_drift_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T10, oracle-checked: two availableNow passes maintaining the PSI
    count snapshot; the PSI over the merged counts must hash-match the
    one-shot batch q_drift_psi."""
    from .behavior import _psi_sql

    ev = table(spark, sf_dir, "events").selectExpr(
        "event_id",
        "event_type",
        "CASE WHEN extract(day FROM ts) <= 15 THEN 0 ELSE 1 END AS slice",
        "CAST(greatest(least(floor(value / 50), 9), 0) AS BIGINT) AS bin",
    )
    snap = passes.two_pass(
        spark, sf_dir, "t10_drift_", ev.filter("event_id % 2 = 0"),
        ev.filter("event_id % 2 = 1"),
        passes.foreach_merge(
            spark, "event_id bigint, event_type string, slice int, bin bigint",
            _merge_psi_counts,
        ),
    )
    spark.read.parquet(snap).createOrReplaceTempView("psi_counts_snap")
    return spark.sql(
        "WITH "
        + _psi_sql("SELECT explode(sequence(0, 9)) AS bin", c="psi_counts_snap")
    )


# ---------------------------------------------------------------------------
# Streaming skyline — the third merge algebra (after latest-wins CDC and
# the additive leaderboard): DOMINANCE PRUNING. The 2-D skyline is a
# mergeable summary — skyline(A ∪ B) = skyline(skyline(A) ∪ B) because
# dominance is transitive, so a dominated point can never re-enter once
# a better point exists. Each micro-batch folds its distinct points into
# the frontier snapshot (counts add on surviving points; dominated
# points drop with their counts); two real availableNow passes must
# hash-match the one-shot batch q_skyline. State = the frontier itself —
# tiny by nature — making this the cheapest continuously-maintained
# summary in the engine.
# ---------------------------------------------------------------------------

_SKYLINE_SCHEMA = "cents bigint, day bigint, n_orders bigint"

_SKYLINE_FILTER = """
WITH w AS (SELECT cents, day, n_orders,
                  coalesce(min(day) OVER (ORDER BY cents, day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    9223372036854775807) AS prev_min
           FROM merged_pts)
SELECT cents, day, n_orders FROM w WHERE day < prev_min
"""


def _merge_skyline(
    spark: SparkSession, batch_df: DataFrame, snap_dir: str, batch_id: int
) -> None:
    from pyspark.sql import functions as F

    batch_pts = batch_df.groupBy("cents", "day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders")
    )

    def fold(current: DataFrame) -> DataFrame:
        passes.add_on_keys(
            current, batch_pts, ["cents", "day"], ["n_orders"]
        ).createOrReplaceTempView("merged_pts")
        # the frontier + one batch's distinct points is small; the direct
        # sort-scan here is the right local plan (the BATCH operator
        # q_skyline is where the distributed two-phase spelling lives)
        return spark.sql(_SKYLINE_FILTER).coalesce(1)

    passes.merge_snapshot(spark, snap_dir, batch_id, _SKYLINE_SCHEMA, fold)


def stream_skyline_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T11, oracle-checked: two availableNow passes maintaining the
    Pareto frontier; the final snapshot must hash-match the one-shot
    batch skyline (dominance-pruning mergeability under the gate)."""
    pts = table(spark, sf_dir, "orders").selectExpr(
        "o_orderkey",
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents",
        "CAST(datediff(CAST(o_orderdate AS DATE), DATE '1992-01-01') AS BIGINT) AS day",
    )
    snap = passes.two_pass(
        spark, sf_dir, "t11_sky_", pts.filter("o_orderkey % 2 = 0"),
        pts.filter("o_orderkey % 2 = 1"),
        passes.foreach_merge(
            spark, "o_orderkey bigint, cents bigint, day bigint", _merge_skyline
        ),
    )
    return spark.read.parquet(snap).select("cents", "day", "n_orders")


# ---------------------------------------------------------------------------
# Streaming interval coverage — the FOURTH merge algebra (latest-wins →
# additive → dominance-pruning → INTERVAL UNION): merged activity
# islands are determined solely by the covered point set, so
# islands(A ∪ B) = islands(islands(A) ∪ B) — each micro-batch unions
# its raw event intervals with the island snapshot and re-merges
# through the SAME _islands_sql core the batch operator uses. Union of
# point sets is also IDEMPOTENT, making this the only snapshot in the
# engine that is replay-safe even WITHOUT the batch-id fence (the fence
# stays on anyway, for the write-skip). State is O(islands) per user —
# bounded by activity pattern, not stream length. Two real availableNow
# passes over parity-split events must hash-match the one-shot batch
# q_interval_coverage.
# ---------------------------------------------------------------------------

_COVERAGE_SCHEMA = "user_id bigint, island_s bigint, island_e bigint"


def _merge_coverage(
    spark: SparkSession, batch_df: DataFrame, snap_dir: str, batch_id: int
) -> None:
    from .behavior import _islands_sql

    def fold(current: DataFrame) -> DataFrame:
        current.selectExpr(
            "user_id", "island_s AS s", "island_e AS e"
        ).unionByName(batch_df.select("user_id", "s", "e")).createOrReplaceTempView(
            "merged_iv"
        )
        return spark.sql(
            "WITH "
            + _islands_sql("merged_iv")
            + " SELECT user_id, island_s, island_e FROM spans"
        ).repartition(2, "user_id")

    passes.merge_snapshot(spark, snap_dir, batch_id, _COVERAGE_SCHEMA, fold)


def stream_coverage_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T12, oracle-checked: two availableNow passes maintaining the
    per-user island snapshot; the rollup over the merged islands must
    hash-match the one-shot batch q_interval_coverage."""
    from ..tables import EPOCH_NTZ
    from .behavior import COVERAGE_WINDOW_S

    span = COVERAGE_WINDOW_S * 1_000_000
    iv = table(spark, sf_dir, "events").selectExpr(
        "event_id",
        "user_id",
        f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts) AS s",
        f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts) + {span} AS e",
    )
    snap = passes.two_pass(
        spark, sf_dir, "t12_cov_", iv.filter("event_id % 2 = 0"),
        iv.filter("event_id % 2 = 1"),
        passes.foreach_merge(
            spark, "event_id bigint, user_id bigint, s bigint, e bigint",
            _merge_coverage,
        ),
    )
    spark.read.parquet(snap).createOrReplaceTempView("spans")
    from .behavior import _coverage_rollup_sql

    return spark.sql(_coverage_rollup_sql("div"))


# ---------------------------------------------------------------------------
# Streaming MinHash dedup — the incremental band-index pattern
# (dedup.minhash_incremental) as a REAL streaming operator, and the
# engine's strongest batch-boundary-invisibility claim: each micro-batch
# sketches ONLY its own documents, band-joins them against the stored
# index snapshot (plus itself), emits the verified near-dup pairs, then
# appends its sketches to the index. A pair (a, b) is emitted exactly
# once — by whichever batch its later-arriving doc lands in (same batch:
# the batch self-join; later batch: the batch-vs-index probe) — so the
# ACCUMULATED pair set over any partition of the corpus into batches
# must hash-match the one-shot batch q_minhash_neardup. That equality is
# checked through the differential gate against the q_minhash_neardup
# oracle VERBATIM. State = the sketch + shingle-hash index (8 minhash
# BIGINTs + O(tokens) shingle ints per doc — ~10-100x smaller than the
# corpus text it replaces; storing the shingles is what lets the verify
# run without ever re-reading a document). Per-batch cost is genuinely
# incremental: the index is APPEND-ONLY (each batch adds its own
# sketches — no snapshot rewrite), and the verify join's sketch sides
# are restricted to the candidate doc ids first via a BROADCAST
# semi-join, so the wide shingle arrays shuffled per batch are bounded
# by band collisions, not index size (r10: the restriction used to be a
# SHUFFLE_HASH semi-join below a whole-index doc_id dedup, which still
# shuffled every index row per batch). Pair emission is append-only
# with a distinct on read, so at-least-once replay of a batch is
# harmless; the batch-id fence skips exact same-batch replays. A
# cross-restart re-delivery of a doc leaves a duplicate sketch row in
# the append-only index, which is read RAW (no whole-index dedup): the
# duplicate's band rows collapse in the candidate DISTINCT, and the
# doc_id dedup runs only on the candidate-restricted verify survivors,
# where any winner among identical rows is correct.
# ---------------------------------------------------------------------------


#: broadcast ceiling for the per-batch candidate PAIR frame (ADVICE r10
#: #2): below it the verify restriction and probe broadcast (two BIGINTs
#: per pair — 2M pairs ≈ 32 MB framed, far under the 8 GB relation cap);
#: at or above it a pathological hot band degrades gracefully to the
#: r10 shuffle-hash shape instead of pulling an unbounded list through
#: the driver. The count is free: it runs over the just-materialized
#: candidate blocks.
_MERGE_BROADCAST_CAP = 2_000_000


def _merge_minhash(
    spark: SparkSession, batch_df: DataFrame, base_dir: str, batch_id: int
) -> None:
    import os

    from pyspark.sql import functions as F

    from ..functions import text as T
    from .dedup import JAC_THRESHOLD, _sketch_frames, band_explode

    snap = os.path.join(base_dir, "index")
    pairs_dir = os.path.join(base_dir, "pairs")
    if passes.applied(snap, batch_id):
        return
    sig_schema = (
        "doc_id bigint, sh array<bigint>, n_sh int, "
        + ", ".join(f"m{s} bigint" for s in range(T.N_HASHES))
    )
    # fixed scope: each batch's checkpoint frees the previous batch's
    # generation (checkpoints.py contract — the prior sketch is dead
    # once its pairs and index rows are persisted below)
    batch_sig, batch_bands = _sketch_frames(
        batch_df.select("doc_id", "text"), [], [], "strmh",
        narrow_checkpoint=False,
    )
    # RAW index read — dedup is deferred until after the candidate
    # restriction below. The old spelling dropDuplicates(["doc_id"])-ed
    # here, which physically shuffled the ENTIRE index — wide shingle
    # arrays included — once per batch (the Deduplicate exchange keys on
    # doc_id and carries every column), i.e. O(index) per batch, the
    # exact cost this operator's contract says it avoids. A
    # cross-restart duplicate sketch row is identical by construction,
    # so: its band rows are identical (absorbed by the candidate
    # DISTINCT), and any winner is correct wherever a dedup does run.
    index_sig = passes.read_snapshot(spark, snap, sig_schema)
    # the index probe goes through the SAME band_explode as the batch
    # side — one copy of the band layout, so a band-count change can
    # never desync the probe from the stored index; only the narrow
    # (doc_id, m0..m7) columns are read for it (parquet column pruning)
    index_bands = band_explode(
        index_sig.select("doc_id", *[f"m{s}" for s in range(T.N_HASHES)])
    )
    # batch on the probe side; the build side is index ∪ batch, so
    # same-batch pairs and batch-vs-index pairs come out of ONE join
    a = batch_bands.alias("a")
    b = index_bands.unionByName(batch_bands).alias("b")
    cands = (
        a.hint("shuffle_hash")
        .join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    # r11: the candidate pair frame is MATERIALIZED once (scoped
    # localCheckpoint). The band join fed THREE plan references (both
    # cand_ids branches + the verify probe), each re-planned per batch;
    # materializing it collapses them into cached-block scans, makes the
    # two candidate broadcasts below build from local blocks, and makes
    # the ADVICE r10 size guard free: one count over materialized blocks
    # decides broadcast vs shuffle, so a pathological hot band can never
    # pull an unbounded id list through the driver (the old spelling
    # broadcast unconditionally).
    from ..checkpoints import scoped_checkpoint

    cands = scoped_checkpoint(cands, "strmh_cands")
    small = cands.count() <= _MERGE_BROADCAST_CAP
    # verify sides restricted to candidate docs BEFORE the wide shingle
    # arrays shuffle — the restriction is a BROADCAST semi-join (guide
    # §3.1: broadcast the bounded side instead of shuffling the big
    # one): the candidate id list is bounded by band collisions, not
    # index size (the old SHUFFLE_HASH semi-joins moved every index row,
    # wide sh arrays included, through a doc_id exchange per batch). The
    # doc_id dedup (cross-restart re-delivery: identical rows, any
    # winner) runs on the restricted survivors only — O(candidates).
    # cand_ids via ONE explode projection (r11) instead of a 2-branch
    # union — half the scans of the candidate frame; no DISTINCT: the
    # broadcast hash relation dedups its build side inherently.
    cand_ids = cands.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    )
    if small:
        cand_ids = F.broadcast(cand_ids)
    sketches = index_sig.unionByName(batch_sig.select(index_sig.columns))
    restricted = (
        sketches.join(cand_ids, "doc_id", "left_semi")
        .dropDuplicates(["doc_id"])
    )
    x = restricted.selectExpr("doc_id AS doc_a", "sh AS sh_a", "n_sh AS na")
    y = restricted.selectExpr("doc_id AS doc_b", "sh AS sh_b", "n_sh AS nb")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter.cast("double") / (F.col("na") + F.col("nb") - inter)
    # r11 (measured /tmp A/B, quiet windows): the verify probe
    # BROADCASTS the materialized candidate pairs into both sketch-side
    # joins — the restricted sketch frames stream through two
    # BroadcastHashJoins with no exchange at all (the old SHUFFLE_HASH
    # spelling shuffled cands + both restricted sides by doc id per
    # batch). Merge wall 2.29/1.76 s -> 1.86/1.35 s per batch pair.
    # Above the cap every broadcast degrades to the old shuffle shape.
    if small:
        pair_sets = F.broadcast(cands).join(x, "doc_a").join(y, "doc_b")
    else:
        pair_sets = (
            cands.hint("shuffle_hash")
            .join(x, "doc_a")
            .hint("shuffle_hash")
            .join(y, "doc_b")
        )
    verified = (
        pair_sets.withColumn("jac", jac)
        .filter(F.col("jac") >= JAC_THRESHOLD)
        .select("doc_a", "doc_b", F.round("jac", 4).alias("jaccard"))
    )
    # APPEND-ONLY index: the batch writes only its own sketches — never
    # a rewrite of the accumulated snapshot (O(batch), not O(corpus));
    # the batch marker makes the append idempotent under same-batch-id
    # replay. Underscore-prefixed marker files are invisible to the
    # parquet reader. coalesce(8) bounds the files-per-append: the
    # sketch frame carries the builder's 64-way repartition, and 64 tiny
    # files per batch is the small-files growth mode (guide §6) — the
    # snapshot would hold batches×64 files; batch_sig is already
    # materialized (localCheckpoint), so the coalesce is a narrow block
    # concat, not a parallelism loss in the sketch compute. A production
    # deployment sizes this by bytes (maxRecordsPerFile / target file
    # size); 8 keeps gate-scale appends one-file-per-core-group.
    #
    # r11 (guide §2.6 "overlap independent jobs"): the pair write and
    # the index append are independent once the candidate frame and the
    # batch sketches are materialized (both above), so they run as two
    # concurrent jobs from a 2-thread pool — the append's 8 tasks
    # back-fill executors the verify plan's tail leaves idle. Ordering
    # stays correct: the _applied marker lands only after BOTH jobs
    # return (a crash mid-merge replays the batch, exactly as before).
    # Pool threads get no Spark local properties of their own (pinned
    # thread mode), so each submission inherits the caller's job group
    # and tags: cancelling the micro-batch's group must reach both jobs.
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    index_rows = batch_sig.select(index_sig.columns).coalesce(8)
    with ThreadPoolExecutor(max_workers=2) as pool:
        f1 = pool.submit(inheritable_thread_target(spark)(
            lambda: verified.write.mode("append").parquet(pairs_dir)
        ))
        f2 = pool.submit(inheritable_thread_target(spark)(
            lambda: index_rows.write.mode("append").parquet(snap)
        ))
        f1.result()
        f2.result()
    passes.mark_applied(snap, batch_id)
    from ..checkpoints import release_scope

    release_scope(spark, "strmh_sig")
    release_scope(spark, "strmh_cands")


def stream_minhash_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T13, oracle-checked: two availableNow passes of continuous MinHash
    dedup over the parity-split corpus; the accumulated pair set must
    hash-match the one-shot batch q_minhash_neardup (checked against its
    oracle verbatim)."""
    import os

    from ..sources.corpus import doc_corpus

    corpus = doc_corpus(spark, sf_dir).select("doc_id", "text")
    base = passes.two_pass(
        spark, sf_dir, "t13_mh_", corpus.filter("doc_id % 2 = 0"),
        corpus.filter("doc_id % 2 = 1"),
        passes.foreach_merge(spark, "doc_id bigint, text string", _merge_minhash),
    )
    return (
        spark.read.parquet(os.path.join(base, "pairs"))
        .dropDuplicates(["doc_a", "doc_b"])
        .select("doc_a", "doc_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# Streaming sessionization — the capstone of the interval-union algebra:
# SESSIONS ARE MERGEABLE. A gap-G session split over points is exactly
# interval-union islanding of the points widened to [t, t+G] (touching
# merge ⟺ gap <= G), and islands are determined solely by the covered
# point set — so the snapshot stores per-user session SPANS
# (island_s, island_e, n_events) and each micro-batch unions its
# widened points in and re-islands, summing n_events per island
# (additive under merge: a bridging point can fuse two sessions, and
# their event counts add). Session ordinals are re-derived at read
# (row_number over island_s per user) because numbering is not
# mergeable — the same top-k-vs-totals split as the leaderboard. Two
# real availableNow passes over parity-split events must hash-match
# the one-shot batch q_sessionize. State = O(sessions) per user.
#
# Delivery contract (ADVICE r3, documented deliberately): the span
# GEOMETRY (s, e — hence session boundaries, ordinals, durations) is
# fully idempotent — re-unioning an already-covered widened point
# changes nothing. The additive n_events counter is exactly-once only:
# same-batch-id replay is absorbed by the _applied marker, and
# duplicate rows within one delivery are dropped by event_id below, but
# a cross-restart RE-delivery under a NEW batch id would double-count n
# (unlike _merge_minhash, which dedups by doc_id, and stream_coverage,
# which is idempotent outright). Carrying event identity in the
# snapshot to close that window would turn O(sessions) state into
# O(events) — the exact blow-up span compression exists to avoid; a
# deployment needing at-least-once-safe counts should source from an
# exactly-once log (the file source + checkpoint used here IS one).
# ---------------------------------------------------------------------------

_SESSION_SPANS_SCHEMA = "user_id bigint, s bigint, e bigint, n bigint"

_SESSION_MERGE = """
flagged AS (SELECT user_id, s, e, n,
                   CASE WHEN s <= coalesce(max(e) OVER (
                            PARTITION BY user_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING),
                          CAST(-9000000000000000000 AS BIGINT))
                        THEN 0 ELSE 1 END AS is_start
            FROM merged_spans),
islands AS (SELECT user_id, s, e, n,
                   sum(is_start) OVER (PARTITION BY user_id
                                       ORDER BY s, e
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                                AND CURRENT ROW) AS island
            FROM flagged)
SELECT user_id, min(s) AS s, max(e) AS e,
       CAST(sum(n) AS BIGINT) AS n
FROM islands GROUP BY user_id, island
"""


def _merge_sessions(
    spark: SparkSession, batch_df: DataFrame, snap_dir: str, batch_id: int
) -> None:
    from pyspark.sql import functions as F

    from .behavior import SESSION_GAP_S

    gap = SESSION_GAP_S * 1_000_000
    if "event_id" in batch_df.columns:  # in-delivery duplicate guard
        batch_df = batch_df.dropDuplicates(["event_id"])
    batch_spans = batch_df.select(
        "user_id",
        F.col("t").alias("s"),
        (F.col("t") + gap).alias("e"),
        F.lit(1).cast("bigint").alias("n"),
    )

    def fold(current: DataFrame) -> DataFrame:
        current.unionByName(batch_spans).createOrReplaceTempView("merged_spans")
        return spark.sql("WITH " + _SESSION_MERGE).repartition(2, "user_id")

    passes.merge_snapshot(spark, snap_dir, batch_id, _SESSION_SPANS_SCHEMA, fold)


def stream_sessionize_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T14, oracle-checked: two availableNow passes maintaining per-user
    session spans; ordinals + durations re-derived from the snapshot
    must hash-match the one-shot batch q_sessionize."""
    from ..tables import EPOCH_NTZ
    from .behavior import SESSION_GAP_S

    ev = table(spark, sf_dir, "events").selectExpr(
        "event_id",
        "user_id",
        f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, ts) AS t",
    )
    snap = passes.two_pass(
        spark, sf_dir, "t14_sess_", ev.filter("event_id % 2 = 0"),
        ev.filter("event_id % 2 = 1"),
        passes.foreach_merge(
            spark, "event_id bigint, user_id bigint, t bigint", _merge_sessions
        ),
    )
    gap = SESSION_GAP_S * 1_000_000
    spark.read.parquet(snap).createOrReplaceTempView("session_spans")
    # ordinal + duration re-derived at read: e carries the +gap widening,
    # so the true last-event time is e - gap
    return spark.sql(
        f"""
        SELECT user_id,
               CAST(row_number() OVER (PARTITION BY user_id ORDER BY s)
                    AS BIGINT) AS session_no,
               n AS n_events,
               CAST((e - {gap}) - s AS BIGINT) div 1000000 AS duration_secs
        FROM session_spans
        """
    )


# ---------------------------------------------------------------------------
# Streaming extrema — the fifth merge algebra: the BOUNDED-SEMILATTICE
# fold. After latest-wins (CDC), additive counts (leaderboard/drift),
# dominance pruning (skyline), and interval union (coverage/sessions),
# this demonstrates the min/max lattice: extrema are mergeable because
# min/max are associative, commutative AND idempotent — a re-delivered
# batch cannot corrupt them even without the batch-id fence (the fence
# still guards the additive n/sum columns riding along). State is
# O(#event-types): per type the running min/max/count/sum of the cents
# metric — the continuously-maintained "metric envelope" a monitoring
# panel reads without ever scanning history. Two REAL availableNow
# passes over parity-split events must hash-match the one-shot batch
# envelope.
# ---------------------------------------------------------------------------

_EXTREMA_SCHEMA = (
    "event_type string, mn bigint, mx bigint, n bigint, total bigint"
)


def _merge_extrema(
    spark: SparkSession, batch_df: DataFrame, snap_dir: str, batch_id: int
) -> None:
    from pyspark.sql import functions as F

    batch = batch_df.groupBy("event_type").agg(
        F.min("cents").cast("bigint").alias("mn"),
        F.max("cents").cast("bigint").alias("mx"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("total"),
    )

    def fold(current: DataFrame) -> DataFrame:
        return (
            current.select(
                "event_type",
                F.col("mn").alias("p_mn"), F.col("mx").alias("p_mx"),
                F.col("n").alias("p_n"), F.col("total").alias("p_total"),
            )
            .join(batch, ["event_type"], "full_outer")
            .select(
                "event_type",
                F.least(F.col("p_mn"), F.col("mn")).alias("raw_mn"),
                F.greatest(F.col("p_mx"), F.col("mx")).alias("raw_mx"),
                (F.coalesce(F.col("p_n"), F.lit(0))
                 + F.coalesce(F.col("n"), F.lit(0))).cast("bigint").alias("n"),
                (F.coalesce(F.col("p_total"), F.lit(0))
                 + F.coalesce(F.col("total"), F.lit(0))).cast("bigint")
                .alias("total"),
            )
            # least/greatest skip NULLs in Spark only when the other side is
            # non-NULL — a type absent from one side carries through intact
            .selectExpr(
                "event_type",
                "CAST(raw_mn AS BIGINT) AS mn",
                "CAST(raw_mx AS BIGINT) AS mx",
                "n", "total",
            )
            .repartition(2, "event_type")
        )

    passes.merge_snapshot(spark, snap_dir, batch_id, _EXTREMA_SCHEMA, fold)


def stream_extrema_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T15, oracle-checked: two availableNow passes maintaining the
    per-type metric envelope; must hash-match the one-shot batch."""
    ev = table(spark, sf_dir, "events").selectExpr(
        "event_id", "event_type", "CAST(round(value * 100) AS BIGINT) AS cents"
    )
    snap = passes.two_pass(
        spark, sf_dir, "t15_extrema_", ev.filter("event_id % 2 = 0"),
        ev.filter("event_id % 2 = 1"),
        passes.foreach_merge(
            spark, "event_id bigint, event_type string, cents bigint",
            _merge_extrema,
        ),
    )
    spark.read.parquet(snap).createOrReplaceTempView("extrema_snap")
    return spark.sql(
        "SELECT event_type, mn AS min_cents, mx AS max_cents, n, total "
        "FROM extrema_snap"
    )


def stream_extrema_oracle() -> str:
    return """
    SELECT event_type,
           CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS min_cents,
           CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS max_cents,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total
    FROM events GROUP BY event_type
    """
