"""Embedding clustering + semantic dedup (SURVEY §2.11 ext).

- ``kmeans_embed``    — deterministic Lloyd k-means over the embedding
  corpus: K centroids (16) initialized from the first K vectors (by
  vec_id), two full assign→recompute iterations, all in declarative SQL.
  The per-iteration shape is the one that scales: the K-row centroid
  frame broadcasts (it is O(K·dim) bytes regardless of corpus size), the
  assignment is a narrow argmin over that broadcast, and the centroid
  update is one map-side-combinable aggregation on (cluster, dim) —
  shuffle volume O(K·dim), not O(rows). A production run loops more
  iterations (driver loop, same plan per round — the dedup_clusters
  fixpoint pattern); the fixed 2-iteration unroll keeps the whole thing
  a single differentially-checkable query.
- ``semantic_dedup``  — SemDeDup ("SemDeDup: Data-efficient learning at
  web-scale through semantic deduplication", Abbas et al. 2023) shape:
  k-means-cluster the corpus, then drop any vector whose cosine to a
  lower-id member of the SAME cluster exceeds τ — the within-cluster
  ε-ball prune that removes semantic (not just textual) duplicates from
  training corpora. Blocking by cluster caps the pair join: cost is
  Σ|cluster|², controlled by K (at 100 TB you raise K so clusters stay
  ~10³-10⁴ vectors; the paper uses K=11k over 1.3e9 embeddings). The
  pair join is hinted SHUFFLE_HASH on the cluster id — both sides scale
  with the corpus, so broadcasting either is a scale bug (the minhash
  lesson, tests/test_plans.py).

Float discipline: centroid means and distances are rounded to 6 dp in
BOTH dialects before any comparison, so parallel-vs-serial summation ulp
noise cannot flip an argmin; assignment ties break by cluster id. The
sign-LSH hyperplanes trick (functions/vectors.py) is not needed here —
init centroids are data vectors, exact in both engines.

Reference parity: ABSENT — /root/reference has no vector/ML surface of
any kind; north-star addition per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.corpus import EMB_CORPUS_DUCK, EMB_CORPUS_SPARK
from ..streaming import passes
from ..tables import table

K = 16
DIM = 64
ITERS = 2
SEM_TAU = 0.98


def _dot(a: str, b: str, duck: bool) -> str:
    if duck:
        return f"list_sum(list_transform(range(1, {DIM + 1}), i -> {a}[i] * {b}[i]))"
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _norm2(a: str, duck: bool) -> str:
    if duck:
        return f"list_sum(list_transform({a}, x -> x * x))"
    return (
        f"aggregate(transform({a}, x -> x * x), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _assign(src: str, cents: str, duck: bool) -> str:
    """argmin squared distance: |c|² - 2·v·c (|v|² is constant per row).

    r10 measured non-change (guide §1.1 — empirical beats
    first-principles): a rewrite of the Spark side to unrolled 64-term
    dot products plus a `min_by(c, struct(dist, c))` partial-agg argmin
    (shuffle rows instead of rows×K) was built, gate-checked
    hash-identical, and A/B-measured against this spelling with
    interleaved fresh-JVM rounds: q_semantic_dedup read 5.1–5.8 s wall /
    ~3.8 s CPU per run with the rewrite vs 3.4–3.7 s wall / ~3.1 s CPU
    here (steal < 0.4% windows). With K=16 the rows×K window never
    dominates at this K, while the 16×64-term codegen'd distance
    projection costs more CPU than the interpreted fold it replaced, so
    the rewrite was reverted. At a K where rows×K shuffle bytes matter
    (SemDeDup's K≈11k), the min_by spelling is the one to re-try."""
    d = f"round({_norm2('c.ce', duck)} - 2 * {_dot('v.e', 'c.ce', duck)}, 6)"
    return f"""(
      SELECT vec_id, e, c FROM (
        SELECT v.vec_id, v.e, c.c,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY {d}, c.c) AS rn
        FROM {src} v CROSS JOIN {cents} c) t
      WHERE rn = 1)"""


def _recompute(assign: str, duck: bool) -> str:
    """Per-cluster mean vector, dimension-parallel, rounded to 6 dp."""
    if duck:
        dim = f"""(
          SELECT c, i - 1 AS pos, round(avg(v), 6) AS m FROM (
            SELECT c, i, e[i] AS v FROM {assign} a
            CROSS JOIN range(1, {DIM + 1}) t(i)) x
          GROUP BY c, pos)"""
        return f"(SELECT c, list(m ORDER BY pos) AS ce FROM {dim} d GROUP BY c)"
    dim = f"""(
      SELECT c, pos, round(avg(v), 6) AS m
      FROM {assign} a LATERAL VIEW posexplode(e) t AS pos, v
      GROUP BY c, pos)"""
    return (
        f"(SELECT c, transform(array_sort(collect_list(struct(pos, m))), "
        f"s -> s.m) AS ce FROM {dim} d GROUP BY c)"
    )


def _kmeans_chain(duck: bool) -> str:
    """CTE chain embc → cents0 → (a1, cents1) → … → (aN, centsN)."""
    parts = [
        f"cents0 AS (SELECT CAST(vec_id AS INT) AS c, e AS ce "
        f"FROM embc WHERE vec_id < {K})"
    ]
    for i in range(1, ITERS + 1):
        parts.append(f"a{i} AS {_assign('embc', f'cents{i - 1}', duck)}")
        parts.append(f"cents{i} AS {_recompute(f'a{i}', duck)}")
    return ",\n".join(parts)


def _kmeans_sql(embc: str, duck: bool) -> str:
    return f"""
    WITH embc AS ({embc}),
    {_kmeans_chain(duck)},
    sizes AS (SELECT c, CAST(count(*) AS BIGINT) AS n_members,
                     CAST(min(vec_id) AS BIGINT) AS min_vec_id
              FROM a{ITERS} GROUP BY c)
    SELECT s.c AS cluster_id, s.n_members, s.min_vec_id,
           round(sqrt({_norm2('ce', duck)}), 6) AS centroid_norm
    FROM sizes s JOIN cents{ITERS} f ON s.c = f.c
    """


_EMB_PLAIN_SPARK = (
    "SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS e FROM embeddings"
)
_EMB_PLAIN_DUCK = (
    "SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e "
    "FROM embeddings"
)


def kmeans_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings")
    return spark.sql(_kmeans_sql(_EMB_PLAIN_SPARK, duck=False))


def kmeans_embed_oracle() -> str:
    return _kmeans_sql(_EMB_PLAIN_DUCK, duck=True)


# ---------------------------------------------------------------------------
# SemDeDup — within-cluster cosine prune over the injected-duplicate
# corpus (sources/corpus.py plants vec_id % 25 == 0 → +1e6 twins at
# cosine ≈ 0.999). Output: each dropped vector with its surviving keeper.
# ---------------------------------------------------------------------------


def _sem_pairs_sql(assigned: str, duck: bool, hint: str) -> str:
    cos = (
        f"({_dot('a.e', 'b.e', duck)}) / "
        f"(sqrt({_norm2('a.e', duck)}) * sqrt({_norm2('b.e', duck)}))"
    )
    return f"""
    pairs AS (
      SELECT {hint} a.vec_id AS dup_id, b.vec_id AS keep_id, a.c,
             round({cos}, 6) AS cos_sim
      FROM {assigned} a JOIN {assigned} b
        ON a.c = b.c AND b.vec_id < a.vec_id
      WHERE round({cos}, 6) >= {SEM_TAU}),
    best AS (
      SELECT *, row_number() OVER (PARTITION BY dup_id
                                   ORDER BY cos_sim DESC, keep_id) AS rn
      FROM pairs)
    SELECT dup_id, keep_id, c AS cluster_id, cos_sim
    FROM best WHERE rn = 1
    """


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..checkpoints import scoped_checkpoint

    table(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings")
    # Stage the trained assignment ONCE: the pair join references it on
    # both sides, and an inline CTE would recompute the whole k-means
    # chain per reference (measured 8.6 s → ~2 s at sf0.1). This is the
    # minhash staging lesson: a frame consumed twice downstream of an
    # iterative build gets materialized (localCheckpoint here; a durable
    # staging table on a cluster — same plan shape either way).
    # Per-vector norms are hoisted into the staged frame (one fold per
    # vector, not one per PAIR side — the knn_batch pattern): same fold
    # order and sqrt placement as the oracle's inline spelling, so the
    # rounded cosines are bit-identical while the pair stage drops from
    # three 64-wide folds per pair to one.
    assigned = scoped_checkpoint(
        spark.sql(
            f"""
            WITH embc AS (SELECT vec_id, e FROM ({EMB_CORPUS_SPARK}) raw),
            {_kmeans_chain(duck=False)}
            SELECT vec_id, e, c, sqrt({_norm2('e', duck=False)}) AS nrm
            FROM a{ITERS}
            """
        ),
        "semdedup_assigned",
    )
    assigned.createOrReplaceTempView("sem_assigned")
    cos = f"({_dot('a.e', 'b.e', duck=False)}) / (a.nrm * b.nrm)"
    return spark.sql(
        f"""
        WITH pairs AS (
          SELECT /*+ SHUFFLE_HASH(a, b) */ a.vec_id AS dup_id,
                 b.vec_id AS keep_id, a.c, round({cos}, 6) AS cos_sim
          FROM sem_assigned a JOIN sem_assigned b
            ON a.c = b.c AND b.vec_id < a.vec_id
          WHERE round({cos}, 6) >= {SEM_TAU}),
        best AS (
          SELECT *, row_number() OVER (PARTITION BY dup_id
                                       ORDER BY cos_sim DESC, keep_id) AS rn
          FROM pairs)
        SELECT dup_id, keep_id, c AS cluster_id, cos_sim
        FROM best WHERE rn = 1
        """
    )


def semantic_dedup_oracle() -> str:
    return f"""
    WITH embc AS (SELECT vec_id, e FROM ({EMB_CORPUS_DUCK}) raw),
    {_kmeans_chain(duck=True)},
    {_sem_pairs_sql(f'a{ITERS}', duck=True, hint='')}
    """


# ---------------------------------------------------------------------------
# kmeans_loop — the production iteration pattern for N37: a driver-side
# Lloyd fixpoint loop (the dedup_clusters recipe applied to centroids).
# Each round is the SAME plan the registered 2-iteration query pins —
# K-row centroid broadcast, narrow argmin, O(K·dim) partial-agg update —
# re-submitted until the rounded centroids stop moving, with
# scoped_checkpoint truncating lineage per round (without it round k
# replays all k-1 predecessors) and convergence counted distributively
# (a K-row join, no label collect). Not a registered query: the round
# count is data-dependent, so there is no fixed SQL oracle — the
# registered q_kmeans_embed is the differential gate for the per-round
# arithmetic, and tests/test_llm_ops.py pins the loop contract
# (terminates, is a fixpoint, partitions the corpus).
# ---------------------------------------------------------------------------


def kmeans_loop(
    spark: SparkSession, sf_dir: str, max_rounds: int = 25
) -> tuple[DataFrame, int]:
    """Run Lloyd to convergence; returns (assignment frame, rounds run)."""
    from ..checkpoints import release_scope, scoped_checkpoint

    table(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings")
    embc = scoped_checkpoint(spark.sql(_EMB_PLAIN_SPARK), "kmeans_loop_embc")
    embc.createOrReplaceTempView("loop_embc")
    cents = spark.sql(
        f"SELECT CAST(vec_id AS INT) AS c, e AS ce FROM loop_embc "
        f"WHERE vec_id < {K}"
    )
    rounds = 0
    for rounds in range(1, max_rounds + 1):
        cents.createOrReplaceTempView("loop_cents")
        assigned = spark.sql(
            f"SELECT * FROM {_assign('loop_embc', 'loop_cents', duck=False)} t"
        )
        assigned.createOrReplaceTempView("loop_assigned")
        # alternating scopes: the convergence join still reads round k-1's
        # frame after round k lands, so a single scope would free blocks
        # that are still in use (scoped_checkpoint contract)
        new_cents = scoped_checkpoint(
            spark.sql(
                f"SELECT * FROM {_recompute('loop_assigned', duck=False)} t"
            ),
            f"kmeans_loop_cents_{rounds % 2}",
        )
        # distributed convergence test: rounded centroids identical?
        moved = (
            new_cents.alias("n")
            .join(cents.alias("o"), "c", "full_outer")
            .where("o.ce IS NULL OR n.ce IS NULL OR NOT (n.ce = o.ce)")
            .count()
        )
        cents = new_cents
        if moved == 0:
            break
    cents.createOrReplaceTempView("loop_cents")
    final = spark.sql(
        f"SELECT * FROM {_assign('loop_embc', 'loop_cents', duck=False)} t"
    )
    final = final.localCheckpoint()  # detach from the scoped frames
    release_scope(spark, "kmeans_loop_embc")
    release_scope(spark, "kmeans_loop_cents_0")
    release_scope(spark, "kmeans_loop_cents_1")
    return final, rounds


# ---------------------------------------------------------------------------
# Silhouette audit — the clustering-quality number that decides whether
# kmeans_embed's K was right before SemDeDup trusts its blocks: per
# cluster, the mean SIMPLIFIED silhouette (centroid-based: a(i) = distance
# to own centroid, b(i) = distance to the nearest OTHER centroid,
# s(i) = (b − a) / max(a, b) — the O(N·K) variant used at scale instead
# of the O(N²) pairwise original, e.g. Pampalk et al.'s simplified
# silhouette; identical ranking behavior for compact clusters).
#
# Plan: reuses the exact _kmeans_chain CTEs (same broadcastable K-row
# centroid frames), then ONE corpus × K cross join scores every
# (vector, centroid) distance — the same shape as the assignment step —
# followed by a vec_id-grain conditional-min fold and a K-key groupBy.
# Nothing new shuffles: the only corpus-scaled exchange is the final
# O(K)-group aggregation's partial combine.
#
# Float discipline: distances rounded to 6 dp (the chain's own
# convention) so own/other argmins agree across engines; per-vector
# silhouettes are converted to exact integer MICRO-UNITS and summed as
# BIGINT, so the per-cluster mean never depends on float summation order
# (parallel Spark vs serial DuckDB).
# ---------------------------------------------------------------------------


def _silhouette_sql(embc: str, duck: bool) -> str:
    vn = _norm2("v.e", duck)
    cn = _norm2("c.ce", duck)
    dt = _dot("v.e", "c.ce", duck)
    return f"""
    WITH embc AS ({embc}),
    {_kmeans_chain(duck)},
    d AS (
      SELECT v.vec_id, v.c AS own, c.c,
             round(sqrt(greatest({vn} - 2 * {dt} + {cn}, 0)), 6) AS dist
      FROM a{ITERS} v CROSS JOIN cents{ITERS} c),
    ab AS (
      SELECT vec_id, own,
             min(CASE WHEN c = own THEN dist END) AS a_dist,
             min(CASE WHEN c <> own THEN dist END) AS b_dist
      FROM d GROUP BY vec_id, own),
    s AS (
      SELECT vec_id, own,
             CAST(round(CASE WHEN greatest(a_dist, b_dist) = 0 THEN 0
                         ELSE (b_dist - a_dist) / greatest(a_dist, b_dist)
                         END * 1000000) AS BIGINT) AS sil_u
      FROM ab)
    SELECT own AS cluster_id, CAST(count(*) AS BIGINT) AS n_members,
           round(sum(sil_u) / count(*) / 1000000.0e0, 6) AS avg_silhouette,
           round(min(sil_u) / 1000000.0e0, 6) AS min_silhouette
    FROM s GROUP BY own
    """


def silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N86: per-cluster simplified-silhouette audit of kmeans_embed."""
    table(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings")
    return spark.sql(_silhouette_sql(_EMB_PLAIN_SPARK, duck=False))


def silhouette_oracle() -> str:
    return _silhouette_sql(_EMB_PLAIN_DUCK, duck=True)


# ---------------------------------------------------------------------------
# Streaming k-means — mini-batch sufficient statistics under a FROZEN
# quantizer, adding the missing algebra class to the streaming-index
# family: stream_ann's carrier is row-local CODES (no cross-row state at
# all), stream_topk/skyline merge ADDITIVE SCALARS, stream_minhash
# appends an INDEX — this one merges ADDITIVE INTEGER VECTOR SUMS.
# Each micro-batch assigns its vectors to the nearest frozen centroid
# (row-local argmin against the K-row quantizer artifact, broadcast)
# and emits per-(cluster, dim) partials (count, Σ component·10⁶ as
# BIGINT). Addition of integers is exactly associative, so snapshot
# merge order, batch boundaries, and partition scheduling are all
# invisible — which is precisely what the differential gate proves by
# hash-matching the accumulated stream against a ONE-SHOT assignment of
# the whole corpus in DuckDB.
#
# What deliberately does NOT stream: centroid (re)training. A Lloyd
# iteration re-assigns the accumulated corpus under MOVED centroids —
# a full-pass rebuild, the same freeze/recompact contrast documented on
# stream_ann's quantizer and stream_substring's spans. The read-side
# report IS the refinement evidence: merged means are the next-iteration
# centroids, and `drift` (distance from the frozen centroid to the
# merged mean) is the number an operator watches to decide when to
# retrain.
#
# Exactness: components enter the carrier as micro-unit BIGINT
# (CAST(round(x·10⁶) AS BIGINT) — the silhouette/PQ discipline); means
# return to double only at read, rounded 6 dp; norm and drift are
# sequential array folds (deterministic in both engines).
#
# At 100 TB: per-batch cost O(batch·K) narrow work + one shuffle of
# O(K·dim) partial rows; the snapshot grows O(K·dim) per batch and the
# read-side merge touches O(K·dim·batches) tiny rows regardless of
# corpus size. The quantizer artifact is a K-row broadcast.
# ---------------------------------------------------------------------------


def _merge_kmeans(batch_df: DataFrame, cent_path: str, snap: str,
                  batch_id: int) -> None:
    import os

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if passes.applied(snap, batch_id):
        return
    sess = batch_df.sparkSession
    cents = sess.read.parquet(cent_path)
    dist = (
        "round(aggregate(transform(ce, x -> x * x), CAST(0 AS DOUBLE), "
        "(acc, v) -> acc + v) - 2 * aggregate(zip_with(e, ce, "
        "(x, y) -> x * y), CAST(0 AS DOUBLE), (acc, v) -> acc + v), 6)"
    )
    # r11 measured-and-REVERTED (guide §1.1): a map-side
    # min(struct(dist, c, e)) argmin — K candidates collapsing to one
    # row per vector before the vec_id exchange, no sort — was built,
    # gate-checked, and probed SLOWER than this window (pass wall
    # 0.77/0.74 s window vs 0.93/0.86 s agg at sf0.1, quiet windows):
    # a min() whose buffer carries the 64-double array loses codegen
    # (object aggregation) and copies the array on every buffer update,
    # costing more than shuffling the K narrow-ish candidate rows. The
    # third k-means argmin variant rejected by measurement (r10:
    # unrolled dots, min_by; r11: struct-min) — the window stays.
    assigned = (
        batch_df.crossJoin(F.broadcast(cents))
        .withColumn("dist", F.expr(dist))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy("dist", "c")
            ),
        )
        .filter("rn = 1")
        .select("c", "e")
    )
    partial = (
        assigned.select("c", F.posexplode("e").alias("pos", "v"))
        .withColumn("s_i", F.expr("CAST(round(v * 1000000) AS BIGINT)"))
        .groupBy("c", "pos")
        .agg(F.count("*").alias("n"), F.sum("s_i").alias("s"))
    )
    # one directory per batch, overwritten on replay: a crash between the
    # write and the marker re-writes this batch's partials instead of
    # appending them a second time (the read sums every row)
    partial.write.mode("overwrite").parquet(os.path.join(snap, f"bid={batch_id}"))
    passes.mark_applied(snap, batch_id)


_KM_REPORT = """
    mm AS (SELECT c, pos, n,
                  round(CAST(s AS DOUBLE) / n / 1000000.0, 6) AS m
           FROM merged),
    cent AS ({cent}),
    init AS (SELECT CAST(vec_id AS INT) AS c, e AS ce FROM embc
             WHERE vec_id < {k})
    SELECT t.c AS cluster_id, t.n_members,
           round(sqrt({norm}), 6) AS centroid_norm,
           round(sqrt({driftsq}), 6) AS drift
    FROM cent t JOIN init i ON i.c = t.c
    ORDER BY cluster_id
"""


def stream_kmeans_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T18, oracle-checked: mini-batch sufficient-stats k-means under a
    frozen quantizer; the merged snapshot's per-cluster counts, refined
    centroid norms, and drift must hash-match a one-shot assignment of
    the full corpus."""
    import os

    cent = os.path.join(passes.scratch_dir("t18_kmeans_q_"), "quantizer")
    table(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings")
    # r11 measured-and-REVERTED (guide §1.1): staging this projection
    # once via scoped_checkpoint (it feeds the quantizer write, both
    # source-half writes, and the report's embc view) probed SLOWER at
    # sf0.1 in quiet windows — passes 0.77/0.71 s inline vs 0.96/0.93 s
    # staged: the embeddings scan is a cheap columnar read and the
    # materialization action plus non-codegen block scans cost more
    # than the three saved re-derivations. Same lesson as the r10
    # containment/pagerank staging reverts.
    corpus = spark.sql(_EMB_PLAIN_SPARK)
    corpus.filter(f"vec_id < {K}").selectExpr(
        "CAST(vec_id AS INT) AS c", "e AS ce"
    ).coalesce(1).write.parquet(cent)
    snap = passes.two_pass(
        spark, sf_dir, "t18_kmeans_", corpus.filter("vec_id % 2 = 0"),
        corpus.filter("vec_id % 2 = 1"),
        passes.foreach_merge(
            spark, "vec_id bigint, e array<double>",
            lambda _, df, out, bid: _merge_kmeans(df, cent, out, bid),
        ),
    )
    spark.read.parquet(snap).createOrReplaceTempView("km_partials")
    corpus.createOrReplaceTempView("embc")
    norm = _norm2("me", duck=False)
    driftsq = (
        "aggregate(zip_with(me, ce, (x, y) -> (x - y) * (x - y)), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    report = _KM_REPORT.format(
        cent=(
            "SELECT c, transform(array_sort(collect_list(struct(pos, m))), "
            "s -> s.m) AS me, CAST(max(n) AS BIGINT) AS n_members "
            "FROM mm GROUP BY c"
        ),
        k=K, norm=norm, driftsq=driftsq,
    )
    return spark.sql(
        """
        WITH merged AS (SELECT c, pos, CAST(sum(n) AS BIGINT) AS n,
                               CAST(sum(s) AS BIGINT) AS s
                        FROM km_partials GROUP BY c, pos),
        """
        + report
    )


def stream_kmeans_oracle() -> str:
    driftsq = (
        f"list_sum(list_transform(range(1, {DIM + 1}), "
        "i -> (me[i] - ce[i]) * (me[i] - ce[i])))"
    )
    report = _KM_REPORT.format(
        cent=(
            "SELECT c, list(m ORDER BY pos) AS me, "
            "CAST(max(n) AS BIGINT) AS n_members FROM mm GROUP BY c"
        ),
        k=K, norm=_norm2("me", duck=True), driftsq=driftsq,
    )
    return (
        f"""
        WITH embc AS ({_EMB_PLAIN_DUCK}),
        cents0 AS (SELECT CAST(vec_id AS INT) AS c, e AS ce FROM embc
                   WHERE vec_id < {K}),
        a AS {_assign("embc", "cents0", duck=True)},
        exd AS (SELECT c, i - 1 AS pos,
                       CAST(round(e[i] * 1000000) AS BIGINT) AS s_i
                FROM a CROSS JOIN range(1, {DIM + 1}) t(i)),
        merged AS (SELECT c, pos, CAST(count(*) AS BIGINT) AS n,
                          CAST(sum(s_i) AS BIGINT) AS s
                   FROM exd GROUP BY c, pos),
        """
        + report
    )
