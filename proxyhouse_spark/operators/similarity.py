"""Similarity search over embeddings (SURVEY §2.11 N2).

- ``knn_cosine``: brute-force cosine top-k — the correctness baseline.
  The probe is a single broadcast row (cross join with a 1-row frame: no
  driver collect, no shuffle of the big side); scoring is built-in
  higher-order array math inside whole-stage codegen.
- ``knn_lsh``: the scale path — sign-LSH over 8 deterministic hyperplanes
  buckets the corpus (256 buckets); the probe scans only its own bucket.
  At 100 TB the bucket id is the partition/cluster key: candidate
  generation becomes a partition-pruned scan instead of a full pass, at
  the cost of recall (multi-probe = also scan Hamming-adjacent buckets;
  not needed at fixture scale).
- ``knn_ivf``: IVF-style multi-probe — a coarse 16-cell quantizer (first
  4 LSH planes); the probe list is the query's cell plus its 4 Hamming-1
  neighbors, EXPLODED into rows and equi-joined on the cell id, so the
  candidate scan is a broadcast hash join that partition-prunes when the
  corpus is stored partitioned by cell — the IVF inverted-list shape.
- ``embedding_stats``: per-label centroid norms via posexplode → per-dim
  avg → fold; a two-shuffle dimension-parallel reduction whose state is
  O(labels × dim), independent of corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions import vectors as V
from ..sources.corpus import EMB_CORPUS_DUCK, emb_corpus
from ..streaming import passes

PROBE_VEC_ID = 0
K = 10


def knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb_corpus(spark, sf_dir).createOrReplaceTempView("embc")
    cos = V.cosine_spark("c.e", "p.e")
    return spark.sql(
        f"""
        SELECT c.vec_id, c.label, round({cos}, 6) AS cos_sim
        FROM embc c CROSS JOIN (SELECT e FROM embc WHERE vec_id = {PROBE_VEC_ID}) p
        WHERE c.vec_id <> {PROBE_VEC_ID}
        ORDER BY cos_sim DESC, c.vec_id
        LIMIT {K}
        """
    )


def knn_cosine_oracle() -> str:
    cos = V.cosine_duck("c.e", "p.e")
    return f"""
    WITH embc AS ({EMB_CORPUS_DUCK})
    SELECT c.vec_id, c.label, round({cos}, 6) AS cos_sim
    FROM embc c CROSS JOIN (SELECT e FROM embc WHERE vec_id = {PROBE_VEC_ID}) p
    WHERE c.vec_id <> {PROBE_VEC_ID}
    ORDER BY cos_sim DESC, c.vec_id
    LIMIT {K}
    """


def knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb_corpus(spark, sf_dir).createOrReplaceTempView("embc")
    bucket = V.lsh_bucket_spark("e")
    cos = V.cosine_spark("c.e", "p.e")
    return spark.sql(
        f"""
        WITH b AS (SELECT vec_id, label, e, {bucket} AS bucket FROM embc)
        SELECT c.vec_id, c.label, c.bucket, round({cos}, 6) AS cos_sim
        FROM b c JOIN (SELECT e, bucket FROM b WHERE vec_id = {PROBE_VEC_ID}) p
          ON c.bucket = p.bucket
        WHERE c.vec_id <> {PROBE_VEC_ID}
        ORDER BY cos_sim DESC, c.vec_id
        LIMIT {K}
        """
    )


def knn_lsh_oracle() -> str:
    bucket = V.lsh_bucket_duck("e")
    cos = V.cosine_duck("c.e", "p.e")
    return f"""
    WITH embc AS ({EMB_CORPUS_DUCK}),
    b AS (SELECT vec_id, label, e, {bucket} AS bucket FROM embc)
    SELECT c.vec_id, c.label, c.bucket, round({cos}, 6) AS cos_sim
    FROM b c JOIN (SELECT e, bucket FROM b WHERE vec_id = {PROBE_VEC_ID}) p
      ON c.bucket = p.bucket
    WHERE c.vec_id <> {PROBE_VEC_ID}
    ORDER BY cos_sim DESC, c.vec_id
    LIMIT {K}
    """


# ---------------------------------------------------------------------------
# IVF-style multi-probe ANN
# ---------------------------------------------------------------------------

N_CELL_BITS = 4


def _flip(cell: str, i: int) -> str:
    """Expression flipping bit-char ``i`` (1-based) of a cell bitstring —
    identical in both dialects (substr/CASE/||)."""
    return (
        f"substr({cell}, 1, {i - 1}) || "
        f"(CASE WHEN substr({cell}, {i}, 1) = '0' THEN '1' ELSE '0' END) || "
        f"substr({cell}, {i + 1})"
    )


def _probe_cells(cell: str) -> str:
    flips = ", ".join(_flip(cell, i) for i in range(1, N_CELL_BITS + 1))
    return f"{cell}, {flips}"


def knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb_corpus(spark, sf_dir).createOrReplaceTempView("embc")
    cell = f"substr({V.lsh_bucket_spark('e')}, 1, {N_CELL_BITS})"
    cos = V.cosine_spark("c.e", "p.e")
    return spark.sql(
        f"""
        WITH b AS (SELECT vec_id, label, e, {cell} AS cell FROM embc),
        p AS (SELECT e, explode(array({_probe_cells('cell')})) AS cell
              FROM b WHERE vec_id = {PROBE_VEC_ID})
        SELECT c.vec_id, c.label, c.cell, round({cos}, 6) AS cos_sim
        FROM b c JOIN p ON c.cell = p.cell
        WHERE c.vec_id <> {PROBE_VEC_ID}
        ORDER BY cos_sim DESC, c.vec_id
        LIMIT {K}
        """
    )


def knn_ivf_oracle() -> str:
    cell = f"substr({V.lsh_bucket_duck('e')}, 1, {N_CELL_BITS})"
    cos = V.cosine_duck("c.e", "p.e")
    return f"""
    WITH embc AS ({EMB_CORPUS_DUCK}),
    b AS (SELECT vec_id, label, e, {cell} AS cell FROM embc),
    p AS (SELECT e, unnest([{_probe_cells('cell')}]) AS cell
          FROM b WHERE vec_id = {PROBE_VEC_ID})
    SELECT c.vec_id, c.label, c.cell, round({cos}, 6) AS cos_sim
    FROM b c JOIN p ON c.cell = p.cell
    WHERE c.vec_id <> {PROBE_VEC_ID}
    ORDER BY cos_sim DESC, c.vec_id
    LIMIT {K}
    """


# ---------------------------------------------------------------------------
# Per-label centroid stats
# ---------------------------------------------------------------------------


def embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb_corpus(spark, sf_dir).createOrReplaceTempView("embc")
    return spark.sql(
        """
        WITH x AS (SELECT label, pos, v
                   FROM embc LATERAL VIEW posexplode(e) t AS pos, v),
        dim AS (SELECT label, pos, avg(v) AS m FROM x GROUP BY label, pos),
        cnt AS (SELECT label, CAST(count(*) AS BIGINT) AS n FROM embc GROUP BY label)
        SELECT d.label, c.n, round(sqrt(sum(d.m * d.m)), 6) AS centroid_norm
        FROM dim d JOIN cnt c ON d.label = c.label
        GROUP BY d.label, c.n
        """
    )


def embedding_stats_oracle() -> str:
    return f"""
    WITH embc AS ({EMB_CORPUS_DUCK}),
    x AS (SELECT label, i - 1 AS pos, e[i] AS v
          FROM embc CROSS JOIN range(1, {V.DIM + 1}) AS t(i)),
    dim AS (SELECT label, pos, avg(v) AS m FROM x GROUP BY label, pos),
    cnt AS (SELECT label, CAST(count(*) AS BIGINT) AS n FROM embc GROUP BY label)
    SELECT d.label, c.n, round(sqrt(sum(d.m * d.m)), 6) AS centroid_norm
    FROM dim d JOIN cnt c ON d.label = c.label
    GROUP BY d.label, c.n
    """


# ---------------------------------------------------------------------------
# Batch kNN — top-K for a SET of probes in one pass (the serving shape:
# queries arrive in batches, the corpus streams once). Probe set is
# broadcast; per-probe top-k via WindowGroupLimit (map-side pruned).
# ---------------------------------------------------------------------------

N_PROBES = 5
BATCH_K = 3


def knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    # corpus-side norms folded ONCE per vector (embedding_neardup pattern):
    # inline cosine would re-fold the corpus norm once per probe — a P×
    # multiplier on the one pass this query exists to avoid. Same fold
    # order and sqrt placement, so values are bit-identical to the oracle's
    # inline spelling.
    emb_corpus(spark, sf_dir).createOrReplaceTempView("embc")
    nrm = (
        "sqrt(aggregate(transform(e, x -> x * x), CAST(0 AS DOUBLE), "
        "(acc, v) -> acc + v))"
    )
    dot = (
        "aggregate(zip_with(c.e, p.e, (x, y) -> x * y), CAST(0 AS DOUBLE), "
        "(acc, v) -> acc + v)"
    )
    return spark.sql(
        f"""
        WITH n AS (SELECT vec_id, e, {nrm} AS nrm FROM embc),
        p AS (SELECT vec_id AS probe_id, e, nrm FROM n WHERE vec_id < {N_PROBES}),
        scored AS (
          SELECT p.probe_id, c.vec_id,
                 round(({dot}) / (c.nrm * p.nrm), 6) AS cos_sim
          FROM n c CROSS JOIN p
          WHERE c.vec_id <> p.probe_id),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY probe_id
                                       ORDER BY cos_sim DESC, vec_id) AS rnk
          FROM scored)
        SELECT probe_id, vec_id, cos_sim, rnk FROM ranked WHERE rnk <= {BATCH_K}
        """
    )


def knn_batch_oracle() -> str:
    cos = V.cosine_duck("c.e", "p.e")
    return f"""
    WITH embc AS ({EMB_CORPUS_DUCK}),
    p AS (SELECT vec_id AS probe_id, e FROM embc WHERE vec_id < {N_PROBES}),
    scored AS (
      SELECT p.probe_id, c.vec_id, round({cos}, 6) AS cos_sim
      FROM embc c CROSS JOIN p
      WHERE c.vec_id <> p.probe_id),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY probe_id
                                   ORDER BY cos_sim DESC, vec_id) AS rnk
      FROM scored)
    SELECT probe_id, vec_id, cos_sim, rnk FROM ranked WHERE rnk <= {BATCH_K}
    """


# ---------------------------------------------------------------------------
# ts_similarity — time-series similarity search over the event stream
# (pattern anchor: "Time Series Similarity Search for Streaming Data in
# Distributed Systems", EDBT 2019 — the distributed profile-match shape,
# not its index): each user's activity is reduced to a 24-dim hour-of-day
# value profile map-side (conditional aggregation, partial combine), then
# scored by cosine against a constant business-hours query pattern.
# Shuffle volume is O(users × 24 doubles) regardless of event count, and
# the top-k plans TakeOrderedAndProject — the same sketch-then-score shape
# that scales the kNN family. Reference parity: ABSENT (no value/time
# analysis of any kind in /root/reference).
# ---------------------------------------------------------------------------

# query pattern: flat business-hours block (09:00-16:59 UTC)
TS_PATTERN = [1.0 if 9 <= h <= 16 else 0.0 for h in range(24)]
TS_K = 20

_TS_NB = sum(x * x for x in TS_PATTERN) ** 0.5


def _ts_sql(hour_fn: str) -> str:
    profile = ", ".join(
        f"sum(CASE WHEN {hour_fn} = {h} THEN value ELSE 0 END) AS s{h}"
        for h in range(24)
    )
    dot = " + ".join(f"s{h} * {TS_PATTERN[h]}" for h in range(24) if TS_PATTERN[h])
    na = " + ".join(f"s{h} * s{h}" for h in range(24))
    return f"""
    WITH p AS (SELECT user_id, {profile} FROM events GROUP BY user_id)
    SELECT user_id, round(({dot}) / nullif(sqrt({na}) * {_TS_NB}, 0), 4) AS cos_sim
    FROM p ORDER BY cos_sim DESC, user_id LIMIT {TS_K}
    """


def ts_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables import table

    table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_ts_sql("hour(ts)"))


def ts_similarity_oracle() -> str:
    return _ts_sql("hour(ts)")


# ---------------------------------------------------------------------------
# knn_pq — product-quantization ANN (the PQ half of the FAISS IVF-PQ
# stack; q_knn_ivf above is the IVF half). The 64-dim space splits into
# 4 sub-spaces of 16 dims; each sub-space gets a 16-entry codebook
# (deterministically seeded from the 16 lowest-vec_id corpus vectors —
# production trains the codebook offline on a sample, the seeding stands
# in exactly like q_kmeans_embed's init); every vector compresses to 4
# one-byte codes (16× compression at 64-dim; 32× at float32-128-dim).
# Query scoring is ADC: the probe's 4×16 distance table is O(1) to
# build, each candidate costs 4 lookups + adds instead of 64 multiplies.
#
# Determinism discipline: the encode argmin packs (round(dist2·1e6), cid)
# into ONE BIGINT and takes min() — a map-side-combinable aggregate, no
# window shuffle, and the tiebreak is part of the key; ADC table entries
# are rounded to 6 dp and summed as DECIMAL (the token_entropy rule), so
# the 4-term additions are exact in any order. Scale: encode is the
# corpus × 64 narrow pass every PQ build pays (codebook broadcasts);
# the score join is O(corpus × 4) against a 64-row broadcast table; the
# final cut is TakeOrdered. Codes are the stored index: at 100 TB the
# codes table is ~100-1000× smaller than the vectors.
# ---------------------------------------------------------------------------

N_SUB = 4
N_CODES = 16


def _pq_ctes(duck: bool) -> str:
    if duck:
        sub_of = "e[s * 16 + 1 : s * 16 + 16]"
        gen_s = "(SELECT unnest(range(0, 4)) AS s) t"
        d2 = V.l2sq_duck
    else:
        sub_of = "slice(e, s * 16 + 1, 16)"
        gen_s = "LATERAL VIEW explode(sequence(0, 3)) t AS s"
        d2 = V.l2sq_spark
    cross = ", " if duck else " "
    return f"""
    base AS (SELECT vec_id, label, e FROM embc),
    seed AS (SELECT vec_id, e FROM base ORDER BY vec_id LIMIT {N_CODES}),
    seedr AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, e
              FROM seed),
    cb AS (SELECT s, cid, {sub_of} AS c FROM seedr{cross}{gen_s}),
    sub AS (SELECT vec_id, s, {sub_of} AS v FROM base{cross}{gen_s}),
    dist AS (SELECT sub.vec_id, sub.s,
                    CAST(round({d2('sub.v', 'cb.c')} * 1000000) AS BIGINT)
                      * {N_CODES} + cb.cid AS packed
             FROM sub JOIN cb ON sub.s = cb.s),
    codes AS (SELECT vec_id, s, CAST(min(packed) % {N_CODES} AS INT) AS code
              FROM dist GROUP BY vec_id, s),
    dt AS (SELECT cb.s, cb.cid,
                  CAST(round({d2('p.v', 'cb.c')}, 6) AS DECIMAL(18, 6)) AS d
           FROM cb JOIN (SELECT s, v FROM sub
                         WHERE vec_id = {PROBE_VEC_ID}) p ON p.s = cb.s),
    scored AS (SELECT c.vec_id, sum(dt.d) AS score
               FROM codes c JOIN dt ON dt.s = c.s AND dt.cid = c.code
               GROUP BY c.vec_id)
    """


def _pq_sql(duck: bool) -> str:
    return (
        _pq_ctes(duck)
        + f"""
    SELECT b.vec_id, b.label, round(CAST(s.score AS DOUBLE), 6) AS approx_d
    FROM scored s JOIN base b ON b.vec_id = s.vec_id
    WHERE b.vec_id <> {PROBE_VEC_ID}
    ORDER BY approx_d, b.vec_id
    LIMIT {K}
    """
    )


def knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb_corpus(spark, sf_dir).createOrReplaceTempView("embc")
    return spark.sql("WITH " + _pq_sql(duck=False))


def knn_pq_oracle() -> str:
    return f"WITH embc AS ({EMB_CORPUS_DUCK}), " + _pq_sql(duck=True)


# ---------------------------------------------------------------------------
# ANN recall audit — the eval harness every approximate index needs before
# it replaces the exact scan in a pipeline: per probe, recall@K of the
# sign-LSH bucketed search (knn_lsh's shape, generalized to a probe SET)
# against the exact brute-force top-K ground truth. This is the similarity
# sibling of q_dedup_recall (dedup.py audits MinHash against exact
# Jaccard); the number it emits is the one that decides how many
# hyperplanes / multi-probe neighbors the production index gets.
#
# Plan: corpus norms and buckets are folded ONCE (knn_batch pattern, same
# fold order so scores are bit-identical across engines); the probe frame
# (N_PROBES rows) broadcasts into both scoring branches; exact ranking is
# one probe-partitioned WindowGroupLimit over the corpus×probes scores,
# approx ranking the same over only same-bucket candidates (an equi-join
# that partition-prunes when the corpus is stored bucket-partitioned, per
# knn_lsh). The recall join matches two ≤ N_PROBES×K frames on
# (probe_id, vec_id). At 100 TB the exact branch costs one corpus pass —
# which is the point: this audit RUNS once offline to calibrate, while
# the approx branch is what serves.
# ---------------------------------------------------------------------------

RECALL_K = 10


def _ann_recall_sql(duck: bool) -> str:
    nrm_s = (
        "sqrt(aggregate(transform(e, x -> x * x), CAST(0 AS DOUBLE), "
        "(acc, v) -> acc + v))"
    )
    nrm_d = "sqrt(list_sum(list_transform(e, x -> x * x)))"
    dot_s = (
        "aggregate(zip_with(c.e, p.e, (x, y) -> x * y), CAST(0 AS DOUBLE), "
        "(acc, v) -> acc + v)"
    )
    dot_d = (
        f"list_sum(list_transform(range(1, {V.DIM + 1}), "
        "i -> c.e[i] * p.e[i]))"
    )
    nrm = nrm_d if duck else nrm_s
    dot = dot_d if duck else dot_s
    bucket = V.lsh_bucket_duck("e") if duck else V.lsh_bucket_spark("e")
    return f"""
    n AS (SELECT vec_id, e, {nrm} AS nrm, {bucket} AS bucket FROM embc),
    p AS (SELECT vec_id AS probe_id, e, nrm, bucket FROM n
          WHERE vec_id < {N_PROBES}),
    exact AS (
      SELECT probe_id, vec_id FROM (
        SELECT p.probe_id, c.vec_id,
               row_number() OVER (PARTITION BY p.probe_id ORDER BY
                 round(({dot}) / (c.nrm * p.nrm), 6) DESC, c.vec_id) AS rnk
        FROM n c CROSS JOIN p WHERE c.vec_id <> p.probe_id)
      WHERE rnk <= {RECALL_K}),
    approx AS (
      SELECT probe_id, vec_id FROM (
        SELECT p.probe_id, c.vec_id,
               row_number() OVER (PARTITION BY p.probe_id ORDER BY
                 round(({dot}) / (c.nrm * p.nrm), 6) DESC, c.vec_id) AS rnk
        FROM n c JOIN p ON c.bucket = p.bucket
        WHERE c.vec_id <> p.probe_id)
      WHERE rnk <= {RECALL_K}),
    hits AS (
      SELECT e.probe_id,
             CAST(count(a.vec_id) AS BIGINT) AS n_hit
      FROM exact e LEFT JOIN approx a
        ON a.probe_id = e.probe_id AND a.vec_id = e.vec_id
      GROUP BY e.probe_id),
    retr AS (SELECT probe_id, CAST(count(*) AS BIGINT) AS n_retrieved
             FROM approx GROUP BY probe_id)
    SELECT h.probe_id, CAST({RECALL_K} AS BIGINT) AS n_exact,
           coalesce(r.n_retrieved, 0) AS n_retrieved, h.n_hit,
           round(h.n_hit / CAST({RECALL_K} AS DOUBLE), 4) AS recall_at_k
    FROM hits h LEFT JOIN retr r ON r.probe_id = h.probe_id
    """


def ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N85: recall@K of the LSH index vs the exact top-K, per probe."""
    emb_corpus(spark, sf_dir).createOrReplaceTempView("embc")
    return spark.sql("WITH " + _ann_recall_sql(duck=False))


def ann_recall_oracle() -> str:
    return f"WITH embc AS ({EMB_CORPUS_DUCK}), " + _ann_recall_sql(duck=True)


# ---------------------------------------------------------------------------
# Streaming ANN index — IVF maintenance as a stream, with the design
# observation that makes it valid: cell assignment under a FROZEN coarse
# quantizer is ROW-LOCAL (each vector's cell depends only on its own
# components and the fixed hyperplanes), so the inverted-list index is
# trivially mergeable — append-only, order-independent, no ingest-time
# cross-vector work at all. The thing that does NOT stream is quantizer
# (re)training: k-means cells drift as data arrives, and re-assigning the
# accumulated corpus is a full rebuild — which is why production IVF
# systems freeze the quantizer between periodic re-trainings (the exact
# contrast documented on kmeans_embed's driver loop). State = the coded
# corpus (vec, label, cell) — at 100 TB the cell is the STORAGE partition
# key, so each append lands in its inverted list and the read-side probe
# partition-prunes (the knn_ivf demonstration, now maintained online).
#
# Two availableNow passes over the parity-split corpus, then the standard
# multi-probe query over the accumulated index must hash-match the
# one-shot batch q_knn_ivf (its oracle verbatim). Re-delivery under a new
# batch id appends duplicate rows, absorbed by vec_id-keyed dedup on
# read (identical by construction).
# ---------------------------------------------------------------------------


def _merge_ann(batch_df: DataFrame, snap: str, batch_id: int) -> None:
    if passes.applied(snap, batch_id):
        return
    cell = f"substr({V.lsh_bucket_spark('e')}, 1, {N_CELL_BITS})"
    coded = batch_df.selectExpr("vec_id", "label", "e", f"{cell} AS cell")
    coded.write.mode("append").parquet(snap)
    passes.mark_applied(snap, batch_id)


def stream_ann_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T17, oracle-checked: two availableNow passes maintain the IVF coded
    index; the multi-probe query over the accumulated index must
    hash-match the one-shot batch q_knn_ivf."""
    corpus = emb_corpus(spark, sf_dir).select("vec_id", "label", "e")
    snap = passes.two_pass(
        spark, sf_dir, "t17_ann_", corpus.filter("vec_id % 2 = 0"),
        corpus.filter("vec_id % 2 = 1"),
        passes.foreach_merge(
            spark, "vec_id bigint, label int, e array<double>",
            lambda _, df, out, bid: _merge_ann(df, out, bid),
        ),
    )
    spark.read.parquet(snap).dropDuplicates(["vec_id"]).createOrReplaceTempView(
        "ann_index"
    )
    cos = V.cosine_spark("c.e", "p.e")
    return spark.sql(
        f"""
        WITH p AS (SELECT e, explode(array({_probe_cells('cell')})) AS cell
                   FROM ann_index WHERE vec_id = {PROBE_VEC_ID})
        SELECT c.vec_id, c.label, c.cell, round({cos}, 6) AS cos_sim
        FROM ann_index c JOIN p ON c.cell = p.cell
        WHERE c.vec_id <> {PROBE_VEC_ID}
        ORDER BY cos_sim DESC, c.vec_id
        LIMIT {K}
        """
    )


# ---------------------------------------------------------------------------
# Johnson–Lindenstrauss projection — the dimensionality-reduction member
# of the vector family: project 64-dim embeddings to 16 dims with an
# Achlioptas sparse random matrix (entries {+1, −1, 0} with density 1/3,
# scaled √(3/k) — "Database-friendly random projections", PODS 2001) and
# AUDIT the JL promise on known pairs: squared distances are preserved
# in expectation, so the reported distortion ratio is the number that
# decides whether 16 dims is enough before a pipeline swaps the full
# vectors for projected ones in its ANN/clustering stages.
#
# The matrix is deterministic pseudo-random rational (the LSH-plane
# trick: entry sign from (j·101 + i·53) mod 6), so both engines compute
# bit-identical projections — no RNG state, reproducible under any
# partitioning. The projection is a narrow per-row expression fold
# (ascending-i sequential sum in BOTH dialects → bit-identical doubles);
# the audited pair set is the planted twins (the near-zero-distance
# stress case) plus consecutive-id pairs (typical distances).
#
# At 100 TB the projection is the map stage that shrinks every
# downstream shuffle 4×; the audit joins two O(pairs) frames.
# ---------------------------------------------------------------------------

JL_K = 16


def _jl_proj(e: str, duck: bool) -> str:
    k, d = JL_K, V.DIM
    if duck:
        return (
            f"list_transform(range(0, {k}), j -> "
            f"list_sum(list_transform(range(0, {d}), i -> "
            f"CASE (j * 101 + i * 53) % 6 WHEN 0 THEN {e}[i + 1] "
            f"WHEN 1 THEN -{e}[i + 1] ELSE CAST(0 AS DOUBLE) END)))"
        )
    return (
        f"transform(sequence(0, {k - 1}), j -> "
        f"aggregate(transform(sequence(0, {d - 1}), i -> "
        f"CASE (j * 101 + i * 53) % 6 WHEN 0 THEN element_at({e}, i + 1) "
        f"WHEN 1 THEN -element_at({e}, i + 1) "
        f"ELSE CAST(0 AS DOUBLE) END), CAST(0 AS DOUBLE), (acc, v) -> acc + v))"
    )


def _jl_sql(duck: bool) -> str:
    l2 = V.l2sq_duck if duck else V.l2sq_spark
    return f"""
    pr AS (SELECT vec_id, e, {_jl_proj('e', duck)} AS f FROM embc),
    pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, 'twin' AS pair_kind,
             a.e AS ea, b.e AS eb, a.f AS fa, b.f AS fb
      FROM pr a JOIN pr b ON b.vec_id = a.vec_id + 1000000
      WHERE a.vec_id % 25 = 0
      UNION ALL
      SELECT a.vec_id, b.vec_id, 'neighbor',
             a.e, b.e, a.f, b.f
      FROM pr a JOIN pr b ON b.vec_id = a.vec_id + 1
      WHERE a.vec_id < 10)
    SELECT vec_a, vec_b, pair_kind,
           round({l2('ea', 'eb')}, 6) AS orig_d2,
           round({l2('fa', 'fb')} * 3 / {JL_K}, 6) AS proj_d2,
           round(({l2('fa', 'fb')} * 3 / {JL_K})
                 / ({l2('ea', 'eb')} + 1e-12), 4) AS distortion
    FROM pairs
    """


def jl_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N94: Achlioptas sparse JL projection + distance-preservation audit."""
    emb_corpus(spark, sf_dir).createOrReplaceTempView("embc")
    return spark.sql("WITH " + _jl_sql(duck=False))


def jl_project_oracle() -> str:
    return f"WITH embc AS ({EMB_CORPUS_DUCK}), " + _jl_sql(duck=True)


# ---------------------------------------------------------------------------
# ndcg — ranking-quality readout of the cosine retrieval itself:
# NDCG@K and MRR@K per probe with binary label relevance. ann_recall
# judges the INDEX (does LSH return the exact engine's top-k?); this
# judges the RANKING (does cosine order put same-label vectors first?)
# — the metric an embedding-quality regression gate watches across
# model versions. rel(r) = 1 iff the candidate shares the probe's
# label; DCG@K = Σ rel_r/log2(r+1); IDCG@K truncates the ideal ranking
# at min(K, total relevant in corpus); MRR@K = 1/rank of the first
# relevant hit, 0 if none in the top K.
#
# Determinism: ranks come from the established round-6-cosine +
# vec_id tie-break ordering (same as ann_recall), so rank assignment
# is bit-stable across engines; the discount sums are K-term folds of
# 1/log2(integer) (ULP-identical across libm), rounded 6 dp at
# emission. The IDCG series has no closed form — it folds over a
# literal K-row spine joined on r <= min(K, n_rel), a bounded×bounded
# frame. Probe frame (N_PROBES rows) broadcasts into the corpus scan;
# the ranking window is partitioned by probe_id.
# ---------------------------------------------------------------------------

NDCG_K = 10


def _ndcg_sql(duck: bool) -> str:
    nrm = (
        "sqrt(list_sum(list_transform(e, x -> x * x)))"
        if duck
        else "sqrt(aggregate(transform(e, x -> x * x), CAST(0 AS DOUBLE), "
             "(acc, v) -> acc + v))"
    )
    dot = (
        f"list_sum(list_transform(range(1, {V.DIM + 1}), "
        "i -> c.e[i] * p.e[i]))"
        if duck
        else "aggregate(zip_with(c.e, p.e, (x, y) -> x * y), "
             "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    spine = ",".join(f"({r})" for r in range(1, NDCG_K + 1))
    return f"""
    n AS (SELECT vec_id, label, e, {nrm} AS nrm FROM embc),
    p AS (SELECT vec_id AS probe_id, label AS plabel, e, nrm FROM n
          WHERE vec_id < {N_PROBES}),
    ranked AS (SELECT p.probe_id,
                      CASE WHEN c.label = p.plabel THEN 1 ELSE 0 END AS rel,
                      row_number() OVER (PARTITION BY p.probe_id ORDER BY
                        round(({dot}) / (c.nrm * p.nrm), 6) DESC, c.vec_id)
                        AS rnk
               FROM n c CROSS JOIN p WHERE c.vec_id <> p.probe_id),
    relk AS (SELECT probe_id,
                    CAST(sum(CASE WHEN rnk <= {NDCG_K} THEN rel
                             ELSE 0 END) AS BIGINT) AS n_rel_at_k,
                    CAST(min(CASE WHEN rel = 1 AND rnk <= {NDCG_K}
                             THEN rnk END) AS BIGINT) AS first_rel,
                    sum(CASE WHEN rel = 1 AND rnk <= {NDCG_K}
                        THEN CAST(1 AS DOUBLE) / log2(rnk + 1)
                        ELSE 0.0e0 END) AS dcg,
                    CAST(sum(rel) AS BIGINT) AS n_rel
             FROM ranked GROUP BY probe_id),
    spine AS (SELECT CAST(r AS BIGINT) AS r
              FROM (VALUES {spine}) AS t(r)),
    idcg AS (SELECT k.probe_id, sum(CAST(1 AS DOUBLE) / log2(s.r + 1)) AS v
             FROM relk k JOIN spine s
               ON s.r <= least(CAST({NDCG_K} AS BIGINT), k.n_rel)
             GROUP BY k.probe_id)
    SELECT k.probe_id, k.n_rel_at_k,
           round(CASE WHEN k.first_rel IS NULL THEN 0.0e0
                      ELSE CAST(1 AS DOUBLE) / k.first_rel END, 6) AS mrr,
           round(CASE WHEN i.v IS NULL THEN 0.0e0
                      ELSE k.dcg / i.v END, 6) AS ndcg_at_k
    FROM relk k LEFT JOIN idcg i ON i.probe_id = k.probe_id
    """


def ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N117: NDCG@K + MRR@K of the cosine ranking, binary label relevance."""
    emb_corpus(spark, sf_dir).createOrReplaceTempView("embc")
    return spark.sql("WITH " + _ndcg_sql(duck=False))


def ndcg_oracle() -> str:
    return f"WITH embc AS ({EMB_CORPUS_DUCK}), " + _ndcg_sql(duck=True)


# ---------------------------------------------------------------------------
# knn_eval — leave-one-out k-NN classification eval over the labeled
# embeddings: the third judge of the embedding stack (ann_recall: does
# the INDEX recover the exact top-k; ndcg: does the RANKING put
# same-label vectors first; knn_eval: do the embeddings CLASSIFY — the
# end-task readout a model card quotes). For each probe, the 5-NN by
# the established round-6-cosine + vec_id tie-break vote on the label
# (majority, ties to the smallest label — an exact integer rule);
# output is the confusion matrix (true_label × pred_label counts),
# from which accuracy and per-class recall fall out.
#
# Shape: the probe frame (EVAL_PROBES rows) broadcasts into the corpus
# scan — the corpus is never shuffled by probe count; the vote and the
# argmax are windows PARTITIONED by probe. All vote arithmetic is
# exact integers; the only doubles are the cosine scores feeding the
# deterministic rank.
# ---------------------------------------------------------------------------

EVAL_PROBES = 50
EVAL_K = 5


def _knn_eval_sql(duck: bool) -> str:
    nrm = (
        "sqrt(list_sum(list_transform(e, x -> x * x)))"
        if duck
        else "sqrt(aggregate(transform(e, x -> x * x), CAST(0 AS DOUBLE), "
             "(acc, v) -> acc + v))"
    )
    dot = (
        f"list_sum(list_transform(range(1, {V.DIM + 1}), "
        "i -> c.e[i] * p.e[i]))"
        if duck
        else "aggregate(zip_with(c.e, p.e, (x, y) -> x * y), "
             "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    return f"""
    n AS (SELECT vec_id, label, e, {nrm} AS nrm FROM embc),
    p AS (SELECT vec_id AS probe_id, label AS true_label, e, nrm FROM n
          WHERE vec_id < {EVAL_PROBES}),
    ranked AS (SELECT p.probe_id, p.true_label, c.label,
                      row_number() OVER (PARTITION BY p.probe_id ORDER BY
                        round(({dot}) / (c.nrm * p.nrm), 6) DESC, c.vec_id)
                        AS rnk
               FROM n c CROSS JOIN p WHERE c.vec_id <> p.probe_id),
    votes AS (SELECT probe_id, true_label, label,
                     CAST(count(*) AS BIGINT) AS n_votes
              FROM ranked WHERE rnk <= {EVAL_K}
              GROUP BY probe_id, true_label, label),
    pred AS (SELECT probe_id, true_label, label AS pred_label
             FROM (SELECT probe_id, true_label, label,
                          row_number() OVER (PARTITION BY probe_id
                            ORDER BY n_votes DESC, label) AS rk
                   FROM votes) v
             WHERE rk = 1)
    SELECT true_label, pred_label,
           CAST(count(*) AS BIGINT) AS n_probes
    FROM pred GROUP BY true_label, pred_label
    """


def knn_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N124: leave-one-out k-NN label confusion matrix."""
    emb_corpus(spark, sf_dir).createOrReplaceTempView("embc")
    return spark.sql("WITH " + _knn_eval_sql(duck=False))


def knn_eval_oracle() -> str:
    return f"WITH embc AS ({EMB_CORPUS_DUCK}), " + _knn_eval_sql(duck=True)


# ---------------------------------------------------------------------------
# embedding_drift — EMBEDDING-space drift between two corpus slices
# (vec_id parity as yesterday/today): centroid cosine, centroid L2
# shift, and the worst-drifting dimension. The observability verb
# q_drift_psi provides for scalar metrics, lifted to vectors — the
# alarm that fires when an embedding-model upgrade (or a silent
# tokenizer change upstream) moves the whole space, which per-query
# ANN recall checks can't see.
#
# Exactness: components enter as exact micro-unit BIGINTs
# (round(v·10⁶) — float32 inputs are well inside that grid), per-slice
# per-dim sums are exact integer folds; the cross-dim reductions
# (dot, norms, L2) would be 64-term float sums whose ADDITION ORDER
# differs across engines — each term is rounded to 12 dp DECIMAL first,
# then summed exactly (the established discipline, tightened for unit-
# scale magnitudes). max-dim readout is order-free (max of structs).
#
# Shape: one posexplode → one (slice, dim) fold (128 rows) → 1-row
# readout. One shuffle.
#
# Reading caveat (pinned): on a ZERO-CENTERED space both centroids are
# ≈ 0 and their cosine is direction noise — the L2 shift (vs typical
# vector norm) is the primary no-drift signal there; centroid cosine
# becomes meaningful when the space has a bias term or mean-offset
# features (most production text-embedding spaces do).
# ---------------------------------------------------------------------------

DRIFT_SCALE = 1_000_000


def _embedding_drift_sql(from_tail: str, pos_expr: str,
                         v_expr: str) -> str:
    m = ("(CAST(s{h} AS DOUBLE) / CAST(n{h} AS DOUBLE)"
         f" / {DRIFT_SCALE})")
    m0, m1 = m.format(h="0"), m.format(h="1")
    t12 = "CAST(round({expr}, 12) AS DECIMAL(28, 12))"
    return f"""
    x AS (SELECT vec_id % 2 AS half, {pos_expr} AS pos,
                 CAST(round({v_expr} * {DRIFT_SCALE}) AS BIGINT) AS vi
          FROM emb {from_tail}),
    d AS (SELECT pos,
                 CAST(sum(CASE WHEN half = 0 THEN vi END) AS BIGINT) AS s0,
                 CAST(sum(CASE WHEN half = 0 THEN 1 END) AS BIGINT) AS n0,
                 CAST(sum(CASE WHEN half = 1 THEN vi END) AS BIGINT) AS s1,
                 CAST(sum(CASE WHEN half = 1 THEN 1 END) AS BIGINT) AS n1
          FROM x GROUP BY pos),
    terms AS (SELECT pos, n0, n1,
                     {t12.format(expr=f"{m0} * {m1}")} AS dot_t,
                     {t12.format(expr=f"{m0} * {m0}")} AS n0_t,
                     {t12.format(expr=f"{m1} * {m1}")} AS n1_t,
                     {t12.format(expr=f"({m0} - {m1}) * ({m0} - {m1})")}
                       AS d2_t,
                     round(abs({m0} - {m1}), 9) AS ashift
              FROM d),
    r AS (SELECT CAST(max(n0) AS BIGINT) AS n_a,
                 CAST(max(n1) AS BIGINT) AS n_b,
                 round(CAST(sum(dot_t) AS DOUBLE)
                       / (sqrt(CAST(sum(n0_t) AS DOUBLE))
                          * sqrt(CAST(sum(n1_t) AS DOUBLE))), 6)
                   AS centroid_cos,
                 round(sqrt(CAST(sum(d2_t) AS DOUBLE)), 6) AS l2_shift,
                 max(ashift) AS mx
          FROM terms)
    SELECT r.n_a, r.n_b, r.centroid_cos, r.l2_shift,
           CAST(min(t.pos) AS BIGINT) AS max_shift_dim,
           round(r.mx, 6) AS max_abs_shift
    FROM r JOIN terms t ON t.ashift = r.mx
    GROUP BY r.n_a, r.n_b, r.centroid_cos, r.l2_shift, r.mx
    """


def embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N170: centroid drift between embedding slices, exact interior."""
    from ..tables import table as _t

    _t(spark, sf_dir, "embeddings").createOrReplaceTempView("embraw")
    spark.sql(
        "SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS e "
        "FROM embraw"
    ).createOrReplaceTempView("emb")
    return spark.sql(
        "WITH "
        + _embedding_drift_sql(
            "LATERAL VIEW posexplode(e) t AS p0, v", "p0", "v"
        )
    )


def embedding_drift_oracle() -> str:
    return (
        "WITH emb AS (SELECT vec_id,"
        " list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e"
        " FROM embeddings),"
        + _embedding_drift_sql(
            f", unnest(range(1, {V.DIM + 1})) AS t(i)", "i - 1", "e[i]"
        )
    )


# ---------------------------------------------------------------------------
# negative_sampling — deterministic contrastive-negative manifest for
# embedding/retrieval training: each anchor draws K negatives with a
# DIFFERENT label, without ever touching a corpus×corpus surface. The
# scalable spelling: hash vectors into B buckets; per (bucket,
# excluded-label) precompute ONE representative (the min-md5 candidate —
# full-hex string min, so the pick is total-ordered and collision-proof);
# each anchor's k-th draw hashes (anchor, k) to a bucket and equi-joins
# the O(B × #labels) representative frame. Negatives repeat across
# anchors that land in the same bucket — the in-batch-negatives analogue,
# documented; raise B for more diversity. Draw existence: a (bucket,
# excl) cell is empty only if the bucket holds no other-label vector —
# with B ≪ N/labels that is vanishing; such draws are dropped, and the
# pin counts them.
# Scale shape: two narrow scans; per-(bucket,label) minima are ONE
# map-side-combinable fold; the label-exclusion theta join runs on the
# already-bounded O(B × labels) frame; the draw join is equi-keyed
# (bucket, label). Corpus never self-joins.
# ---------------------------------------------------------------------------

NEG_BUCKETS = 32
NEG_K = 4


def _neg_sampling_sql(md5b: str, md5draw: str, explode_k: str) -> str:
    return f"""
    cand AS (SELECT vec_id, label,
                    {md5b} % {NEG_BUCKETS} AS bucket,
                    md5(CAST(vec_id AS STRING) || '#cand') AS h
             FROM embeddings),
    labels AS (SELECT DISTINCT label FROM embeddings),
    per_bl AS (SELECT bucket, label, min(h) AS h
               FROM cand GROUP BY bucket, label),
    best AS (SELECT p.bucket, l.label AS excl, min(p.h) AS h
             FROM per_bl p JOIN labels l ON p.label <> l.label
             GROUP BY p.bucket, l.label),
    rep AS (SELECT b.bucket, b.excl, c.vec_id AS neg_id,
                   c.label AS neg_label
            FROM best b JOIN cand c
              ON c.bucket = b.bucket AND c.h = b.h),
    draws AS (SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
                     t.k, {md5draw} % {NEG_BUCKETS} AS slot
              FROM embeddings a{explode_k})
    SELECT d.anchor_id, d.anchor_label, d.k, r.neg_id, r.neg_label
    FROM draws d JOIN rep r
      ON r.bucket = d.slot AND r.excl = d.anchor_label
    """


def negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N187: bucketed deterministic contrastive negatives, no corpus²."""
    from ..tables import table as _t

    _t(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings")
    return spark.sql(
        "WITH "
        + _neg_sampling_sql(
            "CAST(conv(substr(md5(CAST(vec_id AS STRING)), 1, 12), 16, 10) "
            "AS BIGINT)",
            "CAST(conv(substr(md5(concat(CAST(a.vec_id AS STRING), '#', "
            "CAST(t.k AS STRING))), 1, 12), 16, 10) AS BIGINT)",
            f" LATERAL VIEW explode(sequence(0, {NEG_K - 1})) t AS k",
        )
    )


def negative_sampling_oracle() -> str:
    return "WITH " + _neg_sampling_sql(
        "CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 12)) "
        "AS BIGINT)",
        "CAST(concat('0x', substr(md5(concat(CAST(a.vec_id AS VARCHAR), "
        "'#', CAST(t.k AS VARCHAR))), 1, 12)) AS BIGINT)",
        f", unnest(range(0, {NEG_K})) AS t(k)",
    )


# ---------------------------------------------------------------------------
# knn_rerank — the two-stage PRODUCTION ANN pattern the index ops feed:
# a cheap approximate first stage retrieves a WIDE shortlist (PQ-ADC
# distances — one byte/subspace codes, no full vectors touched), then
# the exact cosine reranks ONLY the shortlist. This is how every serving
# stack (FAISS/ScaNN shape) actually answers queries: the sketch decides
# WHAT to score, the true metric decides the ORDER — recall comes from
# shortlist width (RERANK_C), precision from the exact pass, and the
# full-corpus exact scan never runs. Output carries both scores so the
# reader sees the disagreement the rerank fixed (PQ rank vs final rank).
# Determinism: the shortlist cut orders by the exact DECIMAL(18,6) ADC
# sum (bit-exact cross-engine) with a vec_id tiebreak; the rerank cosine
# is the same fold both engines run elsewhere (knn_cosine discipline).
# Scale: stage 1 is the PQ ops' bounded codebook join; stage 2 touches
# RERANK_C rows — the exact pass is O(C·dim), independent of corpus.
# ---------------------------------------------------------------------------

RERANK_C = 50


def _knn_rerank_sql(duck: bool) -> str:
    cos = (
        V.cosine_duck("b.e", "p.e") if duck else V.cosine_spark("b.e", "p.e")
    )
    return (
        _pq_ctes(duck)
        + f""",
    shortlist AS (SELECT vec_id, score FROM scored
                  WHERE vec_id <> {PROBE_VEC_ID}
                  ORDER BY score, vec_id LIMIT {RERANK_C})
    SELECT b.vec_id, b.label,
           round(CAST(s.score AS DOUBLE), 6) AS approx_d,
           round({cos}, 6) AS cos_sim
    FROM shortlist s
    JOIN base b ON b.vec_id = s.vec_id
    CROSS JOIN (SELECT e FROM base WHERE vec_id = {PROBE_VEC_ID}) p
    ORDER BY cos_sim DESC, b.vec_id
    LIMIT {K}
    """
    )


def knn_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N191: PQ-shortlist + exact-cosine rerank, the serving-stack shape."""
    emb_corpus(spark, sf_dir).createOrReplaceTempView("embc")
    return spark.sql("WITH " + _knn_rerank_sql(duck=False))


def knn_rerank_oracle() -> str:
    return f"WITH embc AS ({EMB_CORPUS_DUCK}), " + _knn_rerank_sql(duck=True)
