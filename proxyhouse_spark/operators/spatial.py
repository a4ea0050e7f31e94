"""Spatial operators: the 2-D range-join family (SURVEY §2.11 extension).

A large-scale analytics engine needs the spatial-join-at-scale pattern —
points-within-radius and nearest-neighbor joins — spelled so the quadratic
candidate surface never materializes: GRID-CELL BUCKETING (the geohash /
S2-cell idiom): hash each point to a cell of side R, explode the probe side
into its 3×3 cell neighborhood (a bounded 9× blowup, the rolling_median
explode discipline), equi-join on the cell id, then the EXACT distance
filter on the survivors. At 100 TB the cell id is the partition key and the
candidate join partition-prunes — the same contract as the IVF inverted
list, in two dimensions.

The fixture has no geo columns, so coordinates are synthesized
deterministically from md5 (the corpus.py dup-injection discipline): each
customer gets planar (x, y) meters in a 1000 km square. Planar integer
coordinates keep every distance² an EXACT BIGINT — no haversine trig, whose
last-ulp libm differences would poison a cross-engine differential (sin/cos
are not IEEE-exactly-rounded; this family deliberately stays in exact
integer Euclidean space).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..streaming import passes
from ..tables import table

WORLD_M = 1_000_000   # 1000 km planar square
RADIUS_M = 20_000     # join radius = cell side (3x3 neighborhood suffices)


def _customer(spark: SparkSession, sf_dir: str) -> None:
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer")


def _pts_sql(md5x: str, md5y: str) -> str:
    """Deterministic planar points: one per customer, md5-placed."""
    return f"""
    pts AS (SELECT c_custkey AS id,
                   {md5x} % {WORLD_M} AS x,
                   {md5y} % {WORLD_M} AS y
            FROM customer)
    """


def _pairs_sql(idiv: str, explode_9: str) -> str:
    """Candidate generation + exact filter: probe side exploded into its
    3×3 cell neighborhood, equi-joined on the cell, exact integer d² cut.
    Each unordered pair survives exactly once: the probe row p reaches
    base row b in b's OWN cell, and the p.id < b.id guard kills the
    mirror orientation."""
    r2 = RADIUS_M * RADIUS_M
    return f"""
    cells AS (SELECT id, x, y,
                     CAST(x {idiv} {RADIUS_M} AS BIGINT) AS cx,
                     CAST(y {idiv} {RADIUS_M} AS BIGINT) AS cy
              FROM pts),
    probe AS (SELECT id, x, y,
                     CAST(x {idiv} {RADIUS_M} AS BIGINT) + t.dx AS cx,
                     CAST(y {idiv} {RADIUS_M} AS BIGINT) + u.dy AS cy
              FROM pts{explode_9}),
    pairs AS (SELECT p.id AS id_a, b.id AS id_b,
                     (p.x - b.x) * (p.x - b.x)
                       + (p.y - b.y) * (p.y - b.y) AS d2
              FROM probe p JOIN cells b
                ON b.cx = p.cx AND b.cy = p.cy AND p.id < b.id),
    hits AS (SELECT id_a, id_b, CAST(d2 AS BIGINT) AS d2
             FROM pairs WHERE d2 <= {r2})
    """


# ---------------------------------------------------------------------------
# spatial_join — all point pairs within RADIUS_M: the "which stores
# cannibalize each other" / "which sensors cover the same area" query.
# ---------------------------------------------------------------------------


def _spatial_join_sql(md5x: str, md5y: str, idiv: str, explode_9: str) -> str:
    return (
        _pts_sql(md5x, md5y)
        + ","
        + _pairs_sql(idiv, explode_9)
        + " SELECT id_a, id_b, d2 FROM hits"
    )


def spatial_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N193: cell-bucketed points-within-radius join, exact integer d²."""
    _customer(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _spatial_join_sql(
            _MD5_SPARK.format(salt="x"),
            _MD5_SPARK.format(salt="y"),
            "div",
            " LATERAL VIEW explode(sequence(-1, 1)) t AS dx"
            " LATERAL VIEW explode(sequence(-1, 1)) u AS dy",
        )
    )


def spatial_join_oracle() -> str:
    return "WITH " + _spatial_join_sql(
        _MD5_DUCK.format(salt="x"),
        _MD5_DUCK.format(salt="y"),
        "//",
        ", unnest(range(-1, 2)) AS t(dx), unnest(range(-1, 2)) AS u(dy)",
    )


_MD5_SPARK = (
    "CAST(conv(substr(md5(concat(CAST(c_custkey AS STRING), '#{salt}')), "
    "1, 12), 16, 10) AS BIGINT)"
)
_MD5_DUCK = (
    "CAST(concat('0x', substr(md5(concat(CAST(c_custkey AS VARCHAR), "
    "'#{salt}')), 1, 12)) AS BIGINT)"
)


# ---------------------------------------------------------------------------
# spatial_nn — bounded-radius NEAREST NEIGHBOR per point ("closest store
# within 20 km, if any"): symmetrize the within-radius candidates, take
# the per-point argmin as the exact integer key d²·10⁷ + neighbor_id
# (nearest first, lowest id on ties — deterministic, no min_by
# ambiguity), LEFT-join back so isolated points stay visible with NULLs
# (the standard "no coverage" row a reader must see, not lose).
# ---------------------------------------------------------------------------


def _spatial_nn_sql(md5x: str, md5y: str, idiv: str, explode_9: str) -> str:
    enc = "CAST(10000000 AS BIGINT)"
    return (
        _pts_sql(md5x, md5y)
        + ","
        + _pairs_sql(idiv, explode_9)
        + f""",
    sym AS (SELECT id_a AS id, id_b AS nb, d2 FROM hits
            UNION ALL
            SELECT id_b AS id, id_a AS nb, d2 FROM hits),
    best AS (SELECT id, CAST(min(d2 * {enc} + nb) AS BIGINT) AS k
             FROM sym GROUP BY id)
    SELECT p.id, p.x, p.y,
           CAST(b.k % {enc} AS BIGINT) AS neighbor_id,
           CAST(b.k {idiv} {enc} AS BIGINT) AS d2
    FROM pts p LEFT JOIN best b ON b.id = p.id
    """
    )


def spatial_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N194: bounded-radius nearest neighbor, NULL for isolated points."""
    _customer(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _spatial_nn_sql(
            _MD5_SPARK.format(salt="x"),
            _MD5_SPARK.format(salt="y"),
            "div",
            " LATERAL VIEW explode(sequence(-1, 1)) t AS dx"
            " LATERAL VIEW explode(sequence(-1, 1)) u AS dy",
        )
    )


def spatial_nn_oracle() -> str:
    return "WITH " + _spatial_nn_sql(
        _MD5_DUCK.format(salt="x"),
        _MD5_DUCK.format(salt="y"),
        "//",
        ", unnest(range(-1, 2)) AS t(dx), unnest(range(-1, 2)) AS u(dy)",
    )


# ---------------------------------------------------------------------------
# morans_i — global spatial autocorrelation (Moran's I) of the cell
# occupancy counts with rook adjacency: the first question after any
# spatial aggregation — are the dense cells CLUSTERED (I > 0), random
# (I ≈ −1/(N−1)), or dispersed (I < 0)? md5-placed points should read as
# spatially random, and the pin verifies I lands near the theoretical
# null expectation — the audit catching a broken spatial partitioner
# (which would cluster) IS the behavior under test.
# Lattice convention: OCCUPIED cells only (documented — empty cells are
# absent from a count frame by construction; a raster analysis would
# densify first). Exactness: with s = Σx and N cells, the centered value
# N·x_i − s is an exact integer, so both quadratic forms (the adjacency
# cross sum and the variance sum) are exact DECIMAL(38,0) folds; I is
# ONE double division at the readout.
# Scale shape: the corpus folds to O(#occupied cells); adjacency is a
# 4-offset bounded explode equi-joined on the neighbor cell id (the
# spatial_join discipline, degree-4 graph instead of 3×3 candidates).
# ---------------------------------------------------------------------------


def _morans_sql(md5x: str, md5y: str, idiv: str, explode_4: str) -> str:
    dec = "DECIMAL(38,0)"
    return (
        _pts_sql(md5x, md5y)
        + f""",
    cell AS (SELECT CAST(x {idiv} {RADIUS_M} AS BIGINT) AS cx,
                    CAST(y {idiv} {RADIUS_M} AS BIGINT) AS cy,
                    CAST(count(*) AS BIGINT) AS n
             FROM pts GROUP BY CAST(x {idiv} {RADIUS_M} AS BIGINT),
                               CAST(y {idiv} {RADIUS_M} AS BIGINT)),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS nc,
                   CAST(sum(n) AS BIGINT) AS s
            FROM cell),
    cen AS (SELECT cx, cy,
                   CAST(t.nc AS {dec}) * n - t.s AS c
            FROM cell CROSS JOIN tot t),
    nbr AS (SELECT a.cx + t.dx AS cx, a.cy + t.dy AS cy, a.c AS ca
            FROM cen a{explode_4}),
    cross_sum AS (SELECT CAST(sum(nb.ca * b.c) AS {dec}) AS sw,
                         CAST(count(*) AS BIGINT) AS w
                  FROM nbr nb JOIN cen b
                    ON b.cx = nb.cx AND b.cy = nb.cy),
    var_sum AS (SELECT CAST(sum(c * c) AS {dec}) AS sv FROM cen)
    SELECT t.nc AS n_cells, c.w AS n_adjacencies,
           round(CAST(t.nc AS DOUBLE) * CAST(c.sw AS DOUBLE)
                 / (CAST(c.w AS DOUBLE) * CAST(v.sv AS DOUBLE)), 6)
             AS morans_i,
           round(CAST(-1 AS DOUBLE) / (t.nc - 1), 6) AS null_expectation
    FROM cross_sum c CROSS JOIN var_sum v CROSS JOIN tot t
    """
    )


_EXPLODE_4_SPARK = (
    " LATERAL VIEW explode(array(named_struct('dx', 1, 'dy', 0),"
    " named_struct('dx', -1, 'dy', 0), named_struct('dx', 0, 'dy', 1),"
    " named_struct('dx', 0, 'dy', -1))) t0 AS t"
)
_EXPLODE_4_DUCK = (
    ", unnest([struct_pack(dx := 1, dy := 0), struct_pack(dx := -1, dy := 0),"
    " struct_pack(dx := 0, dy := 1), struct_pack(dx := 0, dy := -1)])"
    " AS t0(t)"
)


def morans_i(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N195: Moran's I of cell occupancy, exact-integer quadratic forms."""
    _customer(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _morans_sql(
            _MD5_SPARK.format(salt="x"),
            _MD5_SPARK.format(salt="y"),
            "div",
            _EXPLODE_4_SPARK,
        )
    )


def morans_i_oracle() -> str:
    return "WITH " + _morans_sql(
        _MD5_DUCK.format(salt="x"),
        _MD5_DUCK.format(salt="y"),
        "//",
        _EXPLODE_4_DUCK,
    )


# ---------------------------------------------------------------------------
# Streaming spatial join — the incremental SPATIAL INDEX (stream_minhash's
# stored-index pattern in two dimensions): each micro-batch cell-joins its
# own points against the stored point index (plus itself), emits the
# verified within-radius pairs, then APPENDS its points to the index —
# O(batch) work per batch, never an index rewrite. A pair is emitted
# exactly once, by whichever batch its later-arriving point lands in;
# the accumulated pair set over any batch partition of the points must
# hash-match the one-shot batch q_spatial_join (checked against its
# oracle VERBATIM through the differential gate). Pair emission is
# append-only with a distinct on read, the batch-id fence absorbs
# same-batch replays, and a cross-restart re-delivered point's duplicate
# index row yields only duplicate candidate hits, which the pair
# DISTINCT collapses — the geometry is idempotent throughout.
# ---------------------------------------------------------------------------


def _merge_spatial(
    spark: SparkSession, batch_df: DataFrame, base_dir: str, batch_id: int
) -> None:
    import os

    from pyspark.sql import functions as F

    snap = os.path.join(base_dir, "index")
    pairs_dir = os.path.join(base_dir, "pairs")
    if passes.applied(snap, batch_id):
        return
    # RAW index read — no per-batch dedup. The old dropDuplicates(["id"])
    # here shuffled the whole index through an id exchange every batch,
    # O(index) where the contract promises O(batch); a cross-restart
    # re-delivered point's duplicate row is identical by construction,
    # so its duplicate hits collapse in the pair DISTINCT below and the
    # emitted set is unchanged (r10, the _merge_minhash finding).
    index = passes.read_snapshot(spark, snap, "id bigint, x bigint, y bigint")
    build = index.unionByName(batch_df.select("id", "x", "y"))
    cell = build.select(
        "id", "x", "y",
        F.expr(f"CAST(x div {RADIUS_M} AS BIGINT)").alias("cx"),
        F.expr(f"CAST(y div {RADIUS_M} AS BIGINT)").alias("cy"),
    ).alias("b")
    probe = (
        batch_df.select("id", "x", "y")
        .selectExpr(
            "id", "x", "y",
            f"explode(sequence(-1, 1)) AS dx",
        )
        .selectExpr(
            "id", "x", "y",
            f"CAST(x div {RADIUS_M} AS BIGINT) + dx AS cx",
            "explode(sequence(-1, 1)) AS dy",
        )
        .selectExpr(
            "id", "x", "y", "cx",
            f"CAST(y div {RADIUS_M} AS BIGINT) + dy AS cy",
        )
        .alias("p")
    )
    d2 = (F.col("p.x") - F.col("b.x")) * (F.col("p.x") - F.col("b.x")) + (
        F.col("p.y") - F.col("b.y")
    ) * (F.col("p.y") - F.col("b.y"))
    hits = (
        probe.hint("shuffle_hash")
        .join(
            cell,
            (F.col("p.cx") == F.col("b.cx"))
            & (F.col("p.cy") == F.col("b.cy"))
            & (F.col("p.id") != F.col("b.id")),
        )
        .withColumn("d2", d2.cast("long"))
        .filter(F.col("d2") <= RADIUS_M * RADIUS_M)
        .select(
            F.least("p.id", "b.id").alias("id_a"),
            F.greatest("p.id", "b.id").alias("id_b"),
            "d2",
        )
        .distinct()
    )
    hits.write.mode("append").parquet(pairs_dir)
    # append-only index + idempotency marker (the stream_minhash contract)
    batch_df.select("id", "x", "y").write.mode("append").parquet(snap)
    passes.mark_applied(snap, batch_id)


def stream_spatial_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T20, oracle-checked: two availableNow passes of the incremental
    spatial index over parity-split points; the accumulated pair set must
    hash-match the one-shot batch q_spatial_join (its oracle verbatim)."""
    import os

    _customer(spark, sf_dir)
    pts = spark.sql(
        "WITH "
        + _pts_sql(
            _MD5_SPARK.format(salt="x"), _MD5_SPARK.format(salt="y")
        )
        + " SELECT id, x, y FROM pts"
    )
    base = passes.two_pass(
        spark, sf_dir, "t20_sp_", pts.filter("id % 2 = 0"),
        pts.filter("id % 2 = 1"),
        passes.foreach_merge(spark, "id bigint, x bigint, y bigint", _merge_spatial),
    )
    return (
        spark.read.parquet(os.path.join(base, "pairs"))
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", "d2")
    )
