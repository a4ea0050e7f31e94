"""Measured skew evidence for the engine's two salting recipes.

The fixtures' shuffle keys are near-uniform, so `q_join_salted` and
`q_groupby_concat_salted` prove *semantics* (same oracle as their unsalted
twins) but never get to show their *win* — and the 100 TB story leans on
that win: one hot key holding a constant share of a growing stream puts a
constant share of ALL bytes through a single reduce task forever, no matter
how many executors you add. This probe builds a deliberately skewed dataset
(one key owns `--hot-share` of the rows; the rest are uniform over
`--n-keys` keys), then times the engine's recipes against the naive
spellings at identical semantics:

  join  (fact ⋈ non-broadcastable dim, broadcast disabled to expose the
         shuffle path — at 100 TB the dim IS too big to broadcast):
    - join_unsalted      sort-merge, AQE skew-join OFF — straggler baseline
    - join_aqe_split     sort-merge, AQE skew-join ON  — Spark's runtime fix
    - join_salted        (key, salt) SHUFFLE_HASH      — q_join_salted's
      recipe (relational.py:join_salted): works where AQE can't see or
      can't split (shuffled-hash build side, downstream keyed stages)

  agg   (collect_list-shaped concat — NON-algebraic, so map-side combine
         cannot collapse the hot key and AQE has no skewed-AGG splitter;
         salting is the only lever):
    - agg_one_stage      groupBy(key) concat — hot key's bytes in 1 task
    - agg_two_stage      (key, salt) partial → merge —
      buffer_aggregate_salted's shape (ingest.py:199)

METHODOLOGY — one fresh JVM per sample. A first cut ran all variants in
one session and the numbers were garbage: the identical one-stage agg read
2.0 s in a fresh JVM and 53 s when it followed the join section in a shared
one (heap growth + ObjectHashAggregate sort-fallback state + GC pressure
carry across variants and even across *processes* via the page cache on a
shared host). So the orchestrator (default mode) runs each variant
`--jvms` times as an isolated subprocess (`--variant <name>` mode: build
views, one warmup execution, one timed execution, print JSON) and reports
the per-variant MEDIAN wall with its min-max spread. Each subprocess also
prints a checksum of its full result (sorted row tuples md5), and the
orchestrator asserts all variants of a shape agree — the probe doubles as
a semantics check on skewed data the oracled fixtures can't provide.

The dataset is deterministic (id-derived columns, no RNG) and cached under
.scratch/skew per parameter combination.

Usage: python tools/skew_probe.py [--shape join|agg|both] [--rows 8000000]
           [--hot-share 0.5] [--n-keys 20000] [--salts 32] [--jvms 3]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SCRATCH = os.path.join(REPO, ".scratch", "skew")

JOIN_VARIANTS = ("join_unsalted", "join_aqe_split", "join_salted")
AGG_VARIANTS = ("agg_one_stage", "agg_two_stage")


def hot_mod_for(hot_share: float) -> int:
    """The generator can only realize reciprocal hot shares (1/hot_mod of the
    ids land on the hot key). Round to the nearest supported modulus; the
    ACHIEVED share (1/hot_mod) is what gets recorded and what keys the
    dataset cache — a requested 0.6 and 0.4 both realize 0.5 and must not
    silently reuse (or rebuild) each other's datasets under different
    labels."""
    return max(2, int(round(1.0 / hot_share)))


def build(spark, rows: int, hot_share: float, n_keys: int) -> tuple[str, str]:
    """Materialize facts + dim once per parameter combination. Deterministic:
    every column derives from the row id, so reruns and both join sides
    agree by construction."""
    from pyspark.sql import functions as F

    hot_mod = hot_mod_for(hot_share)
    tag = f"{rows}_m{hot_mod}_{n_keys}"
    fact_path = f"{SCRATCH}/facts_{tag}.parquet"
    dim_path = f"{SCRATCH}/dim_{tag}.parquet"
    if os.path.exists(f"{fact_path}/_SUCCESS") and os.path.exists(
        f"{dim_path}/_SUCCESS"
    ):
        return fact_path, dim_path
    spark.range(rows).select(
        F.col("id"),
        # id % hot_mod == 0 → the hot key (key 0); else uniform over 1..n_keys
        F.when(F.col("id") % hot_mod == 0, F.lit(0))
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(n_keys)) + 1)
        .cast("long")
        .alias("key"),
        ((F.col("id") % 997) / F.lit(100.0)).alias("val"),
        F.concat(F.lit("b"), F.col("id")).alias("body"),
    ).write.mode("overwrite").parquet(fact_path)
    spark.range(n_keys + 1).select(
        F.col("id").alias("key"), (F.col("id") * 2 + 1).alias("dim_val")
    ).write.mode("overwrite").parquet(dim_path)
    return fact_path, dim_path


def variant_sql(variant: str, salts: int) -> str:
    join_agg = """
               count(*) AS n,
               sum(CASE WHEN f.val > d.dim_val THEN 1 ELSE 0 END) AS n_above,
               sum(CAST(round(f.val * 100) AS BIGINT)) AS total_cents
    """
    if variant in ("join_unsalted", "join_aqe_split"):
        return f"""
        SELECT /*+ MERGE(d) */ f.key, {join_agg}
        FROM facts f JOIN dim d ON f.key = d.key
        GROUP BY f.key
        """
    if variant == "join_salted":
        return f"""
        WITH dim_x AS (SELECT key, dim_val,
                              explode(sequence(0, {salts - 1})) AS salt
                       FROM dim),
        -- THE SHIPPED SALT SPELLING (relational.py:join_salted /
        -- ingest.py:buffer_aggregate_salted, r09): pmod(xxhash64(row id), S).
        -- The probe hashes id+1 only because its synthetic KEY derivation
        -- already consumes xxhash64(id) (the hot-key predicate is id %%
        -- hot_mod == 0 and cold keys are pmod(xxhash64(id), n_keys)) — a
        -- salt sharing that hash input would correlate with the key. Real
        -- operators salt a column the join key is not derived from, so
        -- they hash the id directly; both are decorrelated by construction.
        fact AS (SELECT key, val,
                        CAST(pmod(xxhash64(id + 1), {salts}) AS INT) AS salt
                 FROM facts)
        SELECT /*+ SHUFFLE_HASH(d) */ f.key, {join_agg}
        FROM fact f JOIN dim_x d ON f.key = d.key AND f.salt = d.salt
        GROUP BY f.key
        """
    if variant == "agg_one_stage":
        return """
        SELECT key, md5(concat_ws(',', sort_array(collect_list(body)))) AS h,
               count(*) AS n
        FROM facts GROUP BY key
        """
    if variant == "agg_two_stage":
        return f"""
        WITH part AS (
            SELECT key, CAST(pmod(xxhash64(id + 1), {salts}) AS INT) AS salt,
                   collect_list(body) AS bodies_part, count(*) AS n_part
            FROM facts GROUP BY key, salt
        )
        SELECT key,
               md5(concat_ws(',',
                   sort_array(flatten(collect_list(bodies_part))))) AS h,
               sum(n_part) AS n
        FROM part GROUP BY key
        """
    raise SystemExit(f"unknown variant {variant}")


def run_variant(args) -> int:
    """Subprocess mode: fresh JVM, warmup once, time once, emit JSON."""
    from proxyhouse_spark.session import get_spark

    spark = get_spark("skew_probe")
    spark.sparkContext.setLogLevel("ERROR")
    for kv in args.conf:
        k, _, v = kv.partition("=")
        spark.conf.set(k, v)
    fact_path, dim_path = build(spark, args.rows, args.hot_share, args.n_keys)
    spark.read.parquet(fact_path).createOrReplaceTempView("facts")
    spark.read.parquet(dim_path).createOrReplaceTempView("dim")
    if args.variant.startswith("join_"):
        # the 100 TB premise is a dim too large to broadcast; at fixture
        # size Spark would broadcast it and hide the skew entirely — which
        # is itself the FIRST skew fix
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.enabled",
            "true" if args.variant == "join_aqe_split" else "false",
        )
    sql = variant_sql(args.variant, args.salts)

    def run():
        return spark.sql(sql).collect()

    run()  # warmup: scan cache + codegen + JIT
    t = time.time()
    rows = run()
    wall = time.time() - t
    checksum = hashlib.md5(
        repr(sorted(tuple(r) for r in rows)).encode()
    ).hexdigest()
    print(
        json.dumps(
            {"variant": args.variant, "t": round(wall, 2), "checksum": checksum}
        )
    )
    return 0


def orchestrate(args) -> int:
    variants = []
    if args.shape in ("join", "both"):
        variants += list(JOIN_VARIANTS)
    if args.shape in ("agg", "both"):
        variants += list(AGG_VARIANTS)
    out = {
        "probe": "skew",
        "rows": args.rows,
        "hot_share_requested": args.hot_share,
        "hot_share_achieved": round(1.0 / hot_mod_for(args.hot_share), 4),
        "n_keys": args.n_keys,
        "salts": args.salts,
        "jvms": args.jvms,
    }
    checksums: dict[str, set] = {}
    for variant in variants:
        walls = []
        for _ in range(args.jvms):
            proc = subprocess.run(
                [
                    sys.executable,
                    os.path.abspath(__file__),
                    "--variant",
                    variant,
                    "--rows",
                    str(args.rows),
                    "--hot-share",
                    str(args.hot_share),
                    "--n-keys",
                    str(args.n_keys),
                    "--salts",
                    str(args.salts),
                ]
                + [x for kv in args.conf for x in ("--conf", kv)],
                capture_output=True,
                text=True,
                check=True,
            )
            rec = json.loads(proc.stdout.strip().splitlines()[-1])
            walls.append(rec["t"])
            shape = variant.split("_")[0]
            checksums.setdefault(shape, set()).add(rec["checksum"])
        out[variant] = {
            "median_s": round(statistics.median(walls), 2),
            "min_s": min(walls),
            "max_s": max(walls),
        }
        print(f"{variant}: {out[variant]}", file=sys.stderr)
    for shape, sums in checksums.items():
        assert len(sums) == 1, f"{shape} variants disagree: {sums}"
    out["results_equal"] = True
    print(json.dumps(out))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=8_000_000)
    ap.add_argument("--hot-share", type=float, default=0.5)
    ap.add_argument("--n-keys", type=int, default=20_000)
    ap.add_argument("--salts", type=int, default=32)
    ap.add_argument("--jvms", type=int, default=3)
    ap.add_argument("--shape", choices=["join", "agg", "both"], default="both")
    ap.add_argument(
        "--variant",
        choices=JOIN_VARIANTS + AGG_VARIANTS,
        help="internal: run ONE variant in this process and emit its timing",
    )
    ap.add_argument(
        "--conf",
        action="append",
        default=[],
        metavar="KEY=VAL",
        help="extra spark conf(s) applied in each variant JVM — for "
        "mechanism experiments (e.g. forceOptimizeSkewedJoin, the "
        "objectHashAggregate fallback threshold)",
    )
    args = ap.parse_args()
    return run_variant(args) if args.variant else orchestrate(args)


if __name__ == "__main__":
    raise SystemExit(main())
