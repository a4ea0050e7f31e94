"""Scaling probe: how does the headline suite behave at 10× the bench SF?

Builds a one-off ~sf1 dataset under .scratch/ (10 copies of sf0.1 with
consistently shifted keys, so key cardinality — users, orders, docs —
scales with the data instead of piling duplicates onto fixed keys), then
times each headline query steady-state (second run) at both scales and
prints per-query wall-clock ratios. A ratio near the data ratio (10×)
means scan-bound linear scaling; materially above it means a superlinear
plan (the thing this probe exists to catch).

Usage: python tools/scale_probe.py
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from bench import HEADLINE, SF_DIR  # noqa: E402
from proxyhouse_spark import registry  # noqa: E402
from proxyhouse_spark.session import get_spark  # noqa: E402
from proxyhouse_spark.tables import TABLES, table  # noqa: E402

SCRATCH = os.path.join(REPO, ".scratch", "sf1")
COPIES = 10
OFF = 10_000_000  # multiple of every fixture modulus (10, 25, …): injected
# dup/near-dup patterns replicate per copy instead of breaking

# key columns to shift per table so referential joins keep matching
SHIFTS = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    # dims stay as-is: every copy references the same nations/regions/parts
    "nation": [],
    "region": [],
    "part": [],
    "supplier": [],
}


def build_scratch(spark) -> None:
    os.makedirs(SCRATCH, exist_ok=True)
    for name in TABLES:
        out = f"{SCRATCH}/{name}.parquet"
        if os.path.exists(out):
            continue
        base = table(spark, SF_DIR, name)
        shifts = SHIFTS[name]
        if not shifts:
            base.write.mode("overwrite").parquet(out)
            continue
        parts = []
        for i in range(COPIES):
            df = base
            for col in shifts:
                df = df.withColumn(col, F.col(col) + F.lit(i * OFF))
            if name == "documents":  # make copies distinct documents
                df = df.withColumn(
                    "text", F.concat(F.lit(f"c{i} "), F.col("text"))
                ).withColumn("n_chars", F.col("n_chars") + len(f"c{i} "))
            if name == "embeddings":  # avoid 10x exact-tie vectors
                df = df.withColumn(
                    "embedding",
                    F.concat(
                        F.array(F.element_at("embedding", 1) + F.lit(i * 1e-3)),
                        F.slice("embedding", 2, 63),
                    ),
                )
            parts.append(df)
        merged = parts[0]
        for p in parts[1:]:
            merged = merged.unionByName(p)
        merged.write.mode("overwrite").parquet(out)
        print(f"built {name}", file=sys.stderr)


def run_suite(
    spark, sf_dir: str, timed_runs: int = 3, names=None
) -> tuple[dict[str, float], dict[str, int]]:
    """Median of ``timed_runs`` after one warmup. One warmup is NOT enough
    at the big SF: the expression-heaviest queries (md5-sketch dedup) run
    3-10× slower until HotSpot finishes compiling the generated code, and
    the allocation-heavy verify stage has real GC variance even warm —
    measured 78 s, 92 s, 7 s, 19 s for four identical q_minhash_neardup
    runs at ~sf1. The median of three timed runs is the number a
    long-running engine actually delivers."""
    timings, rows = {}, {}
    for name in (names or HEADLINE):
        fn = registry.QUERIES[name]
        # warmup doubles as the output-cardinality measurement: a probe
        # ratio is only meaningful against how much the RESULT grew (a
        # pair-listing query over a 10x-duplicated corpus owes a ~100x
        # larger answer — that's workload growth, not a plan flaw)
        rows[name] = fn(spark, sf_dir).count()
        samples = []
        for _ in range(timed_runs):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
        samples.sort()
        timings[name] = round(samples[len(samples) // 2], 3)
    return timings, rows


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("names", nargs="*", help="subset of queries to probe")
    ap.add_argument(
        "--small",
        default=SF_DIR,
        help="small-side fixture dir (default: bench SF). Pass "
        "/root/testdata/sf0.01 to turn the ~sf1 scratch into a 100x probe.",
    )
    ap.add_argument(
        "--data-ratio",
        type=float,
        default=None,
        help="data ratio big/small (default: COPIES vs the bench SF; "
        "inferred x10 per sf decade when --small differs)",
    )
    ap.add_argument(
        "--runs",
        type=int,
        default=3,
        help="timed runs per query (median reported). Use 1 for the "
        "minutes-long 100x heavy subset; note it in the writeup.",
    )
    ap.add_argument(
        "--build-only",
        action="store_true",
        help="build the ~sf1 scratch under .scratch/sf1 and exit — the "
        "setup step of the standing 100x gate (verify skill step 2)",
    )
    args = ap.parse_args()
    data_ratio = args.data_ratio
    if data_ratio is None:
        # scratch is COPIES x the bench SF; scale by the sf-dir decade gap
        small_sf = float(args.small.rstrip("/").split("sf")[-1])
        bench_sf = float(SF_DIR.rstrip("/").split("sf")[-1])
        data_ratio = COPIES * bench_sf / small_sf

    from bench import _cpu_ticks, steal_pct

    spark = get_spark("scale_probe")
    build_scratch(spark)
    if args.build_only:
        print(f"scratch ready: {SCRATCH}")
        return
    names = args.names or None
    # per-side hypervisor-steal share (SURVEY §6 r09 policy): the same
    # probe measured 26.2x inside a steal storm and 0.9x in a quiet
    # window for the same query at the same HEAD — a ratio without its
    # steal trace is not evidence
    t0 = _cpu_ticks()
    small, small_rows = run_suite(spark, args.small, timed_runs=args.runs, names=names)
    t1 = _cpu_ticks()
    big, big_rows = run_suite(spark, SCRATCH, timed_runs=args.runs, names=names)
    t2 = _cpu_ticks()
    ratios = {k: round(big[k] / max(small[k], 1e-9), 1) for k in small}
    out_ratios = {k: round(big_rows[k] / max(small_rows[k], 1), 1) for k in small}
    print(
        json.dumps(
            {
                "data_ratio": data_ratio,
                "sf_small_total": round(sum(small.values()), 2),
                "sf_big_total": round(sum(big.values()), 2),
                "total_ratio": round(sum(big.values()) / sum(small.values()), 1),
                "per_query_ratio": ratios,
                "output_rows_ratio": out_ratios,
                "big": big,
                "steal_pct_small": steal_pct(t0, t1),
                "steal_pct_big": steal_pct(t1, t2),
            }
        )
    )


if __name__ == "__main__":
    main()
