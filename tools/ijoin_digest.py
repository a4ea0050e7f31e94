"""Collect-free ~sf1 differential for q_stream_interval_join.

The round-5 sf1 campaign verified 319/324 queries by full order-insensitive
value hash; q_stream_interval_join was the one oracled query left at sf0.1
because its ~90M-row result made a driver-side collect harness-prohibitive
(VERDICT r05 "What's missing" #3).  This tool closes that gap with a
commutative, engine-neutral integer digest computed INSIDE each engine —
no row ever reaches Python:

  per row   v = (a_id%P)*1000003 + (b_id%P)*999983 + code(uri)*31
               + (epoch_us(a_ts)%P)*7 + (epoch_us(b_ts)%P)*11   (then %P)
  digest    = {count(*), sum(v), sum(a_id), sum(b_id)}

All arithmetic stays within BIGINT exactly (max per-row term ~4.3e15, max
sum ~2e17 « 2^63).  The check is one-sided: a digest MISMATCH proves the
row multisets diverge, while a match is strong probabilistic evidence of
agreement — a linear sum is not injective on multisets, so compensating
errors (e.g. +1/-1 split across two rows of one column) could in principle
cancel.  To shrink that collision space the digest carries TWO
independent coefficient sets (sum_v and sum_w, distinct primes per
column) plus the raw column sums and the exact count: a divergence
engineered to cancel in one linear form still has to cancel in the
second, independently-weighted one.  Treat a green digest as
corroboration alongside the full-hash verification the same query has at
sf0.1.  ``code(uri)`` is md5-derived per
DISTINCT uri (a handful of values) in Python and injected into both engines
as a tiny dimension — broadcast-joined in Spark, a VALUES list in DuckDB —
so no engine-specific string hash is ever trusted.

The Spark side runs the REAL two-pass availableNow streaming query
(cross-restart state restore included); the DuckDB side runs the registered
oracle SQL verbatim as a subquery.  A digest mismatch on any component
would localize the divergence (pair set vs payload columns).

``--join-type leftOuter`` runs the leftOuter twin instead
(stream_interval_join_left_query vs registry.IJOIN_LEFT_ORACLE — the
measured eviction-emission law, see that oracle's comment): null-padded
b_id/b_ts are coalesced to -1 inside v/w in BOTH engines, so the digest
distinguishes a null-padded row from any matched row (b_id >= 1 always),
and the raw sum_b skips NULLs identically in both engines.

Usage: python tools/ijoin_digest.py [--sf /root/repo/.scratch/sf1]
           [--join-type inner|leftOuter]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time

sys.path.insert(0, "/root/repo")

# a generous pass bound for the ~sf1 run (the ~sf1 events source is over
# the 4 MiB line, so the passes already get 32 state partitions)
os.environ.setdefault("SPARK_GRAFT_STREAM_TIMEOUT_S", "3600")

import duckdb  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from proxyhouse_spark.session import get_spark  # noqa: E402
from proxyhouse_spark.streaming import pipeline as sp  # noqa: E402
from proxyhouse_spark.tables import TABLES, epoch_micros  # noqa: E402

P = 2_147_483_647  # 2^31 - 1: keeps every product and 90M-row sum in BIGINT


def uri_code(u: str) -> int:
    return int(hashlib.md5(u.encode()).hexdigest()[:12], 16) % P


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/repo/.scratch/sf1")
    ap.add_argument("--join-type", choices=["inner", "leftOuter"],
                    default="inner")
    args = ap.parse_args()
    left = args.join_type == "leftOuter"

    spark = get_spark("ijoin_digest")
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.time()
    df = (
        sp.stream_interval_join_left_query(spark, args.sf)
        if left
        else sp.stream_interval_join_query(spark, args.sf)
    )

    # tiny engine-neutral uri dimension (distinct uris are a few dozen:
    # path × format × auth-extras variants of the synthetic request gen)
    uris = [r[0] for r in df.select("uri").distinct().collect()]
    codes = {u: uri_code(u) for u in uris}
    dim = spark.createDataFrame(
        [(u, c) for u, c in codes.items()], "uri string, code bigint"
    )

    # leftOuter: null b_id/b_ts -> -1 (unambiguous: matched b_id >= 1 and
    # epoch_us >= 0 always), mirrored exactly in the DuckDB SQL below
    b_id = F.coalesce(F.col("b_id"), F.lit(-1)) if left else F.col("b_id")
    b_us = (
        F.coalesce(epoch_micros("b_ts"), F.lit(-1))
        if left
        else epoch_micros("b_ts")
    )
    v = (
        (F.col("a_id") % P) * 1000003
        + (b_id % P) * 999983
        + F.col("code") * 31
        + (epoch_micros("a_ts") % P) * 7
        + (b_us % P) * 11
    ) % P
    # second independent coefficient set: an error vector that cancels in v
    # must also cancel under these weights (different primes per column)
    w = (
        (F.col("a_id") % P) * 777767
        + (b_id % P) * 666649
        + F.col("code") * 101
        + (epoch_micros("a_ts") % P) * 13
        + (b_us % P) * 17
    ) % P
    srow = (
        df.join(F.broadcast(dim), "uri")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(v).alias("sum_v"),
            F.sum(w).alias("sum_w"),
            F.sum("a_id").alias("sum_a"),
            F.sum("b_id").alias("sum_b"),
        )
        .collect()[0]
    )
    sdig = {k: int(srow[k]) for k in ("n", "sum_v", "sum_w", "sum_a", "sum_b")}
    t_spark = time.time() - t0
    print(f"spark  digest: {sdig} ({t_spark:.1f}s, streaming two-pass)")

    import __spark_entry__ as entrymod

    if left:
        from proxyhouse_spark.registry import IJOIN_LEFT_ORACLE as oracle
    else:
        oracle = entrymod.oracle_sql()["q_stream_interval_join"]
    t0 = time.time()
    con = duckdb.connect()
    for t in TABLES:
        p = f"{args.sf}/{t}.parquet"
        if os.path.isdir(p):
            assert os.path.exists(f"{p}/_SUCCESS"), f"partial write: {p}"
            p = f"{p}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    values = ", ".join(
        f"('{u.replace(chr(39), chr(39)*2)}', CAST({c} AS BIGINT))"
        for u, c in codes.items()
    )
    d_bid = "coalesce(res.b_id, -1)" if left else "res.b_id"
    d_bus = "coalesce(epoch_us(res.b_ts), -1)" if left else "epoch_us(res.b_ts)"
    sql = f"""
WITH res AS ({oracle}),
dim(uri, code) AS (VALUES {values})
SELECT count(*) AS n,
       sum((({d_bid} % {P}) * 999983 + (res.a_id % {P}) * 1000003
            + dim.code * 31 + (epoch_us(res.a_ts) % {P}) * 7
            + ({d_bus} % {P}) * 11) % {P}) AS sum_v,
       sum((({d_bid} % {P}) * 666649 + (res.a_id % {P}) * 777767
            + dim.code * 101 + (epoch_us(res.a_ts) % {P}) * 13
            + ({d_bus} % {P}) * 17) % {P}) AS sum_w,
       sum(res.a_id) AS sum_a, sum(res.b_id) AS sum_b
FROM res JOIN dim ON res.uri = dim.uri
"""
    orow = con.sql(sql).fetchone()
    odig = dict(
        zip(("n", "sum_v", "sum_w", "sum_a", "sum_b"), (int(x) for x in orow))
    )
    t_duck = time.time() - t0
    print(f"duckdb digest: {odig} ({t_duck:.1f}s, batch oracle)")

    ok = sdig == odig
    print(json.dumps({"match": ok, "rows": sdig["n"], "sf": args.sf,
                      "join_type": args.join_type,
                      "spark_s": round(t_spark, 1), "duck_s": round(t_duck, 1)}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
