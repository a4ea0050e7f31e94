"""Collect-free ~sf1 differential for the batch dedup flagships
(VERDICT r09 #5).

The streaming interval join carries 879M-row digest evidence at ~sf1; the
LLM dedup family's largest full-hash verification is sf0.1 (plus
q_fuzzy_match at ~sf1). This tool extends the ijoin_digest.py pattern to
the two batch flagships the verdict named:

  q_minhash_neardup   (doc_a, doc_b, jaccard)        — banded LSH + verify
  q_substring_dedup   (doc_id, span_start, span_end,
                       n_dup_tokens)                  — ExactSubstr spans

Method (identical to tools/ijoin_digest.py): both engines compute a
commutative, engine-neutral integer digest INSIDE the engine — count(*),
per-column BIGINT sums, and TWO independently-weighted per-row linear
combinations mod P (distinct primes per column per set), so an error
vector engineered to cancel in one linear form must independently cancel
in the second. No row ever reaches Python. jaccard (round(…, 4) in both
engines — the identity the sf0.01/0.1 hash gate proves renders
identically) is carried as CAST(round(jaccard * 10000) AS BIGINT), exact
because the value is already quantized to 4 decimals.

All arithmetic stays within BIGINT exactly: each per-row term is reduced
mod P = 2^31 - 1 before summation (per-row value < 2.2e9; even 1e8 rows
sum < 2.2e17 « 2^63), and raw id sums at ~sf1 stay < 1e16.

Steal-trace policy (r09): a background /proc/stat sampler records the
mean and peak hypervisor-steal share per engine phase; wall times are
reported but must be EXCLUDED from any scale envelope unless the trace is
quiet (mean < 2%), exactly as the ~sf1 ijoin digests are recorded.

Usage: python tools/dedup_digest.py [--sf .scratch/sf1]
           [--query minhash|substring|both]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from proxyhouse_spark import registry  # noqa: E402
from proxyhouse_spark.session import get_spark  # noqa: E402
from proxyhouse_spark.tables import TABLES  # noqa: E402

P = 2_147_483_647  # 2^31 - 1: keeps every product and ~sf1 sum in BIGINT

# per-query digest spec: (registry key, [(column, spark_expr, duck_expr,
# prime_v, prime_w), ...]) — the exprs yield BIGINT columns; jaccard is
# quantized to an exact integer first.
SPECS = {
    "minhash": (
        "q_minhash_neardup",
        [
            ("doc_a", "doc_a", "doc_a", 1000003, 777767),
            ("doc_b", "doc_b", "doc_b", 999983, 666649),
            (
                "j10k",
                "CAST(round(jaccard * 10000) AS BIGINT)",
                "CAST(round(jaccard * 10000) AS BIGINT)",
                31,
                101,
            ),
        ],
    ),
    "substring": (
        "q_substring_dedup",
        [
            ("doc_id", "doc_id", "doc_id", 1000003, 777767),
            ("span_start", "span_start", "span_start", 999983, 666649),
            ("span_end", "span_end", "span_end", 31, 101),
            ("n_dup_tokens", "n_dup_tokens", "n_dup_tokens", 7, 13),
        ],
    ),
}


class StealTrace:
    """Background /proc/stat sampler: mean + peak steal share per phase."""

    def __init__(self, interval_s: float = 2.0):
        self.interval = interval_s
        self.samples: list[float] = []
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    @staticmethod
    def _ticks():
        try:
            v = [int(x) for x in open("/proc/stat").readline().split()[1:]]
            return v[7], sum(v)
        except (OSError, IndexError, ValueError):
            return None

    def _run(self):
        prev = self._ticks()
        while not self._stop.wait(self.interval):
            cur = self._ticks()
            if prev and cur and cur[1] > prev[1]:
                self.samples.append(
                    100.0 * (cur[0] - prev[0]) / (cur[1] - prev[1])
                )
            prev = cur

    def __enter__(self):
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def summary(self) -> dict:
        if not self.samples:
            return {"steal_mean": None, "steal_peak": None}
        return {
            "steal_mean": round(sum(self.samples) / len(self.samples), 2),
            "steal_peak": round(max(self.samples), 2),
        }


def digest_exprs(cols, duck: bool) -> tuple[list[str], list[str]]:
    """(expressions, output names): count + two mod-P weighted sums + raw
    per-column sums, one SQL expression per list element."""
    expr = lambda s, d: d if duck else s  # noqa: E731
    v = " + ".join(
        f"(({expr(s, d)} % {P}) * {pv})" for (_, s, d, pv, _pw) in cols
    )
    w = " + ".join(
        f"(({expr(s, d)} % {P}) * {pw})" for (_, s, d, _pv, pw) in cols
    )
    exprs = [
        "CAST(count(*) AS BIGINT) AS n",
        f"CAST(sum(({v}) % {P}) AS BIGINT) AS sum_v",
        f"CAST(sum(({w}) % {P}) AS BIGINT) AS sum_w",
    ] + [
        f"CAST(sum({expr(s, d)}) AS BIGINT) AS sum_{name}"
        for (name, s, d, _pv, _pw) in cols
    ]
    names = ["n", "sum_v", "sum_w"] + [f"sum_{name}" for name, *_ in cols]
    return exprs, names


def run_one(spark, con, name: str, sf: str) -> dict:
    qkey, cols = SPECS[name]

    # ---- Spark side: the real registered query, digested in-engine ----
    with StealTrace() as trace_s:
        t0 = time.time()
        df = registry.QUERIES[qkey](spark, sf)
        exprs, _names = digest_exprs(cols, duck=False)
        srow = df.selectExpr(*exprs).collect()[0]
        t_spark = time.time() - t0
    sdig = {k: int(v) for k, v in srow.asDict().items()}
    spark_trace = trace_s.summary()

    # ---- DuckDB side: the registered oracle verbatim, as a subquery ----
    with StealTrace() as trace_d:
        t0 = time.time()
        oracle = registry.ORACLES[qkey]
        exprs, names = digest_exprs(cols, duck=True)
        sql = f"WITH res AS ({oracle}) SELECT {', '.join(exprs)} FROM res"
        orow = con.sql(sql).fetchone()
        t_duck = time.time() - t0
    odig = dict(zip(names, (int(x) for x in orow)))
    duck_trace = trace_d.summary()

    ok = sdig == odig
    rec = {
        "query": qkey,
        "match": ok,
        "rows": sdig["n"],
        "sf": sf,
        "spark_digest": sdig,
        "duck_digest": odig,
        "spark_s": round(t_spark, 1),
        "duck_s": round(t_duck, 1),
        "spark_steal": spark_trace,
        "duck_steal": duck_trace,
    }
    print(json.dumps(rec))
    return rec


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.path.join(REPO, ".scratch", "sf1"))
    ap.add_argument(
        "--query", choices=["minhash", "substring", "both"], default="both"
    )
    args = ap.parse_args()

    spark = get_spark("dedup_digest")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        p = f"{args.sf}/{t}.parquet"
        if os.path.isdir(p):
            assert os.path.exists(f"{p}/_SUCCESS"), f"partial write: {p}"
            p = f"{p}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    targets = ["minhash", "substring"] if args.query == "both" else [args.query]
    results = [run_one(spark, con, n, args.sf) for n in targets]
    return 0 if all(r["match"] for r in results) else 1


if __name__ == "__main__":
    sys.exit(main())
