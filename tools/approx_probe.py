"""~sf1 accuracy audit for the rows-only approximate operators.

Three of the four rows-only-by-design queries are sketches whose accuracy
contract is pinned by pytest at gate scale (sf0.01, and sf0.1 for MAD as of
round 6).  This probe re-measures each sketch against its EXACT twin at any
fixture dir — run it at .scratch/sf1 to extend the bound to 100× the gate,
completing the rows-only ops' share of the sf1 evidence (the fourth,
q_gelf_packet, is byte-level zlib transport with golden tests — nothing
numeric to bound):

  q_approx_distinct     vs q_count_distinct   (HLL++ rel-sd 0.05 default)
  q_approx_percentiles  vs q_percentiles      (accuracy=1000 → rank err 1e-3)
  q_mad_outliers_approx vs q_mad_outliers     (two approx medians, |z| cut)

Prints one JSON line with the worst relative error per op.

Usage: python tools/approx_probe.py [--sf .scratch/sf1]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from proxyhouse_spark.session import get_spark  # noqa: E402


def keyed(df, key="event_type"):
    return {r[key]: r.asDict() for r in df.collect()}


def rel(a: float, b: float) -> float:
    return abs(a - b) / max(abs(b), 1e-9)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.path.join(REPO, ".scratch", "sf1"))
    args = ap.parse_args()

    from proxyhouse_spark import registry

    spark = get_spark("approx_probe")
    spark.sparkContext.setLogLevel("ERROR")
    q = registry.QUERIES
    out = {"sf": args.sf}

    exact = keyed(q["q_count_distinct"](spark, args.sf))
    approx = keyed(q["q_approx_distinct"](spark, args.sf))
    assert set(exact) == set(approx)
    out["approx_distinct_max_rel_err"] = round(
        max(rel(approx[t]["approx_users"], exact[t]["n_users"]) for t in exact), 4
    )

    exact = keyed(q["q_percentiles"](spark, args.sf))
    approx = keyed(q["q_approx_percentiles"](spark, args.sf))
    assert set(exact) == set(approx)
    out["approx_percentiles_max_rel_err"] = round(
        max(
            rel(approx[t][p], exact[t][p])
            for t in exact
            for p in ("p50", "p95", "p99")
        ),
        4,
    )

    exact = keyed(q["q_mad_outliers"](spark, args.sf))
    approx = keyed(q["q_mad_outliers_approx"](spark, args.sf))
    assert set(exact) == set(approx)
    out["mad_median_max_rel_err"] = round(
        max(rel(approx[t]["median"], exact[t]["median"]) for t in exact), 4
    )
    out["mad_outliers_max_rel_err"] = round(
        max(
            rel(approx[t]["n_outliers"], exact[t]["n_outliers"])
            for t in exact
        ),
        4,
    )
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
