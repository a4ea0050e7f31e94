"""Output-type parity sweep: Spark result schema vs DuckDB oracle types.

Round 4's driver hash-fails were all OUTPUT-TYPE divergence (Spark DECIMAL
vs DuckDB DOUBLE) that value-level normalization masked. The decimal case
is now banned outright (tools/check.py raises, test_plans sweeps), but the
same trap generalizes: a column Spark types DOUBLE where the oracle returns
BIGINT renders "5.0" vs "5" under any stringify-then-hash comparison, and
norm()'s %.9g collapses exactly that difference. This sweep compares the
TYPE CATEGORY of every output column of every oracled query on both
engines — lazily (Spark schema + DuckDB relation types, no row movement
for batch queries) — and reports any column whose categories differ.

Usage: python tools/type_sweep.py [--sf /root/testdata/sf0.01] [name ...]
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402

from proxyhouse_spark.session import get_spark  # noqa: E402
from proxyhouse_spark.tables import TABLES  # noqa: E402
from proxyhouse_spark.typecats import duck_cat, spark_cat  # noqa: E402,F401


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = args.names or sorted(n for n in qs if n in oracles)

    spark = get_spark("type_sweep")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')"
        )

    bad = []
    for name in names:
        try:
            sdf = qs[name](spark, args.sf)
            stypes = {f.name: spark_cat(f.dataType) for f in sdf.schema.fields}
        except Exception as e:  # noqa: BLE001
            print(f"{name}: SPARK ERROR {type(e).__name__}: {str(e)[:200]}")
            bad.append(name)
            continue
        try:
            rel = con.sql(oracles[name])
            otypes = dict(zip(rel.columns, (duck_cat(t) for t in rel.types)))
        except Exception as e:  # noqa: BLE001
            print(f"{name}: DUCKDB ERROR {type(e).__name__}: {str(e)[:200]}")
            bad.append(name)
            continue
        problems = []
        for col in sorted(set(stypes) | set(otypes)):
            sc, oc = stypes.get(col), otypes.get(col)
            if sc != oc:
                problems.append(f"{col}: spark={sc} duck={oc}")
        if problems:
            print(f"{name}: TYPE MISMATCH " + "; ".join(problems))
            bad.append(name)
        else:
            print(f"{name}: ok")
    print(f"\n{len(names) - len(bad)}/{len(names)} type-clean")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
