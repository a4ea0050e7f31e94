"""Local differential harness mirroring the driver's t2 correctness check.

Runs every ``queries()`` entry at sf0.01 on Spark AND its ``oracle_sql()``
on DuckDB, then compares row count, column names, and an order-insensitive
value hash (columns sorted by name, rows sorted by stringified tuple).

Usage: python tools/check.py [--sf /root/testdata/sf0.01] [name ...]
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import math
import os
import sys
import time
from decimal import Decimal

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402

from proxyhouse_spark.session import (  # noqa: E402
    default_cpus,
    default_driver_memory,
    get_spark,
    ship_package,
)
from proxyhouse_spark.tables import TABLES  # noqa: E402


def norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, Decimal):
        # STRICTER than the driver on purpose: a Decimal output column is
        # a latent driver hash-fail (Spark renders "123.456000", DuckDB
        # fetch paths hand back float64 "123.456"). Coercing to float here
        # masked exactly that divergence in round 4 (4 driver hash-fails
        # while SELFCHECK was green). Fail the query outright instead.
        raise TypeError(
            "Decimal output column detected — cast the final projection to "
            f"DOUBLE (value: {v!r}). See VERDICT.md r04 finding #1."
        )
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(norm(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode())
        h.update(b"\x02")
    return h.hexdigest()


def vanilla_spark():
    """A driver-shaped SparkSession: NO engine tuning, and a deliberately
    non-UTC session timezone. Queries must produce oracle-identical results
    here — the driver's own session pins neither timezone nor parquet
    legacy flags, so any tz- or config-dependence is a latent driver
    failure that get_spark() would mask."""
    import os

    from pyspark.sql import SparkSession

    cpus = default_cpus()
    # SPARK_GRAFT_MASTER=local-cluster[2,8,4096] runs the same differential
    # on a 2-executor-process cluster — the single-JVM-assumption smoke
    # (localCheckpoint visibility, file: path sharing, driver-side merges).
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    b = (
        SparkSession.builder.master(master)
        .appName("check-vanilla")
        .config("spark.sql.session.timeZone", "America/New_York")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.ui.enabled", "false")
    )
    if master.startswith("local-cluster"):
        # executor memory comes from the master string; keep the driver slim
        b = b.config("spark.driver.memory", "8g")
    else:
        b = b.config("spark.driver.memory", default_driver_memory())
    spark = b.getOrCreate()
    # executor workers need the package for Arrow UDF imports — the bug the
    # local-cluster smoke exists to catch (see session.ship_package)
    ship_package(spark)
    return spark


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--tuned", action="store_true", help="use the engine's get_spark() session"
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = args.names or sorted(qs)

    spark = get_spark("check") if args.tuned else vanilla_spark()
    spark.sparkContext.setLogLevel("ERROR")

    # driver t1 mirror: entry() must run and return rows with a stable schema
    if not args.names:
        entry_rows = entrymod.entry(spark).collect()
        print(f"entry(): {len(entry_rows)} rows")
        if not entry_rows:
            print("entry(): FAIL (0 rows)")
            return 1
    import os as _os

    con = duckdb.connect()
    for t in TABLES:
        p = f"{args.sf}/{t}.parquet"
        if _os.path.isdir(p):  # Spark-written table (e.g. the ~sf1 scratch)
            # an interrupted scale_probe write leaves part files without the
            # _SUCCESS marker; reading them as a complete table would make
            # every differential over this table silently wrong (ADVICE r05)
            if not _os.path.exists(f"{p}/_SUCCESS"):
                print(f"FATAL: {p} has no _SUCCESS marker (partial write?)")
                return 1
            p = f"{p}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    failures = []
    results: dict[str, dict] = {}
    for name in names:
        if name not in qs:
            print(f"{name}: NOT REGISTERED")
            failures.append(name)
            continue
        t0 = time.time()
        try:
            sdf = qs[name](spark, args.sf)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"{name}: SPARK ERROR: {type(e).__name__}: {str(e)[:300]}")
            failures.append(name)
            continue
        # the driver canonicalizes via pandas sort_values, which raises on
        # list/dict cells — nested result columns are driver-unsafe
        nested = [
            f.name
            for f in sdf.schema.fields
            if f.dataType.typeName() in ("array", "map", "struct")
        ]
        if nested and name in oracles:
            print(f"{name}: DRIVER-UNSAFE nested result columns {nested}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"{name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s) [no oracle]")
            results[name] = {"status": "rows-only", "rows": len(srows),
                             "secs": round(time.time() - t0, 1)}
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"{name}: DUCKDB ERROR: {type(e).__name__}: {str(e)[:300]}")
            failures.append(name)
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} duck={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(ocols)}")
        else:
            sh, oh = table_hash(scols, srows), table_hash(ocols, orows)
            if sh != oh:
                problems.append("value-hash mismatch")
                so = sorted(range(len(scols)), key=lambda i: scols[i])
                oo = sorted(range(len(ocols)), key=lambda i: ocols[i])
                sset = sorted("\x01".join(norm(r[i]) for i in so) for r in srows)
                oset = sorted("\x01".join(norm(r[i]) for i in oo) for r in orows)
                for a, b in zip(sset, oset):
                    if a != b:
                        problems.append(f"  first diff:\n  spark: {a[:300]}\n  duck : {b[:300]}")
                        break
        if problems:
            print(f"{name}: FAIL ({time.time()-t0:.1f}s) " + "; ".join(problems[:2]))
            for p in problems[2:]:
                print(p)
            failures.append(name)
            results[name] = {"status": "FAIL", "detail": problems[:2],
                             "secs": round(time.time() - t0, 1)}
        else:
            print(f"{name}: OK ({len(srows)} rows, {time.time()-t0:.1f}s)")
            results[name] = {"status": "OK", "rows": len(srows),
                             "secs": round(time.time() - t0, 1)}

    print(f"\n{len(names)-len(failures)}/{len(names)} passed")
    # machine-readable artifact for full runs: mirrors the driver's
    # CORRECTNESS file but always covers the WHOLE registry (the driver
    # snapshot has been observed to lag HEAD — r2 verdict item 1)
    if not args.names:
        import json as _json

        with open(os.path.join(REPO, "SELFCHECK.json"), "w", encoding="utf-8") as f:
            _json.dump(
                {
                    "sf": args.sf,
                    "session": "tuned" if args.tuned else "vanilla-ny",
                    "total": len(names),
                    "passed": len(names) - len(failures),
                    "queries": results,
                },
                f,
                indent=1,
                sort_keys=True,
            )
        print("SELFCHECK.json written")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
