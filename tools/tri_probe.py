"""q_triangles wall-time variance diagnosis (VERDICT r08 next-round #3).

The r08 judge measured 6.62 / 14.45 / 51.62 s for q_triangles across three
same-JVM samples on a quiet host — an unexplained 8× spread on the repo's
heaviest wedge join (answer hash-green throughout). Two candidate causes,
distinguishable by per-task metrics:

- **hot-src straggler**: the o1⋈o2 wedge join's per-src cost is d_out²;
  if one src dominates, ONE task carries most of the stage → per-stage
  max-task ≫ median-task, GC share normal, and the skew is the SAME every
  sample (deterministic data) — which would NOT explain run-to-run spread.
- **memory pressure** (localCheckpoint block churn + 32 concurrent
  SHUFFLE_HASH build maps): GC time share high and VARIABLE across
  samples, spreads grow when the JVM carries prior state — which explains
  a same-JVM spread a fresh JVM doesn't show.

Methodology (the skew_probe discipline): each sample is an ISOLATED
subprocess (fresh JVM) with the Spark event log enabled; the subprocess
runs one warmup + one timed execution to the noop sink, then parses its
own event log into per-stage task aggregates (max/median task ms, GC ms,
spill bytes). `--shadowed` runs a heavy unrelated query (q_stream_minhash,
the judge's bench context) in the SAME JVM first, reproducing the bench
in-session ordering. The orchestrator reports medians with min-max
envelopes for both modes plus the per-sample stage diagnostics.

Usage: python tools/tri_probe.py [--samples 5] [--sf /root/testdata/sf0.1]
       python tools/tri_probe.py --variant fresh   # subprocess mode
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _run_noop(fn, spark, sf):
    t0 = time.perf_counter()
    fn(spark, sf).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _parse_event_log(log_dir: str) -> list[dict]:
    """Per-stage task aggregates from the (single) event log file."""
    stages: dict[int, dict] = {}
    names: dict[int, str] = {}
    # Spark 4 writes a rolling event-log DIRECTORY (eventlog_v2_<app>/
    # events_1_..., appstatus_...); older versions write a single file.
    paths: list[str] = []
    for f in sorted(os.listdir(log_dir)):
        p = os.path.join(log_dir, f)
        if os.path.isdir(p):
            paths.extend(
                os.path.join(p, g)
                for g in sorted(os.listdir(p))
                if g.startswith("events")
            )
        elif not f.startswith("."):
            paths.append(p)
    for p in paths:
        with open(p, encoding="utf-8") as fh:
            lines = fh.readlines()
        for line in lines:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            if ev.get("Event") == "SparkListenerStageSubmitted":
                si = ev["Stage Info"]
                names[si["Stage ID"]] = si.get("Stage Name", "")
            if ev.get("Event") != "SparkListenerTaskEnd":
                continue
            sid = ev["Stage ID"]
            ti, tm = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
            st = stages.setdefault(
                sid,
                {
                    "tasks": [],
                    "gc_ms": 0,
                    "spill": 0,
                    "shuffle_read": 0,
                    "run_ms": 0,
                    "cpu_ms": 0,
                    "peak_mem": 0,
                },
            )
            dur = ti.get("Finish Time", 0) - ti.get("Launch Time", 0)
            st["tasks"].append(dur)
            # run-vs-cpu separates BLOCKED tasks (lock/IO wait: run >> cpu)
            # from genuinely computing ones (run ≈ cpu)
            st["run_ms"] += tm.get("Executor Run Time", 0)
            st["cpu_ms"] += tm.get("Executor CPU Time", 0) // 1_000_000
            st["peak_mem"] = max(
                st["peak_mem"], tm.get("Peak Execution Memory", 0)
            )
            st["gc_ms"] += tm.get("JVM GC Time", 0)
            st["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0
            )
            st["shuffle_read"] += (tm.get("Shuffle Read Metrics") or {}).get(
                "Remote Bytes Read", 0
            ) + (tm.get("Shuffle Read Metrics") or {}).get("Local Bytes Read", 0)
    out = []
    for sid, st in sorted(stages.items()):
        ts = sorted(st["tasks"])
        if not ts:
            continue
        out.append(
            {
                "stage": sid,
                "name": names.get(sid, "")[:60],
                "n_tasks": len(ts),
                "sum_ms": sum(ts),
                "max_ms": ts[-1],
                "med_ms": ts[len(ts) // 2],
                "gc_ms": st["gc_ms"],
                "run_ms": st["run_ms"],
                "cpu_ms": st["cpu_ms"],
                "peak_mem_mb": round(st["peak_mem"] / 1e6, 1),
                "spill_mb": round(st["spill"] / 1e6, 1),
            }
        )
    return out


def run_variant(args) -> int:
    """Subprocess: fresh JVM + event log; optional heavy-shadow prefix."""
    from pyspark.sql import SparkSession

    from proxyhouse_spark import registry
    from proxyhouse_spark.session import default_cpus, default_driver_memory, ship_package

    log_dir = tempfile.mkdtemp(prefix="tri_evlog_")
    cpus = default_cpus()
    # THE ENGINE'S SESSION CONFIG (session.py:get_spark — heap, AQE,
    # Arrow, nanosAsLong) + the event log. A first cut without the heap
    # setting measured a 1 GiB-default JVM: 28–100 s of GC inside 7–13 s
    # walls — a different machine than the one bench/judge run on.
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("tri_probe")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", log_dir)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    fn = registry.QUERIES["q_triangles"]
    if args.variant == "shadowed":
        # the bench in-session context: a heavy streaming dedup first
        _run_noop(registry.QUERIES["q_stream_minhash"], spark, args.sf)
    _run_noop(fn, spark, args.sf)  # warmup (codegen/JIT)
    wall = _run_noop(fn, spark, args.sf)
    spark.stop()
    time.sleep(1)  # let the event log flush/close
    stages = _parse_event_log(log_dir)
    heavy = sorted(stages, key=lambda s: -s["sum_ms"])[:6]
    print(
        json.dumps(
            {
                "variant": args.variant,
                "wall": round(wall, 2),
                "gc_ms_total": sum(s["gc_ms"] for s in stages),
                "spill_mb_total": round(sum(s["spill_mb"] for s in stages), 1),
                "heavy_stages": heavy,
            }
        )
    )
    return 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--samples", type=int, default=5)
    ap.add_argument("--sf", default=SF)
    ap.add_argument("--variant", choices=["fresh", "shadowed"])
    ap.add_argument("--modes", default="fresh,shadowed")
    args = ap.parse_args()
    if args.variant:
        return run_variant(args)

    # INTERLEAVED A/B (the SURVEY §6 ~sf1 policy): alternate modes sample
    # by sample so host-noise windows (hypervisor steal measured at up to
    # 25% on this guest) hit both arms with equal probability — absolute
    # medians of a single mode taken in different minutes are not
    # comparable on this host.
    results: dict[str, list[dict]] = {}
    for i in range(args.samples):
        for mode in args.modes.split(","):
            proc = subprocess.run(
                [sys.executable, __file__, "--variant", mode, "--sf", args.sf],
                capture_output=True,
                text=True,
                cwd=REPO,
            )
            line = [l for l in proc.stdout.splitlines() if l.startswith("{")]
            if not line:
                print(f"{mode}[{i}] FAILED:\n{proc.stderr[-2000:]}")
                return 1
            rec = json.loads(line[-1])
            results.setdefault(mode, []).append(rec)
            print(
                f"{mode}[{i}] wall={rec['wall']}s gc={rec['gc_ms_total']}ms "
                f"spill={rec['spill_mb_total']}MB",
                flush=True,
            )
    for mode, recs in results.items():
        walls = sorted(r["wall"] for r in recs)
        print(
            json.dumps(
                {
                    "mode": mode,
                    "median_wall": walls[len(walls) // 2],
                    "min": walls[0],
                    "max": walls[-1],
                    "max_over_min": round(walls[-1] / walls[0], 2),
                    "gc_ms": [r["gc_ms_total"] for r in recs],
                }
            )
        )
    # worst sample's heavy stages for straggler inspection
    for mode, recs in results.items():
        worst = max(recs, key=lambda r: r["wall"])
        print(f"--- {mode} worst sample (wall={worst['wall']}s) heavy stages:")
        for s in worst["heavy_stages"]:
            print(
                f"  stage {s['stage']} tasks={s['n_tasks']} sum={s['sum_ms']}ms "
                f"max={s['max_ms']}ms med={s['med_ms']}ms gc={s['gc_ms']}ms "
                f"run={s['run_ms']}ms cpu={s['cpu_ms']}ms "
                f"peak={s['peak_mem_mb']}MB spill={s['spill_mb']}MB {s['name']}"
            )
    return 0


if __name__ == "__main__":
    sys.exit(main())
