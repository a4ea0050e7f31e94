"""End-to-end benchmark of the insert-coalescing engine, one command.

    python3 perfbench/run.py --workload ingest_burst --seed 1 --seconds 10 --trace 0

The benchmark's own process is the system under test: it starts the Spark
session, the ``IngestShim`` and a ``FlushPipeline`` (processing-time
trigger, ``foreachBatch``, ``sinks.http_sink.http_send``) the way
``examples/quickstart.py`` does, and drains the DLQ with ``replay_dlq``.
Two child processes surround it: ``gen.py`` sends the seeded load over
one keep-alive connection per usable CPU, and ``collector.py`` stands in for
ClickHouse and records every POST the engine makes.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` starts a
session with Spark's event log, measures the workload twice untraced and
then again, same seed and same pipeline, with spans and a
StreamingQueryListener, and reports the per-layer metrics of the traced
phase. Each run checks every delivered body against the requests the
generator sent and exits 1 when an output is wrong. The last stdout line is one JSON object; the full record and the
spans go to ``.perfbench_out/`` in the checkout. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
import urllib.request
from collections import Counter

from check import pct, verify
from procfs import host_info
from workloads import SPOOL_SECONDS, TRIGGER_SECONDS, WORKLOADS, RequestModel, kind_of

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench_out")
WARM_URI = "/?query=INSERT%20INTO%20warm%20FORMAT%20Values"
WATCHDOG_S = 170
PHASE_S = 0.5  # load start and stop, seconds after a trigger starts

E2E_UNITS = {
    "setup_s": "s", "accept_rps": "req/s", "lag_ms_p50": "ms", "lag_ms_p99": "ms",
    "dlq_drain_s": "s", "cpu_s": "s", "peak_rss_mb": "MB",
}
LAYER_UNITS = {
    "ack_ms_p50": "ms", "ack_ms_p99": "ms",
    "shim.in": "count", "shim.out": "count", "shim.conns_total": "count",
    "spool.files": "count", "spool.rows_per_file": "rows", "spool.bytes": "B",
    "cpu.driver_py_s": "s", "trigger.count": "count", "trigger.input_rows": "rows",
    "trigger.exec_ms_p50": "ms", "trigger.exec_ms_p99": "ms",
    "trigger.addBatch_ms": "ms", "trigger.getBatch_ms": "ms",
    "trigger.latestOffset_ms": "ms", "trigger.queryPlanning_ms": "ms",
    "trigger.walCommit_ms": "ms", "trigger.commitOffsets_ms": "ms",
    "trigger.overrun_frac": "ratio", "flush.jobs_per_trigger": "jobs",
    "flush.tasks_per_trigger": "tasks", "flush.task_cpu_ms_per_trigger": "ms",
    "flush.gc_ms_per_trigger": "ms", "flush.shuffle_kb_per_trigger": "KB",
    "flush.tail_ms_p50": "ms",
    "agg.ms_p50": "ms", "agg.rows_in": "rows", "agg.keys_out": "count",
    "agg.bytes_out": "B", "sink.send_ms_p50": "ms", "sink.posts": "count",
    "sink.post_failures": "count", "sink.conns_per_post": "ratio",
    "cpu.pyworker_s": "s", "replay.calls": "count", "replay.ms_p50": "ms",
    "replay.packets": "count", "replay.requeued": "count",
    "replay.jobs_per_packet": "ratio", "dlq.spilled_packets": "count",
    "dlq.peak_len": "count",
    "setup.session_s": "s", "setup.warm_s": "s",
    "cpu.jvm_s": "s", "gen.late_ms_p99": "ms", "gen.cpu_frac": "ratio",
    "trace.overhead_frac": "ratio",
}


def fit_host(work: str, trace: bool) -> dict:
    """Size the session to this host from outside the engine: all CPUs,
    a fixed heap of an eighth of RAM (1-2 GiB, so peak RSS does not ride
    on when the heap grows), scratch and temp dirs in the work dir, and
    Spark's event log for the traced run only."""
    info = host_info()
    heap_mb = max(1024, min(2048, info["mem_total_mb"] // 8))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(info["nproc"])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    args = [f"--driver-java-options '-Xms{heap_mb}m -Djava.io.tmpdir={tmp} -XX:-UsePerfData'"]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        args += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.compress=false",
            f"--conf spark.eventLog.dir=file://{log_dir}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    return {**info, "driver_mem_mb": heap_mb}


def _visible(path: str) -> list[str]:
    try:
        return [f for f in os.listdir(path) if not f.startswith((".", "_"))]
    except FileNotFoundError:
        return []


def parquet_rows(path: str, files: list[str] | None = None) -> int:
    """Rows of the parquet ``files`` of a flat directory (default: all of
    them), from the footers."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
               for f in (_visible(path) if files is None else files))


def _wait(cond, timeout: float, what: str, poll: float = 0.01) -> None:
    deadline = time.time() + timeout
    while not cond():
        if time.time() > deadline:
            raise TimeoutError(f"timed out after {timeout:.0f}s waiting for {what}")
        time.sleep(poll)


class Pipeline:
    """One shim + flush stream over fresh directories, up to its first
    committed trigger."""

    def __init__(self, bench: "Bench", tag: str) -> None:
        from proxyhouse_spark.sources.http_ingest import IngestShim
        from proxyhouse_spark.streaming.pipeline import FlushPipeline

        self.dirs = {k: os.path.join(bench.work, tag, k)
                     for k in ("spool", "sink", "dlq", "ckpt")}
        self.shim = IngestShim(self.dirs["spool"], flush_seconds=SPOOL_SECONDS).start()
        self.port = self.shim.address[1]
        status, _ = self.request("POST", WARM_URI, b"(0,0,'warm')")
        if status != 200:
            raise RuntimeError(f"shim refused the warm-up insert: {status}")
        _wait(lambda: _visible(self.dirs["spool"]), 30, "the first spool file")
        self.pipe = FlushPipeline(
            bench.spark, self.dirs["spool"], self.dirs["sink"], self.dirs["dlq"],
            self.dirs["ckpt"], trigger_seconds=TRIGGER_SECONDS, fwd=bench.col_url,
            sender=bench.sender,
        )
        self.query = self.pipe.start()
        self.query_id = str(self.query.id)
        self.wait_commits(1, 120)

    def request(self, method: str, path: str, body: bytes = b"") -> tuple[int, bytes]:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=10)
        try:
            conn.request(method, path, body)
            resp = conn.getresponse()
            return resp.status, resp.read()
        finally:
            conn.close()

    def commits(self) -> int:
        return len(_visible(os.path.join(self.dirs["ckpt"], "commits")))

    def wait_commits(self, n: int, timeout: float) -> None:
        try:
            _wait(lambda: self.commits() >= n, timeout, f"{n} committed triggers")
        except TimeoutError:
            if self.query.exception() is not None:
                raise RuntimeError(f"flush stream failed: {self.query.exception()}")
            raise

    def started(self) -> int:
        """Triggers that have started (written their offsets)."""
        return len(_visible(os.path.join(self.dirs["ckpt"], "offsets")))

    def started_at(self, batch_id: int) -> float:
        """When trigger ``batch_id`` wrote its offsets, i.e. started."""
        return os.path.getmtime(os.path.join(self.dirs["ckpt"], "offsets", str(batch_id)))

    def stop(self) -> None:
        self.query.stop()
        self.shim.stop()


class Bench:
    def __init__(self, args: argparse.Namespace, work: str) -> None:
        self.args = args
        self.w = WORKLOADS[args.workload]
        self.model = RequestModel(self.w, args.seed)
        self.work = work
        self.trace = bool(args.trace)
        self.children: list[subprocess.Popen] = []
        self.record: dict = {"workload": args.workload, "seed": args.seed,
                             "seconds": args.seconds, "trace": args.trace}
        self.spans = None
        self.spark = None
        self.outage: dict = {}

    # -- harness processes ---------------------------------------------------

    def spawn(self, script: str, *argv: str) -> subprocess.Popen:
        p = subprocess.Popen(
            [sys.executable, os.path.join(HERE, script), *argv],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, cwd=HERE,
        )
        self.children.append(p)
        return p

    def ctl(self, method: str, path: str) -> bytes:
        req = urllib.request.Request(self.col_url + path, method=method,
                                     data=b"" if method == "POST" else None)
        with urllib.request.urlopen(req, timeout=30) as resp:
            return resp.read()

    def stop_engine(self) -> None:
        """Stop Spark and wait for its gateway JVM, which exits on stdin EOF."""
        if self.spark is None:
            return
        try:
            self.spark.stop()
        finally:
            self.jvm_proc.stdin.close()
            try:
                self.jvm_proc.wait(60)
            except subprocess.TimeoutExpired:
                self.jvm_proc.kill()
                self.jvm_proc.wait(10)

    def finish_children(self) -> None:
        for p in self.children:
            if p.poll() is None:
                try:
                    p.stdin.close()
                    p.wait(10)
                except (OSError, subprocess.TimeoutExpired):
                    p.kill()
                    p.wait(10)

    # -- the run ---------------------------------------------------------------

    def setup(self) -> None:
        self.col = self.spawn(
            "collector.py", "--workload", self.w.name,
            "--out", os.path.join(self.work, "posts.jsonl"),
        )
        self.col_url = f"http://127.0.0.1:{int(self.col.stdout.readline())}"

        t = time.time()
        from proxyhouse_spark.session import get_spark
        from proxyhouse_spark.sinks.http_sink import http_send
        from proxyhouse_spark.streaming import pipeline as pipeline_mod

        self.spark = get_spark("perfbench")
        self.jvm_proc = self.spark.sparkContext._gateway.proc
        self.spark.sparkContext.setLogLevel("ERROR")
        session_s = time.time() - t
        self.replay = pipeline_mod.replay_dlq
        self.sender = self.replay_sender = http_send
        if self.trace:
            self._instrument(pipeline_mod, http_send)
            self.spans.add("session", t, t + session_s)

        t = time.time()
        pipe = Pipeline(self, "warm")
        warm_s = time.time() - t
        pipeline_s = 0.0
        if self.trace:  # reports no setup_s and measures on the warm pipeline
            self.spans.add("warm", t, time.time())
        else:  # the shim and stream again, as a user starts them in a warm session
            pipe.stop()
            t = time.time()
            pipe = Pipeline(self, "setup")
            pipeline_s = time.time() - t
        self.pipe = pipe
        self.record["setup"] = {"session_s": session_s, "warm_s": warm_s,
                                "pipeline_s": pipeline_s}
        self.setup_s = session_s + warm_s + pipeline_s

    def _instrument(self, pipeline_mod, http_send) -> None:
        from tracing import Spans, TriggerListener

        self.spans = Spans()

        def sent(span: dict, statuses: dict) -> None:
            span["posts"] = len(statuses)
            span["failures"] = sum(not ok for ok in statuses.values())

        self.sender = self.spans.wrap("send", http_send, sent)
        self.replay_sender = self.spans.wrap("replay_send", http_send, sent)
        self.replay = self.spans.wrap("replay", self.replay, lambda s, c: s.update(c))
        # the flush-frame materialisation: the keyed concat runs inside it
        pipeline_mod.scoped_checkpoint = self.spans.wrap(
            "agg", pipeline_mod.scoped_checkpoint
        )
        self.listener = TriggerListener(self.spans)

    def start_tracing(self) -> None:
        """Switch the wrappers on and attach the listener, between phases."""
        self.spans.on = True
        self.spark.streams.addListener(self.listener)

    def drain_dlq(self) -> None:
        """``replay_dlq`` until the queue is empty, at least once."""
        sc = self.spark.sparkContext
        sc.setLocalProperty("perfbench.span", "replay")
        try:
            for _ in range(10):
                self.replay(
                    self.spark, self.pipe.dirs["dlq"], self.pipe.dirs["sink"],
                    sender=self.replay_sender, throttle_seconds=0, fwd=self.col_url,
                )
                if parquet_rows(self.pipe.dirs["dlq"]) == 0:
                    return
            raise RuntimeError("DLQ still holds packets after 10 replays")
        finally:
            sc.setLocalProperty("perfbench.span", None)

    def collector_stats(self) -> dict:
        return json.loads(self.ctl("GET", "/__ctl/stats"))

    def run_outage(self) -> None:
        """Wait for the collector to heal after its ``fail_posts`` 503s,
        then until a trigger that started after the heal has committed (it
        spills nothing, so no spill can race the replay's queue swap), then
        replay, from PHASE_S after the next trigger starts, until the DLQ
        is empty while the load goes on."""
        pipe = self.pipe
        _wait(lambda: self.collector_stats()["healed_at"], 60, "the outage to heal",
              poll=0.05)
        t_heal = self.collector_stats()["healed_at"]
        batch = pipe.commits()
        while True:
            pipe.wait_commits(batch + 1, 60)
            if pipe.started_at(batch) > t_heal:
                break
            batch += 1
        # started at once, the replay ended just before the next trigger or
        # ran into it, and the drain time jumped by 1-3 s between runs
        _wait(lambda: pipe.started() > batch + 1, 60, "the next trigger")
        time.sleep(max(0.0, pipe.started_at(batch + 1) + PHASE_S - time.time()))
        peak_len = parquet_rows(pipe.dirs["dlq"])
        self.drain_dlq()
        self.outage = {"dlq_drain_s": time.time() - t_heal, "peak_len": peak_len}

    def stop_load_in_phase(self, gen: subprocess.Popen) -> None:
        """Stop the load PHASE_S after a trigger started, as it started: at
        once when the latest trigger kept to the wall clock, else PHASE_S
        after the next one starts."""
        pipe = self.pipe
        n = pipe.started()
        last = pipe.started_at(n - 1)
        if time.time() > last + PHASE_S + 0.2:
            _wait(lambda: pipe.started() > n, 60, "the next trigger")
            last = pipe.started_at(n)
        time.sleep(max(0.0, last + PHASE_S - time.time()))
        gen.stdin.write("stop\n")
        gen.stdin.flush()

    def measure(self) -> None:
        """One measured phase of ``--seconds`` on the running pipeline, then
        the wait for every acked row at the collector and an empty DLQ."""
        pipe = self.pipe
        self.ctl("POST", "/__ctl/reset")
        self.outage = {}
        shim0 = json.loads(pipe.request("GET", "/statistic")[1])
        spool0 = set(_visible(pipe.dirs["spool"]))
        # Spark's processing-time trigger fires on wall-clock multiples of
        # its interval: start the load PHASE_S into an interval
        phase = PHASE_S + TRIGGER_SECONDS * (time.time() // TRIGGER_SECONDS + 1)
        gen = self.spawn(
            "gen.py", "--workload", self.w.name, "--seed", str(self.args.seed),
            "--port", str(pipe.port), "--start-at", repr(phase),
        )
        sampler = self.spawn("procfs.py", "--root", str(os.getpid()), "--exclude",
                             f"{self.col.pid},{gen.pid}", "--start-at", repr(phase))
        time.sleep(max(0.0, phase - time.time()))
        self.t_measure = phase
        if self.w.fail_tables:
            self.run_outage()
        time.sleep(max(0.0, phase + self.args.seconds - time.time()))
        out, _ = sampler.communicate("stop\n", timeout=30)
        self.res = json.loads(out)
        self.record["host"]["steal_pct"] = self.res.pop("steal_pct")
        if self.w.fail_tables:  # no metric of the outage depends on when its load stops
            gen.stdin.write("stop\n")
            gen.stdin.flush()
        else:
            self.stop_load_in_phase(gen)
        out, _ = gen.communicate(timeout=60)
        self.gen = json.loads(out)
        acked = sum(1 for i, _, _, _, status in self.gen["records"]
                    if status == 200 and kind_of(i) == "ok")
        _wait(lambda: self.collector_stats()["delivered"] >= acked,
              60, "every acked row at the collector", poll=0.05)
        if not self.w.fail_tables:
            self.drain_dlq()
        shim1 = json.loads(pipe.request("GET", "/statistic")[1])
        self.shim_stats = {k: shim1[k] - shim0[k] for k in ("in", "out", "total_connections")}
        self.spool_files = [f for f in _visible(pipe.dirs["spool"]) if f not in spool0]
        self.col_stats = self.collector_stats()
        starts = [pipe.started_at(b) for b in range(pipe.started())]
        self.record["trigger_gaps_s"] = [
            round(b - a, 3) for a, b in zip(starts, starts[1:]) if a >= self.t_measure]
        self.ctl("POST", "/__ctl/dump")
        with open(os.path.join(self.work, "posts.jsonl"), encoding="utf-8") as fh:
            self.posts = [json.loads(line) for line in fh]

    # -- results ----------------------------------------------------------------

    def results(self):
        g, w = self.gen, self.w
        v = verify(w, self.model, g["records"], self.posts,
                   exactly_once=not w.fail_tables, skip_paths=frozenset([WARM_URI]))
        if self.outage:
            drain_s = self.outage["dlq_drain_s"]
        else:  # load stop to the last POST that carried rows
            drain_s = max(p["t"] for p in self.posts
                          if p["path"] != WARM_URI and p["status"] == 200) - g["t_stop"]
        def measured(samples):  # requests sent or due in the measured phase
            return [x for t, x in samples if g["t0"] <= t < g["t0"] + self.args.seconds]

        acked_at, ack, lag = measured(v.acked_at), measured(v.ack_ms), measured(v.lag_ms)
        e2e = {
            "setup_s": self.setup_s,
            # acks over the span they took, not over the phase's width: in
            # the open loop the latter is the fixed offered rate
            "accept_rps": (len(acked_at) - 1) / (max(acked_at) - min(acked_at)),
            "lag_ms_p50": pct(lag, 50),
            "lag_ms_p99": pct(lag, 99),
            "dlq_drain_s": drain_s,
            "cpu_s": self.res["cpu_s"],
            "peak_rss_mb": self.res["peak_rss_mb"],
        }
        gen_cpu_frac = g["cpu_s"] / (g["t_end"] - g["t0"])
        late = [(sent - due) * 1000 for _, due, sent, _, _ in g["records"]]
        # too steal-bound for a bound: per-layer metrics of the shim, see README
        self.ack_ms = {"ack_ms_p50": pct(ack, 50), "ack_ms_p99": pct(ack, 99)}
        self.record.update({
            "end_to_end": e2e, **self.ack_ms,
            "samples": {"ack": len(ack), "lag": len(lag)},
            "duplicates": v.duplicates,
            "replayed_requests": len(v.first_attempt_failed),
            "cpu_split_s": self.res["cpu_split_s"],
            "gen": {"cpu_frac": gen_cpu_frac, "late_ms_p99": pct(late, 99),
                    "connections_opened": g["connections_opened"],
                    "requests": len(g["records"])},
            "shim": self.shim_stats, "collector": self.col_stats,
            "outage": self.outage,
        })
        if gen_cpu_frac > 0.9:
            v.fail(-1, "generator saturated its core: the run measured the generator")
        if g["threads_alive"]:
            v.fail(-3, "generator connections still blocked after the load stopped")
        if w.fail_tables and not v.first_attempt_failed:
            v.fail(-2, "the outage spilled nothing")
        return e2e, v

    def cpu_rate(self) -> float:
        """CPU seconds of the system under test per second sampled."""
        return self.res["cpu_s"] / self.res["wall_s"]

    def layers(self, untraced_cpu_rate: float) -> dict:
        """Per-layer metrics of the traced phase."""
        from tracing import read_event_log

        sp = self.spans
        sp.nest_in_triggers()
        query_id = self.pipe.query_id
        trig = [s for s in sp.named("trigger")
                if s["query_id"] == query_id and s["start"] >= self.t_measure]
        ids = {s["batch_id"] for s in trig}
        n_trig = max(1, len(trig))

        def measured(name: str, in_trigger: bool = True) -> list[dict]:
            return [s for s in sp.named(name) if s["start"] >= self.t_measure
                    and (s["batch_id"] in ids or not in_trigger)]

        def p50(xs: list[float]) -> float:
            return pct(xs, 50) if xs else 0.0

        dur = [s["duration_ms"] for s in trig]
        exec_ms = [d.get("triggerExecution", 0) for d in dur]
        send, replays = measured("send"), measured("replay", in_trigger=False)
        agg_ms = {s["batch_id"]: (s["end"] - s["start"]) * 1000 for s in measured("agg")}
        send_ms = {s["batch_id"]: (s["end"] - s["start"]) * 1000 for s in send}
        jobs = read_event_log(os.path.join(self.work, "eventlog"))
        flush_jobs = [j for j in jobs
                      if j["props"].get("sql.streaming.queryId") == query_id
                      and int(j["props"].get("streaming.sql.batchId", -1)) in ids]
        replay_jobs = [j for j in jobs if j["props"].get("perfbench.span") == "replay"
                       and j["submit"] >= self.t_measure]
        packets = sum(s.get("replayed", 0) for s in replays)
        spool, spool_files = self.pipe.dirs["spool"], len(self.spool_files)
        spool_rows = parquet_rows(spool, self.spool_files)
        m = {
            **self.ack_ms,
            "shim.in": self.shim_stats["in"],
            "shim.out": self.shim_stats["out"],
            "shim.conns_total": self.shim_stats["total_connections"],
            "spool.files": spool_files,
            "spool.rows_per_file": spool_rows / max(1, spool_files),
            "spool.bytes": sum(os.path.getsize(os.path.join(spool, f))
                               for f in self.spool_files),
            "cpu.driver_py_s": self.res["cpu_split_s"]["driver_py"],
            "trigger.count": len(trig),
            "trigger.input_rows": sum(s["input_rows"] for s in trig),
            "trigger.exec_ms_p50": p50(exec_ms),
            "trigger.exec_ms_p99": pct(exec_ms, 99) if exec_ms else 0.0,
        }
        for phase in ("addBatch", "getBatch", "latestOffset", "queryPlanning",
                      "walCommit", "commitOffsets"):
            m[f"trigger.{phase}_ms"] = p50([d.get(phase, 0) for d in dur])
        m.update({
            "trigger.overrun_frac": sum(
                e > TRIGGER_SECONDS * 1000 for e in exec_ms) / n_trig,
            "flush.jobs_per_trigger": len(flush_jobs) / n_trig,
            "flush.tasks_per_trigger": sum(j["tasks"] for j in flush_jobs) / n_trig,
            "flush.task_cpu_ms_per_trigger":
                sum(j["cpu_s"] for j in flush_jobs) * 1000 / n_trig,
            "flush.gc_ms_per_trigger": sum(j["gc_ms"] for j in flush_jobs) / n_trig,
            "flush.shuffle_kb_per_trigger":
                sum(j["shuffle_bytes"] for j in flush_jobs) / 1024 / n_trig,
            "flush.tail_ms_p50": p50([
                s["duration_ms"].get("addBatch", 0) - agg_ms.get(s["batch_id"], 0)
                - send_ms.get(s["batch_id"], 0) for s in trig
            ]),
            "agg.ms_p50": p50(list(agg_ms.values())),
            "agg.rows_in": sum(s["input_rows"] for s in trig),
            "agg.keys_out": sum(s.get("posts", 0) for s in send),
            "agg.bytes_out": sum(
                len(p["body"]) for p in self.posts
                if any(s["start"] <= p["t"] <= s["end"] for s in send)
            ),
            "sink.send_ms_p50": p50(list(send_ms.values())),
            "sink.posts": sum(s.get("posts", 0) for s in send),
            "sink.post_failures": sum(
                s.get("failures", 0)
                for s in send + measured("replay_send", in_trigger=False)
            ),
            "sink.conns_per_post": self.col_stats["connections"]
            / max(1, self.col_stats["posts"]),
            "cpu.pyworker_s": self.res["cpu_split_s"]["pyworker"],
            "replay.calls": len(replays),
            "replay.ms_p50": p50([(s["end"] - s["start"]) * 1000 for s in replays]),
            "replay.packets": packets,
            "replay.requeued": sum(s.get("requeued", 0) for s in replays),
            "replay.jobs_per_packet": len(replay_jobs) / max(1, packets),
            "dlq.spilled_packets": sum(s.get("failures", 0) for s in send),
            "dlq.peak_len": self.outage.get("peak_len", 0),
            "setup.session_s": self.record["setup"]["session_s"],
            "setup.warm_s": self.record["setup"]["warm_s"],
            "cpu.jvm_s": self.res["cpu_split_s"]["jvm"],
            "gen.late_ms_p99": self.record["gen"]["late_ms_p99"],
            "gen.cpu_frac": self.record["gen"]["cpu_frac"],
            # CPU per second sampled, traced phase against the untraced one
            # of the same run: an outage phase lasts until its drain ends
            "trace.overhead_frac": self.cpu_rate() / untraced_cpu_rate - 1,
        })
        return m


def _kill_tree(root: int) -> None:
    """SIGKILL every live descendant of ``root`` (the watchdog's path)."""
    parents = {}
    for name in _visible("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as fh:
                    raw = fh.read()
            except OSError:
                continue
            parents[int(name)] = int(raw[raw.rindex(")") + 2:].split()[1])
    todo, seen = [root], set()
    while todo:
        pid = todo.pop()
        for child, ppid in parents.items():
            if ppid == pid and child not in seen:
                seen.add(child)
                todo.append(child)
    for pid in seen:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "proxyhouse_spark")):
        print(f"perfbench: no proxyhouse_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    def watchdog() -> None:
        print(f"perfbench: run exceeded {WATCHDOG_S}s, killing it", file=sys.stderr)
        _kill_tree(os.getpid())
        os._exit(3)

    timer = threading.Timer(WATCHDOG_S, watchdog)
    timer.daemon = True
    timer.start()
    os.makedirs(OUT, exist_ok=True)
    work = os.path.join(OUT, f"work-{os.getpid()}")
    os.makedirs(work)
    bench = Bench(args, work)
    bench.record["host"] = fit_host(work, bench.trace)
    verdicts = []
    try:
        bench.setup()
        if bench.trace:
            # untraced phases for trace.overhead_frac: one to warm up (the
            # first replay and flushes of a session run cold), then the one
            # the traced phase is compared with
            for _ in range(2):
                bench.measure()
                untraced, v = bench.results()
                verdicts.append(v)
            bench.record["untraced_phase"] = untraced
            untraced_cpu_rate = bench.cpu_rate()
            bench.start_tracing()
        bench.measure()
        e2e, v = bench.results()
        verdicts.append(v)
        bench.pipe.stop()
    finally:
        bench.stop_engine()  # also flushes the event log layers() reads
        bench.finish_children()
        timer.cancel()
    metrics = bench.layers(untraced_cpu_rate) if bench.trace else e2e
    units = LAYER_UNITS if bench.trace else E2E_UNITS
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if bench.trace:
        bench.spans.write(os.path.join(OUT, f"{stem}.spans.json"))
        bench.record["per_layer"] = metrics
    attempted = sum(v.attempted for v in verdicts)
    failed = sum(v.failed for v in verdicts)
    problems = sum((v.problems for v in verdicts), Counter())
    ok = failed == 0
    bench.record.update(correct=ok, attempted=attempted, failed=failed,
                        failed_frac=failed / max(1, attempted), problems=dict(problems))
    with open(os.path.join(OUT, f"{stem}.json"), "w", encoding="utf-8") as fh:
        json.dump(bench.record, fh, indent=1, sort_keys=True)
    shutil.rmtree(work, ignore_errors=True)
    for name, value in metrics.items():
        print(f"{name:28s} {value:14.4f} {units[name]}")
    print(f"{'failed_frac':28s} {bench.record['failed_frac']:14.4f} ratio")
    if problems:
        print(f"FAILED: {dict(problems)}")
    print(json.dumps({
        "correct": ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": val, "unit": units[k]} for k, val in metrics.items()},
    }))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
