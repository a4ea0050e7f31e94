"""Traced-run instruments: spans around calls into the engine, a
StreamingQueryListener for Spark's per-trigger split, and a reader for
Spark's event log (jobs, tasks, executor CPU, shuffle, GC).

Every span has a name, start, end (epoch seconds), parent and, inside a
trigger, that trigger's ``batch_id``. Spans stay in memory until
``Spans.write`` at the end of the run.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener


class Spans:
    def __init__(self) -> None:
        self.items: list[dict] = []
        self._lock = threading.Lock()
        self.on = False  # wrapped calls pass straight through until set

    def add(self, name: str, start: float, end: float, **attrs) -> dict:
        span = {"id": None, "name": name, "start": start, "end": end,
                "parent": None, "batch_id": None, **attrs}
        with self._lock:
            span["id"] = len(self.items)
            self.items.append(span)
        return span

    def named(self, name: str) -> list[dict]:
        return [s for s in self.items if s["name"] == name]

    def wrap(self, name: str, fn, on_result=None):
        """``fn`` with a span around each call; ``on_result(span, result)``
        may attach counts read from the call's return value."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.on:
                return fn(*args, **kwargs)
            start = time.time()
            result = fn(*args, **kwargs)
            span = self.add(name, start, time.time())
            if on_result is not None:
                on_result(span, result)
            return result

        return traced

    def nest_in_triggers(self) -> None:
        """Parent every non-trigger span to the trigger whose interval
        holds it, and give it that trigger's batch id."""
        triggers = sorted(self.named("trigger"), key=lambda s: s["start"])
        for span in self.items:
            if span["name"] == "trigger":
                continue
            for trig in triggers:
                if trig["start"] <= span["start"] and span["end"] <= trig["end"]:
                    span["parent"], span["batch_id"] = trig["id"], trig["batch_id"]
                    break

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(self.items, fh)


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class TriggerListener(StreamingQueryListener):
    """Turns each StreamingQueryProgress into a ``trigger`` span carrying
    ``durationMs`` and ``numInputRows``."""

    def __init__(self, spans: Spans) -> None:
        self.spans = spans

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        start = _epoch(p.timestamp)
        durations = dict(p.durationMs)
        self.spans.add(
            "trigger", start, start + durations.get("triggerExecution", 0) / 1000,
            batch_id=p.batchId, query_id=str(p.id), input_rows=p.numInputRows,
            duration_ms=durations,
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def read_event_log(log_dir: str) -> list[dict]:
    """Jobs from Spark's (uncompressed, possibly rolling) event log:
    id, submit/end time, local properties and task aggregates."""
    paths = []
    for root, _, files in os.walk(log_dir):
        paths += [os.path.join(root, f) for f in sorted(files)
                  if not f.startswith(".") and not f.startswith("appstatus")]
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in sorted(paths):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "id": jid, "submit": ev.get("Submission Time", 0) / 1000,
                        "end": None, "props": ev.get("Properties") or {},
                        "tasks": 0, "cpu_s": 0.0, "gc_ms": 0,
                        "shuffle_bytes": 0,
                    }
                    for sid in ev.get("Stage IDs", ()):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev.get("Completion Time", 0) / 1000
                elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_job:
                    job = jobs[stage_job[ev["Stage ID"]]]
                    tm = ev.get("Task Metrics") or {}
                    rd = tm.get("Shuffle Read Metrics") or {}
                    wr = tm.get("Shuffle Write Metrics") or {}
                    job["tasks"] += 1
                    job["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    job["gc_ms"] += tm.get("JVM GC Time", 0)
                    job["shuffle_bytes"] += (
                        rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                        + wr.get("Shuffle Bytes Written", 0)
                    )
    return [jobs[k] for k in sorted(jobs)]
