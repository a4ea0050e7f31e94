"""Resource use of the system under test, read from ``/proc`` outside it.

The process tree under the benchmark's own process holds the Python
driver (which also runs the ingest shim), the JVM and the JVM's Python
workers. The generator, the collector and this sampler are excluded by
pid. It runs as its own process so that its reads of ``/proc`` never hold
the interpreter lock of the driver it measures:

    python3 perfbench/procfs.py --root PID --exclude PID,PID --start-at EPOCH

samples from ``--start-at`` until a line arrives on stdin, then prints one
JSON object: CPU seconds (total and per role), peak RSS, host steal % and
the seconds sampled.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def host_info() -> dict:
    mem_kb = 0
    with open("/proc/meminfo", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024}


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies of the whole host from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return 100.0 * (after[1] - before[1]) / total if total else 0.0


def _stat(pid: int) -> tuple[int, int, int, int, str] | None:
    """(ppid, own cpu ticks, reaped-children cpu ticks, rss pages, command)."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            raw = fh.read()
    except OSError:
        return None
    end = raw.rindex(")")
    f = raw[end + 2 :].split()
    return (int(f[1]), int(f[11]) + int(f[12]), int(f[13]) + int(f[14]), int(f[21]),
            raw[raw.index("(") + 1 : end])


class TreeSampler:
    """Samples CPU and RSS of a process tree every ``interval`` seconds.

    A process's CPU is its own time plus that of children it reaped (the
    Python worker daemon reaps its forked workers), except for the root,
    whose reaped children are harness processes. CPU of a process seen at
    the window start counts from that sample; one born later counts whole.
    Peak RSS is the highest total held over two consecutive samples, so a
    one-sample spike does not count: some runs show one of about the JVM's
    size, most likely a child the JVM forked and had not yet exec'd, whose
    shared pages would be counted twice.
    """

    def __init__(self, root: int, exclude: set[int], interval: float = 0.2) -> None:
        self.root = root
        self.exclude = exclude
        self.interval = interval
        self.base: dict[int, int] = {}
        self.last: dict[int, int] = {}
        self.role: dict[int, str] = {}
        self.peak_rss = 0
        self.last_rss = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> dict[int, int]:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                s = _stat(int(name))
                if s is not None:
                    stats[int(name)] = s
        children: dict[int, list[int]] = {}
        for pid, s in stats.items():
            children.setdefault(s[0], []).append(pid)
        cpu, rss, todo = {}, 0, [self.root]
        while todo:
            pid = todo.pop()
            if pid in self.exclude or pid not in stats:
                continue
            _, own, reaped, pages, comm = stats[pid]
            cpu[pid] = own if pid == self.root else own + reaped
            rss += pages
            self.role[pid] = (  # by the latest command: an exec changes it
                "driver_py" if pid == self.root
                else "jvm" if comm == "java"
                else "pyworker" if comm.startswith("python")
                else "other"
            )
            todo.extend(children.get(pid, ()))
        self.peak_rss = max(self.peak_rss, min(rss, self.last_rss) * PAGE)
        self.last_rss = rss
        for pid, ticks in cpu.items():
            self.last[pid] = max(ticks, self.last.get(pid, 0))
        return cpu

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> "TreeSampler":
        self.base = self._sample()
        self.peak_rss = 0
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> dict:
        self._stop.set()
        self._thread.join(5)
        self._sample()
        split: dict[str, float] = {"driver_py": 0.0, "jvm": 0.0, "pyworker": 0.0, "other": 0.0}
        for pid, ticks in self.last.items():
            split[self.role[pid]] += (ticks - self.base.get(pid, 0)) / CLK_TCK
        return {
            "cpu_s": sum(split.values()),
            "cpu_split_s": split,
            "peak_rss_mb": self.peak_rss / 2**20,
        }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--root", type=int, required=True)
    ap.add_argument("--exclude", default="")
    ap.add_argument("--start-at", type=float, required=True)
    args = ap.parse_args()
    exclude = {int(p) for p in args.exclude.split(",") if p} | {os.getpid()}
    sampler = TreeSampler(args.root, exclude)
    time.sleep(max(0.0, args.start_at - time.time()))
    ticks0, t0 = cpu_ticks(), time.time()
    sampler.start()
    sys.stdin.readline()
    result = sampler.stop()
    result["steal_pct"] = steal_pct(ticks0, cpu_ticks())
    result["wall_s"] = time.time() - t0
    json.dump(result, sys.stdout)
    sys.stdout.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
