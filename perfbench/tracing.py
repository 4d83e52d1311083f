"""Spans around the benchmark's calls into engine layers, plus CPU and
memory readings of the host and of the benchmark's process tree.

A span records one call: layer name, start/end wall clock, parent span and
the unique Spark job tag its jobs ran under.  Spans live in memory and are
written to the run's sidecar at the end; :mod:`summary` turns spans plus
the status-store snapshot of their tags into per-layer numbers.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Collects spans; each Spark-side span runs under its own job tag."""

    def __init__(self, reader):
        self.reader = reader
        self.spans: list = []
        self._stack: list = []

    @contextmanager
    def span(self, layer: str, spark_tagged: bool = True):
        idx = len(self.spans)
        tag = f"perfbench-{idx}" if spark_tagged else None
        rec = {
            "id": idx,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "tag": tag,
            "start_s": time.time(),
            "end_s": None,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            if tag is None:
                yield
            else:
                with self.reader.tagged(tag):
                    yield
        finally:
            rec["end_s"] = time.time()
            self._stack.pop()

    def tags(self) -> set:
        return {s["tag"] for s in self.spans if s["tag"]}


def host_cpu_s() -> dict:
    """Host-wide CPU seconds from /proc/stat: busy, idle and stolen by the
    hypervisor.  Per-job deltas let a job's wall time be read against the
    CPU the host took away from this VM while it ran."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    tick = os.sysconf("SC_CLK_TCK")
    user, nice, system, idle, iowait, irq, softirq, steal = v
    return {
        "busy": (user + nice + system + irq + softirq) / tick,
        "idle": (idle + iowait) / tick,
        "steal": steal / tick,
    }


def _tree_pids(root: int) -> list:
    """``root`` and every descendant process, from /proc/<pid>/stat ppids."""
    children: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root``'s process tree: user + system
    time of every live member plus what they reaped from exited children
    (Python workers exit into the worker daemon's account)."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in _tree_pids(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime are fields 14-17 of /proc/<pid>/stat
        total += sum(int(x) for x in fields[11:15])
    return total / tick


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20
    except (OSError, IndexError, ValueError):
        return 0.0


class RssSampler:
    """Samples Σ RSS of this process tree (driver, JVM, Python workers)
    every ``interval`` seconds on a daemon thread; psutil is not assumed."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.samples: list = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            mb = sum(_rss_mb(p) for p in _tree_pids(root))
            self.samples.append([round(time.time(), 3), round(mb, 1)])
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> list:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.samples
