"""Measurement helpers kept outside the program under test: layer spans
with Spark job counts, event-log task metrics, and process-tree RSS.

A span wraps one public call. With tracing on it also opens a Spark job
group named after the span, so ``statusTracker().getJobIdsForGroup``
gives the call's job count, and the event log's task-end records can be
attributed to it through the job-start properties.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Records (layer, seconds, jobs) per traced call; a no-op timer when
    ``enabled`` is false, so untraced runs pay nothing but the clock."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self.cost_s = 0.0  # time spent in the job-group calls themselves
        self._n = 0

    @contextmanager
    def span(self, layer: str, op: int):
        if not self.enabled:
            yield
            return
        c0 = time.perf_counter()
        self._n += 1
        group = f"{layer}#{self._n}"
        self.sc.setJobGroup(group, layer)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            jobs = len(self.sc.statusTracker().getJobIdsForGroup(group))
            self.spans.append(
                {"layer": layer, "op": op, "s": t1 - t0, "jobs": jobs, "group": group}
            )
            self.cost_s += (t0 - c0) + (time.perf_counter() - t1)

    def medians(self, ops: set[int]) -> dict[str, tuple[float, int]]:
        """Per layer: (median seconds, median job count) over ``ops``."""
        by_layer: dict[str, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["op"] in ops:
                by_layer[s["layer"]].append(s)
        return {
            layer: (
                statistics.median(s["s"] for s in ss),
                int(statistics.median(s["jobs"] for s in ss)),
            )
            for layer, ss in by_layer.items()
        }


def event_log_totals(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: shuffle bytes written and executor run seconds,
    read from the Spark event log (complete once the context stopped)."""
    stage_group: dict[int, str] = {}
    totals: dict[str, dict[str, float]] = defaultdict(
        lambda: {"shuffle_write_bytes": 0.0, "task_s": 0.0}
    )
    paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs)
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    metrics = ev.get("Task Metrics") or {}
                    if group is None or not metrics:
                        continue
                    t = totals[group]
                    t["task_s"] += metrics.get("Executor Run Time", 0) / 1000.0
                    t["shuffle_write_bytes"] += (
                        metrics.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
    return dict(totals)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids[int(fields[1])].append(int(stat.split("/")[2]))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _statm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return f.read()
    except OSError:
        return ""


def _role(pid: int, me: int) -> str:
    if pid == me:
        return "benchmark"
    try:
        with open(f"/proc/{pid}/comm") as f:
            comm = f.read().strip()
    except OSError:
        return "other"
    if comm == "java":
        return "jvm"
    return "python_workers" if comm.startswith("python") else "other"


PAGE = os.sysconf("SC_PAGE_SIZE")


class RssSampler:
    """High-water mark of the summed RSS of this process and every
    descendant (the driver JVM and its Python workers), sampled on a
    background thread, with the per-role split at the peak."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self.at_peak: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        for n in itertools.count():
            if n % 10 == 0:  # the process tree changes rarely; RSS often
                pids = tree_pids(me)
            # a child the JVM has forked but not yet exec'd shares the JVM's
            # memory and reports the same statm line: count that memory once
            by_mm = {}
            for pid in pids:
                by_mm.setdefault(_statm(pid), pid)
            by_mm.pop("", None)
            sizes = {pid: int(line.split()[1]) * PAGE for line, pid in by_mm.items()}
            if sum(sizes.values()) > self.peak:
                self.peak = sum(sizes.values())
                self.at_peak = defaultdict(int)
                for pid, size in sizes.items():
                    self.at_peak[_role(pid, me)] += size
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
