"""Measurement helpers: process-tree CPU and memory from /proc, spans, and
Spark's own stage metrics read from the driver's status store."""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int):
    """(ppid, cpu ticks incl. reaped children, rss bytes) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may contain spaces
    fields = raw[raw.rindex(b")") + 2 :].split()
    ppid = int(fields[1])
    ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    rss = int(fields[21]) * _PAGE
    return ppid, ticks, rss


def descendants(root: int) -> dict:
    """pid -> (cpu ticks, rss bytes) for every live descendant of `root`."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out = {}
    todo = list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out[pid] = stats[pid][1:]
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by the descendants of `root` (the Spark
    driver JVM and its Python workers); a reaped worker's time is counted
    in its parent's cutime/cstime."""
    return sum(t for t, _ in descendants(root).values()) / _TICK


class RssSampler:
    """Samples the summed RSS of `root`'s descendants on a thread; `peak`
    holds the largest sum seen while sampling was on."""

    def __init__(self, root: int, interval: float = 0.1):
        self.root = root
        self.interval = interval
        self.peak = 0
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            if self._on.is_set():
                rss = sum(r for _, r in descendants(self.root).values())
                self.peak = max(self.peak, rss)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @contextmanager
    def sampling(self):
        self._on.set()
        try:
            yield
        finally:
            self._on.clear()


class Spans:
    """In-memory spans (name, start, end, parent) sharing one trace id;
    written out once, when the benchmark ends."""

    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.records: list = []
        self._next = 0

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        self._next += 1
        rec = {"trace": self.trace_id, "id": self._next, "parent": parent, "name": name}
        rec.update(attrs)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.records.append(rec)

    def write(self, path: str):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            for rec in sorted(self.records, key=lambda r: r["id"]):
                f.write(json.dumps(rec) + "\n")


def jvm_gc_s(spark) -> float:
    """GC seconds the driver JVM (in local mode, also every executor) has
    spent so far, summed over its collectors."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def group_stage_metrics(spark, group: str) -> tuple[int, float]:
    """(shuffle bytes written, JVM GC seconds) summed over the stages of
    every job run under job group `group`, from Spark's status store."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    stage_ids = set()
    for job in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job)
        if info is not None:
            stage_ids.update(info.stageIds)
    shuffle = 0
    gc_ms = 0
    for sid in stage_ids:
        data = store.lastStageAttempt(sid)
        shuffle += data.shuffleWriteBytes()
        gc_ms += data.jvmGcTime()
    return shuffle, gc_ms / 1000.0
