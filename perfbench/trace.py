"""Spans, Spark status-store deltas and process memory for the benchmark.

A span records name, start, end and parent. Every span runs its Spark
jobs under its own job group, so after the run the stages of a span are
exactly the stages of its jobs; the engine counters of a span are the
sums over its own stages and those of its descendants. Spans are kept in
memory and written out once, by ``Tracer.dump``.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from contextlib import contextmanager


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Span:
    def __init__(self, sid: int, name: str, parent: "Span | None", group: str):
        self.sid, self.name, self.parent, self.group = sid, name, parent, group
        self.start = self.end = 0.0
        self.children: list[Span] = []

    @property
    def wall(self) -> float:
        return self.end - self.start

    @property
    def self_time(self) -> float:
        return self.wall - sum(c.wall for c in self.children)


class Tracer:
    """Nested spans around layer calls; each span is a Spark job group."""

    def __init__(self, sc, prefix: str):
        self.sc, self.prefix = sc, prefix
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent, f"{self.prefix}-{len(self.spans)}")
        self.spans.append(s)
        if parent:
            parent.children.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def groups(self, span: Span) -> list[str]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s.group)
            todo.extend(s.children)
        return out

    def dump(self, path: str, stats: "SparkStats", extra: dict) -> None:
        rows = []
        for s in self.spans:
            rows.append({
                "id": s.sid, "name": s.name,
                "parent": s.parent.sid if s.parent else None,
                "start_s": round(s.start - self.spans[0].start, 6),
                "end_s": round(s.end - self.spans[0].start, 6),
                "self_s": s.self_time,
                "spark": stats.for_groups(self.groups(s), s.wall),
            })
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": rows, **extra}, f, indent=1)


class SparkStats:
    """Engine counters of finished jobs, read from the status store."""

    def __init__(self, sc, slots: int):
        self.sc, self.slots = sc, slots
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()

    def _stages(self, groups: list[str]) -> list:
        self._bus.waitUntilEmpty()
        tracker = self.sc.statusTracker()
        out, seen = [], set()
        for g in groups:
            for job in tracker.getJobIdsForGroup(g):
                info = tracker.getJobInfo(job)
                for sid in (info.stageIds if info else []):
                    if sid in seen:
                        continue
                    seen.add(sid)
                    data = self._store.stageData(sid, False, None, False, None)
                    for k in range(data.size()):
                        d = data.apply(k)
                        if d.status().toString() != "SKIPPED":
                            out.append(d)
        return out

    def for_groups(self, groups: list[str], wall: float) -> dict:
        stages = self._stages(groups)
        task_ms = sum(d.executorRunTime() for d in stages)
        skew = 1.0
        if stages:
            slow = max(stages, key=lambda d: d.executorRunTime())
            q = self.sc._gateway.new_array(self.sc._gateway.jvm.double, 2)
            q[0], q[1] = 0.5, 1.0
            summ = self._store.taskSummary(slow.stageId(), slow.attemptId(), q)
            if summ.isDefined():
                run = summ.get().executorRunTime()
                med, top = run.apply(0), run.apply(1)
                skew = top / med if med > 0 else 1.0
        return {
            "spark.task_s": task_ms / 1000.0,
            "spark.gc_s": sum(d.jvmGcTime() for d in stages) / 1000.0,
            "spark.fetch_wait_s": sum(d.shuffleFetchWaitTime() for d in stages) / 1000.0,
            "spark.shuffle_write_bytes": sum(d.shuffleWriteBytes() for d in stages),
            "spark.shuffle_read_bytes": sum(d.shuffleReadBytes() for d in stages),
            "spark.spill_bytes": sum(
                d.memoryBytesSpilled() + d.diskBytesSpilled() for d in stages
            ),
            "spark.stages": len(stages),
            "spark.tasks": sum(d.numTasks() for d in stages),
            "spark.failed_tasks": sum(d.numFailedTasks() for d in stages),
            "spark.slot_util": task_ms / 1000.0 / (wall * self.slots) if wall > 0 else 0.0,
            "spark.task_skew": skew,
        }


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    kids, out, todo = _children_map(), [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _pss_kb(pid: int) -> int:
    """Proportional resident memory: a page shared by n processes counts
    1/n in each, so a forked worker or a short-lived child spawned by the
    JVM does not count the pages it shares twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except (OSError, IndexError, ValueError):
        pass
    return 0


class RssSampler:
    """Polls the summed resident memory (PSS) of a process and its
    descendants (the driver JVM and the Python workers it forks) and keeps
    the peak."""

    def __init__(self, root_pid: int, every_s: float = 0.2):
        self.root, self.every = root_pid, every_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            kb = sum(_pss_kb(p) for p in process_tree(self.root))
            self.peak_kb = max(self.peak_kb, kb)
            self._stop.wait(self.every)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
