"""Outside-in instrumentation for the DIRT job benchmark.

* :class:`Tracer` keeps spans (name, start, end, parent, run id) in memory
  around the benchmark's own calls into each layer and computes each
  span's self time: its duration minus the part of it covered by child
  spans.
* :class:`EngineCounts` reads Spark's status store
  (``sparkContext._jsc.sc().statusStore()``) for the jobs and stages one
  job ran, scoped by a job-id / stage-id watermark taken before it.
* :class:`RssSampler` samples the resident memory of this process tree
  (driver Python, the JVM it launched and the JVM's Python workers) from
  ``/proc`` on a background thread.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run: str


class Tracer:
    def __init__(self, run: str):
        self.run = run
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        s = Span(sid, name, time.perf_counter(), 0.0, parent, self.run)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Self time summed per span name."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = _covered(s, children.get(s.id, []))
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
        return out

    def totals(self) -> dict[str, float]:
        """Wall time summed per span name."""
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def _covered(parent: Span, kids: list[Span]) -> float:
    """Length of the union of the children's intervals, clipped to the
    parent's interval."""
    covered = 0.0
    cur_start = cur_end = None
    for k in sorted(kids, key=lambda k: k.start):
        a, b = max(k.start, parent.start), min(k.end, parent.end)
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        covered += cur_end - cur_start
    return covered


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class EngineCounts:
    """Jobs, stages and tasks one Spark job ran, from the status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.job_wm = self.stage_wm = -1

    def _drain(self) -> None:
        # the listener bus is asynchronous; wait until it has written every
        # finished job and stage into the store
        self._jsc.listenerBus().waitUntilEmpty()

    def _jobs(self):
        return _seq(self._jsc.statusStore().jobsList(None))

    def _stages(self):
        gw = self.sc._gateway
        quantiles = gw.new_array(gw.jvm.double, 0)
        return _seq(
            self._jsc.statusStore().stageList(None, False, False, quantiles, None)
        )

    def mark(self) -> None:
        """Watermark: later reads count only jobs and stages after this."""
        self._drain()
        self.job_wm = max((j.jobId() for j in self._jobs()), default=-1)
        self.stage_wm = max((s.stageId() for s in self._stages()), default=-1)

    def read(self, slots: int, wall_s: float) -> dict[str, tuple[float, str]]:
        """``{metric: (value, unit)}`` for the jobs since :meth:`mark`."""
        self._drain()
        jobs = [j for j in self._jobs() if j.jobId() > self.job_wm]
        stages = [s for s in self._stages() if s.stageId() > self.stage_wm]
        ran = [s for s in stages if s.status().toString() != "SKIPPED"]
        run_ms = sum(s.executorRunTime() for s in ran)
        return {
            "engine.jobs": (len(jobs), "count"),
            "engine.stages": (len(ran), "count"),
            "engine.stages_skipped": (len(stages) - len(ran), "count"),
            "engine.tasks": (sum(s.numCompleteTasks() for s in ran), "count"),
            "engine.tasks_failed": (sum(s.numFailedTasks() for s in ran), "count"),
            "engine.shuffle_write_bytes": (
                sum(s.shuffleWriteBytes() for s in ran), "bytes"),
            "engine.spill_bytes": (
                sum(s.memoryBytesSpilled() + s.diskBytesSpilled() for s in ran),
                "bytes"),
            "engine.task_busy_ratio": (run_ms / 1000.0 / (slots * wall_s), "ratio"),
        }


def children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended while we listed
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_rss_bytes(root: int) -> int:
    kids = children_map()
    total, todo = 0, [root]
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo += kids.get(pid, [])
        try:
            with open(f"/proc/{pid}/statm", encoding="ascii") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Peak resident memory of this process tree while it is running."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        return False
