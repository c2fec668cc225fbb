"""Spans, engine counters and process memory, all read from outside the
engine.

* :class:`Tracer` records one span per call into a layer (name, start,
  end, parent, run id) plus counts taken at the same boundaries.  Spans
  stay in memory and are written out once, at the end of a run.
* :class:`SparkCounters` reads Spark's own status store (it works with
  the UI disabled) and hands each span the stages that completed while
  it was the innermost open span: jobs, stages, tasks, executor run
  time, shuffle write, spill, GC and failed tasks.
* :func:`peak_rss_mb` reads the high-water resident size of the driver
  Python process and its JVM from ``/proc``; :func:`reset_peak_rss`
  lowers both marks to the current size, so a reading covers only the
  work since the reset.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

SPARK_KEYS = ("jobs", "stages", "tasks", "failed_tasks", "task_s",
              "shuffle_write_mb", "spill_mb", "gc_s")

_DONE = {"COMPLETE", "FAILED", "SKIPPED"}


def _zero() -> dict[str, float]:
    return {k: 0.0 for k in SPARK_KEYS}


class SparkCounters:
    """Incremental reader of the driver's ``AppStatusStore``.

    Both ``stageList`` and ``jobsList`` return newest first, so each poll
    walks only until it reaches ids it has already settled.  A stage or
    job still running at poll time is left for a later poll.
    """

    def __init__(self, spark):
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._stage_seen: set[tuple[int, int]] = set()
        self._job_seen: set[int] = set()
        self._stage_floor = -1   # every stage id <= floor is settled
        self._job_floor = -1

    def poll(self) -> dict[str, float]:
        """Counters of the stages and jobs that finished since the last poll."""
        out = _zero()
        it = self._store.stageList(None, False, False, self._quantiles, None).iterator()
        unsettled: list[int] = []
        while it.hasNext():
            s = it.next()
            sid = s.stageId()
            if sid <= self._stage_floor:
                break
            key = (sid, s.attemptId())
            if key in self._stage_seen:
                continue
            status = s.status().toString()
            if status not in _DONE:
                unsettled.append(sid)
                continue
            self._stage_seen.add(key)
            if status == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numTasks()
            out["failed_tasks"] += s.numFailedTasks()
            out["task_s"] += s.executorRunTime() / 1000.0
            out["gc_s"] += s.jvmGcTime() / 1000.0
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / 1e6
            out["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 1e6
        if self._stage_seen:
            top = max(k[0] for k in self._stage_seen)
            self._stage_floor = (min(unsettled) - 1) if unsettled else top
            self._stage_seen = {k for k in self._stage_seen if k[0] > self._stage_floor}
        jit = self._store.jobsList(None).iterator()
        running: list[int] = []
        while jit.hasNext():
            j = jit.next()
            jid = j.jobId()
            if jid <= self._job_floor:
                break
            if jid in self._job_seen:
                continue
            if j.status().toString() == "RUNNING":
                running.append(jid)
                continue
            self._job_seen.add(jid)
            out["jobs"] += 1
        if self._job_seen:
            self._job_floor = (min(running) - 1) if running else max(self._job_seen)
            self._job_seen = {j for j in self._job_seen if j > self._job_floor}
        return out


@dataclass
class Span:
    name: str
    run_id: str
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict[str, float] = field(default_factory=dict)
    spark: dict[str, float] = field(default_factory=_zero)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder.  Disabled, every call is a no-op except the engine
    counters, which the untraced run still needs for ``task_s``."""

    def __init__(self, enabled: bool, counters: SparkCounters | None = None):
        self.enabled = enabled
        self.counters = counters
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.run_id = ""

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        self._settle()
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, self.run_id, parent, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            self._settle()
            sp.end = time.perf_counter()
            self._stack.pop()

    def count(self, key: str, value: float) -> None:
        """Add a count to the innermost open span."""
        if self.enabled and self._stack:
            c = self.spans[self._stack[-1]].counts
            c[key] = c.get(key, 0.0) + value

    def _settle(self) -> None:
        """Charge stages finished since the last boundary to the span that
        was innermost while they ran."""
        if self.counters is None:
            return
        delta = self.counters.poll()
        if self._stack:
            tgt = self.spans[self._stack[-1]].spark
            for k, v in delta.items():
                tgt[k] += v

    def self_times(self, run_id: str) -> dict[str, float]:
        """Per span name: duration minus the part its children cover,
        summed over the spans of one run."""
        child = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] += sp.duration
        out: dict[str, float] = {}
        for i, sp in enumerate(self.spans):
            if sp.run_id == run_id:
                out[sp.name] = out.get(sp.name, 0.0) + sp.duration - child[i]
        return out

    def totals(self, run_id: str, key: str) -> float:
        return sum(sp.counts.get(key, 0.0) for sp in self.spans if sp.run_id == run_id)

    def spark_totals(self, run_id: str) -> dict[str, float]:
        out = _zero()
        for sp in self.spans:
            if sp.run_id == run_id:
                for k, v in sp.spark.items():
                    out[k] += v
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        rows = [
            {"id": i, "name": sp.name, "run_id": sp.run_id, "parent": sp.parent,
             "start": sp.start, "end": sp.end, "counts": sp.counts,
             "spark": sp.spark}
            for i, sp in enumerate(self.spans)
        ]
        with open(path, "w") as fh:
            json.dump({"spans": rows, **extra}, fh, indent=1)


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident set of this process plus the driver JVM, in MB."""
    kb = _hwm_kb(os.getpid()) + (_hwm_kb(jvm_pid) if jvm_pid else 0)
    return kb / 1024.0


def reset_peak_rss(jvm_pid: int | None) -> None:
    """Reset the high-water marks of this process and the JVM to their
    current resident size (``5`` written to ``/proc/<pid>/clear_refs``)."""
    for pid in (os.getpid(), jvm_pid):
        if pid:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")


def alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie counts as ended)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def children_of(pid: int) -> list[int]:
    """Every live descendant of ``pid`` (read from /proc)."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                rest = fh.read().rsplit(")", 1)[1].split()
            parent[int(d)] = int(rest[1])
        except (OSError, IndexError, ValueError):
            continue
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out
