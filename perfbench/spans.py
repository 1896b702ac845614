"""Span tracing from outside the package.

``Tracer.install`` rebinds the package's public entry points, at module or
class attribute level, to wrappers that record one span per call: name,
start, end, parent span and the id of the benchmark operation that caused
it. Spans stay in memory and are written out once, when the run ends.
Nothing inside the package changes; code that calls these names through
the module or the class goes through the wrappers.

``Tracer.op`` marks one benchmark operation (a commit, a lookup, a scan, a
query). In a traced run it also tags the operation's Spark jobs with a job
group and counts the jobs and tasks they ran.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    op: int | None
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs
    since boot: a slow operation with a large steal was slowed by its
    neighbours, not by the program."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of it covered by its child spans."""
    covered, cur_lo, cur_hi = 0.0, None, None
    for c in sorted(children, key=lambda s: s.start):
        lo, hi = max(c.start, span.start), min(c.end, span.end)
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return span.dur - covered


class Tracer:
    """Records spans when ``enabled``; otherwise ``op`` only times the call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op: int | None = None
        self._undo: list = []
        self.sc = None
        # time the tracer spends on its own bookkeeping around operations
        self.bookkeeping_s = 0.0

    # -- spans -------------------------------------------------------------
    def _open(self, name: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, time.perf_counter(), parent, self._op)
        self.spans.append(s)
        self._stack.append(s)
        return s

    def _close(self, s: Span) -> None:
        s.end = time.perf_counter()
        self._stack.pop()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Rebind ``owner.attr`` to a span-recording wrapper."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            s = self._open(name)
            try:
                out = orig(*args, **kwargs)
            finally:
                self._close(s)
            if isinstance(out, dict):
                s.attrs = {k: v for k, v in out.items()
                           if isinstance(v, (int, float, str, bool))}
            return out

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig))

    def install(self, sc) -> None:
        """Wrap the entry points the per-layer metrics are built from."""
        from gamechanger_data_spark.sinks.table import LakeTable
        from gamechanger_data_spark.sources import feed
        from gamechanger_data_spark.streaming import driver

        self.sc = sc
        self.wrap(feed, "list_ready_batches", "sources.feed.list_ready_batches")
        self.wrap(feed, "read_batch", "sources.feed.read_batch")
        self.wrap(driver, "apply_batch", "streaming.driver.apply_batch")
        self.wrap(driver, "lineage_from_footers", "streaming.driver.lineage_from_footers")
        for m in ("applied_batches", "merge", "lookup_key", "read"):
            self.wrap(LakeTable, m, f"sinks.table.{m}")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # -- operations ----------------------------------------------------------
    @contextmanager
    def op(self, kind: str, timed: bool = True):
        """One benchmark operation. Yields a dict that receives ``dur`` (s)
        and, when tracing, ``jobs`` and ``tasks``."""
        rec: dict = {"kind": kind, "timed": timed}
        steal0 = cpu_steal_s()
        if not self.enabled:
            t0 = time.perf_counter()
            yield rec
            rec["dur"] = time.perf_counter() - t0
            rec["steal_s"] = cpu_steal_s() - steal0
            return
        b0 = time.perf_counter()
        group = f"perfbench-{len(self.spans)}"
        self.sc.setJobGroup(group, kind)
        self._op = len(self.spans)
        s = self._open(kind)
        s.attrs["timed"] = timed
        self.bookkeeping_s += time.perf_counter() - b0
        try:
            yield rec
        finally:
            self._close(s)
            b0 = time.perf_counter()
            self._op = None
            rec["dur"] = s.dur
            tracker = self.sc.statusTracker()
            jobs = tracker.getJobIdsForGroup(group)
            tasks = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for st in (info.stageIds if info else ()):
                    si = tracker.getStageInfo(st)
                    tasks += si.numCompletedTasks if si else 0
            rec["jobs"], rec["tasks"] = len(jobs), tasks
            rec["steal_s"] = cpu_steal_s() - steal0
            s.attrs.update(jobs=len(jobs), tasks=tasks)
            self.sc.setJobGroup("perfbench-idle", "between operations")
            self.bookkeeping_s += time.perf_counter() - b0

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"id": s.id, "name": s.name, "start": s.start,
                                    "end": s.end, "parent": s.parent, "op": s.op,
                                    "attrs": s.attrs}) + "\n")
