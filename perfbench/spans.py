"""Spans recorded by the benchmark around its calls into the engine.

A span has a name, start, end, parent span and the id of the operation
it belongs to.  In a traced run each span runs under its own Spark job
group, so the status tracker can count the jobs, stages and tasks it
launched; JVM CPU seconds come from ``/proc/<gateway pid>/stat`` and GC
seconds from the JVM's GC MXBeans.  Spans stay in memory and are written
out when the run ends.  In an untraced run :meth:`Tracer.span` only
yields, so the timed path sets no job group and makes no extra calls.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass
class Span:
    id: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    jvm_cpu_s: float = 0.0
    gc_s: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def proc_cpu_seconds(pid: int) -> float:
    """User + system CPU seconds of process ``pid``."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _CLK_TCK


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op_id = 0
        self._sc = spark.sparkContext
        self._pid = self._sc._gateway.proc.pid
        self._jvm = self._sc._jvm

    def new_op(self) -> int:
        """Start a new operation; later spans carry its id."""
        self.op_id += 1
        return self.op_id

    def gc_seconds(self) -> float:
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0

    def heap_peak_bytes(self) -> int:
        mf = self._jvm.java.lang.management.ManagementFactory
        heap = self._jvm.java.lang.management.MemoryType.HEAP
        return sum(
            p.getPeakUsage().getUsed()
            for p in mf.getMemoryPoolMXBeans()
            if p.getType().equals(heap)
        )

    def _group(self, span: Span) -> str:
        return f"perfbench-{span.id}"

    def _count(self, groups: list[str]) -> tuple[int, int, int]:
        st = self._sc.statusTracker()
        jobs = stages = tasks = 0
        for g in groups:
            for jid in st.getJobIdsForGroup(g):
                jobs += 1
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    sinfo = st.getStageInfo(sid)
                    if sinfo and sinfo.numCompletedTasks > 0:
                        stages += 1
                        tasks += sinfo.numCompletedTasks
        return jobs, stages, tasks

    @contextmanager
    def span(self, name: str, **attrs):
        """Record one span; yields it (or None when tracing is off).

        Jobs that Spark runs under another group on the span's behalf
        (a streaming query's own run id) are added by naming that group
        in ``span.attrs['extra_groups']`` before the span ends.
        """
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans) + 1, name, self.op_id, parent.id if parent else None,
                 time.perf_counter(), attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        self._sc.setJobGroup(self._group(s), name)
        cpu0, gc0 = proc_cpu_seconds(self._pid), self.gc_seconds()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.jvm_cpu_s = proc_cpu_seconds(self._pid) - cpu0
            s.gc_s = self.gc_seconds() - gc0
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(self._group(parent), parent.name)
            else:
                self._sc._jsc.clearJobGroup()
            s.jobs, s.stages, s.tasks = self._count(
                [self._group(s), *s.attrs.pop("extra_groups", [])]
            )

    def children(self, span: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == span.id]

    def totals(self, span: Span) -> tuple[int, int, int]:
        """Jobs, stages and tasks of ``span`` including its child spans."""
        j, s, t = span.jobs, span.stages, span.tasks
        for c in self.children(span):
            cj, cs, ct = self.totals(c)
            j, s, t = j + cj, s + cs, t + ct
        return j, s, t

    def self_seconds(self, span: Span) -> float:
        """Span duration minus the time its child spans cover."""
        covered, end = 0.0, span.start
        for c in sorted(self.children(span), key=lambda c: c.start):
            lo = max(c.start, end)
            if c.end > lo:
                covered += c.end - lo
                end = c.end
        return span.seconds - covered

    def to_json(self) -> list[dict]:
        out = []
        for s in self.spans:
            jobs, stages, tasks = self.totals(s)
            out.append({
                "id": s.id, "name": s.name, "op": s.op, "parent": s.parent,
                "start": s.start, "end": s.end, "seconds": s.seconds,
                "self_seconds": self.self_seconds(s),
                "jobs": jobs, "stages": stages, "tasks": tasks,
                "jvm_cpu_s": s.jvm_cpu_s, "gc_s": s.gc_s, **s.attrs,
            })
        return out
