"""Spans around calls into the program's layers, and the Spark task metrics
each span caused.

A span records its name, start, end, parent span and op id. Every span runs
under a Spark job group of its own, so each job, and through it each stage and
task, belongs to exactly one span. The task metrics come from the Spark event
log of the traced run, read after the session has stopped. Spans stay in
memory until then.

The spans are recorded by the benchmark around calls into the program; the
program itself is not instrumented.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

# Task metrics read per span. Values are summed over the span's tasks.
TASK_FIELDS = ("tasks", "task_s", "gc_s", "input_bytes", "shuffle_bytes", "spill_bytes")


@dataclass
class Span:
    span_id: int
    parent: int | None
    op_id: int | None
    name: str
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    counts: dict = field(default_factory=lambda: dict.fromkeys(TASK_FIELDS, 0.0))

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` costs one branch.

    ``span`` may nest. A job submitted while a child span is open belongs to
    the child, so the parent's own jobs are only those run outside its
    children."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op_id: int | None = None
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), parent.span_id if parent else None, self.op_id,
                  name, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(_group(sp), name)
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(_group(parent), parent.name)
            else:
                self.sc.setJobGroup(None, None)

    def attach_event_log(self, event_dir: str) -> None:
        """Add to each span the jobs, stages and task metrics of its job group,
        read from the event log that Spark wrote to ``event_dir``."""
        by_group = {_group(s): s for s in self.spans}
        stage_span: dict[int, Span] = {}
        for ev in _events(event_dir):
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                sp = by_group.get((ev.get("Properties") or {}).get("spark.jobGroup.id"))
                if sp is None:
                    continue
                sp.jobs += 1
                for st in ev.get("Stage Infos", []):
                    stage_span.setdefault(st["Stage ID"], sp)
            elif kind == "SparkListenerStageCompleted":
                sp = stage_span.get(ev["Stage Info"]["Stage ID"])
                if sp is not None:
                    sp.stages += 1
            elif kind == "SparkListenerTaskEnd":
                sp = stage_span.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if sp is None or not m:
                    continue
                c = sp.counts
                c["tasks"] += 1
                c["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                c["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                c["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                c["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                out[s.parent].append(s)
        return out


def self_time(span: Span, children: dict[int, list[Span]]) -> float:
    """Duration minus the part of it that child spans cover. Children of one
    span run one after another, so their union is the sum of their
    intervals clipped to the parent's."""
    covered = sum(
        max(0.0, min(c.end, span.end) - max(c.start, span.start))
        for c in children.get(span.span_id, [])
    )
    return span.duration - covered


def subtree(span: Span, children: dict[int, list[Span]]) -> list[Span]:
    out, todo = [], [span]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(children.get(s.span_id, []))
    return out


def _group(span: Span) -> str:
    return f"perfbench-span-{span.span_id}"


def _events(event_dir: str):
    for path in sorted(glob.glob(os.path.join(event_dir, "*"))):
        if os.path.isdir(path):
            continue
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)
