"""Spans, Spark job-group counters and per-layer self time.

A :class:`Tracer` records one span per call into an engine layer:
name, layer, start, end, parent span and run id, held in memory and
written out once when the run ends. While a span is the innermost one
on its thread, every Spark job launched from that thread carries the
span's job group, so ``statusTracker`` can count the span's jobs,
stages, tasks and failed tasks when it closes.

A disabled tracer records nothing, sets no job group and makes no
status-tracker calls: the untraced run pays none of this.
"""

from __future__ import annotations

import json
import threading
import time
import uuid
from contextlib import contextmanager

_GROUP = "spark.jobGroup.id"
_DESC = "spark.job.description"


class Span:
    __slots__ = ("id", "name", "layer", "parent", "phase", "start", "end", "counts")

    def __init__(self, sid: int, name: str, layer: str, parent: int | None, phase: str):
        self.id, self.name, self.layer, self.parent = sid, name, layer, parent
        self.phase = phase
        self.start = self.end = 0.0
        self.counts: dict[str, float] = {}

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        #: copied into each new span: "setup", "cold", "warm" or "probe"
        self.phase = "setup"
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._lock = threading.Lock()
        self._sc = None

    def bind(self, spark_context) -> None:
        """Attach the SparkContext whose jobs the spans count."""
        self._sc = spark_context

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        with self._lock:
            parent = self._stack[-1].id if self._stack else None
            sp = Span(len(self.spans), name, layer, parent, self.phase)
            self.spans.append(sp)
            self._stack.append(sp)
        sc, group = self._sc, f"{self.run_id}-{sp.id}"
        saved = None
        if sc is not None:
            saved = (sc.getLocalProperty(_GROUP), sc.getLocalProperty(_DESC))
            sc.setJobGroup(group, name)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            if sc is not None:
                # restore whatever group the thread had (a streaming
                # query thread carries its own run-id group)
                sc.setLocalProperty(_GROUP, saved[0])
                sc.setLocalProperty(_DESC, saved[1])
                self._add_counts(sp, group)
            with self._lock:
                self._stack.remove(sp)

    def add_group_counts(self, span, group: str) -> None:
        """Add the counters of a job group the span did not set itself
        (a streaming query runs its own jobs under its run id)."""
        if self.enabled and self._sc is not None:
            self._add_counts(span, group)

    def _add_counts(self, span: Span, group: str) -> None:
        tracker = self._sc.statusTracker()
        jobs = stages = tasks = failed = 0
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is None:  # skipped: its shuffle output was reused
                    continue
                stages += 1
                tasks += st.numTasks
                failed += st.numFailedTasks
        for k, v in (("jobs", jobs), ("stages", stages), ("tasks", tasks), ("tasks_failed", failed)):
            span.counts[k] = span.counts.get(k, 0) + v

    # ---------------------------------------------------------- reports

    def total(self, name: str, field: str | None = None, phase: str | None = None) -> float:
        """Summed duration (or summed ``counts[field]``) of every span
        called ``name`` (in ``phase``, when given)."""
        hits = [s for s in self.spans if s.name == name and phase in (None, s.phase)]
        if field is None:
            return sum(s.duration for s in hits)
        return sum(s.counts.get(field, 0) for s in hits)

    def self_times(self, phase: str) -> dict[str, float]:
        """Per layer: span duration minus the part of its interval
        that child spans cover, summed over the layer's spans in
        ``phase``."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if s.phase != phase:
                continue
            covered, cur_end = 0.0, s.start
            for c in sorted(children.get(s.id, ()), key=lambda c: c.start):
                lo, hi = max(c.start, cur_end), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[s.layer] = out.get(s.layer, 0.0) + s.duration - covered
        return out

    def write(self, path: str) -> None:
        """All spans as JSON lines, times relative to the first span."""
        t0 = min((s.start for s in self.spans), default=0.0)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "run_id": self.run_id, "id": s.id, "parent": s.parent,
                    "name": s.name, "layer": s.layer, "phase": s.phase,
                    "start": s.start - t0, "end": s.end - t0, **s.counts,
                }) + "\n")
