"""Span recorder and per-job-group Spark counters for the traced run.

Every span gets its own Spark job group, so each job — including the ones
adaptive query execution submits from its own threads, which inherit the
caller's local properties — can be charged to exactly one span.  At span
exit the listener bus is drained and the span's stages are read from the
status store (``statusTracker().getJobIdsForGroup`` -> ``getJobInfo(j)
.stageIds`` -> ``statusStore().lastStageAttempt(sid)``), which works with
the Spark UI disabled.  Counters are read at exit, before the store's
retention limit can evict the span's jobs.
"""

from __future__ import annotations

import itertools
import json
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError

COUNTERS = ("jobs", "tasks", "run_ms", "shuffle_bytes", "spill_bytes")
LAYER_COUNTERS = ("wall_s", "self_s", *COUNTERS, "rows_out")
_GROUP = "spark.jobGroup.id"
_DESC = "spark.job.description"


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    run_id: str
    start: float
    group: str = ""
    end: float = 0.0
    rows_out: int = 0
    counters: dict = field(default_factory=dict)


class Tracer:
    """Keeps spans in memory; ``write`` dumps them as JSON lines."""

    def __init__(self, sc):
        self.sc = sc
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(name, next(self._ids), parent, self.run_id, 0.0)
        s.group = group = f"{self.run_id}:{s.span_id}:{name}"
        prev = (self.sc.getLocalProperty(_GROUP), self.sc.getLocalProperty(_DESC))
        self.sc.setLocalProperty(_GROUP, group)
        self.sc.setLocalProperty(_DESC, name)
        self._stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(_GROUP, prev[0])
            self.sc.setLocalProperty(_DESC, prev[1])
            s.counters = self.group_counters(group)
            self.spans.append(s)

    def group_counters(self, group: str) -> dict:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        out = dict.fromkeys(COUNTERS, 0)
        for j in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage skipped, never attempted
                    continue
                out["tasks"] += st.numCompleteTasks()
                out["run_ms"] += st.executorRunTime()
                out["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out

    def group_jobs(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def ungrouped_jobs(self) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(None))

    def job_names(self, jobs) -> list[str]:
        """Each job's call site, as the status store records it."""
        store = self.sc._jsc.sc().statusStore()
        return [store.job(j).name() for j in jobs]

    def by_layer(self) -> dict[str, dict]:
        """Sum each span name's wall time, self time (wall minus the part
        covered by child spans) and counters."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, dict] = {}
        for s in self.spans:
            covered, cur = 0.0, s.start
            for c in sorted(children.get(s.span_id, []), key=lambda c: c.start):
                lo, hi = max(c.start, cur), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur = hi
            agg = out.setdefault(s.name, dict.fromkeys(LAYER_COUNTERS, 0))
            agg["wall_s"] += s.end - s.start
            agg["self_s"] += s.end - s.start - covered
            agg["rows_out"] += s.rows_out
            for k in COUNTERS:
                agg[k] += s.counters[k]
        return out

    def write(self, path) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
