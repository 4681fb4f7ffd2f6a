"""In-memory spans around the benchmark's calls into each layer, plus the
Spark status-store counters of the jobs each span launched.

Every span records its wall interval.  When the tracer is given a
SparkContext, each span also sets a Spark job group, so the jobs launched
inside it (including those from ``run_overlapped`` threads, which inherit
the group) can be read back per span from ``statusTracker()`` and the
status store once the pass is over, outside the timed region.  Without a
SparkContext the tracer sets no job group and reads nothing: that is the
untraced mode the end-to-end metrics come from.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

# per-stage fields read from the status store, summed per span
STAGE_FIELDS = (
    "tasks", "failed_tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes",
)


class Span:
    __slots__ = ("sid", "parent", "name", "attrs", "start", "end", "group",
                 "jobs", "stages", "counters")

    def __init__(self, sid: int, parent: int | None, name: str, attrs: dict):
        self.sid = sid
        self.parent = parent
        self.name = name
        self.attrs = attrs
        self.start = self.end = 0.0
        self.group: str | None = None
        self.jobs: list[int] = []
        self.stages: list[int] = []
        self.counters: dict[str, float] = {}

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; with ``sc`` it also tags and later reads Spark jobs."""

    def __init__(self, tag: str = "perfbench"):
        self.sc = None
        self.tag = tag
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._app: str | None = None
        self._seen_stages: set[int] = set()
        self.calls_s = 0.0  # time spent setting job groups (the overhead)

    def attach(self, sc) -> None:
        """Trace the jobs of SparkContext ``sc`` from here on, or stop
        tracing with ``None`` (spans then record wall time only)."""
        self.sc = sc
        if sc is not None and sc.applicationId != self._app:
            self._app = sc.applicationId  # stage ids restart per application
            self._seen_stages = set()

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), parent.sid if parent else None, name, attrs)
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            t = time.perf_counter()
            s.group = f"{self.tag}-{s.sid}"
            self.sc.setJobGroup(s.group, name)
            self.calls_s += time.perf_counter() - t
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                t = time.perf_counter()
                if parent is not None and parent.group is not None:
                    self.sc.setJobGroup(parent.group, parent.name)
                else:
                    self.sc._jsc.clearJobGroup()
                self.calls_s += time.perf_counter() - t

    # -- counters -----------------------------------------------------------

    def read_counters(self, spans: list[Span]) -> None:
        """Fill ``jobs``, ``stages`` and ``counters`` of ``spans`` from the
        status store.  Call once the jobs have finished, outside any timed
        region.  A stage shared by two jobs (a reused shuffle) counts once,
        for the first span that ran it; skipped stages do not count."""
        if self.sc is None:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        for s in spans:
            if s.group is None:
                continue
            s.jobs = sorted(tracker.getJobIdsForGroup(s.group))
            c = dict.fromkeys(STAGE_FIELDS, 0.0)
            stages = []
            for jid in s.jobs:
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    if sid in self._seen_stages:
                        continue
                    try:
                        sd = store.lastStageAttempt(sid)
                    except Exception:  # py4j: stage evicted or never submitted
                        continue
                    if str(sd.status().toString()) == "SKIPPED":
                        continue
                    self._seen_stages.add(sid)
                    stages.append(sid)
                    c["tasks"] += sd.numTasks()
                    c["failed_tasks"] += sd.numFailedTasks()
                    c["executor_run_s"] += sd.executorRunTime() / 1e3
                    c["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                    c["gc_s"] += sd.jvmGcTime() / 1e3
                    c["input_bytes"] += sd.inputBytes()
                    c["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    c["spill_bytes"] += (sd.memoryBytesSpilled()
                                         + sd.diskBytesSpilled())
            s.stages = stages
            s.counters = c

    # -- span-tree queries --------------------------------------------------

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.sid]

    def subtree(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def totals(self, span: Span) -> dict:
        """Jobs, stages and stage counters of ``span`` and its descendants."""
        sub = self.subtree(span)
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        for s in sub:
            for k, v in s.counters.items():
                out[k] += v
        out["jobs"] = sum(len(s.jobs) for s in sub)
        out["stages"] = sum(len(s.stages) for s in sub)
        return out

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        ivs = sorted((c.start, c.end) for c in self.children(span))
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in ivs:
            a, b = max(a, span.start), min(b, span.end)
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return span.duration - covered

    def dump(self, path, meta: dict) -> None:
        """Write every span (with self time and counters) as JSON."""
        t0 = min((s.start for s in self.spans), default=0.0)
        rows = [{
            "id": s.sid, "parent": s.parent, "name": s.name, **s.attrs,
            "start_s": round(s.start - t0, 6), "dur_s": round(s.duration, 6),
            "self_s": round(self.self_time(s), 6), "group": s.group,
            "jobs": len(s.jobs), "stages": len(s.stages), **s.counters,
        } for s in self.spans]
        with open(path, "w") as fh:
            json.dump({"meta": meta, "spans": rows}, fh, indent=1)
