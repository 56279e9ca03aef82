"""Outside-in tracer: one span per call into a layer's public function.

Each span runs under its own Spark job group, so after the call the
jobs it launched are found with ``statusTracker().getJobIdsForGroup``
and their stage metrics are read from the application status store
(``lastStageAttempt``). ``finish_op`` drains the listener bus and
attaches the Spark counters once per operation, outside every timed
interval. The caller keeps the spans in memory until the run ends.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    op: int
    parent: str | None
    start: float
    end: float = 0.0
    group: str = ""
    jobs: int = 0
    tasks: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    executor_cpu_s: float = 0.0
    busy_s: float = 0.0  # wall time during which at least one job ran

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def record(self) -> dict:
        return asdict(self)


class Tracer:
    """Records the spans of the operation in progress."""

    def __init__(self, sc):
        self._sc = sc
        self._store = sc._jsc.sc().statusStore()
        self._stack: list[Span] = []
        self._open: list[Span] = []

    @contextmanager
    def span(self, name: str, op: int):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, op, parent.name if parent else None, time.time())
        s.group = f"perfbench-{op}-{len(self._open)}-{name}"
        self._sc.setJobGroup(s.group, name)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(parent.group, parent.name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._open.append(s)

    def finish_op(self) -> list[Span]:
        """Attach Spark counters to the spans recorded since the last
        call and return them, in start order."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        done, self._open = self._open, []
        for s in done:
            intervals, stages = [], set()
            for j in tracker.getJobIdsForGroup(s.group):
                info = tracker.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
                job = self._store.job(j)
                t0, t1 = job.submissionTime(), job.completionTime()
                if t0.isDefined() and t1.isDefined():
                    intervals.append((t0.get().getTime() / 1e3, t1.get().getTime() / 1e3))
                s.jobs += 1
            for sid in stages:
                st = self._stage(sid)
                if st is None:
                    continue
                s.tasks += st.numTasks()
                s.shuffle_bytes += st.shuffleWriteBytes()
                s.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
                s.executor_cpu_s += st.executorCpuTime() / 1e9
            s.busy_s = covered(intervals, s.start, s.end)
        return sorted(done, key=lambda s: s.start)

    def _stage(self, sid: int):
        try:
            st = self._store.lastStageAttempt(sid)
        except Exception:  # py4j error: stage skipped, never attempted
            return None
        return None if str(st.status()) == "SKIPPED" else st


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def self_seconds(span: Span, spans: list[Span]) -> float:
    """The span's duration minus the part its direct children cover."""
    kids = [(c.start, c.end) for c in spans if c.op == span.op and c.parent == span.name]
    return span.seconds - covered(kids, span.start, span.end)
