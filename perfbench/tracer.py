"""Spans around the benchmark's calls into each engine layer, and the
Spark work each call ran.

The benchmark is one closed-loop client, so exactly one engine call is
in flight at a time and every Spark job submitted inside a call's time
window belongs to that call.  After the call returns the tracer drains
Spark's listener bus and reads the jobs that appeared since the last
call from the application status store (``statusStore().jobsList``),
which Spark keeps even with ``spark.ui.enabled=false``; their stages
give executor run time, shuffle, input and spill bytes.  Each call also
runs under its own job group, and the group recorded on each job is
checked against the window attribution.

The status store is an internal API.  If it is missing or changes
shape, every Spark counter is ``None`` and the run goes on.

Spans stay in memory (name, start, end, parent, epoch) and are written
out with the run report.  Time the tracer spends on its own
bookkeeping is kept apart, so the traced run can state its overhead.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # time.monotonic()
    end: float = 0.0
    parent: int | None = None
    epoch: int | None = None
    counters: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class NullTracer:
    """The untraced run: calls go straight through."""

    overhead_s = 0.0

    def call(self, name, fn, *, epoch=None, parent=None):
        return fn(), None

    def begin(self, name, *, epoch=None, parent=None):
        return None

    def finish(self, span_id):
        pass


class SparkTracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self.group_mismatches = 0
        self._seq = 0
        self._last_job = -1
        try:
            jsc = self.sc._jsc.sc()
            self._bus = jsc.listenerBus()
            self._store = jsc.statusStore()
            self._last_job = self._newest_job_id()
        except Exception:  # internal API moved: keep timing, drop counters
            self._store = None

    # ------------------------------------------------------------ spans
    def begin(self, name: str, *, epoch=None, parent=None) -> int:
        self.spans.append(Span(name, time.monotonic(), parent=parent, epoch=epoch))
        return len(self.spans) - 1

    def finish(self, span_id: int) -> None:
        self.spans[span_id].end = time.monotonic()

    def call(self, name: str, fn, *, epoch=None, parent=None):
        """Run ``fn()`` as span ``name``; returns (result, span)."""
        t0 = time.monotonic()
        self._seq += 1
        group = f"perfbench-{self._seq}"
        self.sc.setJobGroup(group, name)
        wall0 = time.time()
        sid = self.begin(name, epoch=epoch, parent=parent)
        self.overhead_s += self.spans[sid].start - t0
        try:
            out = fn()
        finally:
            self.finish(sid)
            wall1 = time.time()
            t0 = time.monotonic()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            span = self.spans[sid]
            span.counters = self._harvest(group, wall0, wall1)
            self.overhead_s += time.monotonic() - t0
        return out, span

    # ----------------------------------------------------- status store
    def _newest_job_id(self) -> int:
        jobs = self._store.jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def _harvest(self, group: str, wall0: float, wall1: float) -> dict:
        """Spark work of the jobs submitted since the previous call."""
        if self._store is None:
            return dict.fromkeys(
                ("jobs", "stages", "tasks", "job_s", "exec_run_s", "input_b",
                 "shuffle_read_b", "shuffle_write_b", "spill_b"))
        try:
            self._bus.waitUntilEmpty()
            jobs = self._store.jobsList(None)
            new = []
            for i in range(jobs.size()):  # newest first
                j = jobs.apply(i)
                if j.jobId() <= self._last_job:
                    break
                new.append(j)
            if new:
                self._last_job = max(j.jobId() for j in new)
            c = dict(jobs=len(new), stages=0, tasks=0, exec_run_s=0.0, input_b=0,
                     shuffle_read_b=0, shuffle_write_b=0, spill_b=0)
            intervals = []
            for j in new:
                g = j.jobGroup()
                if not (g.isDefined() and g.get() == group):
                    self.group_mismatches += 1
                sub, done = j.submissionTime(), j.completionTime()
                if sub.isDefined():
                    end = done.get().getTime() / 1e3 if done.isDefined() else wall1
                    intervals.append((max(sub.get().getTime() / 1e3, wall0), min(end, wall1)))
                seq = j.stageIds()
                for k in range(seq.size()):
                    st = self._store.lastStageAttempt(seq.apply(k))
                    if str(st.status()) != "COMPLETE":
                        continue  # skipped: its output was reused
                    c["stages"] += 1
                    c["tasks"] += st.numCompleteTasks()
                    c["exec_run_s"] += st.executorRunTime() / 1e3
                    c["input_b"] += st.inputBytes()
                    c["shuffle_read_b"] += st.shuffleReadBytes()
                    c["shuffle_write_b"] += st.shuffleWriteBytes()
                    c["spill_b"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            c["job_s"] = _union_s(intervals)
            return c
        except Exception:
            self._store = None
            return self._harvest(group, wall0, wall1)

    def report(self) -> list[dict]:
        return [
            {"name": s.name, "start": round(s.start, 6), "end": round(s.end, 6),
             "parent": s.parent, "epoch": s.epoch, **s.counters}
            for s in self.spans
        ]


def _union_s(intervals: list[tuple[float, float]]) -> float:
    """Seconds covered by at least one interval."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
