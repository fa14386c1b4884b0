"""Timing and tracing from outside the package.

``Recorder.call`` times one call into a layer. With tracing off it only
reads the clock. With tracing on it also records a span (name, layer,
start, end, parent, trace_id), names the call's Spark jobs by setting a
job group (so the Spark UI and event log say which layer ran them), and
notes the scheduler's next job id when the span opens and closes. The
benchmark's client is single-threaded, so the jobs submitted in between,
including those the package starts from helper threads (which carry no
group), are exactly the span's jobs, its children's included.

Spans stay in memory. ``resolve`` runs once, after the timed phases: it
drains the listener bus and reads each job's stages from the JVM status
store (executor run and CPU time, GC time, shuffle and spill bytes).
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    layer: str
    trace_id: str
    parent: int | None
    start: float
    end: float = 0.0
    ok: bool = True
    first_job: int = 0
    end_job: int = 0
    counters: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start

    @property
    def jobs(self) -> range:
        return range(self.first_job, self.end_job)


class Recorder:
    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.traced = traced
        self.spans: list[Span] = []
        self.attempted = 0
        self.failed = 0
        self.bookkeeping_s = 0.0
        self._stack: list[int] = []
        if traced:
            self._dag = spark.sparkContext._jsc.sc().dagScheduler()

    # ------------------------------------------------------------ spans
    def _set_group(self, idx: int | None) -> None:
        sc = self.spark.sparkContext
        if idx is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(f"bench-span-{idx}", self.spans[idx].name)

    @contextmanager
    def span(self, name: str, layer: str, trace_id: str | None = None):
        """A span around a block; yields the Span (its ``wall`` is set on
        exit). With tracing off the Span is still timed but not kept."""
        parent = self._stack[-1] if self._stack else None
        if trace_id is None:
            trace_id = self.spans[parent].trace_id if parent is not None else name
        sp = Span(name, layer, trace_id, parent, 0.0)
        if self.traced:
            t0 = time.perf_counter()
            self.spans.append(sp)
            self._stack.append(len(self.spans) - 1)
            self._set_group(self._stack[-1])
            sp.first_job = self._dag.nextJobId()
            self.bookkeeping_s += time.perf_counter() - t0
        sp.start = time.perf_counter()
        try:
            yield sp
        except BaseException:
            sp.ok = False
            raise
        finally:
            sp.end = time.perf_counter()
            if self.traced:
                t0 = time.perf_counter()
                sp.end_job = self._dag.nextJobId()
                self._stack.pop()
                self._set_group(self._stack[-1] if self._stack else None)
                self.bookkeeping_s += time.perf_counter() - t0

    def call(self, name: str, layer: str, fn, trace_id: str | None = None):
        """Time one call into the package; returns (result, span).
        Counts it as attempted; an exception counts as failed and is
        re-raised."""
        self.attempted += 1
        try:
            with self.span(name, layer, trace_id) as sp:
                out = fn()
        except Exception:
            self.failed += 1
            raise
        return out, sp

    def fail(self, what: str) -> None:
        """An output check failed: count it against the calls attempted."""
        self.failed += 1
        print(f"CHECK FAILED: {what}", flush=True)

    # ------------------------------------------------------- resolution
    def resolve(self) -> None:
        """Attach Spark counters to every span (inclusive of children)."""
        if not self.traced:
            return
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        job_stages: dict[int, list[int]] = {}
        stage_cache: dict[int, dict] = {}

        def stages_of(jid: int) -> list[int]:
            if jid not in job_stages:
                info = tracker.getJobInfo(jid)
                job_stages[jid] = list(info.stageIds) if info is not None else []
            return job_stages[jid]

        def stage(sid: int) -> dict:
            if sid not in stage_cache:
                sd = store.lastStageAttempt(sid)
                stage_cache[sid] = {
                    "tasks": int(sd.numCompleteTasks()),
                    "run_s": sd.executorRunTime() / 1e3,
                    "task_cpu_s": sd.executorCpuTime() / 1e9,
                    "gc_s": sd.jvmGcTime() / 1e3,
                    "shuffle_read_bytes": int(sd.shuffleReadBytes()),
                    "shuffle_write_bytes": int(sd.shuffleWriteBytes()),
                    "spill_bytes": int(sd.memoryBytesSpilled()) + int(sd.diskBytesSpilled()),
                }
            return stage_cache[sid]

        children: dict[int, list[int]] = {}
        for i, sp in enumerate(self.spans):
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(i)

        for i, sp in enumerate(self.spans):
            stages = {s for j in sp.jobs for s in stages_of(j)}
            tot = {"jobs": len(sp.jobs), "stages": len(stages), "tasks": 0, "run_s": 0.0,
                   "task_cpu_s": 0.0, "gc_s": 0.0, "shuffle_read_bytes": 0,
                   "shuffle_write_bytes": 0, "spill_bytes": 0}
            for s in stages:
                for k, v in stage(s).items():
                    tot[k] += v
            child_cover = _union_length(
                [(self.spans[c].start, self.spans[c].end) for c in children.get(i, [])])
            tot["self_s"] = sp.wall - child_cover
            sp.counters = tot

    # ------------------------------------------------------------ output
    def dump(self, path: str) -> None:
        rows = [{"name": s.name, "layer": s.layer, "trace_id": s.trace_id,
                 "parent": s.parent, "start": s.start, "end": s.end, "ok": s.ok,
                 "job_ids": list(s.jobs), **s.counters} for s in self.spans]
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
