"""Measurement parts shared by the workloads: medians, spans with self
time, interval unions, and the Spark status-store work reader.

Spans are recorded by the benchmark around its calls into the program's
public functions; nothing inside the program is instrumented. Executor
work is read from Spark's status store after each call and attributed to
the call by the job and stage IDs that appeared during it, never by stage
names (those are JVM call sites) or job groups (jobs submitted from worker
threads carry none).
"""

from __future__ import annotations

import json
import math
import statistics
import time
from dataclasses import dataclass, field


# ---------------------------------------------------------------------------
# Statistics
# ---------------------------------------------------------------------------


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end) intervals."""
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


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float  # epoch seconds (same clock as the status store's ms)
    end: float = 0.0
    parent: int | None = None
    sid: int = 0
    work: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class _Null:
    """The span a disabled tracer hands out: records nothing."""

    work: dict = {}
    duration = 0.0

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


_NULL = _Null()


class Tracer:
    """In-memory span recorder. A disabled tracer hands out one shared
    null span, so an untraced call pays one attribute check. Spans nest: a
    span opened while another is open is its child."""

    def __init__(self, enabled: bool, store: "StatusStore | None" = None):
        self.enabled = enabled
        self.store = store
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def span(self, name: str, work: bool = False):
        if not self.enabled:
            return _NULL
        return _SpanCtx(self, name, work)

    def self_times(self) -> dict[int, float]:
        """Span id → duration minus the part of it its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append((s.start, s.end))
        return {
            s.sid: s.duration - union_length(clip(kids.get(s.sid, []), s.start, s.end))
            for s in self.spans
        }

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.sid, "name": s.name, "parent": s.parent,
                    "start": s.start, "end": s.end,
                    "self_s": selfs[s.sid], "work": s.work,
                }) + "\n")


#: The tracer of untraced calls.
OFF = Tracer(False)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, work: bool):
        self.t, self.name, self.work = tracer, name, work
        self.span: Span | None = None
        self.token = None

    def __enter__(self):
        t = self.t
        if self.work:
            self.token = t.store.mark()
        stack = t._stack
        sid = len(t.spans)
        self.span = Span(
            self.name, time.time(), parent=stack[-1] if stack else None, sid=sid,
        )
        t.spans.append(self.span)
        stack.append(sid)
        return self.span

    def __exit__(self, *exc):
        self.span.end = time.time()
        self.t._stack.pop()
        if self.work:
            self.span.work = self.t.store.since(self.token)
        return False


# ---------------------------------------------------------------------------
# Status store
# ---------------------------------------------------------------------------

STAGE_SUMS = {
    "cpu_s": ("executorCpuTime", 1e-9),
    "run_s": ("executorRunTime", 1e-3),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "input_bytes": ("inputBytes", 1),
    "output_bytes": ("outputBytes", 1),
}


def summarize(jobs: list[dict], stages: list[dict]) -> dict:
    """Work totals over a set of jobs and stage attempts. Skipped stages
    (reused shuffle output) did no work and are not counted."""
    ran = [s for s in stages if s.get("status") != "SKIPPED"]
    out = {
        k: sum(s.get(f, 0) or 0 for s in ran) * scale
        for k, (f, scale) in STAGE_SUMS.items()
    }
    out["spill_bytes"] += sum(s.get("memoryBytesSpilled", 0) or 0 for s in ran)
    out["peak_exec_mem_mb"] = max(
        (s.get("peakExecutionMemory", 0) or 0 for s in ran), default=0
    ) / 2**20
    out["jobs"] = len(jobs)
    out["stages"] = len(ran)
    out["job_intervals"] = [
        (j["submissionTime"] / 1000, j["completionTime"] / 1000)
        for j in jobs
        if j.get("submissionTime") and j.get("completionTime")
    ]
    return out


def attribute(records: list[dict], key: str, lo: int, hi: int) -> list[dict]:
    """Records whose ``key`` ID lies in (lo, hi]: the IDs a call created,
    given the highest ID seen before it started and after it ended."""
    return [r for r in records if lo < r[key] <= hi]


def merge_work(parts: list[dict]) -> dict:
    out: dict = {}
    for p in parts:
        for k, v in p.items():
            if k == "peak_exec_mem_mb":
                out[k] = max(out.get(k, 0), v)
            elif k == "job_intervals":
                out.setdefault(k, []).extend(v)
            else:
                out[k] = out.get(k, 0) + v
    return out


class StatusStore:
    """Reads ``sc._jsc.sc().statusStore()`` as JSON (one py4j call per
    list, serialized by the JVM's own Jackson). A call's work is that of
    the jobs and stages whose IDs are above the highest IDs the store held
    when the call started. The store drops old jobs and stages past its
    retention limits, so it is read right after every measured call."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_mod, "MODULE$"))
        self._empty = jvm.java.util.ArrayList()
        self._no_q = sc._gateway.new_array(jvm.double, 0)

    def _read(self) -> tuple[list[dict], list[dict]]:
        jobs = json.loads(self._mapper.writeValueAsString(self._store.jobsList(self._empty)))
        stages = json.loads(self._mapper.writeValueAsString(
            self._store.stageList(self._empty, False, False, self._no_q, self._empty)
        ))
        return jobs, stages

    def _highest(self) -> tuple[int, int]:
        jobs, stages = self._read()
        return (
            max((j["jobId"] for j in jobs), default=-1),
            max((s["stageId"] for s in stages), default=-1),
        )

    def mark(self) -> tuple[int, int]:
        """Token for :meth:`since`: the highest IDs in the store now."""
        return self._highest()

    def since(self, token: tuple[int, int]) -> dict:
        """Work of the jobs and stages created since ``token`` was taken;
        reads the store, so call it after the measured call has ended."""
        jobs, stages = self._read()
        lo_j, lo_s = token
        hi_j = max((j["jobId"] for j in jobs), default=lo_j)
        hi_s = max((s["stageId"] for s in stages), default=lo_s)
        return summarize(
            attribute(jobs, "jobId", lo_j, hi_j),
            attribute(stages, "stageId", lo_s, hi_s),
        )
