"""Spans around the benchmark's calls into each layer, and the Spark metrics
of the work each span caused.

A span records name, start, end, parent and run id. Spans live in memory and
are written out once, at the end of a run. While a span is open its Spark
job group is set on the calling thread, so the jobs it starts carry the
span's group. Jobs started from threads that do not inherit the group (a
thread pool inside a module) are attributed by submission time to the
innermost span open at that instant. Stage metrics then come from Spark's
status store for those jobs; it works with the web UI disabled.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# SQL metric of the pandas/Arrow operators: wall time inside Python workers
PYTHON_TIME_METRIC = "time to run Python workers"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run: str
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench:{self.run}:{self.id}"


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its interval
    that its child spans cover."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            clip([(c.start, c.end) for c in kids.get(s.id, [])], s.start, s.end)
        )
        out[s.id] = (s.end - s.start) - covered
    return out


class Tracer:
    """Records spans when ``enabled``; otherwise every span is a no-op."""

    def __init__(self, sc, run: str, enabled: bool):
        self.sc = sc
        self.run = run
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        #: time spent in span bookkeeping (job groups included): all that
        #: tracing adds to a pass, since metrics are read after it ends
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.id if parent else None,
                  self.run, time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield sp
        finally:
            t1 = time.perf_counter()
            sp.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += time.perf_counter() - t1

    def write(self, path: str) -> None:
        st = self_times(self.spans)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({**asdict(s), "self_s": st[s.id]}) + "\n")


def _opt_ms(opt) -> float | None:
    """A Scala ``Option[java.util.Date]`` as epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


_DURATION = re.compile(r"([0-9.]+)\s*(ms|s|m|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_duration(text: str) -> float:
    """Seconds from a formatted Spark timing metric: either ``"12 ms"`` or
    ``"total (min, med, max ...)\\n1.2 s (...)"`` (the total comes first)."""
    line = text.split("\n", 1)[-1]
    m = _DURATION.search(line)
    return float(m.group(1)) * _UNIT_S[m.group(2)] if m else 0.0


class StageReader:
    """Reads job, stage and SQL-execution metrics from the status stores."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._seen_exec = -1

    def jobs_of(self, spans: list[Span]) -> dict[int, set[int]]:
        """Job ids started under each span: by job group, then ungrouped
        jobs by submission time to the innermost open span."""
        tracker = self.sc.statusTracker()
        out = {s.id: set(tracker.getJobIdsForGroup(s.group)) for s in spans}
        lo = min(s.start for s in spans)
        hi = max(s.end for s in spans)
        for jid in tracker.getJobIdsForGroup(None):
            job = self.store.job(jid)
            t = _opt_ms(job.submissionTime())
            if t is None or not (lo <= t <= hi):
                continue
            inner = [s for s in spans if s.start <= t <= s.end]
            if inner:
                out[max(inner, key=lambda s: s.start).id].add(jid)
        return out

    def stage_ids(self, job_ids: set[int]) -> dict[int, set[int]]:
        """{job id: ids of the stages it comprises}."""
        out = {}
        for jid in job_ids:
            ids = self.store.job(jid).stageIds()
            out[jid] = {ids.apply(i) for i in range(ids.size())}
        return out

    def stages(self, want: set[int]) -> dict[int, dict]:
        """Metrics of the stages in ``want`` that ran (skipped stages, which
        did no work, are left out), from one status-store listing."""
        if not want:
            return {}
        quantiles = self.sc._gateway.new_array(self.jvm.double, 0)
        lst = self.store.stageList(
            self.jvm.java.util.ArrayList(), False, False, quantiles,
            self.jvm.java.util.ArrayList(),
        )
        out: dict[int, dict] = {}
        for i in range(lst.size()):
            sd = lst.apply(i)
            sid = sd.stageId()
            if sid not in want or sd.status().toString() == "SKIPPED":
                continue
            out[sid] = {
                "attempt": sd.attemptId(),
                "start": _opt_ms(sd.submissionTime()),
                "end": _opt_ms(sd.completionTime()),
                "cpu_s": sd.executorCpuTime() / 1e9,
                "run_s": sd.executorRunTime() / 1e3,
                "shuffle_write_mb": sd.shuffleWriteBytes() / 2**20,
                "spill_mb": sd.diskBytesSpilled() / 2**20,
                "output_mb": sd.outputBytes() / 2**20,
                "failed_tasks": sd.numFailedTasks(),
            }
        return out

    def task_skew(self, stage_id: int, attempt: int) -> float:
        """Slowest task run time over the median task run time."""
        q = self.sc._gateway.new_array(self.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summ = self.store.taskSummary(stage_id, attempt, q)
        if not summ.isDefined():
            return 1.0
        rt = summ.get().executorRunTime()
        med, mx = rt.apply(0), rt.apply(1)
        return mx / med if med > 0 else 1.0

    def skip_executions(self) -> None:
        """Leave the SQL executions finished so far out of later calls."""
        lst = self.sql_store.executionsList()
        for i in range(lst.size()):
            self._seen_exec = max(self._seen_exec, lst.apply(i).executionId())

    def python_seconds(self) -> dict[int, float]:
        """{job id: seconds in Python workers} over SQL executions finished
        since the last call; an execution's time goes to its first job."""
        out: dict[int, float] = {}
        lst = self.sql_store.executionsList()
        for i in range(lst.size()):
            ex = lst.apply(i)
            eid = ex.executionId()
            if eid <= self._seen_exec:
                continue
            self._seen_exec = max(self._seen_exec, eid)
            jobs = ex.jobs().keys().mkString(",")
            if not jobs:
                continue
            names = {}
            ms = ex.metrics()
            for k in range(ms.size()):
                m = ms.apply(k)
                if m.name() == PYTHON_TIME_METRIC:
                    names[m.accumulatorId()] = True
            if not names:
                continue
            values = self.sql_store.executionMetrics(eid)
            secs = 0.0
            for acc in names:
                v = values.get(acc)
                if v.isDefined():
                    secs += parse_duration(v.get())
            first = min(int(j) for j in jobs.split(","))
            out[first] = out.get(first, 0.0) + secs
        return out
