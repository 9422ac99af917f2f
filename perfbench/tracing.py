"""Spans and Spark counters recorded from the benchmark's side of each call.

A ``Tracer`` keeps spans in memory (id, parent, name, start, end, attrs).
Top-level operations run under a Spark job group named after their span;
afterwards every new job is read from Spark's status store and
attributed to the innermost span that was open when it was submitted, so
jobs launched on other threads (which do not inherit the job group) are
still counted.  Per job the tracer keeps stage/task counts, executor run
and CPU time, shuffle and spill bytes.

``Py4jCounter`` counts Python-to-JVM round trips; ``plan_metrics`` reads a
collected DataFrame's planning phases and SQL metrics.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


class Py4jCounter:
    """Counts py4j commands sent by this process while ``enabled``."""

    def __init__(self, sc):
        self._client = sc._gateway._gateway_client
        self._orig = self._client.send_command
        self.count = 0
        self.enabled = True

        def send_command(*args, **kwargs):
            if self.enabled:
                self.count += 1
            return self._orig(*args, **kwargs)

        self._client.send_command = send_command

    @contextlib.contextmanager
    def paused(self):
        prev, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = prev

    def close(self):
        self._client.send_command = self._orig


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float  # epoch seconds, comparable with Spark's submission times
    end: float | None = None
    attrs: dict = field(default_factory=dict)
    jobs: list = field(default_factory=list)  # job dicts attributed here

    @property
    def dur(self) -> float:
        return (self.end or time.time()) - self.start


@dataclass
class JobRecord:
    job_id: int
    group: str | None
    submitted: float
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0


class Tracer:
    def __init__(self, spark, enabled: bool = True):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.py4j = Py4jCounter(self.sc) if enabled else None
        self.unattributed: list[JobRecord] = []
        self._seen_jobs: set[int] = set()
        if enabled:
            with self.py4j.paused():
                self._seen_jobs = set(self.sc.statusTracker().getJobIdsForGroup(None))

    # -- spans --------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), parent, name, time.time(), attrs=dict(attrs))
        s.attrs["py4j_start"] = self.py4j.count
        self.spans.append(s)
        self._stack.append(s)
        top = parent is None
        if top:
            with self.py4j.paused():
                self.sc.setJobGroup(f"perfbench-{s.id}", name)
        try:
            yield s
        finally:
            s.end = time.time()
            s.attrs["py4j_calls"] = self.py4j.count - s.attrs.pop("py4j_start")
            self._stack.pop()
            if top:
                with self.py4j.paused():
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                    self.collect_jobs()

    def add_span(self, name: str, start: float, end: float, **attrs) -> Span | None:
        """Record an interval measured elsewhere as a child of the open span."""
        if not self.enabled:
            return None
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), parent, name, start, end, attrs=dict(attrs))
        self.spans.append(s)
        return s

    # -- Spark jobs ---------------------------------------------------------

    def skip_pending(self) -> None:
        """Mark every job launched so far as seen without attributing it
        (jobs of untraced work between traced operations)."""
        if self.enabled:
            with self.py4j.paused():
                self._seen_jobs.update(self._job_ids_since())

    def _job_ids_since(self) -> list[int]:
        st = self.sc.statusTracker()
        ids = set(st.getJobIdsForGroup(None))
        if self.spans:
            top = [s for s in self.spans if s.parent is None][-1]
            ids.update(st.getJobIdsForGroup(f"perfbench-{top.id}"))
        return sorted(i for i in ids if i not in self._seen_jobs)

    def _job_record(self, store, jid: int) -> JobRecord:
        j = store.job(jid)
        g = j.jobGroup()
        sub = j.submissionTime()
        rec = JobRecord(
            job_id=jid,
            group=g.get() if g.isDefined() else None,
            submitted=sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0,
        )
        it = j.stageIds().iterator()
        while it.hasNext():
            sid = it.next()
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # the status store has no attempt of it
                continue
            if str(sd.status()) == "SKIPPED":
                continue
            rec.stages += 1
            rec.tasks += sd.numTasks()
            rec.executor_run_s += sd.executorRunTime() / 1e3
            rec.executor_cpu_s += sd.executorCpuTime() / 1e9
            rec.shuffle_write_bytes += sd.shuffleWriteBytes()
            rec.shuffle_read_bytes += sd.shuffleReadBytes()
            rec.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return rec

    def collect_jobs(self) -> None:
        """Read jobs launched since the last call and attribute each one."""
        store = self.sc._jsc.sc().statusStore()
        for jid in self._job_ids_since():
            rec = self._job_record(store, jid)
            self._seen_jobs.add(jid)
            owner = self._owner(rec)
            if owner is None:
                self.unattributed.append(rec)
            else:
                owner.jobs.append(rec)

    def _owner(self, rec: JobRecord) -> Span | None:
        """Innermost span containing the submission time; a job group picks
        the top-level span first and then narrows inside it."""
        eps = 0.002  # JVM clock is read in ms
        cands = [
            s for s in self.spans
            if s.start - eps <= rec.submitted <= (s.end or time.time()) + eps
        ]
        if rec.group and rec.group.startswith("perfbench-"):
            top = int(rec.group.split("-", 1)[1])
            inside = {top}
            for s in self.spans:  # spans are appended parent-first
                if s.parent in inside:
                    inside.add(s.id)
            cands = [s for s in cands if s.id in inside] or [self.spans[top]]
        if not cands:
            return None
        return max(cands, key=lambda s: (s.start, s.id))

    # -- queries over spans -------------------------------------------------

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def subtree(self, span: Span) -> list[Span]:
        out, ids = [], {span.id}
        for s in self.spans:
            if s.id in ids or s.parent in ids:
                ids.add(s.id)
                out.append(s)
        return out

    def jobs_under(self, span: Span) -> list[JobRecord]:
        return [j for s in self.subtree(span) for j in s.jobs]

    def self_time(self, span: Span) -> float:
        """Span duration minus the part its child spans cover."""
        iv = sorted((c.start, c.end or c.start) for c in self.children(span))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in iv:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return span.dur - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.id, "parent": s.parent, "name": s.name,
                    "start": s.start, "end": s.end, "attrs": s.attrs,
                    "jobs": [j.__dict__ for j in s.jobs],
                }, default=str) + "\n")

    def close(self) -> None:
        if self.py4j is not None:
            self.py4j.close()


def job_totals(jobs: list[JobRecord]) -> dict:
    return {
        "jobs": len(jobs),
        "stages": sum(j.stages for j in jobs),
        "tasks": sum(j.tasks for j in jobs),
        "executor_run_s": sum(j.executor_run_s for j in jobs),
        "executor_cpu_s": sum(j.executor_cpu_s for j in jobs),
        "shuffle_bytes": sum(j.shuffle_write_bytes + j.shuffle_read_bytes for j in jobs),
        "shuffle_write_bytes": sum(j.shuffle_write_bytes for j in jobs),
        "spill_bytes": sum(j.spill_bytes for j in jobs),
    }


def plan_metrics(df) -> dict:
    """Planning-phase times and selected SQL metrics of a collected frame.

    Returns catalyst_s (analysis + optimization + planning), rows out of
    in-memory cache scans, rows/bytes of the postings decode (MapInPandas
    emitting a ``tf`` column) and bytes sent to grouped pandas kernels."""
    qe = df._jdf.queryExecution()
    out = {"catalyst_s": 0.0, "cache_rows": 0, "decode_rows": 0,
           "decode_python_bytes": 0, "pandas_python_bytes": 0}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        out["catalyst_s"] += it.next()._2().durationMs() / 1e3

    def metric(node, name):
        opt = node.metrics().get(name)
        return int(opt.get().value()) if opt.isDefined() else 0

    def walk(node):
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if cls.endswith("QueryStageExec"):
            walk(node.plan())
            return
        if cls == "InMemoryTableScanExec":
            out["cache_rows"] += metric(node, "numOutputRows")
        elif cls in ("MapInPandasExec", "PythonMapInArrowExec", "MapInArrowExec"):
            if "tf#" in node.output().toString():
                out["decode_rows"] += metric(node, "pythonNumRowsReceived")
                out["decode_python_bytes"] += metric(node, "pythonDataSent")
        elif cls.startswith("FlatMapGroupsIn"):
            out["pandas_python_bytes"] += metric(node, "pythonDataSent")
        kids = node.children().iterator()
        while kids.hasNext():
            walk(kids.next())

    walk(qe.executedPlan())
    return out
