"""In-memory span tracer plus a Spark event-log reader.

A span is opened around a call into one of the engine's public
functions (see ``install`` in ``layers.py``). On entry it tags the
calling thread's Spark jobs with a job group naming the span; on exit it
restores the previous group. Spans stay in memory. After the session
stops, :func:`read_event_log` parses the JSON event log Spark wrote
under the run's ``SPARK_LOCAL_DIRS``, and :meth:`Tracer.job_stats` attributes
every job to a span:

- by job group, when the job carries one of the tracer's groups;
- otherwise by time, to the root span (a span opened with no parent)
  whose interval holds the job's submission. The engine's own driver
  threads (the pipeline's sink pool) start with no group, so their
  ungrouped jobs land on the operation that spawned them.

Times are wall-clock epoch seconds on both sides, so spans line up with
the event log's millisecond timestamps.
"""

from __future__ import annotations

import functools
import itertools
import json
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

GROUP_PREFIX = "bench-span-"


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    result: object = None

    @property
    def group(self) -> str:
        return f"{GROUP_PREFIX}{self.sid}"

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; sets the Spark job group of the calling thread."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._root: Span | None = None
        self._lock = threading.Lock()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> Span | None:
        stack = self._stack()
        return stack[-1] if stack else self._root

    @contextmanager
    def span(self, name: str):
        parent = self.current()
        s = Span(next(self._ids), name, parent.sid if parent else None,
                 time.time())
        with self._lock:
            self.spans.append(s)
        stack = self._stack()
        if parent is None:
            self._root = s
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        self.sc.setLocalProperty("spark.jobGroup.id", s.group)
        self.sc.setLocalProperty("spark.job.description", name)
        stack.append(s)
        try:
            yield s
        finally:
            stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            self.sc.setLocalProperty("spark.job.description", prev_desc)
            s.end = time.time()
            if self._root is s:
                self._root = None

    def wrap(self, fn, name_of, absorb: str | None = None):
        """``fn`` wrapped in a span named ``name_of(*args, **kwargs)``;
        the span keeps the call's return value. A call made while a span
        whose name starts with ``absorb`` is open on this thread opens no
        span of its own (a MERGE's inner partition overwrite is part of
        the MERGE)."""

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            stack = self._stack()
            if absorb and stack and stack[-1].name.startswith(absorb):
                return fn(*args, **kwargs)
            with self.span(name_of(*args, **kwargs)) as s:
                s.result = fn(*args, **kwargs)
                return s.result

        return wrapped

    # -- attribution --------------------------------------------------------
    def job_stats(self, log: "EventLog") -> dict[int, "JobSet"]:
        """span id -> the jobs attributed to it (see module docstring)."""
        by_group = {s.group: s.sid for s in self.spans}
        roots = [s for s in self.spans if s.parent is None]
        out = {s.sid: JobSet() for s in self.spans}
        for job in log.jobs.values():
            sid = by_group.get(job.group)
            if sid is None:
                sid = next(
                    (r.sid for r in roots if r.start <= job.submit <= r.end),
                    None,
                )
            if sid is not None:
                out[sid].jobs.append(job)
        return out

    def self_time(self, span: Span) -> float:
        """Duration minus the union of the children's intervals."""
        kids = sorted(
            (max(c.start, span.start), min(c.end, span.end))
            for c in self.spans if c.parent == span.sid
        )
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in kids:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        return span.duration - covered


# -- event log ---------------------------------------------------------------
@dataclass
class Task:
    stage: int
    run_s: float
    gc_s: float
    launch: float
    written_bytes: int
    written_records: int
    shuffle_bytes: int
    spill_bytes: int
    failed: bool


@dataclass
class Job:
    jid: int
    group: str | None
    submit: float
    end: float = 0.0
    stages: list = field(default_factory=list)
    tasks: list = field(default_factory=list)
    sql_id: int | None = None


@dataclass
class JobSet:
    jobs: list = field(default_factory=list)

    @property
    def tasks(self) -> list:
        return [t for j in self.jobs for t in j.tasks]

    def executor_s(self) -> float:
        return sum(t.run_s for t in self.tasks)

    def wait_s(self) -> float:
        """Per job: submission to first task launch, summed. A job whose
        stages were all skipped launches nothing and waits 0."""
        return sum(
            min(t.launch for t in j.tasks) - j.submit
            for j in self.jobs if j.tasks
        )

    def written_bytes(self) -> int:
        return sum(t.written_bytes for t in self.tasks)

    def written_records(self) -> int:
        return sum(t.written_records for t in self.tasks)

    def shuffle_bytes(self) -> int:
        return sum(t.shuffle_bytes for t in self.tasks)

    def spill_bytes(self) -> int:
        return sum(t.spill_bytes for t in self.tasks)

    def gc_s(self) -> float:
        return sum(t.gc_s for t in self.tasks)

    def tasks_failed(self) -> int:
        return sum(t.failed for t in self.tasks)

    def task_skew(self) -> float:
        """Largest stage (by summed task time): max task ÷ median task."""
        stages: dict = {}
        for t in self.tasks:
            stages.setdefault(t.stage, []).append(t.run_s)
        if not stages:
            return 0.0
        big = max(stages.values(), key=sum)
        med = statistics.median(big)
        return max(big) / med if med > 0 else 1.0


@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)
    # sql execution id -> list of final physical-plan nodes (dicts)
    plans: dict = field(default_factory=dict)
    # accumulator id -> summed task updates
    accum: dict = field(default_factory=dict)

    def metric_of(self, job_set: JobSet, node_name: str,
                  metric: str) -> int:
        """Sum of ``metric`` over every plan node named ``node_name`` in
        the SQL executions that ran ``job_set``'s jobs."""
        total = 0
        for sql_id in {j.sql_id for j in job_set.jobs} - {None}:
            for node in self.plans.get(sql_id, []):
                if node.get("nodeName") != node_name:
                    continue
                for m in node.get("metrics", []):
                    if m.get("name") == metric:
                        total += self.accum.get(m["accumulatorId"], 0)
        return total


def _plan_nodes(info: dict) -> list:
    out = [info]
    for child in info.get("children", []):
        out.extend(_plan_nodes(child))
    return out


def find_event_log(log_dir: Path) -> Path:
    logs = [p for p in log_dir.iterdir() if p.is_file()]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {logs}")
    return logs[0]


def read_event_log(path: Path) -> EventLog:
    log = EventLog()
    stage_job: dict[int, Job] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                sql = props.get("spark.sql.execution.id")
                job = Job(
                    ev["Job ID"],
                    props.get("spark.jobGroup.id"),
                    ev["Submission Time"] / 1000.0,
                    stages=ev.get("Stage IDs", []),
                    sql_id=int(sql) if sql is not None else None,
                )
                log.jobs[job.jid] = job
                for sid in job.stages:
                    stage_job.setdefault(sid, job)
            elif kind == "SparkListenerJobEnd":
                job = log.jobs.get(ev["Job ID"])
                if job is not None:
                    job.end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                info = ev["Task Info"]
                for acc in info.get("Accumulables", []):
                    upd = acc.get("Update")
                    if isinstance(upd, (int, float)) or (
                        isinstance(upd, str) and upd.lstrip("-").isdigit()
                    ):
                        log.accum[acc["ID"]] = (
                            log.accum.get(acc["ID"], 0) + int(upd)
                        )
                m = ev.get("Task Metrics") or {}
                out = m.get("Output Metrics") or {}
                shw = m.get("Shuffle Write Metrics") or {}
                task = Task(
                    stage=ev["Stage ID"],
                    run_s=m.get("Executor Run Time", 0) / 1000.0,
                    gc_s=m.get("JVM GC Time", 0) / 1000.0,
                    launch=info["Launch Time"] / 1000.0,
                    written_bytes=out.get("Bytes Written", 0),
                    written_records=out.get("Records Written", 0),
                    shuffle_bytes=shw.get("Shuffle Bytes Written", 0),
                    spill_bytes=m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0),
                    failed=(ev.get("Task End Reason") or {}).get("Reason")
                    != "Success",
                )
                job = stage_job.get(task.stage)
                if job is not None:
                    job.tasks.append(task)
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                # the last plan reported for an execution is its final
                # (post-AQE) physical plan
                log.plans[ev["executionId"]] = _plan_nodes(ev["sparkPlanInfo"])
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, val in ev.get("accumUpdates", []):
                    log.accum[acc_id] = log.accum.get(acc_id, 0) + int(val)
    return log


def jobs_in_flight(jobs: list, start: float, end: float) -> float:
    """Time-weighted mean number of jobs running inside [start, end]."""
    if end <= start:
        return 0.0
    busy = sum(
        max(0.0, min(j.end or end, end) - max(j.submit, start)) for j in jobs
    )
    return busy / (end - start)
