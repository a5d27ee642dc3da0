"""Spans around the benchmark's calls into the engine, and attribution
of Spark's own event log to those spans.

A :class:`Tracer` records every span in memory (name, start, end,
parent, op id) and writes them out once, at exit. With ``enabled``
it also tags the Spark jobs each op starts with the op id as job
group, so the event log can be attributed back to the op after the
session stops. With tracing off it only keeps wall clocks, which is
how the end-to-end metrics are timed.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from datetime import datetime

#: Substrings of an RDD's name or operator scope that mark a stage as
#: running Python workers: a PythonRDD in its chain or a Python eval
#: node in its plan.
PYTHON_MARKERS = ("PythonRDD", "EvalPython", "InPandas", "InArrow",
                  "PythonUDF")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """Span recorder for one benchmark run.

    ``op(...)`` opens a top-level operation span with an id
    ``<workload>:<op>:<i>``; ``span(...)`` opens a child of the
    innermost open span. Times are epoch seconds, the clock the event
    log uses, so job intervals and spans compare directly."""

    def __init__(self, workload: str, enabled: bool = False):
        self.workload = workload
        self.sc = None
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._counts: dict[str, int] = {}

    def bind(self, spark_context) -> None:
        """Attach the session once it exists; an op already open (the
        set-up op starts before the session) gets its job group now."""
        self.sc = spark_context
        if self.enabled and self._stack:
            op_id = self.spans[self._stack[0]].op
            self.sc.setJobGroup(op_id, op_id)

    @contextmanager
    def op(self, kind: str):
        i = self._counts.get(kind, 0)
        self._counts[kind] = i + 1
        op_id = f"{self.workload}:{kind}:{i}"
        if self.enabled and self.sc is not None:
            self.sc.setJobGroup(op_id, op_id)
        try:
            with self.span(kind, op=op_id) as s:
                yield s
        finally:
            if self.enabled and self.sc is not None:
                self.sc.setJobGroup("", "")

    @contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        s = Span(name, time.time(), parent=parent, op=op)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def ops(self, kind: str | None = None) -> list[Span]:
        return [s for s in self.spans if s.parent is None and s.op
                and (kind is None or s.name == kind)]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


# --- event log ---------------------------------------------------------------


@dataclass
class Job:
    job_id: int
    group: str | None
    start: float
    end: float = 0.0


@dataclass
class Stage:
    stage_id: int
    group: str | None
    python: bool = False
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    records_read: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    first_launch: float = 0.0


@dataclass
class Query:
    """One streaming query run: its start, and ``durationMs`` of each
    progress event (one per micro-batch)."""
    run_id: str
    start: float
    progress: list[dict] = field(default_factory=list)


_QUERY_EVENT = "org.apache.spark.sql.streaming.StreamingQueryListener$"


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _is_python(rdd_infos: list[dict]) -> bool:
    return any(
        m in (r.get("Name") or "") or m in (r.get("Scope") or "")
        for r in rdd_infos for m in PYTHON_MARKERS
    )


def read_eventlog(log_dir: str) -> tuple[dict[int, Job], dict[int, Stage],
                                        dict[str, Query]]:
    """Jobs, stages and streaming query runs of every event-log file
    under ``log_dir`` (plain or rolling ``eventlog_v2_*`` layout,
    uncompressed), with task metrics summed per stage. A stage's group
    is the job group in the properties it was submitted with; for a
    stage of a streaming micro-batch that is the query's ``runId``."""
    files = sorted(
        p for p in glob.glob(f"{log_dir}/**/*", recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")
    )
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    queries: dict[str, Query] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev == _QUERY_EVENT + "QueryStartedEvent":
                    queries[e["runId"]] = Query(e["runId"], _epoch(e["timestamp"]))
                elif ev == _QUERY_EVENT + "QueryProgressEvent":
                    p = e["progress"]
                    if p["runId"] in queries:
                        queries[p["runId"]].progress.append(p.get("durationMs", {}))
                elif ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jobs[e["Job ID"]] = Job(
                        e["Job ID"], props.get("spark.jobGroup.id") or None,
                        e["Submission Time"] / 1000.0,
                    )
                elif ev == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
                elif ev == "SparkListenerStageSubmitted":
                    info = e["Stage Info"]
                    props = e.get("Properties") or {}
                    stages[info["Stage ID"]] = Stage(
                        info["Stage ID"], props.get("spark.jobGroup.id") or None,
                        python=_is_python(info.get("RDD Info", [])),
                    )
                elif ev == "SparkListenerTaskEnd":
                    st = stages.get(e["Stage ID"])
                    m = e.get("Task Metrics")
                    if st is None or not m:
                        continue
                    launch = e["Task Info"]["Launch Time"] / 1000.0
                    st.first_launch = min(st.first_launch or launch, launch)
                    st.tasks += 1
                    st.run_s += m["Executor Run Time"] / 1000.0
                    st.cpu_s += m["Executor CPU Time"] / 1e9
                    st.gc_s += m["JVM GC Time"] / 1000.0
                    inp = m.get("Input Metrics") or {}
                    st.input_bytes += inp.get("Bytes Read", 0)
                    st.records_read += inp.get("Records Read", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    st.shuffle_read_bytes += (sr.get("Remote Bytes Read", 0)
                                              + sr.get("Local Bytes Read", 0))
                    sw = m.get("Shuffle Write Metrics") or {}
                    st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                    st.spill_bytes += (m.get("Memory Bytes Spilled", 0)
                                       + m.get("Disk Bytes Spilled", 0))
    return jobs, stages, queries


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def attribute(spans: list[Span], jobs: dict[int, Job],
              stages: dict[int, Stage], queries: dict[str, Query],
              cores: int) -> dict:
    """Per-op Spark counters from the event log, keyed by op id.

    Each top-level op span gets the jobs and stages whose job group is
    its id. Jobs of a streaming micro-batch carry the query's
    ``runId`` instead; a run belongs to the op whose span holds its
    ``QueryStartedEvent``, and its progress events give the op's
    batch count and summed ``durationMs.addBatch``. ``eager_jobs``
    counts jobs submitted inside the op's ``*.build`` child span (jobs
    started while the frame was being constructed). A stage whose group
    is no op's is unattributed. Returns ``{"ops":
    {op_id: {...}}, "unattributed_task_s": ...,
    "unattributed_task_s_after_setup": ...}``."""
    top = {s.op: s for s in spans if s.parent is None and s.op}
    owner = {
        q.run_id: op_id for q in queries.values()
        for op_id, s in top.items() if s.start <= q.start <= s.end
    }

    def op_of(x: Job | Stage) -> str | None:
        return owner.get(x.group, x.group)

    builds: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent is not None and s.name.endswith(".build") and s.op:
            builds.setdefault(s.op, []).append(s)
    setup_end = max((s.end for s in spans if s.name == "setup"), default=0.0)
    ops: dict[str, dict] = {}
    for op_id, s in top.items():
        my_jobs = [j for j in jobs.values() if op_of(j) == op_id]
        my_stages = [st for st in stages.values() if op_of(st) == op_id]
        wall = s.end - s.start
        job_cover = _covered([(j.start, j.end or s.end) for j in my_jobs],
                             s.start, s.end)
        run_s = sum(st.run_s for st in my_stages)
        progress = [p for q in queries.values() if owner.get(q.run_id) == op_id
                    for p in q.progress]
        ops[op_id] = {
            "kind": s.name,
            "wall_s": wall,
            "jobs": len(my_jobs),
            "eager_jobs": sum(
                1 for j in my_jobs for b in builds.get(op_id, [])
                if b.start <= j.start <= b.end
            ),
            "stages": len(my_stages),
            "tasks": sum(st.tasks for st in my_stages),
            "task_run_s": run_s,
            "task_cpu_s": sum(st.cpu_s for st in my_stages),
            "gc_s": sum(st.gc_s for st in my_stages),
            "python_stages": sum(1 for st in my_stages if st.python),
            "python_task_run_s": sum(st.run_s for st in my_stages if st.python),
            "input_bytes": sum(st.input_bytes for st in my_stages),
            "records_read": sum(st.records_read for st in my_stages),
            "shuffle_read_bytes": sum(st.shuffle_read_bytes for st in my_stages),
            "shuffle_write_bytes": sum(st.shuffle_write_bytes for st in my_stages),
            "spill_bytes": sum(st.spill_bytes for st in my_stages),
            "driver_only_ms": (wall - job_cover) * 1000.0,
            "core_util": run_s / (wall * cores) if wall > 0 else 0.0,
            "stream_batches": len(progress),
            "add_batch_ms": float(sum(p.get("addBatch", 0) for p in progress)),
        }
    stray = [st for st in stages.values() if op_of(st) not in top]
    return {
        "ops": ops,
        "unattributed_task_s": sum(st.run_s for st in stray),
        "unattributed_task_s_after_setup": sum(
            st.run_s for st in stray if st.first_launch > setup_end
        ),
    }
