"""Spans around public engine calls, and a parser that attributes Spark's
event-log counters to them.

A span is (id, name, parent, start, end). While a span is open on a
thread, every Spark job that thread submits carries the span id as its
job group, so the event log ties jobs, tasks and SQL executions back to
the span. Spans stay in memory until ``Tracer.dump``.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "bench-span-"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise every span is a no-op, so
    the untraced run pays nothing but a context-manager call."""

    def __init__(self, spark=None, enabled: bool = False):
        self.sc = spark.sparkContext if spark is not None else None
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _tag(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id",
                                     f"{GROUP_PREFIX}{span.id}")
            self.sc.setLocalProperty("spark.job.description", span.name)

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        """Open a span; ``parent`` links a span opened on another thread
        (an HTTP handler) to the span that caused it."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        with self._lock:
            sp = Span(len(self.spans), name,
                      parent if parent is not None
                      else (stack[-1].id if stack else None),
                      time.perf_counter())
            self.spans.append(sp)
        stack.append(sp)
        self._tag(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            self._tag(stack[-1] if stack else None)

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        kids: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s)
        out = {}
        for s in self.spans:
            covered, cur = 0.0, s.start
            for k in sorted(kids[s.id], key=lambda k: k.start):
                lo, hi = max(k.start, cur), min(k.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur = hi
            out[s.id] = s.dur - covered
        return out

    def dump(self, path: str, counters: dict[int, dict] | None = None) -> None:
        """Write the span tree as JSON lines, with self time and the Spark
        counters attributed to each span."""
        selfs = self.self_times()
        t0 = min((s.start for s in self.spans), default=0.0)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "id": s.id, "name": s.name, "parent": s.parent,
                    "start_s": round(s.start - t0, 6),
                    "end_s": round(s.end - t0, 6),
                    "self_s": round(selfs[s.id], 6),
                    "spark": (counters or {}).get(s.id, {}),
                }) + "\n")


# ---- event log ----

@dataclass
class SpanCounters:
    jobs: int = 0
    tasks: int = 0
    executor_run_ms: int = 0
    executor_cpu_ms: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    #: the same task counters, restricted to stages that ran a Python UDF
    #: (``MapInPandas`` and friends), i.e. Python-worker stages
    python_run_ms: int = 0
    python_cpu_ms: float = 0.0
    exchanges_executed: int = 0
    exchanges_reused: int = 0
    #: SQL metric name -> summed value (driver and task updates)
    sql_metrics: dict[str, float] = field(default_factory=dict)


PYTHON_SCOPES = ("MapInPandas", "MapInArrow", "ArrowEvalPython",
                 "BatchEvalPython", "FlatMapGroupsInPandas",
                 "FlatMapCoGroupsInPandas", "PythonUDTF")


def _walk(node: dict):
    yield node
    for c in node.get("children", ()):
        yield from _walk(c)


def plan_exchanges(plan: dict) -> tuple[int, int]:
    """(shuffle exchanges executed, exchanges reused) in one
    ``sparkPlanInfo`` tree."""
    executed = reused = 0
    for n in _walk(plan):
        name = n.get("nodeName", "")
        if name == "Exchange":
            executed += 1
        elif name == "ReusedExchange":
            reused += 1
    return executed, reused


def _span_of(props: dict) -> int | None:
    g = (props or {}).get("spark.jobGroup.id") or ""
    return int(g[len(GROUP_PREFIX):]) if g.startswith(GROUP_PREFIX) else None


def _is_python_stage(stage_info: dict) -> bool:
    for rdd in stage_info.get("RDD Info", ()):
        scope = rdd.get("Scope")
        if scope and any(p in scope for p in PYTHON_SCOPES):
            return True
    return False


def parse_event_log(lines) -> dict[int, SpanCounters]:
    """Attribute the counters of one event log (an iterable of JSON
    lines) to the spans whose job group submitted them.

    Exchanges come from each SQL execution's AQE-final plan: the last
    ``SparkListenerSQLAdaptiveExecutionUpdate``, or the initial plan when
    AQE never re-planned it. Events of jobs outside any span are
    dropped."""
    out: dict[int, SpanCounters] = defaultdict(SpanCounters)
    stage_span: dict[int, int] = {}
    python_stages: set[int] = set()
    exec_span: dict[int, int] = {}
    exec_plan: dict[int, dict] = {}
    metric_name: dict[int, str] = {}
    accum: list[tuple[int | None, int, float]] = []  # (exec, acc id, value)
    stage_exec: dict[int, int] = {}

    def note_plan(eid: int, plan: dict) -> None:
        exec_plan[eid] = plan
        for n in _walk(plan):
            for m in n.get("metrics", ()):
                metric_name[m["accumulatorId"]] = m["name"]

    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            sid = _span_of(props)
            eid = props.get("spark.sql.execution.id")
            for info in ev.get("Stage Infos", ()):
                if _is_python_stage(info):
                    python_stages.add(info["Stage ID"])
            if sid is None:
                continue
            out[sid].jobs += 1
            for st in ev.get("Stage IDs", ()):
                stage_span[st] = sid
                if eid is not None:
                    stage_exec[st] = int(eid)
            if eid is not None:
                exec_span.setdefault(int(eid), sid)
        elif kind == "SparkListenerTaskEnd":
            sid = stage_span.get(ev.get("Stage ID"))
            if sid is None:
                continue
            c = out[sid]
            m = ev.get("Task Metrics") or {}
            run_ms = m.get("Executor Run Time", 0)
            cpu_ms = m.get("Executor CPU Time", 0) / 1e6
            c.tasks += 1
            c.executor_run_ms += run_ms
            c.executor_cpu_ms += cpu_ms
            sr = m.get("Shuffle Read Metrics") or {}
            c.shuffle_read_bytes += (sr.get("Remote Bytes Read", 0)
                                     + sr.get("Local Bytes Read", 0))
            sw = m.get("Shuffle Write Metrics") or {}
            c.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            c.spill_bytes += (m.get("Memory Bytes Spilled", 0)
                              + m.get("Disk Bytes Spilled", 0))
            if ev.get("Stage ID") in python_stages:
                c.python_run_ms += run_ms
                c.python_cpu_ms += cpu_ms
            eid = stage_exec.get(ev.get("Stage ID"))
            for a in (ev.get("Task Info") or {}).get("Accumulables", ()):
                if isinstance(a.get("Update"), (int, float)):
                    accum.append((eid, a["ID"], a["Update"]))
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            note_plan(ev["executionId"], ev.get("sparkPlanInfo") or {})
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            note_plan(ev["executionId"], ev.get("sparkPlanInfo") or {})
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in ev.get("accumUpdates", ()):
                accum.append((ev["executionId"], acc_id, value))

    for eid, plan in exec_plan.items():
        sid = exec_span.get(eid)
        if sid is None:
            continue
        executed, reused = plan_exchanges(plan)
        out[sid].exchanges_executed += executed
        out[sid].exchanges_reused += reused
    for eid, acc_id, value in accum:
        sid = exec_span.get(eid)
        name = metric_name.get(acc_id)
        if sid is None or name is None:
            continue
        sm = out[sid].sql_metrics
        sm[name] = sm.get(name, 0) + value
    return dict(out)


def read_event_logs(directory: str) -> dict[int, SpanCounters]:
    """Parse every uncompressed event log under ``directory``."""
    def lines():
        for path in sorted(glob.glob(os.path.join(directory, "*"))):
            if os.path.isfile(path):
                with open(path) as fh:
                    yield from fh
    return parse_event_log(lines())


def event_log_confs(directory: str) -> dict[str, str]:
    """Session confs that write an uncompressed, unrolled event log."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(directory),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
