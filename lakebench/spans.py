"""Span recording and Spark event-log accounting for traced runs.

Spans are recorded only here, around calls into the program's public
functions: ``Tracer.patch`` swaps a module attribute for a wrapper that
opens a span, so the program's own code is untouched. Every timed or
warm-up operation gets one trace id, which is also its Spark job group,
so the Spark event log can be attributed back to the operation that
caused each job, stage and task.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    trace: str


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing and
    patches nothing, so untraced runs pay no span cost."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.trace = ""

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.trace))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    @contextlib.contextmanager
    def operation(self, spark, trace_id: str):
        """Scope one operation: its spans share ``trace_id``, and its
        Spark jobs run under the job group of the same name."""
        self.trace = trace_id
        if self.enabled:
            spark.sparkContext.setJobGroup(trace_id, trace_id)
        try:
            yield
        finally:
            if self.enabled:
                spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            self.trace = ""

    def patch(self, owner: object, attr: str, name: str) -> None:
        """Wrap ``owner.attr`` so each call records a span ``name``. The
        wrapper stays for the rest of the process, which is one run."""
        if not self.enabled:
            return
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, wrapper)

    # ------------------------------------------------------------ queries

    def durations(self, name: str, traces: set[str] | None = None) -> list[float]:
        return [
            s.end - s.start
            for s in self.spans
            if s.name == name and (traces is None or s.trace in traces)
        ]

    def self_times(self, name: str, traces: set[str] | None = None) -> list[float]:
        """Duration of each ``name`` span minus the time its direct
        children cover (children of one span never overlap: the loop is
        single-threaded)."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.end - s.start
        return [
            (s.end - s.start) - child_time[i]
            for i, s in enumerate(self.spans)
            if s.name == name and (traces is None or s.trace in traces)
        ]

    def self_time_table(self) -> dict[str, dict]:
        """Median duration and self time of every span name, over all
        spans of that name."""
        names = sorted({s.name for s in self.spans})
        return {
            n: {"median_s": median(self.durations(n)),
                "median_self_s": median(self.self_times(n)),
                "spans": len(self.durations(n))}
            for n in names
        }

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {"name": s.name, "start": s.start, "end": s.end,
                     "parent": s.parent, "trace": s.trace}
                    for s in self.spans
                ],
                f,
            )


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------- event log

@dataclass
class GroupCounts:
    """Spark work attributed to one job group (one operation)."""

    jobs: int = 0
    tasks: int = 0
    run_ms: int = 0
    gc_ms: int = 0
    sched_delay_ms: int = 0
    fetch_wait_ms: int = 0
    shuffle_write_bytes: int = 0
    input_records: int = 0
    # SQL plan metrics keyed by (path class, metric name), e.g.
    # ("lake", "number of files read") or ("catalog", "number of written files")
    sql: dict[tuple[str, str], int] = field(default_factory=lambda: defaultdict(int))


def _plan_metrics(info: dict, classify, out: dict[int, tuple[str, str]]) -> None:
    """Map accumulator ids of scan and write nodes in a plan tree to
    (path class, metric name)."""
    text = info.get("simpleString", "") + " " + json.dumps(info.get("metadata", {}))
    node = info.get("nodeName", "")
    if node.startswith("Scan") or "InsertIntoHadoopFsRelationCommand" in node:
        cls = classify(text)
        if cls:
            for m in info.get("metrics", []):
                out[m["accumulatorId"]] = (cls, m["name"])
    for child in info.get("children", []):
        _plan_metrics(child, classify, out)


def read_event_log(path: str, classify) -> dict[str, GroupCounts]:
    """Sum Spark work per job group from an uncompressed event log.

    ``classify(text)`` names the lake area a scan or write node touches
    (or returns None); its SQL metrics are summed under that name."""
    groups: dict[str, GroupCounts] = defaultdict(GroupCounts)
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    acc_meta: dict[int, tuple[str, str]] = {}
    pending_driver: list[tuple[int, list]] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                g = props.get("spark.jobGroup.id")
                if not g:
                    continue
                groups[g].jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, g)
                eid = props.get("spark.sql.execution.id")
                if eid is not None:
                    exec_group.setdefault(int(eid), g)
            elif kind == "SparkListenerStageSubmitted":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g:
                    stage_group[ev["Stage Info"]["Stage ID"]] = g
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev.get("Stage ID"))
                if g is None:
                    continue
                c = groups[g]
                info = ev.get("Task Info", {})
                m = ev.get("Task Metrics") or {}
                c.tasks += 1
                run = m.get("Executor Run Time", 0)
                c.run_ms += run
                c.gc_ms += m.get("JVM GC Time", 0)
                duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                c.sched_delay_ms += max(
                    0,
                    duration - run - m.get("Executor Deserialize Time", 0)
                    - m.get("Result Serialization Time", 0)
                    - (info.get("Finish Time", 0) - info["Getting Result Time"]
                       if info.get("Getting Result Time") else 0),
                )
                c.fetch_wait_ms += (m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0)
                c.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                c.input_records += (m.get("Input Metrics") or {}).get("Records Read", 0)
                for acc in info.get("Accumulables", []):
                    key = acc_meta.get(acc.get("ID"))
                    if key is not None:
                        c.sql[key] += int(acc.get("Update") or 0)
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _plan_metrics(ev.get("sparkPlanInfo", {}), classify, acc_meta)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                pending_driver.append((ev["executionId"], ev.get("accumUpdates", [])))
    # driver-side metrics (files read, files written) arrive per SQL
    # execution; the execution's jobs name its group
    for eid, updates in pending_driver:
        g = exec_group.get(eid)
        if g is None:
            continue
        for acc_id, value in updates:
            key = acc_meta.get(acc_id)
            if key is not None:
                groups[g].sql[key] += int(value)
    return dict(groups)
