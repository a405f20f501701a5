"""Spans around layer calls, and the Spark event-log parser that turns a
traced run into per-layer metrics.

A span records name, layer, start, end, parent and request id.  While a
span is open the benchmark sets the Spark job group to the span id, so
every job the calling thread submits is tagged with it.  Jobs submitted
from engine-owned threads (thread pools, background checkpoints) do not
inherit the group; :func:`attribute_jobs` assigns them to the innermost
span open at their submission time and counts them.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: str
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: str | None = None
    request: str | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Collects spans in memory.  ``spark`` is None for an untraced run:
    spans are still kept (they cost a clock read), job groups are not
    set."""

    spark: object = None
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)
    _n: int = 0

    @contextlib.contextmanager
    def span(self, name: str, layer: str, *, request: str | None = None):
        parent = self._stack[-1] if self._stack else None
        self._n += 1
        s = Span(
            sid=f"s{self._n}",
            name=name,
            layer=layer,
            start=time.time(),
            parent=parent.sid if parent else None,
            request=request or (parent.request if parent else None),
        )
        self._stack.append(s)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(s.sid, name, interruptOnCancel=False)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.spans.append(s)
            if sc is not None:
                if parent is not None:
                    sc.setJobGroup(parent.sid, parent.name, interruptOnCancel=False)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def total(self, name: str) -> list[float]:
        return [s.dur for s in self.spans if s.name == name]


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    cut = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in cut:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """sid -> the span's duration minus the part of it its children cover."""
    kids: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.sid: s.dur - union_length(kids.get(s.sid, []), s.start, s.end) for s in spans}


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

# SQL operator metric names (Spark 4.x) grouped into the layers reported
KERNEL_NODES = ("MapInPandas", "MapInArrow", "FlatMapGroupsInPandas",
                "FlatMapCoGroupsInPandas", "ArrowEvalPython", "BatchEvalPython",
                "PythonMapInArrow", "FlatMapGroupsInArrow", "FlatMapCoGroupsInArrow",
                "WindowInPandas", "AggregateInPandas")
KERNEL_METRICS = {
    "time to start Python workers": "worker_start_ms",
    "time to initialize Python workers": "worker_init_ms",
    "time to run Python workers": "run_ms",
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_returned",
}


@dataclass
class Job:
    jid: int
    submit: float
    end: float = 0.0
    group: str | None = None
    execution: int | None = None
    stages: list[int] = field(default_factory=list)


@dataclass
class Execution:
    """One SQL execution: its start, the job group of the thread that
    started it, the first line of its call site (which names the action,
    e.g. ``Dataset.collectToPython``) and the latest plan AQE reported."""

    eid: int
    start: float
    group: str | None
    action: str
    plan: dict


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    executions: dict[int, Execution] = field(default_factory=dict)
    # stage id -> aggregated task metrics (only stages that ran tasks)
    stages: dict[int, dict] = field(default_factory=dict)
    # execution id -> {accumulator id: (node name, metric name)} over every
    # plan version AQE reported for it
    plans: dict[int, dict[int, tuple[str, str]]] = field(default_factory=dict)
    accum: dict[int, float] = field(default_factory=dict)


def _walk(info: dict, out: dict) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (info.get("nodeName", ""), m["name"])
    for c in info.get("children", []):
        _walk(c, out)


def event_files(path: str) -> list[str]:
    """The event-log files under ``path``: one plain (not rolling) file per
    application."""
    if os.path.isfile(path):
        return [path]
    return sorted(f for f in glob.glob(os.path.join(path, "*")) if os.path.isfile(f) and not f.endswith(".crc"))


def parse_event_log(path: str) -> EventLog:
    """Parse an uncompressed, non-rolling event log (a file, or a directory
    holding one application's log)."""
    log = EventLog()
    for name in event_files(path):
        with open(name) as fh:
            _parse_lines(fh, log)
    return log


def _parse_lines(fh, log: EventLog) -> None:
    for line in fh:
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            ex = props.get("spark.sql.execution.id")
            log.jobs[ev["Job ID"]] = Job(
                jid=ev["Job ID"],
                submit=ev["Submission Time"] / 1000.0,
                group=props.get("spark.jobGroup.id"),
                execution=int(ex) if ex is not None else None,
                stages=list(ev.get("Stage IDs", [])),
            )
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in log.jobs:
                log.jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            st = log.stages.setdefault(ev["Stage ID"], {
                "tasks": 0, "run_ms": 0.0, "gc_ms": 0.0, "shuffle_write_bytes": 0,
                "shuffle_write_records": 0, "shuffle_write_ns": 0, "fetch_wait_ms": 0,
                "output_bytes": 0, "shuffle_map": False,
            })
            st["tasks"] += 1
            if ev.get("Task Type") == "ShuffleMapTask":
                st["shuffle_map"] = True
            tm = ev.get("Task Metrics") or {}
            st["run_ms"] += tm.get("Executor Run Time", 0)
            st["gc_ms"] += tm.get("JVM GC Time", 0)
            sw = tm.get("Shuffle Write Metrics") or {}
            st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            st["shuffle_write_records"] += sw.get("Shuffle Records Written", 0)
            st["shuffle_write_ns"] += sw.get("Shuffle Write Time", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            st["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
            st["output_bytes"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                upd = acc.get("Update")
                if isinstance(upd, (int, float)) or (isinstance(upd, str) and upd.lstrip("-").isdigit()):
                    log.accum[acc["ID"]] = log.accum.get(acc["ID"], 0.0) + float(upd)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            log.executions[ev["executionId"]] = Execution(
                eid=ev["executionId"],
                start=ev["time"] / 1000.0,
                group=ev.get("jobGroupId"),
                action=(ev.get("details") or "").split("\n", 1)[0],
                plan=ev["sparkPlanInfo"],
            )
            _walk(ev["sparkPlanInfo"], log.plans.setdefault(ev["executionId"], {}))
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            if ev["executionId"] in log.executions:
                log.executions[ev["executionId"]].plan = ev["sparkPlanInfo"]
            _walk(ev["sparkPlanInfo"], log.plans.setdefault(ev["executionId"], {}))
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for aid, val in ev.get("accumUpdates", []):
                log.accum[aid] = log.accum.get(aid, 0.0) + float(val)


def _attribute(items, spans: list[Span]) -> tuple[dict[int, str], int]:
    """id -> span id for (id, job group, start time) items: an item
    carrying a known span's job group goes to that span; any other goes
    to the innermost span open at its start.  Returns the mapping and how
    many items needed the time rule."""
    by_sid = {s.sid for s in spans}
    out: dict[int, str] = {}
    n_time = 0
    for key, group, t in items:
        if group in by_sid:
            out[key] = group
            continue
        open_ = [s for s in spans if s.start <= t <= s.end]
        if open_:
            out[key] = max(open_, key=lambda s: s.start).sid
            n_time += 1
    return out, n_time


def attribute_jobs(log: EventLog, spans: list[Span]) -> tuple[dict[int, str], int]:
    """job id -> span id, and how many jobs needed the time rule (jobs
    submitted from engine-owned threads)."""
    return _attribute(((j.jid, j.group, j.submit) for j in log.jobs.values()), spans)


def attribute_executions(log: EventLog, spans: list[Span]) -> dict[int, str]:
    """SQL execution id -> span id, by the same rules as jobs.  Unlike the
    job mapping this also covers executions that ran no job."""
    return _attribute(((e.eid, e.group, e.start) for e in log.executions.values()), spans)[0]


# call sites of PySpark's actions that hand a result's rows to the driver:
# collect (also first/take/head), toPandas with Arrow, toLocalIterator
COLLECT_ACTIONS = ("collectToPython", "collectAsArrowToPython", "toPythonIterator")


# limit operators count no rows of their own: ``CollectLimit 1``,
# ``TakeOrderedAndProject(limit=5, ...)``
_LIMIT = re.compile(r"^(?:CollectLimit|GlobalLimit|TakeOrderedAndProject)\b\D*(\d+)")


def collected_rows(log: EventLog, eid: int) -> float:
    """Rows execution ``eid`` returned to the driver: 0 unless its action
    is a collect; else the output-row count of the topmost node of its
    final plan that counts rows, capped by any limit above that node."""
    ex = log.executions[eid]
    if not any(a in ex.action for a in COLLECT_ACTIONS):
        return 0.0
    node, cap = ex.plan, float("inf")
    while True:
        for m in node.get("metrics", []):
            if m["name"] == "number of output rows":
                return min(cap, log.accum.get(m["accumulatorId"], 0.0))
        limit = _LIMIT.match(node.get("simpleString", ""))
        if limit:
            cap = min(cap, float(limit.group(1)))
        if len(node.get("children", [])) != 1:
            return 0.0
        node = node["children"][0]


def descendants(spans: list[Span], sid: str) -> set[str]:
    kids: dict[str, list[str]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.sid)
    out, todo = {sid}, [sid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.add(k)
            todo.append(k)
    return out


def operator_totals(log: EventLog, executions: set[int] | None = None) -> dict[str, float]:
    """Summed SQL operator metrics over ``executions`` (all when None):
    Python-kernel boundary, parquet scan, and kernel pass count."""
    tot = {v: 0.0 for v in KERNEL_METRICS.values()}
    tot.update(passes=0, scan_rows=0.0, scan_ms=0.0)
    for ex, accs in log.plans.items():
        if executions is not None and ex not in executions:
            continue
        for aid, (node, metric) in accs.items():
            val = log.accum.get(aid, 0.0)
            if node.startswith(KERNEL_NODES):
                if metric in KERNEL_METRICS:
                    tot[KERNEL_METRICS[metric]] += val
                # one pass = one kernel operator instance that was fed rows
                if metric == "data sent to Python workers" and val > 0:
                    tot["passes"] += 1
            elif node.startswith("Scan parquet"):
                if metric == "number of output rows":
                    tot["scan_rows"] += val
                elif metric == "scan time":
                    tot["scan_ms"] += val
    return tot


def stage_totals(log: EventLog, jobs: list[Job]) -> dict[str, float]:
    """Task-metric sums over the stages that ran for ``jobs`` (a stage
    that was skipped has no task events and counts nothing)."""
    stage_ids = {s for j in jobs for s in j.stages if s in log.stages}
    st = [log.stages[s] for s in stage_ids]
    return {
        "jobs": len(jobs),
        "stages": len(stage_ids),
        "tasks": sum(s["tasks"] for s in st),
        "task_ms": sum(s["run_ms"] for s in st),
        "gc_ms": sum(s["gc_ms"] for s in st),
        "exchanges": sum(1 for s in st if s["shuffle_map"]),
        "shuffle_bytes": sum(s["shuffle_write_bytes"] for s in st),
        "shuffle_records": sum(s["shuffle_write_records"] for s in st),
        "shuffle_write_ms": sum(s["shuffle_write_ns"] for s in st) / 1e6,
        "fetch_wait_ms": sum(s["fetch_wait_ms"] for s in st),
        "output_bytes": sum(s["output_bytes"] for s in st),
    }
