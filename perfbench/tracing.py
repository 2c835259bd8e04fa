"""Spans, Spark event-log parsing and per-layer attribution.

Everything here is pure data handling so that it can be tested
without Spark. ``run.py`` records the run/pass/query/phase spans
itself; jobs and stages come from the Spark event log, attributed to
a query phase through the job group the benchmark set around it
(``<query span id>/<phase>``).
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from collections.abc import Iterable
from dataclasses import dataclass, field

# Plan nodes that run in a Python worker (UDFs, pandas/arrow maps,
# Python data sources).
_PYTHON_NODE_MARKERS = ("Python", "InPandas", "InArrow", "ArrowEval")
MB = 1e6


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    layer: str
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Keeps spans in memory; they are written out once, at the end."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    def open(self, name: str, layer: str, start: float, parent: Span | None = None) -> Span:
        span = Span(len(self.spans) + 1, parent.id if parent else None, name, layer, start)
        self.spans.append(span)
        return span

    def add(self, name: str, layer: str, start: float, end: float,
            parent: Span | None) -> Span:
        span = self.open(name, layer, start, parent)
        span.end = end
        return span


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds per layer that no child span covers.

    A child interval is clipped to its parent, so a child that starts
    early or ends late (clock granularity) never makes self time
    negative.
    """
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        covered = union_length(
            (max(c.start, s.start), min(c.end, s.end))
            for c in children[s.id]
            if c.end > s.start and c.start < s.end
        )
        out[s.layer] += s.duration - covered
    return dict(out)


@dataclass
class Job:
    id: int
    group: str | None
    start: float
    end: float = 0.0
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class Stage:
    id: int
    start: float
    end: float
    tasks: list[dict] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, Stage]


def _acc(task_info: dict, names: tuple[str, ...]) -> int:
    return sum(
        int(a.get("Update", 0) or 0)
        for a in task_info.get("Accumulables", [])
        if a.get("Name") in names
    )


def _python_row_accumulators(plan: dict, out: set[int]) -> None:
    if any(m in plan.get("nodeName", "") for m in _PYTHON_NODE_MARKERS):
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(int(m["accumulatorId"]))
    for child in plan.get("children", []):
        _python_row_accumulators(child, out)


def parse_event_log(lines: Iterable[str]) -> EventLog:
    """Jobs (with their job group), completed stages and their tasks."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)
    py_rows: set[int] = set()
    for line in lines:
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = Job(
                e["Job ID"], props.get("spark.jobGroup.id"),
                e["Submission Time"] / 1000, stage_ids=list(e.get("Stage IDs", [])),
            )
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]].end = e["Completion Time"] / 1000
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            stages[info["Stage ID"]] = Stage(
                info["Stage ID"],
                info.get("Submission Time", 0) / 1000,
                info.get("Completion Time", 0) / 1000,
            )
        elif kind == "SparkListenerTaskEnd":
            ti, tm = e["Task Info"], e.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics", {})
            py_sent = _acc(ti, ("data sent to Python workers",))
            py_recv = _acc(ti, ("data returned from Python workers",))
            tasks[e["Stage ID"]].append({
                "duration": (ti["Finish Time"] - ti["Launch Time"]) / 1000,
                "run_s": tm.get("Executor Run Time", 0) / 1000,
                "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                "gc_s": tm.get("JVM GC Time", 0) / 1000,
                "in_bytes": tm.get("Input Metrics", {}).get("Bytes Read", 0),
                "in_rows": tm.get("Input Metrics", {}).get("Records Read", 0),
                "out_bytes": tm.get("Output Metrics", {}).get("Bytes Written", 0),
                "shuffle_write": tm.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0),
                "shuffle_read": sr.get("Remote Bytes Read", 0)
                + sr.get("Local Bytes Read", 0),
                "spill": tm.get("Disk Bytes Spilled", 0),
                "py_bytes": py_sent + py_recv,
                "python": any(
                    "Python workers" in (a.get("Name") or "")
                    for a in ti.get("Accumulables", [])
                ),
                "accs": {
                    int(a["ID"]): int(a.get("Update", 0) or 0)
                    for a in ti.get("Accumulables", [])
                    if a.get("Name") == "number of output rows"
                },
            })
        elif kind.endswith(("SparkListenerSQLExecutionStart",
                            "SparkListenerSQLAdaptiveExecutionUpdate")):
            _python_row_accumulators(e.get("sparkPlanInfo", {}), py_rows)
    for stage_id, stage_tasks in tasks.items():
        for t in stage_tasks:
            t["py_rows"] = sum(v for k, v in t.pop("accs").items() if k in py_rows)
        if stage_id in stages:
            stages[stage_id].tasks = stage_tasks
    return EventLog(jobs, stages)


def jobs_by_group(log: EventLog) -> dict[str, list[Job]]:
    out: dict[str, list[Job]] = defaultdict(list)
    for job in log.jobs.values():
        if job.group:
            out[job.group].append(job)
    return out


def job_stages(log: EventLog, jobs: list[Job]) -> list[Stage]:
    """Stages that ran for these jobs; each stage is counted once."""
    seen: dict[int, Stage] = {}
    for job in jobs:
        for sid in job.stage_ids:
            if sid in log.stages:
                seen[sid] = log.stages[sid]
    return list(seen.values())


def stage_totals(stages: list[Stage], cores: int) -> dict[str, float]:
    """Sums over tasks of the given stages, plus utilisation and skew."""
    tasks = [t for s in stages for t in s.tasks]
    keys = ("run_s", "cpu_s", "gc_s", "in_bytes", "in_rows", "out_bytes",
            "shuffle_write", "shuffle_read", "spill", "py_bytes", "py_rows")
    out = {k: float(sum(t[k] for t in tasks)) for k in keys}
    out["tasks"] = float(len(tasks))
    out["stages"] = float(len(stages))
    out["py_stage_s"] = float(sum(t["run_s"] for t in tasks if t["python"]))
    stage_wall = sum(s.end - s.start for s in stages)
    out["slot_util"] = out["run_s"] / (stage_wall * cores) if stage_wall > 0 else 0.0
    skews = []
    for s in stages:
        times = [t["duration"] for t in s.tasks]
        if len(times) >= 2 and statistics.median(times) > 0:
            skews.append(max(times) / statistics.median(times))
    out["task_skew"] = statistics.fmean(skews) if skews else 1.0
    return out


def write_jobs(jobs: list[Job], log: EventLog) -> list[Job]:
    """Jobs with at least one task that wrote output bytes."""
    return [
        j for j in jobs
        if any(t["out_bytes"] > 0 for s in job_stages(log, [j]) for t in s.tasks)
    ]

