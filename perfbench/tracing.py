"""Traced-run tooling: span recorder, Spark event-log parser, attribution.

Every number here is taken from outside the program. Spans are recorded by
the benchmark around the public calls it makes; Spark jobs are attributed
to spans through a local property the benchmark owns (``SPAN_PROPERTY``,
not the job group or description); task and stage figures come from
Spark's own event log, enabled only in the traced run.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

SPAN_PROPERTY = "perfbench.span"
MB = 1024 * 1024


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    request: str | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Spans:
    """Times every call the benchmark makes; when ``enabled``, also keeps
    the spans in memory and, once ``sc`` is set, tags the Spark jobs each
    one launches."""

    def __init__(self, enabled: bool = False):
        self.sc = None  # a SparkContext, set once the session exists
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, request: str | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans) + 1 if self.enabled else 0,
            name=name,
            parent=parent.id if parent else None,
            request=request if request is not None else (parent.request if parent else None),
            start=0.0,
            attrs=dict(attrs),
        )
        if self.enabled:
            self.spans.append(s)
            self._stack.append(s)
            if self.sc is not None:
                self.sc.setLocalProperty(SPAN_PROPERTY, str(s.id))
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            if self.enabled:
                self._stack.pop()
                if self.sc is not None:
                    self.sc.setLocalProperty(
                        SPAN_PROPERTY, str(parent.id) if parent else None
                    )

    def to_json(self) -> list[dict]:
        return [s.__dict__ for s in self.spans]


# ---------------- event log ----------------


@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)    # job id -> dict
    stages: dict = field(default_factory=dict)  # (stage, attempt) -> dict
    tasks: list = field(default_factory=list)


def _span_of(props: dict | None) -> int | None:
    v = (props or {}).get(SPAN_PROPERTY)
    return int(v) if v not in (None, "") else None


def parse_event_log(lines) -> EventLog:
    """Parse Spark event-log JSON lines (an iterable of str) into jobs,
    stages and tasks, each tagged with the benchmark span that ran it."""
    log = EventLog()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            log.jobs[ev["Job ID"]] = {
                "start": ev["Submission Time"] / 1000.0,
                "end": None,
                "span": _span_of(ev.get("Properties")),
                "stage_ids": list(ev.get("Stage IDs", [])),
                "ok": None,
            }
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job["end"] = ev["Completion Time"] / 1000.0
                job["ok"] = ev.get("Job Result", {}).get("Result") == "JobSucceeded"
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            log.stages[key] = {
                "name": info.get("Stage Name", ""),
                "tasks": info.get("Number of Tasks", 0),
                "submitted": (info.get("Submission Time") or 0) / 1000.0,
                "completed": None,
                "span": _span_of(ev.get("Properties")),
            }
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            st = log.stages.setdefault(
                key, {"name": info.get("Stage Name", ""), "tasks": info.get("Number of Tasks", 0),
                      "submitted": (info.get("Submission Time") or 0) / 1000.0, "span": None},
            )
            st["completed"] = (info.get("Completion Time") or 0) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            ti = ev.get("Task Info", {})
            tm = ev.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            out = tm.get("Output Metrics") or {}
            inp = tm.get("Input Metrics") or {}
            log.tasks.append({
                "stage": (ev["Stage ID"], ev.get("Stage Attempt ID", 0)),
                "launch": ti.get("Launch Time", 0) / 1000.0,
                "finish": ti.get("Finish Time", 0) / 1000.0,
                "failed": bool(ti.get("Failed")) or ev.get("Task End Reason", {}).get("Reason") not in (None, "Success"),
                "run_s": tm.get("Executor Run Time", 0) / 1000.0,
                "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "shuffle_read_records": sr.get("Total Records Read", 0),
                "spill": tm.get("Disk Bytes Spilled", 0),
                "records_written": out.get("Records Written", 0),
                "bytes_written": out.get("Bytes Written", 0),
                "input_records": inp.get("Records Read", 0),
            })
    return log


def event_log_files(root: str) -> list[str]:
    """The event-log files under ``root``: a single-file log, or the
    ``events_<n>_<app>`` parts of a rolling log directory, in order."""
    found = []
    for d, _, files in os.walk(root):
        for f in files:
            if f.startswith((".", "appstatus")) or f.endswith(".crc"):
                continue
            part = f.split("_")
            n = int(part[1]) if f.startswith("events_") and part[1].isdigit() else 0
            found.append((d, n, os.path.join(d, f)))
    return [p for _, _, p in sorted(found)]


def read_event_log(root: str) -> EventLog:
    def lines():
        for path in event_log_files(root):
            with open(path, encoding="utf-8") as f:
                yield from f

    return parse_event_log(lines())


# ---------------- attribution ----------------


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


class Attribution:
    """Jobs, stages and tasks of an event log grouped by span subtree."""

    def __init__(self, spans: list[Span], log: EventLog):
        self.spans = {s.id: s for s in spans}
        self.children: dict[int, list[int]] = {}
        for s in spans:
            if s.parent is not None:
                self.children.setdefault(s.parent, []).append(s.id)
        self.log = log
        # Jobs carry the span property when they run on the thread that
        # set it. Jobs from threads the program starts itself (the save's
        # thread pool) do not inherit it; those fall back to the innermost
        # span open when they were submitted (the client is closed-loop,
        # so no other request can be in flight).
        stage_job: dict[int, dict] = {}
        self._jobs_by_span: dict[int, list[dict]] = {}
        for job in log.jobs.values():
            if job["span"] is None:
                job["span"] = self._innermost_at(job["start"])
            for st in job["stage_ids"]:
                stage_job.setdefault(st, job)
            if job["span"] is not None:
                self._jobs_by_span.setdefault(job["span"], []).append(job)
        self._stages_by_span: dict[int, list[tuple]] = {}
        for key, st in log.stages.items():
            if st["span"] is None:
                job = stage_job.get(key[0])
                st["span"] = job["span"] if job else self._innermost_at(st["submitted"])
            if st["span"] is not None:
                self._stages_by_span.setdefault(st["span"], []).append(key)
        self._tasks_by_stage: dict[tuple, list[dict]] = {}
        for t in log.tasks:
            self._tasks_by_stage.setdefault(t["stage"], []).append(t)

    def _innermost_at(self, t: float) -> int | None:
        best = None
        for s in self.spans.values():
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        return best.id if best else None

    def subtree(self, sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children.get(s, []))
        return out

    def jobs(self, sid: int) -> list[dict]:
        return [j for s in self.subtree(sid) for j in self._jobs_by_span.get(s, [])]

    def stage_keys(self, sid: int) -> list[tuple]:
        return [k for s in self.subtree(sid) for k in self._stages_by_span.get(s, [])]

    def tasks(self, sid: int) -> list[dict]:
        return [t for k in self.stage_keys(sid) for t in self._tasks_by_stage.get(k, [])]

    def counters(self, sid: int) -> dict:
        """Per-span totals: jobs, tasks, executor time, waits, bytes."""
        span = self.spans[sid]
        jobs = self.jobs(sid)
        tasks = self.tasks(sid)
        job_iv = [
            (max(j["start"], span.start), min(j["end"] or span.end, span.end))
            for j in jobs
        ]
        job_iv = [(s, e) for s, e in job_iv if e > s]
        waits = []
        for k in self.stage_keys(sid):
            sub = self.log.stages[k]["submitted"]
            waits.extend(max(0.0, t["launch"] - sub) for t in self._tasks_by_stage.get(k, []))
        reading = [t for t in tasks if self._reads_shuffle(t["stage"])]
        return {
            "wall_s": span.wall,
            "jobs": len(jobs),
            "tasks": len(tasks),
            "executor_run_s": sum(t["run_s"] for t in tasks),
            "executor_cpu_s": sum(t["cpu_s"] for t in tasks),
            "task_wait_s": sum(waits),
            "driver_gap_s": max(0.0, span.wall - _union_length(job_iv)),
            "shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / MB,
            "shuffle_mb": sum(t["shuffle_read"] for t in tasks) / MB,
            "spill_mb": sum(t["spill"] for t in tasks) / MB,
            "failed_tasks": sum(t["failed"] for t in tasks),
            "shuffle_reading_tasks": len(reading),
            "empty_reading_tasks": sum(t["shuffle_read_records"] == 0 for t in reading),
            "write_tasks": sum(self._writes(t["stage"]) for t in tasks),
            "idle_write_tasks": sum(
                self._writes(t["stage"]) and t["records_written"] == 0 for t in tasks
            ),
        }

    def _reads_shuffle(self, key: tuple) -> bool:
        return any(t["shuffle_read_records"] > 0 for t in self._tasks_by_stage.get(key, []))

    def _writes(self, key: tuple) -> bool:
        return any(t["records_written"] > 0 for t in self._tasks_by_stage.get(key, []))

    def stage_rows(self) -> list[dict]:
        """One row per stage, named by Spark's stage name (the program's
        call site), with the span it ran under."""
        rows = []
        for key, st in sorted(self.log.stages.items()):
            ts = self._tasks_by_stage.get(key, [])
            span = self.spans.get(st["span"]) if st["span"] is not None else None
            rows.append({
                "stage": key[0],
                "attempt": key[1],
                "name": st["name"],
                "span": span.name if span else None,
                "span_id": st["span"],
                "tasks": len(ts),
                "wall_s": round((st["completed"] or st["submitted"]) - st["submitted"], 4),
                "executor_run_s": round(sum(t["run_s"] for t in ts), 4),
                "shuffle_write_mb": round(sum(t["shuffle_write"] for t in ts) / MB, 4),
                "records_written": sum(t["records_written"] for t in ts),
            })
        return rows


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def quartiles(values: list[float]) -> list[float]:
    if len(values) < 2:
        return [values[0]] * 3 if values else [0.0, 0.0, 0.0]
    return statistics.quantiles(values, n=4)
