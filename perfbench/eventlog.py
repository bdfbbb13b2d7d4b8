"""Spark event-log parser: jobs, stages and task metrics, attributed to
spans by job submission time.

The log is Spark's own JSON-lines listener record
(``spark.eventLog.enabled``); times are epoch milliseconds on the
host clock, the same clock the spans read.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field


@dataclass
class Job:
    id: int
    submitted: float  # epoch seconds
    stages: list[int]


@dataclass
class Task:
    stage: int
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write_bytes: int
    spill_bytes: int
    input_bytes: int


@dataclass
class EventLog:
    jobs: list[Job] = field(default_factory=list)
    stages_run: set[tuple[int, int]] = field(default_factory=set)  # (app, stage)
    tasks: list[Task] = field(default_factory=list)


def _app_tag(n: int, sid: int) -> int:
    # stage and job ids restart with every SparkContext; keep them apart
    return n * 1_000_000 + sid


def parse(paths: list[str]) -> EventLog:
    """Parse one or more event-log files (one per SparkContext)."""
    log = EventLog()
    apps: dict[str, int] = {}
    for path in sorted(paths):
        # rolled files of one application share its directory
        n = apps.setdefault(os.path.dirname(path) if "eventlog_v2_" in path else path,
                            len(apps))
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue  # torn last line of a log still being written
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    log.jobs.append(Job(
                        _app_tag(n, ev["Job ID"]),
                        ev["Submission Time"] / 1000.0,
                        [_app_tag(n, s) for s in ev.get("Stage IDs", [])],
                    ))
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if "Submission Time" in info:  # skipped stages never ran
                        log.stages_run.add(_app_tag(n, info["Stage ID"]))
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    im = m.get("Input Metrics") or {}
                    log.tasks.append(Task(
                        _app_tag(n, ev["Stage ID"]),
                        m.get("Executor Run Time", 0) / 1000.0,
                        m.get("Executor CPU Time", 0) / 1e9,
                        m.get("JVM GC Time", 0) / 1000.0,
                        sw.get("Shuffle Bytes Written", 0),
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        im.get("Bytes Read", 0),
                    ))
    return log


def log_files(directory: str) -> list[str]:
    """Event-log files under ``directory``: plain single-file logs and
    the rolling ``eventlog_v2_*/events_*`` layout."""
    out = []
    for d, _, files in os.walk(directory):
        out += [os.path.join(d, f) for f in files
                if not f.startswith((".", "appstatus"))]
    return out


def in_windows(log: EventLog, windows: list[tuple[float, float]]) -> dict:
    """Totals over the jobs submitted inside any of ``windows``."""
    jobs = [j for j in log.jobs if any(s <= j.submitted <= e for s, e in windows)]
    stages = {s for j in jobs for s in j.stages}
    tasks = [t for t in log.tasks if t.stage in stages]
    return {
        "jobs": len(jobs),
        "stages": len(stages & log.stages_run),
        "tasks": len(tasks),
        "run_s": sum(t.run_s for t in tasks),
        "executor_cpu_s": sum(t.cpu_s for t in tasks),
        "gc_s": sum(t.gc_s for t in tasks),
        "shuffle_write_bytes": sum(t.shuffle_write_bytes for t in tasks),
        "spill_bytes": sum(t.spill_bytes for t in tasks),
        "input_bytes": sum(t.input_bytes for t in tasks),
    }
