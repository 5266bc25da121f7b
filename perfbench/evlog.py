"""Read a Spark event log into job and task records.

The event log is the one source of executor-side counts (tasks, CPU, GC,
shuffle and spill bytes) that needs nothing from the engine. Jobs carry the
``spark.job.description`` that was set in the submitting thread, which is how
the traced run attributes work to spans.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

LISTING_PREFIX = "Listing leaf files and directories"


@dataclass
class Task:
    job: int
    launch_ms: int
    finish_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_write_bytes: int
    spill_bytes: int


@dataclass
class Job:
    job_id: int
    description: str
    submit_ms: int
    end_ms: int = 0
    n_stages: int = 0
    tasks: list[Task] = field(default_factory=list)


def read_jobs(event_dir: str) -> list[Job]:
    """Jobs with their tasks, ordered by submission time."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    files = [f for f in glob.glob(os.path.join(event_dir, "**"), recursive=True)
             if os.path.isfile(f)]
    if not files:
        raise FileNotFoundError(f"no Spark event log under {event_dir}")
    for path in files:
        with open(path, errors="replace") as fh:
            for line in fh:
                try:
                    e = json.loads(line)
                except json.JSONDecodeError:
                    continue  # a truncated last line of a log still being written
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    j = Job(e["Job ID"], props.get("spark.job.description") or "",
                            e.get("Submission Time", 0),
                            n_stages=len(e.get("Stage IDs", [])))
                    jobs[j.job_id] = j
                    for s in e.get("Stage IDs", []):
                        stage_job[s] = j.job_id
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]].end_ms = e.get("Completion Time", 0)
                elif kind == "SparkListenerTaskEnd":
                    job_id = stage_job.get(e.get("Stage ID"))
                    if job_id is None:
                        continue
                    info = e.get("Task Info") or {}
                    m = e.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    jobs[job_id].tasks.append(Task(
                        job=job_id,
                        launch_ms=info.get("Launch Time", 0),
                        finish_ms=info.get("Finish Time", 0),
                        cpu_ns=m.get("Executor CPU Time", 0),
                        gc_ms=m.get("JVM GC Time", 0),
                        shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
                        spill_bytes=(m.get("Memory Bytes Spilled", 0)
                                     + m.get("Disk Bytes Spilled", 0)),
                    ))
    for j in jobs.values():
        if not j.end_ms:
            j.end_ms = max((t.finish_ms for t in j.tasks), default=j.submit_ms)
    return sorted(jobs.values(), key=lambda j: (j.submit_ms, j.job_id))


def in_windows(ms: int, windows: list[tuple[float, float]]) -> bool:
    """True when epoch-millis ``ms`` falls inside one of the (start, end)
    windows given in epoch seconds."""
    s = ms / 1000.0
    return any(a <= s <= b for a, b in windows)


def covered_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
