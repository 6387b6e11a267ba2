"""Fold Spark's event log and the benchmark's spans into per-layer figures.

The traced run labels every phase with ``setJobGroup("<job>.<phase>")``
before it starts (``minhash_lsh_pairs.build``, ``htmlheadings.tick0``), so
a job launched while a plan is being built is charged to the query that
built it. ``fold_events`` sums the task metrics of each group;
``self_time`` gives a span's duration minus the part its children (child
spans, or the jobs it launched) cover.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

# SQL metric names of the Python evaluation nodes (ArrowEvalPython,
# MapInPandas, ...), reported as task accumulables
PYTHON_SENT = "data sent to Python workers"


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    task_wait_ms: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_rows: int = 0
    output_bytes: int = 0
    python_sent_bytes: int = 0
    # (start, end) of every job, epoch seconds
    job_intervals: list = field(default_factory=list)

    SUMMED = (
        "jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms", "task_wait_ms",
        "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
        "input_rows", "output_bytes", "python_sent_bytes",
    )

    def add(self, other: "GroupStats") -> None:
        for k in self.SUMMED:
            setattr(self, k, getattr(self, k) + getattr(other, k))
        self.job_intervals.extend(other.job_intervals)


def read_event_log(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _group(props: dict | None) -> str:
    return (props or {}).get("spark.jobGroup.id") or "(none)"


def fold_events(events: list[dict]) -> dict[str, GroupStats]:
    """Per job group: jobs, completed stages, tasks and summed task
    metrics. Tasks are charged to the group that submitted their stage."""
    groups: dict[str, GroupStats] = {}
    stage_group: dict[int, str] = {}
    stage_submitted: dict[tuple[int, int], float] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}

    def g(name: str) -> GroupStats:
        return groups.setdefault(name, GroupStats())

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            name = _group(ev.get("Properties"))
            job_group[ev["Job ID"]] = name
            job_start[ev["Job ID"]] = ev["Submission Time"] / 1000.0
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, name)
            g(name).jobs += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_group:
                g(job_group[jid]).job_intervals.append(
                    (job_start[jid], ev["Completion Time"] / 1000.0)
                )
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            if ev.get("Properties"):
                stage_group[sid] = _group(ev["Properties"])
            if info.get("Submission Time") is not None:
                stage_submitted[(sid, info["Stage Attempt ID"])] = info["Submission Time"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            g(stage_group.get(sid, "(none)")).stages += 1
            if info.get("Submission Time") is not None:
                stage_submitted.setdefault(
                    (sid, info["Stage Attempt ID"]), info["Submission Time"]
                )
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            s = g(stage_group.get(sid, "(none)"))
            s.tasks += 1
            info = ev.get("Task Info", {})
            submitted = stage_submitted.get((sid, ev.get("Stage Attempt ID", 0)))
            if submitted is not None and info.get("Launch Time"):
                s.task_wait_ms += max(0.0, info["Launch Time"] - submitted)
            for acc in info.get("Accumulables", []):
                if acc.get("Name") == PYTHON_SENT and acc.get("Update") is not None:
                    s.python_sent_bytes += int(acc["Update"])
            m = ev.get("Task Metrics") or {}
            s.run_ms += m.get("Executor Run Time", 0)
            s.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
            s.gc_ms += m.get("JVM GC Time", 0)
            s.spill_bytes += m.get("Disk Bytes Spilled", 0)
            rd = m.get("Shuffle Read Metrics") or {}
            s.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            s.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            s.input_rows += (m.get("Input Metrics") or {}).get("Records Read", 0)
            s.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return groups


def total(groups: dict[str, GroupStats], match=lambda name: True) -> GroupStats:
    """Sum of the groups whose name ``match`` accepts."""
    out = GroupStats()
    for name, s in groups.items():
        if match(name):
            out.add(s)
    return out


def covered(intervals, start: float, end: float) -> float:
    """Length of the union of ``intervals`` clipped to [start, end]."""
    clipped = sorted(
        (max(a, start), min(b, end)) for a, b in intervals if b > start and a < end
    )
    length, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                length += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        length += cur_b - cur_a
    return length


def self_time(span: dict, children) -> float:
    """``span``'s duration minus the part of it that ``children`` cover:
    (start, end) pairs of its child spans, or of the jobs it launched."""
    return span["end"] - span["start"] - covered(children, span["start"], span["end"])
