"""Folding of a canned event-log fragment and span set.

    python3 -m pytest perfbench/test_fold.py -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import fold  # noqa: E402


def _job(jid, group, stages, start_ms):
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": start_ms,
            "Stage IDs": stages, "Properties": {"spark.jobGroup.id": group}}


def _job_end(jid, end_ms):
    return {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end_ms}


def _stage(sid, group, submitted_ms, done=False):
    return {"Event": "SparkListenerStageCompleted" if done else "SparkListenerStageSubmitted",
            "Stage Info": {"Stage ID": sid, "Stage Attempt ID": 0, "Submission Time": submitted_ms},
            "Properties": {"spark.jobGroup.id": group}}


def _task(sid, launch_ms, run, cpu_ms, gc, read, write, rows, python=0):
    acc = [{"Name": fold.PYTHON_SENT, "Update": python}] if python else []
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": sid, "Stage Attempt ID": 0,
        "Task Info": {"Launch Time": launch_ms, "Accumulables": acc},
        "Task Metrics": {
            "Executor Run Time": run, "Executor CPU Time": cpu_ms * 1_000_000,
            "JVM GC Time": gc, "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": read},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": write},
            "Input Metrics": {"Records Read": rows},
            "Output Metrics": {"Bytes Written": 0},
        },
    }


# q1's plan build launches one job (stage 0) before its execution job
# (stages 1-2); q2's build launches one job too. Times in epoch ms.
EVENTS = [
    _job(0, "q1.build", [0], 10_100), _stage(0, "q1.build", 10_100),
    _task(0, 10_110, 50, 40, 5, 0, 100, 10), _stage(0, "q1.build", 10_100, done=True),
    _job_end(0, 10_300),
    _job(1, "q1.exec_cold", [1, 2], 11_000), _stage(1, "q1.exec_cold", 11_000),
    _task(1, 11_020, 70, 60, 0, 0, 300, 1000), _task(1, 11_030, 80, 70, 10, 0, 200, 900),
    _stage(1, "q1.exec_cold", 11_000, done=True), _stage(2, "q1.exec_cold", 11_200),
    _task(2, 11_200, 30, 20, 0, 500, 0, 0, python=4096),
    _stage(2, "q1.exec_cold", 11_200, done=True), _job_end(1, 11_400),
    _job(2, "q2.build", [3], 12_100), _stage(3, "q2.build", 12_100),
    _task(3, 12_150, 20, 10, 0, 0, 0, 5), _stage(3, "q2.build", 12_100, done=True),
    _job_end(2, 12_200),
]


def _span(sid, name, start, end, parent):
    return {"id": sid, "name": name, "start": start, "end": end, "parent": parent}


SPANS = [
    _span(0, "workload", 10.0, 13.0, None),
    _span(1, "q1", 10.0, 11.5, 0),
    _span(2, "build", 10.0, 10.5, 1),
    _span(3, "plan", 10.5, 10.6, 1),
    _span(4, "exec_cold", 10.6, 11.5, 1),
    _span(5, "q2", 12.0, 13.0, 0),
    _span(6, "build", 12.0, 12.5, 5),
]


def test_group_sums_equal_totals():
    groups = fold.fold_events(EVENTS)
    everything = fold.total(groups)
    tasks = [e for e in EVENTS if e["Event"] == "SparkListenerTaskEnd"]
    assert everything.tasks == len(tasks) == sum(g.tasks for g in groups.values())
    assert everything.jobs == 3
    assert everything.stages == 4
    assert everything.run_ms == sum(t["Task Metrics"]["Executor Run Time"] for t in tasks)
    assert everything.cpu_ms == pytest.approx(200.0)
    assert everything.shuffle_write_bytes == 600
    assert everything.shuffle_read_bytes == 500
    assert everything.input_rows == 1915
    assert everything.python_sent_bytes == 4096
    for k in fold.GroupStats.SUMMED:
        assert getattr(everything, k) == pytest.approx(sum(getattr(g, k) for g in groups.values()))
    # waiting = task launch minus its stage's submission
    assert groups["q1.exec_cold"].task_wait_ms == 20 + 30 + 0


def test_build_time_jobs_are_charged_to_their_query():
    groups = fold.fold_events(EVENTS)
    assert set(groups) == {"q1.build", "q1.exec_cold", "q2.build"}
    assert groups["q1.build"].jobs == 1 and groups["q1.build"].tasks == 1
    assert groups["q2.build"].jobs == 1 and groups["q2.build"].input_rows == 5
    assert groups["q1.exec_cold"].jobs == 1 and groups["q1.exec_cold"].stages == 2
    # q1's build job ran inside q1's build span
    (a, b), = groups["q1.build"].job_intervals
    assert SPANS[2]["start"] <= a <= b <= SPANS[2]["end"]
    # build self time: the 0.5 s span minus its 0.2 s job
    assert fold.self_time(SPANS[2], groups["q1.build"].job_intervals) == pytest.approx(0.3)


def _children(spans, parent):
    return [(s["start"], s["end"]) for s in spans if s["parent"] == parent["id"]]


def test_self_time_is_span_minus_children():
    for span, want in ((SPANS[1], 0.0), (SPANS[5], 0.5), (SPANS[0], 3.0 - 1.5 - 1.0)):
        assert fold.self_time(span, _children(SPANS, span)) == pytest.approx(want)
    # overlapping children count once; a child running past its parent is clipped
    spans = [_span(0, "p", 0.0, 10.0, None), _span(1, "a", 1.0, 4.0, 0),
             _span(2, "b", 3.0, 6.0, 0), _span(3, "c", 9.0, 12.0, 0)]
    assert fold.self_time(spans[0], _children(spans, spans[0])) == pytest.approx(10.0 - 5.0 - 1.0)
