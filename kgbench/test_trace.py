"""Tests of the benchmark's own arithmetic on a hand-made event log and
span set. Run with ``python3 -m pytest kgbench/test_trace.py``; no Spark
session is started."""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kgbench.trace import Span, Tracer, attributed, by_layer, covered, layer_self_times, reduce_event_log, self_times  # noqa: E402


def _task(stage, run_ms, cpu_ns=0, attempt=0, shuffle=0, spill=0, out=0, fetch_ms=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Attempt": attempt, "Failed": False, "Killed": False},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": 10,
            "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Shuffle Read Metrics": {"Fetch Wait Time": fetch_ms},
            "Output Metrics": {"Bytes Written": out},
        },
    }


EVENT_LOG = [
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1],
     "Properties": {"spark.jobGroup.id": "dedup:candidates"}},
    _task(0, 100, cpu_ns=50_000_000, shuffle=2 * 1024 * 1024),
    _task(0, 300, cpu_ns=150_000_000, fetch_ms=20),
    _task(1, 200, attempt=1, spill=1024 * 1024),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1600, "Stage IDs": [2],
     "Properties": {"spark.jobGroup.id": "catalog:SnapshotCatalog.write"}},
    _task(2, 50, out=3 * 1024 * 1024),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1700},
    # a job outside any span: no job group
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 1800, "Stage IDs": [3], "Properties": {}},
    _task(3, 40),
    {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 1900},
    {"Event": "SparkListenerApplicationEnd", "Timestamp": 2000},
]


def test_reduce_event_log_per_label():
    stats = reduce_event_log(json.dumps(e) for e in EVENT_LOG)
    dd = stats["dedup:candidates"]
    assert (dd.jobs, dd.tasks, dd.retries) == (1, 3, 1)
    assert dd.run_s == pytest.approx(0.6)
    assert dd.cpu_s == pytest.approx(0.2)
    assert dd.gc_s == pytest.approx(0.03)
    assert dd.shuffle_write_mb == pytest.approx(2.0)
    assert dd.spill_mb == pytest.approx(1.0)
    assert dd.fetch_wait_s == pytest.approx(0.02)
    assert dd.task_skew() == pytest.approx(300 / 200)
    assert dd.job_spans_ms == [(1000, 1500)]
    assert stats["catalog:SnapshotCatalog.write"].output_mb == pytest.approx(3.0)
    assert stats[""].tasks == 1

    # jobs submitted after until_ms are left out
    early = reduce_event_log((json.dumps(e) for e in EVENT_LOG), until_ms=1550)
    assert set(early) == {"dedup:candidates"}

    layers = by_layer(stats)
    assert set(layers) == {"dedup", "catalog", ""}
    assert layers["catalog"].jobs == 1


def test_self_time_subtracts_union_of_children():
    spans = [
        Span("run", "plans", 0.0, 10.0, None),
        Span("gate", "textstats", 1.0, 4.0, 0),
        Span("cand", "dedup", 3.0, 6.0, 0),  # overlaps gate: union is 1..6
        Span("write", "catalog", 4.5, 5.5, 2),
        Span("late", "lineage", 9.0, 12.0, 0),  # runs past its parent
    ]
    assert self_times(spans) == pytest.approx([10 - 5 - 1, 3, 2, 1, 3])
    # a window clips every span before the subtraction
    assert layer_self_times(spans, (2.0, 10.0)) == pytest.approx(
        {"plans": 8 - 4 - 1, "textstats": 2, "dedup": 2, "catalog": 1, "lineage": 1}
    )
    assert covered(spans, (2.0, 11.0)) == pytest.approx(9.0)
    # the root span "run" is left out: 2..6 and 9..11 stay
    assert attributed(spans, (2.0, 11.0)) == pytest.approx(6.0)


def test_tracer_parents_and_unpatch():
    class Owner:
        @staticmethod
        def f(x):
            return x + 1

    t = Tracer()
    t.wrap(Owner, "f", "link", count="link.calls")
    with t.span("outer", "plans"):
        assert Owner.f(1) == 2
    t.unpatch()
    assert Owner.f(1) == 2 and len(t.spans) == 2
    assert [(s.name, s.layer, s.parent) for s in t.spans] == [("outer", "plans", None), ("f", "link", 0)]
    assert t.counts == {"link.calls": 1}
