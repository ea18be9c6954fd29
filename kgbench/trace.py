"""Spans from the benchmark's own wrappers, and the Spark event-log reducer.

A span is opened around a call into one layer of the program. While it is
open, every Spark job the calling thread submits carries the label
``<layer>:<name>`` as its job group, so the event log charges the job to
that layer. Spark evaluates lazily: a job is charged to the layer whose
call ran the action, and the staged pipelines run each stage's action
inside the stage wrapper, so a stage's jobs land on the stage's layer.

Nothing in this module runs when tracing is off: the untraced run installs
no wrapper and sets no job group.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans


@dataclass
class Tracer:
    """Records spans in memory; ``counts`` holds per-layer counters that
    wrappers add to at the same boundaries."""

    sc: object = None  # SparkContext; None records spans without job groups
    spans: list[Span] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)
    root: int | None = None  # parent of spans opened on a thread with no open span
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _patched: list[tuple[object, str, object]] = field(default_factory=list)

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str):
        stack = self._stack()
        parent = stack[-1] if stack else self.root
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, layer, time.monotonic(), 0.0, parent))
        prev = None
        if self.sc is not None:
            prev = self.sc.getLocalProperty(JOB_GROUP)
            self.sc.setLocalProperty(JOB_GROUP, f"{layer}:{name}")
        stack.append(idx)
        try:
            yield idx
        finally:
            stack.pop()
            self.spans[idx].end = time.monotonic()
            if self.sc is not None:
                self.sc.setLocalProperty(JOB_GROUP, prev)

    def count(self, key: str, n: float = 1) -> None:
        with self._lock:
            self.counts[key] = self.counts.get(key, 0) + n

    def patch(self, owner, attr: str, make):
        """Replace ``owner.attr`` with ``make(original)`` until unpatch()."""
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def wrap(self, owner, attr: str, layer, name: str | None = None, count: str | None = None):
        """Replace ``owner.attr`` with a wrapper that runs it in a span.

        ``layer`` is a layer name, or a function of the call's arguments
        that returns (layer, name). ``count`` adds one to that counter per
        call. ``layer=None`` only counts."""

        def make(orig):
            def wrapper(*args, **kwargs):
                if count:
                    self.count(count)
                if layer is None:
                    return orig(*args, **kwargs)
                lay, nm = layer(*args, **kwargs) if callable(layer) else (layer, name or attr)
                with self.span(nm, lay):
                    return orig(*args, **kwargs)

            return wrapper

        self.patch(owner, attr, make)

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()


# -- self time -----------------------------------------------------------------


def union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the intervals."""
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


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append((sp.start, sp.end))
    out = []
    for i, sp in enumerate(spans):
        clipped = [
            (max(s, sp.start), min(e, sp.end))
            for s, e in children.get(i, [])
            if min(e, sp.end) > max(s, sp.start)
        ]
        out.append((sp.end - sp.start) - union(clipped))
    return out


def layer_self_times(spans: list[Span], window: tuple[float, float]) -> dict[str, float]:
    """Self time per layer, counting only the part inside ``window``."""
    w0, w1 = window
    inside = [
        Span(sp.name, sp.layer, max(sp.start, w0), min(sp.end, w1), sp.parent)
        if sp.end > w0 and sp.start < w1
        else Span(sp.name, sp.layer, 0.0, 0.0, sp.parent)
        for sp in spans
    ]
    out: dict[str, float] = {}
    for sp, st in zip(inside, self_times(inside)):
        out[sp.layer] = out.get(sp.layer, 0.0) + st
    return out


def covered(spans: list[Span], window: tuple[float, float]) -> float:
    """Seconds of ``window`` during which some span is open."""
    w0, w1 = window
    return union(
        [(max(s.start, w0), min(s.end, w1)) for s in spans if min(s.end, w1) > max(s.start, w0)]
    )


def attributed(spans: list[Span], window: tuple[float, float]) -> float:
    """Seconds of ``window`` covered by spans that have a parent. A root
    span wraps a whole workload, so counting it would attribute every
    second whether or not a named layer explains it."""
    return covered([s for s in spans if s.parent is not None], window)


# -- event log -----------------------------------------------------------------


@dataclass
class LabelStats:
    jobs: int = 0
    tasks: int = 0
    retries: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    fetch_wait_s: float = 0.0
    spill_mb: float = 0.0
    output_mb: float = 0.0
    task_ms: list[float] = field(default_factory=list)
    job_spans_ms: list[tuple[float, float]] = field(default_factory=list)

    def task_skew(self) -> float:
        """Max over median task run time; 1.0 with no tasks."""
        if not self.task_ms:
            return 1.0
        med = statistics.median(self.task_ms)
        return max(self.task_ms) / med if med > 0 else 1.0


MB = 1024 * 1024


def reduce_event_log(lines, until_ms: float = float("inf")) -> dict[str, LabelStats]:
    """Per job-group label statistics from an uncompressed Spark event log,
    for jobs submitted before ``until_ms`` (epoch milliseconds).

    A task is charged to the job that most recently listed its stage; a
    job without a job group is charged to the label ``""``."""
    stats: dict[str, LabelStats] = {}
    stage_label: dict[int, str] = {}
    job_label: dict[int, str] = {}
    job_start: dict[int, float] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            if ev.get("Submission Time", 0) > until_ms:
                break
            label = (ev.get("Properties") or {}).get(JOB_GROUP) or ""
            jid = ev["Job ID"]
            job_label[jid] = label
            job_start[jid] = ev.get("Submission Time", 0)
            for sid in ev.get("Stage IDs", []):
                stage_label[sid] = label
            stats.setdefault(label, LabelStats()).jobs += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_label:
                stats[job_label[jid]].job_spans_ms.append(
                    (job_start[jid], ev.get("Completion Time", job_start[jid]))
                )
        elif kind == "SparkListenerTaskEnd":
            st = stats.setdefault(stage_label.get(ev.get("Stage ID"), ""), LabelStats())
            info = ev.get("Task Info", {})
            m = ev.get("Task Metrics") or {}
            st.tasks += 1
            if info.get("Attempt", 0) > 0 or info.get("Failed") or info.get("Killed"):
                st.retries += 1
            run_ms = m.get("Executor Run Time", 0)
            st.run_s += run_ms / 1e3
            st.task_ms.append(run_ms)
            st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            st.gc_s += m.get("JVM GC Time", 0) / 1e3
            st.spill_mb += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / MB
            sw = m.get("Shuffle Write Metrics") or {}
            st.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / MB
            sr = m.get("Shuffle Read Metrics") or {}
            st.fetch_wait_s += sr.get("Fetch Wait Time", 0) / 1e3
            out = m.get("Output Metrics") or {}
            st.output_mb += out.get("Bytes Written", 0) / MB
    return stats


def by_layer(stats: dict[str, LabelStats]) -> dict[str, LabelStats]:
    """Fold ``<layer>:<name>`` labels into one entry per layer; labels
    that are not ours (``""``, a stream's run id) fold into ``""``."""
    out: dict[str, LabelStats] = {}
    for label, st in stats.items():
        layer = label.split(":", 1)[0] if ":" in label else ""
        agg = out.setdefault(layer, LabelStats())
        agg.jobs += st.jobs
        agg.tasks += st.tasks
        agg.retries += st.retries
        agg.run_s += st.run_s
        agg.cpu_s += st.cpu_s
        agg.gc_s += st.gc_s
        agg.shuffle_write_mb += st.shuffle_write_mb
        agg.fetch_wait_s += st.fetch_wait_s
        agg.spill_mb += st.spill_mb
        agg.output_mb += st.output_mb
        agg.task_ms += st.task_ms
        agg.job_spans_ms += st.job_spans_ms
    return out
