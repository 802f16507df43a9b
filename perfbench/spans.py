"""Spans around the benchmark's calls into the package, joined to Spark's
own event log.

A span is opened around each call the benchmark makes into a public
package function, together with the action that forces it. Every span
sets its own Spark job group, so each job (and each stage it submits)
carries the id of the innermost span that caused it. After the session
stops, the event log is read back and jobs, stages and task metrics are
attributed to spans through that job group.

Spans are kept in memory and written out once, at the end of the run.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

JOB_GROUP = "spark.jobGroup.id"
# One benchmark run is one trace.
TRACE_ID = "run"


@dataclass
class Span:
    span_id: str
    name: str
    start_ms: float
    end_ms: float | None
    parent: str | None
    trace_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return self.end_ms - self.start_ms


class Tracer:
    """Records spans when ``enabled``; otherwise every ``span`` is a no-op,
    so the untraced run executes the same code with no recording."""

    def __init__(self, sc=None, *, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        # Label stamped on every span opened from now on ("setup", "warm",
        # "measure"), so warm-up calls can be left out of the rollup.
        self.phase = "setup"

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span_id: str | None) -> None:
        # Local properties are per thread (PySpark pins Python threads to
        # JVM threads), which is why a foreachBatch callback opens its own
        # spans: it runs on another thread than the one that started it.
        if self.sc is not None:
            self.sc.setLocalProperty(JOB_GROUP, span_id)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        with self._lock:
            sid = f"s{next(self._ids)}"
        parent = stack[-1].span_id if stack else None
        sp = Span(
            sid, name, time.time() * 1000.0, None, parent, TRACE_ID,
            {"phase": self.phase, **attrs},
        )
        stack.append(sp)
        self._set_group(sid)
        try:
            yield sp
        finally:
            sp.end_ms = time.time() * 1000.0
            stack.pop()
            self._set_group(stack[-1].span_id if stack else None)
            with self._lock:
                self.spans.append(sp)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump([asdict(s) for s in self.spans], f)


# ---------------------------------------------------------------------------
# interval arithmetic
# ---------------------------------------------------------------------------


def covered_ms(start: float, end: float, intervals) -> float:
    """Length of ``[start, end]`` covered by the union of ``intervals``."""
    clipped = sorted(
        (max(a, start), min(b, end)) for a, b in intervals if b > start and a < end
    )
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


def self_times(spans: list[Span]) -> dict[str, float]:
    """Span duration minus the part of it that its child spans cover."""
    children: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start_ms, s.end_ms))
    return {
        s.span_id: s.ms - covered_ms(s.start_ms, s.end_ms, children.get(s.span_id, ()))
        for s in spans
    }


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of the one application logged under ``log_dir``, as one
    plain (uncompressed, not rolling) event file."""
    entries = [e for e in os.listdir(log_dir) if not e.startswith(".")]
    path = os.path.join(log_dir, entries[0]) if len(entries) == 1 else None
    if path is None or not os.path.isfile(path):
        raise FileNotFoundError(f"expected one application event file in {log_dir}, found {entries}")
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


@dataclass
class SparkWork:
    """What Spark did on behalf of one span (its own jobs only)."""

    jobs: list[tuple[float, float]] = field(default_factory=list)  # (submit, complete) ms
    stages: int = 0
    tasks: int = 0
    exec_run_ms: float = 0.0
    exec_cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: int = 0
    output_bytes: int = 0


def spark_work_by_group(events: list[dict]) -> dict[str, SparkWork]:
    """Jobs, stages and task metrics keyed by the job group they ran under.

    A stage carries the local properties of the job that submitted it, so
    its tasks are attributed through the stage's own job group, never
    through a job-id lookup (a reused shuffle stage is listed by several
    jobs but runs once)."""
    work: dict[str, SparkWork] = {}
    job_group: dict[int, str] = {}
    job_submit: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(JOB_GROUP)
            if group is not None:
                job_group[ev["Job ID"]] = group
                job_submit[ev["Job ID"]] = float(ev["Submission Time"])
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_group:
                w = work.setdefault(job_group[jid], SparkWork())
                w.jobs.append((job_submit[jid], float(ev["Completion Time"])))
        elif kind == "SparkListenerStageSubmitted":
            group = (ev.get("Properties") or {}).get(JOB_GROUP)
            if group is not None:
                stage_group[ev["Stage Info"]["Stage ID"]] = group
                work.setdefault(group, SparkWork()).stages += 1
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            if group is None:
                continue
            w = work.setdefault(group, SparkWork())
            w.tasks += 1
            m = ev.get("Task Metrics") or {}
            w.exec_run_ms += m.get("Executor Run Time", 0)
            w.exec_cpu_ms += m.get("Executor CPU Time", 0) / 1e6
            w.gc_ms += m.get("JVM GC Time", 0)
            w.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            w.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return work


def span_metrics(spans: list[Span], work: dict[str, SparkWork]) -> dict[str, dict]:
    """Per span: wall and self time, plus the Spark work of the span and all
    of its descendants. ``driver_ms`` is the span's wall time not covered by
    any of those jobs."""
    kids: dict[str, list[str]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.span_id)
    selfs = self_times(spans)

    def subtree(sid: str):
        yield sid
        for k in kids.get(sid, ()):
            yield from subtree(k)

    out = {}
    for s in spans:
        agg = SparkWork()
        for sid in subtree(s.span_id):
            w = work.get(sid)
            if w is None:
                continue
            agg.jobs += w.jobs
            agg.stages += w.stages
            agg.tasks += w.tasks
            agg.exec_run_ms += w.exec_run_ms
            agg.exec_cpu_ms += w.exec_cpu_ms
            agg.gc_ms += w.gc_ms
            agg.shuffle_write_bytes += w.shuffle_write_bytes
            agg.output_bytes += w.output_bytes
        out[s.span_id] = {
            "name": s.name,
            "ms": s.ms,
            "self_ms": selfs[s.span_id],
            "jobs": len(agg.jobs),
            "stages": agg.stages,
            "tasks": agg.tasks,
            "driver_ms": s.ms - covered_ms(s.start_ms, s.end_ms, agg.jobs),
            "exec_run_ms": agg.exec_run_ms,
            "exec_cpu_ms": agg.exec_cpu_ms,
            "gc_ms": agg.gc_ms,
            "shuffle_write_bytes": agg.shuffle_write_bytes,
            "output_bytes": agg.output_bytes,
            **s.attrs,
        }
    return out
