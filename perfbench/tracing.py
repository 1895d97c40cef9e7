"""Per-layer tracing: layer spans, Spark event-log parsing, streaming progress.

Every timed call into a layer of the engine is a :class:`Span`. In a traced
run each span also sets its own Spark job group, the session writes an
uncompressed event log, and a :class:`ProgressListener` records streaming
micro-batch progress. After the session stops, :func:`parse_event_log`
attributes every job (and its stages and tasks) to the span that launched
it, and :func:`layer_counters` sums the task metrics per layer.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime
from typing import Any

from pyspark.sql.streaming import StreamingQueryListener

# TaskTotals fields that add up across spans.
_SUMMED = ("jobs", "tasks", "task_run_s", "task_cpu_s", "gc_s", "input_bytes",
           "shuffle_write_bytes", "spill_bytes", "python_start_s", "python_run_s",
           "python_bytes")

# Task-level accumulables that PySpark's Python exec nodes publish.
_PY_START = ("time to start Python workers", "time to initialize Python workers")
_PY_RUN = ("time to run Python workers",)
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


@dataclass
class Span:
    """One timed call into a layer; ``start``/``end`` are epoch seconds."""

    layer: str
    call_id: str
    start: float
    end: float

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Spans:
    """Records layer spans; with ``tag_jobs`` each span is its own job group."""

    def __init__(self, spark, tag_jobs: bool) -> None:
        self._sc = spark.sparkContext
        self._tag_jobs = tag_jobs
        self.records: list[Span] = []

    @contextmanager
    def span(self, layer: str):
        call_id = f"perfbench-{len(self.records)}"
        if self._tag_jobs:
            self._sc.setJobGroup(call_id, layer)
        start = time.time()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            elapsed = time.perf_counter() - t0
            if self._tag_jobs:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            self.records.append(Span(layer, call_id, start, start + elapsed))


@dataclass
class TaskTotals:
    """Sums over the tasks of the jobs one span launched."""

    jobs: int = 0
    stages: set = field(default_factory=set)
    tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    python_start_s: float = 0.0
    python_run_s: float = 0.0
    python_bytes: int = 0


def event_files(log_dir: str) -> list[str]:
    """Event-log files in write order (rolling ``events_<n>_*`` or single)."""
    files = [p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(p) and not p.endswith(".inprogress")
             and not os.path.basename(p).startswith("appstatus")]

    def order(path: str) -> tuple[int, str]:
        m = re.match(r"events_(\d+)_", os.path.basename(path))
        return (int(m.group(1)) if m else 0, path)

    return sorted(files, key=order)


def parse_event_log(log_dir: str, spans: list[Span]) -> dict[str, TaskTotals]:
    """Attribute each job in the event log to a span; return totals by call id.

    A job belongs to the span whose job group it carries. Jobs of a
    streaming query run under the query's own group, so those fall back
    to the span whose time window contains the job's submission time
    (the benchmark is one closed-loop client: spans never overlap).
    """
    by_id = {s.call_id: s for s in spans}
    ordered = sorted(spans, key=lambda s: s.start)
    totals = {s.call_id: TaskTotals() for s in spans}
    stage_owner: dict[int, str] = {}

    def window_owner(epoch_ms: int) -> str | None:
        t = epoch_ms / 1000.0
        for s in ordered:
            if s.start <= t <= s.end:
                return s.call_id
        return None

    for path in event_files(log_dir):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    owner = group if group in by_id else window_owner(ev["Submission Time"])
                    if owner is None:
                        continue
                    totals[owner].jobs += 1
                    for sid in ev["Stage IDs"]:
                        stage_owner[sid] = owner
                elif kind == "SparkListenerTaskEnd":
                    owner = stage_owner.get(ev["Stage ID"])
                    if owner is not None:
                        _add_task(totals[owner], ev)
    return totals


def _add_task(t: TaskTotals, ev: dict[str, Any]) -> None:
    m = ev.get("Task Metrics") or {}
    t.stages.add(ev["Stage ID"])
    t.tasks += 1
    t.task_run_s += m.get("Executor Run Time", 0) / 1e3
    t.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
    t.gc_s += m.get("JVM GC Time", 0) / 1e3
    t.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    t.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    t.spill_bytes += m.get("Disk Bytes Spilled", 0)
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        name, update = acc.get("Name"), acc.get("Update", 0)  # SQL metrics log strings
        if name in _PY_START:
            t.python_start_s += float(update) / 1e3
        elif name in _PY_RUN:
            t.python_run_s += float(update) / 1e3
        elif name in _PY_BYTES:
            t.python_bytes += int(update)


def layer_counters(layer: str, spans: list[Span], totals: dict[str, TaskTotals],
                   cores: int) -> dict[str, float]:
    """Per-call means of the task totals of every span of ``layer``.

    ``sched_idle_frac`` is 1 - (task run time) / (call wall time x cores):
    the share of the slots the layer held but did not keep busy.
    """
    own = [s for s in spans if s.layer == layer]
    n = max(len(own), 1)
    agg = TaskTotals()
    for s in own:
        t = totals[s.call_id]
        agg.stages.update(t.stages)
        for name in _SUMMED:
            setattr(agg, name, getattr(agg, name) + getattr(t, name))
    wall = sum(s.seconds for s in own)
    out = {name: getattr(agg, name) / n for name in _SUMMED}
    out["stages"] = len(agg.stages) / n
    out["sched_idle_frac"] = 1.0 - agg.task_run_s / (wall * cores) if wall > 0 else 0.0
    return out


class ProgressListener(StreamingQueryListener):
    """Keeps each micro-batch's duration phases and state-operator sizes."""

    def __init__(self) -> None:
        super().__init__()
        self.progress: list[dict[str, Any]] = []

    def onQueryStarted(self, event: Any) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event: Any) -> None:  # noqa: N802
        p = event.progress
        self.progress.append({
            "timestamp": datetime.fromisoformat(p.timestamp).timestamp(),
            "duration_ms": dict(p.durationMs),
            "state_rows": sum(op.numRowsTotal for op in p.stateOperators),
            "state_bytes": sum(op.memoryUsedBytes for op in p.stateOperators),
        })

    def onQueryIdle(self, event: Any) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event: Any) -> None:  # noqa: N802
        pass


def streaming_counters(progress: list[dict[str, Any]], start: float, end: float,
                       passes: int) -> dict[str, float]:
    """Micro-batches per pass and per-trigger means within ``[start, end]``."""
    own = [p for p in progress if start <= p["timestamp"] <= end]
    n = max(len(own), 1)

    def phase(p: dict[str, Any], *names: str) -> float:
        return sum(p["duration_ms"].get(k, 0) for k in names) / 1e3

    return {
        "triggers": len(own) / max(passes, 1),
        "trigger_s": sum(phase(p, "triggerExecution") for p in own) / n,
        "commit_s": sum(phase(p, "walCommit", "commitOffsets") for p in own) / n,
        "state_rows": sum(p["state_rows"] for p in own) / n,
        "state_bytes": sum(p["state_bytes"] for p in own) / n,
    }
