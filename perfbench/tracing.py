"""Tracing for the per-layer run: spans, a counting StateFS, event-log totals.

Spans are recorded by the benchmark around its own calls into the
engine's layers; nothing inside the engine is patched. Each span runs
its Spark jobs under its own job group, so the jobs, task CPU, GC,
shuffle and spill that Spark writes to its event log can be attributed
to the span after the session stops.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from spark_streaming_with_debezium_spark.storage.fs import StateFS


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    batch: int | None
    counts: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.id}"

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """Keeps spans in memory; :meth:`dump` writes them out at the end."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, batch: int | None = None):
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), name, time.perf_counter(), 0.0, parent, batch)
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1].group, self._stack[-1].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "parent": s.parent,
                    "batch": s.batch, "start": s.start, "end": s.end,
                    "counts": s.counts,
                }) + "\n")


class CountingFS(StateFS):
    """A StateFS that counts and times every call the state table makes
    to the one it wraps."""

    def __init__(self, inner: StateFS):
        self.inner = inner
        self.ops = 0
        self.seconds = 0.0

    def _timed(self, fn, *args):
        t0 = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self.seconds += time.perf_counter() - t0
            self.ops += 1

    def exists(self, path):
        return self._timed(self.inner.exists, path)

    def isdir(self, path):
        return self._timed(self.inner.isdir, path)

    def listdir(self, path):
        return self._timed(self.inner.listdir, path)

    def mkdirs(self, path):
        return self._timed(self.inner.mkdirs, path)

    def delete(self, path):
        return self._timed(self.inner.delete, path)

    def rename(self, src, dst):
        return self._timed(self.inner.rename, src, dst)

    def read_text(self, path):
        return self._timed(self.inner.read_text, path)

    def write_text_atomic(self, path, text):
        return self._timed(self.inner.write_text_atomic, path, text)


@dataclass
class JobTotals:
    jobs: int = 0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    files_read: int = 0  # parquet files the group's file scans listed to read
    partitions_read: int = 0  # table partitions (state buckets) they read


SQL_UI = "org.apache.spark.sql.execution.ui."
# File-scan metrics Spark computes on the driver when it plans a scan and
# posts per SQL execution, as SparkListenerDriverAccumUpdates.
SCAN_METRICS = {"number of files read": "files_read",
                "number of partitions read": "partitions_read"}


def _plan_metrics(plan: dict, out: dict[int, str]) -> None:
    """Accumulator id -> JobTotals field, for the scan metrics of a
    SparkPlanInfo tree."""
    for m in plan.get("metrics", ()):
        if m["name"] in SCAN_METRICS:
            out[m["accumulatorId"]] = SCAN_METRICS[m["name"]]
    for child in plan.get("children", ()):
        _plan_metrics(child, out)


def read_event_log(log_dir: str) -> dict[str | None, JobTotals]:
    """Per job group totals from an uncompressed Spark event log (the
    session must be stopped so the log is complete). Key None holds the
    jobs that ran outside any group; key "*" the whole application."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    stage_group: dict[int, str | None] = {}
    exec_group: dict[int, str | None] = {}
    scan_accums: dict[int, str] = {}
    driver_values: dict[int, dict[int, int]] = {}  # execution -> accumulator -> value
    out: dict[str | None, JobTotals] = {"*": JobTotals()}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                out.setdefault(group, JobTotals()).jobs += 1
                out["*"].jobs += 1
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, group)
            elif kind == SQL_UI + "SparkListenerSQLExecutionStart":
                exec_group[ev["executionId"]] = ev.get("jobGroupId")
                _plan_metrics(ev["sparkPlanInfo"], scan_accums)
            elif kind == SQL_UI + "SparkListenerSQLAdaptiveExecutionUpdate":
                _plan_metrics(ev["sparkPlanInfo"], scan_accums)
            elif kind == SQL_UI + "SparkListenerDriverAccumUpdates":
                values = driver_values.setdefault(ev["executionId"], {})
                values.update({a: v for a, v in ev["accumUpdates"]})
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                if not m:
                    continue
                group = stage_group.get(ev["Stage ID"])
                for t in (out.setdefault(group, JobTotals()), out["*"]):
                    t.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
                    t.gc_ms += m.get("JVM GC Time", 0)
                    t.shuffle_bytes += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0)
                    t.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
    for execution, values in driver_values.items():
        group = exec_group.get(execution)
        for acc, v in values.items():
            if acc in scan_accums:
                for t in (out.setdefault(group, JobTotals()), out["*"]):
                    setattr(t, scan_accums[acc], getattr(t, scan_accums[acc]) + v)
    return out
