"""Tracing for the ``--trace 1`` run: in-memory spans around layer calls,
Spark job/stage/task counts per span from ``statusTracker()``, an
event-log fold for bytes, spill, GC and executor time, and a streaming
progress collector.

The event-log fold is stdlib-only and unit-tested on a small checked-in
log (``perfbench/tests/data/eventlog_small.jsonl``).
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time

SPARK_METRICS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "gc_ms",
    "executor_run_ms",
    "executor_cpu_ms",
    "input_bytes",
    "output_bytes",
)


def fold_event_log(lines, groups=None) -> dict:
    """Fold Spark event-log JSON lines into totals over the jobs whose job
    group (``spark.jobGroup.id`` in the JobStart properties) is in
    ``groups``; None keeps every job.

    Tasks belong to a job through their stage. A stage shared by two jobs
    (a reused shuffle) is counted once; skipped stages run no tasks and
    never complete, so they count neither as stages nor tasks."""
    events = [json.loads(line) for line in lines if line.strip()]
    stages_of_kept: set[int] = set()
    jobs = 0
    for ev in events:
        if ev.get("Event") != "SparkListenerJobStart":
            continue
        if groups is None or (ev.get("Properties") or {}).get("spark.jobGroup.id") in groups:
            jobs += 1
            stages_of_kept.update(ev.get("Stage IDs", []))
    out = dict.fromkeys(SPARK_METRICS, 0)
    out["jobs"] = jobs
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerStageCompleted":
            if ev["Stage Info"]["Stage ID"] in stages_of_kept:
                out["stages"] += 1
        elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stages_of_kept:
            out["tasks"] += 1
            if ev.get("Task End Reason", {}).get("Reason") != "Success":
                out["failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics", {})
            out["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            out["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            out["gc_ms"] += m.get("JVM GC Time", 0)
            out["executor_run_ms"] += m.get("Executor Run Time", 0)
            out["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6  # ns
            out["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
            out["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
    return out


def read_event_log(directory: str) -> list[str]:
    """All lines of the uncompressed event log(s) under ``directory``, in
    order; Spark 4 writes a rolling log (``eventlog_v2_*/events_<n>_*``)
    next to an ``appstatus_*`` marker."""
    paths = []
    for dirpath, _, names in os.walk(directory):
        for name in names:
            if name.startswith("events_"):
                paths.append((dirpath, int(name.split("_")[1]), name))
            elif not name.startswith(("appstatus", ".")):
                paths.append((dirpath, 0, name))
    lines: list[str] = []
    for dirpath, _, name in sorted(paths):
        with open(os.path.join(dirpath, name)) as f:
            lines.extend(f)
    return lines


class Tracer:
    """Spans (name, start, end, parent) kept in memory; each span runs its
    Spark jobs under its own job group so ``statusTracker()`` can split
    jobs, stages and tasks by span. Untraced measured passes run under a
    job group of their own too, listed in ``pass_groups``, so the event-log
    fold can keep exactly their jobs. Disabled, both only yield."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.pass_groups: list[str] = []
        self._stack: list[dict] = []

    def _clear_group(self) -> None:
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def measured(self, tag: str):
        if not self.enabled:
            yield
            return
        group = f"perfbench-pass-{tag}"
        self.pass_groups.append(group)
        self.spark.sparkContext.setJobGroup(group, f"measured pass {tag}")
        try:
            yield
        finally:
            self._clear_group()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name,
            "group": f"perfbench-{len(self.spans)}",
            "parent": parent["group"] if parent else None,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        sc.setJobGroup(rec["group"], name)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent:
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                self._clear_group()

    def count_jobs(self) -> None:
        """Attach jobs/stages/tasks per span (own jobs, not children's)."""
        tracker = self.spark.sparkContext.statusTracker()
        for rec in self.spans:
            jobs = tracker.getJobIdsForGroup(rec["group"])
            stages: set[int] = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            tasks = ran = 0
            for s in stages:
                info = tracker.getStageInfo(s)
                if info is not None and info.numCompletedTasks + info.numFailedTasks:
                    ran += 1
                    tasks += info.numCompletedTasks + info.numFailedTasks
            rec.update(jobs=len(jobs), stages=ran, tasks=tasks)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1, default=str)


def make_progress_collector():
    """A ``StreamingQueryListener`` that keeps every micro-batch progress
    (``recentProgress`` keeps only the last 100)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressCollector(StreamingQueryListener):
        def __init__(self):
            self.lock = threading.Lock()
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            rec = {
                "run": str(p.runId),
                "batch": p.batchId,
                "timestamp": p.timestamp,
                "rows": p.numInputRows,
                "durations": dict(p.durationMs),
            }
            with self.lock:
                self.progress.append(rec)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def snapshot(self) -> list[dict]:
            with self.lock:
                return list(self.progress)

    return ProgressCollector()
