"""Spans around calls into the engine's layers, and their join with the
Spark event log.

A span records one call from the benchmark into a layer: its layer, its
operation, tags such as the query's df band, and its wall-clock interval.
When job tagging is on, every Spark job the call starts carries the span
id as its job group, so the event log can be split by span afterwards.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# SQL metric names of the Python exec nodes (mapInPandas, pandas UDFs).
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"

IDLE_GROUP = "perfbench-idle"


@dataclass
class Span:
    id: str
    layer: str
    op: str
    start: float
    end: float = 0.0
    tags: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans in memory. ``sc`` set → tag each span's jobs."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []

    @contextmanager
    def span(self, layer: str, op: str, **tags):
        sp = Span(f"span-{len(self.spans)}", layer, op, 0.0, tags=tags)
        self.spans.append(sp)
        if self.sc is not None:
            self.sc.setJobGroup(sp.id, f"{layer}:{op}")
        sp.start = time.time()
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = sp.start + (time.perf_counter() - t0)
            if self.sc is not None:
                self.sc.setJobGroup(IDLE_GROUP, "benchmark code")


@dataclass
class Task:
    launch_ms: int
    finish_ms: int
    gc_ms: int
    spill: int
    shuffle_write: int
    in_bytes: int
    in_rows: int
    py_run_ms: int
    py_bytes: int


@dataclass
class Job:
    group: str
    submit_ms: int
    end_ms: int


class EventLog:
    """Jobs, stages and tasks of every application logged under a dir.
    A stage belongs to the job group it was submitted under; stages a
    later job lists but skips are not counted again."""

    def __init__(self, log_dir: str):
        self.jobs: dict[int, Job] = {}
        self.stage_group: dict[int, str] = {}
        self.tasks: dict[int, list[Task]] = {}
        files = sorted(
            glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
        )
        for path in files:
            with open(path) as fh:
                for line in fh:
                    self._add(json.loads(line))

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = Job(
                props.get("spark.jobGroup.id", ""), e["Submission Time"],
                e["Submission Time"],
            )
        elif kind == "SparkListenerStageSubmitted":
            props = e.get("Properties") or {}
            self.stage_group.setdefault(
                e["Stage Info"]["Stage ID"],
                props.get("spark.jobGroup.id", ""),
            )
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(e["Job ID"])
            if job is not None:
                job.end_ms = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            m = e.get("Task Metrics") or {}
            acc = {}
            for a in info.get("Accumulables", []):
                if a.get("Name") in (PY_RUN, PY_SENT, PY_RECV):
                    acc[a["Name"]] = acc.get(a["Name"], 0) + int(a["Update"])
            self.tasks.setdefault(e["Stage ID"], []).append(Task(
                launch_ms=info["Launch Time"],
                finish_ms=info["Finish Time"],
                gc_ms=m.get("JVM GC Time", 0),
                spill=m.get("Memory Bytes Spilled", 0)
                + m.get("Disk Bytes Spilled", 0),
                shuffle_write=(m.get("Shuffle Write Metrics") or {})
                .get("Shuffle Bytes Written", 0),
                in_bytes=(m.get("Input Metrics") or {}).get("Bytes Read", 0),
                in_rows=(m.get("Input Metrics") or {}).get("Records Read", 0),
                py_run_ms=acc.get(PY_RUN, 0),
                py_bytes=acc.get(PY_SENT, 0) + acc.get(PY_RECV, 0),
            ))

    def jobs_of(self, span_id: str) -> list[Job]:
        return [j for j in self.jobs.values() if j.group == span_id]

    def stages_of(self, span_id: str) -> list[list[Task]]:
        return [self.tasks.get(sid, []) for sid, g in
                self.stage_group.items() if g == span_id]


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, cur_s, cur_e = 0, None, None
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


@dataclass
class Usage:
    """What a set of spans cost in Spark, summed over their jobs."""

    jobs: int = 0
    spark_ms: int = 0
    python_s: float = 0.0
    python_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    gc_s: float = 0.0
    scan_bytes: int = 0
    scan_rows: int = 0
    task_skew: float = 0.0
    dup_shuffle_stages: int = 0


def usage(log: EventLog, spans: list[Span]) -> Usage:
    """Spark cost of ``spans``. ``spark_ms`` is the union of the job
    intervals of each span, summed over spans. ``task_skew`` is max/median
    task time in the longest-running multi-task stage. A stage counts in
    ``dup_shuffle_stages`` when, within one span, another stage wrote
    exactly as many shuffle bytes."""
    u = Usage()
    worst_stage_ms = -1
    for sp in spans:
        jobs = log.jobs_of(sp.id)
        u.jobs += len(jobs)
        u.spark_ms += _union_ms([(j.submit_ms, j.end_ms) for j in jobs])
        shuffle_sizes: list[int] = []
        for tasks in log.stages_of(sp.id):
            if not tasks:
                continue
            for t in tasks:
                u.python_s += t.py_run_ms / 1000.0
                u.python_bytes += t.py_bytes
                u.shuffle_write_bytes += t.shuffle_write
                u.spill_bytes += t.spill
                u.gc_s += t.gc_ms / 1000.0
                u.scan_bytes += t.in_bytes
                u.scan_rows += t.in_rows
            written = sum(t.shuffle_write for t in tasks)
            if written:
                shuffle_sizes.append(written)
            stage_ms = max(t.finish_ms for t in tasks) - min(
                t.launch_ms for t in tasks
            )
            if len(tasks) >= 2 and stage_ms > worst_stage_ms:
                worst_stage_ms = stage_ms
                times = [t.finish_ms - t.launch_ms for t in tasks]
                u.task_skew = max(times) / max(1, statistics.median(times))
        u.dup_shuffle_stages += sum(
            1 for s in shuffle_sizes if shuffle_sizes.count(s) > 1
        )
    return u
