"""Spans around the engine's layer entry points, and the Spark counts
behind them.

A span records name, start, end, parent and operation id. While a span is
open, every Spark job started from the driver thread carries the span's
job group, so jobs, stages and tasks can be charged to the innermost span
that started them:

* job and stage ids come from Spark's ``statusTracker`` (per job group);
* task counts, executor run time, GC time, shuffle bytes, bytes written
  and which stages read files come from the event log of the run, parsed
  after the SparkContext stopped.

Spans are kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field


_TRACERS = itertools.count()


@dataclass
class Span:
    sid: int
    name: str
    op_id: str
    parent: int | None
    start: float
    group: str  # the Spark job group of jobs started inside this span
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; each open span owns the driver thread's job group."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._prefix = f"perfbench-{os.getpid()}-{next(_TRACERS)}"

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    @contextlib.contextmanager
    def span(self, name: str, op_id: str | None = None):
        """A span; without ``op_id`` it belongs to its parent's operation."""
        parent = self._stack[-1] if self._stack else None
        op_id = op_id or (parent.op_id if parent else "")
        sid = len(self.spans)
        s = Span(sid, name, op_id, parent.sid if parent else None, time.perf_counter(),
                 f"{self._prefix}-{sid}")
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            s.jobs = list(self.sc.statusTracker().getJobIdsForGroup(s.group))

    def wrap(self, fn, name: str):
        """``fn`` wrapped in a span of the caller's operation."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                out[s.parent].append(s)
        return out

    def subtree(self, span: Span, kids: dict[int, list[Span]]) -> list[Span]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.sid, ()))
        return out

    def self_seconds(self, span: Span, kids: dict[int, list[Span]]) -> float:
        """Duration minus the part covered by direct children (children of
        one span never overlap: they run on one thread)."""
        return span.seconds - sum(c.seconds for c in kids.get(span.sid, ()))

    def dump(self, path: str, t0: float) -> None:
        rows = [
            {
                "id": s.sid,
                "name": s.name,
                "op_id": s.op_id,
                "parent": s.parent,
                "start": round(s.start - t0, 6),
                "end": round(s.end - t0, 6),
                "jobs": s.jobs,
            }
            for s in self.spans
        ]
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(rows, fh)


@dataclass
class StageStats:
    tasks: int = 0
    run_ms: int = 0
    gc_ms: int = 0
    shuffle_write: int = 0
    bytes_written: int = 0
    reads_files: bool = False
    reads_csv: bool = False


@dataclass
class EventLog:
    """Per-job stage lists and per-stage task totals from one event log."""

    job_stages: dict[int, list[int]]
    stages: dict[int, StageStats]
    stage_owner: dict[int, int] = field(default_factory=dict)

    def __post_init__(self) -> None:
        for j in sorted(self.job_stages):
            for s in self.job_stages[j]:
                self.stage_owner.setdefault(s, j)

    @classmethod
    def parse(cls, log_dir: str) -> "EventLog":
        files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
        job_stages: dict[int, list[int]] = {}
        stages: dict[int, StageStats] = defaultdict(StageStats)
        with open(files[0], encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job_stages[ev["Job ID"]] = list(ev.get("Stage IDs", []))
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    st = stages[info["Stage ID"]]
                    for rdd in info.get("RDD Info", []):
                        scope = (rdd.get("Scope") or "") + " " + rdd.get("Name", "")
                        if "FileScanRDD" in scope or "Scan " in scope:
                            st.reads_files = True
                        if "Scan csv" in scope:
                            st.reads_csv = True
                elif kind == "SparkListenerTaskEnd":
                    st = stages[ev["Stage ID"]]
                    m = ev.get("Task Metrics") or {}
                    st.tasks += 1
                    st.run_ms += int(m.get("Executor Run Time", 0))
                    st.gc_ms += int(m.get("JVM GC Time", 0))
                    st.shuffle_write += int(
                        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    )
                    st.bytes_written += int((m.get("Output Metrics") or {}).get("Bytes Written", 0))
        return cls(job_stages, dict(stages))

    def totals(self, jobs: list[int]) -> dict[str, float]:
        """Counts and sums over ``jobs``. A stage is charged to the first
        job that lists it: AQE re-lists finished stages in later jobs as
        skipped, and those run no tasks again."""
        mine = set(jobs)
        run_by: dict[int, list[StageStats]] = defaultdict(list)
        for s, owner in self.stage_owner.items():
            if owner in mine and s in self.stages and self.stages[s].tasks:
                run_by[owner].append(self.stages[s])
        run = [st for sts in run_by.values() for st in sts]
        csv = [st for st in run if st.reads_csv]
        return {
            "jobs": len(mine),
            "stages": len(run),
            "tasks": sum(s.tasks for s in run),
            "scan_tasks": sum(s.tasks for s in run if s.reads_files),
            "run_s": sum(s.run_ms for s in run) / 1000.0,
            "gc_s": sum(s.gc_ms for s in run) / 1000.0,
            "shuffle_bytes": sum(s.shuffle_write for s in run),
            "bytes_written": sum(s.bytes_written for s in run),
            "csv_jobs": sum(1 for sts in run_by.values() if any(st.reads_csv for st in sts)),
            "csv_scan_tasks": max((st.tasks for st in csv), default=0),
        }
