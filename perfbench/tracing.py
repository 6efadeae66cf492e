"""Tracing from outside the program: spans, Spark's event log, memory.

* ``Recorder`` keeps spans in memory (name, start, end, parent, run id)
  around the benchmark's own calls into the program's public functions,
  labels every Spark job launched inside a span with the span's name
  (``perfbench.op`` local property), counts the operations that failed,
  and writes the spans out at the end.
* ``EventLog`` parses Spark's own event log (uncompressed, not rolled;
  ``event_log_conf``) into jobs, tasks and SQL executions.
* ``RssSampler`` polls the resident memory of this process and every
  process it started (the JVM, the Python workers).
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import threading
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Tuple

OP_PROPERTY = "perfbench.op"
_SCAN = re.compile(r'"name":"Scan parquet (?:spark_catalog\.default\.)?([^"]+)"')
MB = 1 << 20


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: Optional[int] = None
    run_id: str = ""

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Recorder:
    """In-memory span recorder. ``span`` nests: a span's parent is the
    innermost open span. When ``spark`` is set, jobs submitted inside a
    span carry its name as their job description and ``perfbench.op``."""

    def __init__(self, run_id: str, spark=None):
        self.run_id = run_id
        self.spark = spark
        self.spans: List[Span] = []
        self._open: List[int] = []
        self.failed = 0
        self._failed_now: set = set()

    def new_round(self) -> None:
        self._failed_now = set()

    def ok(self, name: str) -> bool:
        """Whether operation ``name`` has not failed in this round."""
        return name not in self._failed_now

    def op(self, name: str, fn, needs=()):
        """Run one counted operation ``fn()`` inside a span named ``name``
        and return its result. If it raises, or an operation named in
        ``needs`` failed earlier in the round (it is then not run), it
        counts as failed and the result is None."""
        if not all(self.ok(n) for n in needs):
            self.failed += 1
            self._failed_now.add(name)
            return None
        try:
            with self.span(name):
                return fn()
        except Exception:
            print(f"operation {name} failed:\n{traceback.format_exc()}", file=sys.stderr)
            self.failed += 1
            self._failed_now.add(name)
            return None

    def _label(self, name: Optional[str]) -> None:
        if self.spark is not None:
            sc = self.spark.sparkContext
            sc.setLocalProperty(OP_PROPERTY, name)
            sc.setJobDescription(name)

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        self.spans.append(Span(name, time.time(), parent=parent, run_id=self.run_id))
        idx = len(self.spans) - 1
        self._open.append(idx)
        self._label(name)
        try:
            yield self.spans[idx]
        finally:
            self.spans[idx].end = time.time()
            self._open.pop()
            self._label(self.spans[self._open[-1]].name if self._open else None)

    def named(self, name: str) -> List[Span]:
        return [s for s in self.spans if s.name == name]

    def self_seconds(self, idx: int) -> float:
        """A span's duration minus the part its child spans cover."""
        s = self.spans[idx]
        kids = [(c.start, c.end) for c in self.spans if c.parent == idx]
        return s.seconds - covered(kids, s.start, s.end)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({
                    "id": i, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "run_id": s.run_id,
                    "self_s": self.self_seconds(i),
                }) + "\n")


def covered(intervals: List[Tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def event_log_conf(log_dir: str) -> Dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class Task:
    stage: int
    launch: float
    finish: float
    run_s: float
    cpu_s: float
    gc_s: float
    spill_bytes: int
    shuffle_write_bytes: int
    records_read: int
    bytes_written: int


@dataclass
class Job:
    id: int
    start: float
    end: float = 0.0
    op: Optional[str] = None
    stages: List[int] = field(default_factory=list)
    execution: Optional[int] = None


@dataclass
class Execution:
    id: int
    start: float
    end: float = 0.0
    plan: str = ""


class EventLog:
    """Jobs, tasks and SQL executions of one application's event log.
    Times are seconds since the epoch, like the spans'."""

    def __init__(self, path: str):
        self.jobs: Dict[int, Job] = {}
        self.tasks: List[Task] = []
        self.executions: Dict[int, Execution] = {}
        self.scans: Dict[int, frozenset] = {}  # stage -> tables it scans
        with open(path) as fh:
            for line in fh:
                self._event(json.loads(line))
        self.stage_job = {s: j.id for j in self.jobs.values() for s in j.stages}

    @staticmethod
    def latest_path(log_dir: str) -> str:
        """The most recent finished application log in ``log_dir``."""
        paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
        return max(paths, key=os.path.getmtime)

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            exe = props.get("spark.sql.execution.id")
            self.jobs[ev["Job ID"]] = Job(
                ev["Job ID"], ev["Submission Time"] / 1e3, op=props.get(OP_PROPERTY),
                stages=list(ev.get("Stage IDs", [])),
                execution=int(exe) if exe is not None else None,
            )
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(ev["Job ID"])
            if job:
                job.end = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            info, m = ev.get("Task Info") or {}, ev.get("Task Metrics") or {}
            self.tasks.append(Task(
                stage=ev["Stage ID"],
                launch=info.get("Launch Time", 0) / 1e3,
                finish=info.get("Finish Time", 0) / 1e3,
                run_s=m.get("Executor Run Time", 0) / 1e3,
                cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                gc_s=m.get("JVM GC Time", 0) / 1e3,
                spill_bytes=m.get("Disk Bytes Spilled", 0),
                shuffle_write_bytes=(m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                records_read=(m.get("Input Metrics") or {}).get("Records Read", 0),
                bytes_written=(m.get("Output Metrics") or {}).get("Bytes Written", 0),
            ))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            self.scans[info["Stage ID"]] = frozenset(
                m.group(1) for r in info.get("RDD Info", []) for m in [_SCAN.search(r.get("Scope") or "")] if m
            )
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self.executions[ev["executionId"]] = Execution(
                ev["executionId"], ev["time"] / 1e3, plan=ev.get("physicalPlanDescription", "")
            )
        elif kind.endswith("SparkListenerSQLExecutionEnd"):
            exe = self.executions.get(ev["executionId"])
            if exe:
                exe.end = ev["time"] / 1e3

    # --- selections -------------------------------------------------------------

    def jobs_in(self, lo: float, hi: float) -> List[Job]:
        return [j for j in self.jobs.values() if j.start >= lo and j.start <= hi]

    def jobs_of(self, op: str) -> List[Job]:
        return [j for j in self.jobs.values() if j.op == op]

    def tasks_of(self, jobs: List[Job]) -> List[Task]:
        ids = {j.id for j in jobs}
        return [t for t in self.tasks if self.stage_job.get(t.stage) in ids]

    def summary(self, jobs: List[Job], lo: float, hi: float) -> dict:
        """Counts and times of a set of jobs inside a wall interval."""
        tasks = self.tasks_of(jobs)
        return {
            "wall_s": hi - lo,
            "jobs": len(jobs),
            "tasks": len(tasks),
            "executor_s": sum(t.run_s for t in tasks),
            "executor_cpu_s": sum(t.cpu_s for t in tasks),
            "gc_s": sum(t.gc_s for t in tasks),
            "spill_mb": sum(t.spill_bytes for t in tasks) / MB,
            "shuffle_write_mb": sum(t.shuffle_write_bytes for t in tasks) / MB,
            "bytes_written_mb": sum(t.bytes_written for t in tasks) / MB,
            "records_read": sum(t.records_read for t in tasks),
            "outside_jobs_s": (hi - lo) - covered([(j.start, j.end) for j in jobs], lo, hi),
        }


class RssSampler:
    """Peak summed resident memory of this process and its descendants,
    sampled from /proc every ``interval`` seconds on a daemon thread."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(os.getpid()))


def tree_rss_bytes(root: int) -> int:
    children: Dict[int, List[int]] = {}
    rss: Dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended while we looked
        pid = int(entry)
        children.setdefault(int(fields[1]), []).append(pid)
        rss[pid] = int(fields[21]) * page
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total
