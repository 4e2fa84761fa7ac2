"""Spans, Spark job-group attribution, the event-log parser, and process-tree sampling.

Spans are recorded by the benchmark around its calls into the package's
public functions (the package itself is not instrumented).  In a traced run
each span sets a Spark job group, so every Spark job it starts can be found
again in the event log and its tasks' metrics summed per span.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans: name, start, end, parent.  With a SparkContext the
    span also names the Spark job group of every job started inside it."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list = []
        self._stack: list = []

    def group(self, span: dict) -> str:
        return f"perfbench-{span['id']}"

    def _set_group(self, span) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(self.group(span), span["name"])

    @contextmanager
    def span(self, name: str):
        span = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(span)
        self._stack.append(span)
        self._set_group(span)
        t0 = time.perf_counter()
        try:
            yield span
        finally:
            span["wall_s"] = time.perf_counter() - t0
            span["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def jobs_started(self, span: dict) -> int:
        """Spark jobs started so far under ``span``'s job group."""
        return len(self.sc.statusTracker().getJobIdsForGroup(self.group(span)))


# ---------------------------------------------------------------- event log


class EventLog:
    """The parts of a Spark event log the per-span metrics need."""

    def __init__(self):
        self.jobs: dict = {}  # job id -> {group, submit_ms, end_ms, stages}
        self.stage_job: dict = {}  # stage id -> first job listing it
        self.tasks: dict = {}  # stage id -> [task dict]

    @classmethod
    def read(cls, log_dir: str) -> "EventLog":
        log = cls()
        files = []
        for root, _, names in os.walk(log_dir):
            for name in names:
                if name.startswith((".", "appstatus")):
                    continue
                files.append(os.path.join(root, name))

        def rolling_index(path):
            parts = os.path.basename(path).split("_")
            return (os.path.dirname(path), int(parts[1]) if parts[0] == "events" else 0)

        for path in sorted(files, key=rolling_index):
            with open(path) as f:
                for line in f:
                    log._add(json.loads(line))
        return log

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "submit_ms": e["Submission Time"],
                "end_ms": None,
                "stages": e["Stage IDs"],
            }
            for sid in e["Stage IDs"]:
                self.stage_job.setdefault(sid, e["Job ID"])
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(e["Job ID"])
            if job is not None:
                job["end_ms"] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            m = e.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            self.tasks.setdefault(e["Stage ID"], []).append(
                {
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "fetch_wait_ms": sr.get("Fetch Wait Time", 0),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    "peak_mem": m.get("Peak Execution Memory", 0),
                    "failed": bool(info.get("Failed")),
                }
            )

    def jobs_in(self, groups) -> list:
        return [jid for jid, j in self.jobs.items() if j["group"] in groups]

    def stats(self, groups, wall_s: float, nproc: int) -> dict:
        """Summed task metrics of every job started under ``groups``."""
        jobs = set(self.jobs_in(groups))
        stages = [sid for sid, jid in self.stage_job.items() if jid in jobs and sid in self.tasks]
        tasks = [t for sid in stages for t in self.tasks[sid]]
        cpu_s = sum(t["cpu_ns"] for t in tasks) / 1e9
        run_s = sum(t["run_ms"] for t in tasks) / 1e3
        skew = 1.0
        if stages:
            widest = max(stages, key=lambda sid: len(self.tasks[sid]))
            runs = [t["run_ms"] for t in self.tasks[widest]]
            skew = max(runs) / max(statistics.median(runs), 1)
        return {
            "jobs": len(jobs),
            "tasks": len(tasks),
            "cpu_s": cpu_s,
            "run_s": run_s,
            "gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
            "core_util": cpu_s / (wall_s * nproc) if wall_s > 0 else 0.0,
            "slot_util": run_s / (wall_s * nproc) if wall_s > 0 else 0.0,
            "task_skew": skew,
            "shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
            "shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
            "fetch_wait_s": sum(t["fetch_wait_ms"] for t in tasks) / 1e3,
            "spill_bytes": sum(t["spill"] for t in tasks),
            "peak_exec_mem_bytes": max((t["peak_mem"] for t in tasks), default=0),
            "failed_tasks": sum(t["failed"] for t in tasks),
        }

    def busy_s(self, groups, start_ms: float, end_ms: float) -> float:
        """Seconds of [start_ms, end_ms] during which at least one job of
        ``groups`` was running (the union of their intervals)."""
        intervals = sorted(
            (max(j["submit_ms"], start_ms), min(j["end_ms"] or end_ms, end_ms))
            for jid, j in self.jobs.items()
            if j["group"] in groups
        )
        busy, cur_s, cur_e = 0.0, None, None
        for s, e in intervals:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        return busy / 1e3


# ------------------------------------------------------------ process tree


def _children_map() -> dict:
    children: dict = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    return children


def descendants(root: int | None = None) -> list:
    """Pids of every live process below ``root`` (default: this process)."""
    children = _children_map()
    out, todo = [], [root or os.getpid()]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes() -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in [os.getpid()] + descendants():
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class PeakRss:
    """Samples the resident memory of this process and all its descendants
    (JVM, Python workers) on a background thread; ``stop()`` joins it."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(self.interval_s)

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak


def wait_gone(pids, timeout_s: float = 30.0) -> list:
    """Wait until none of ``pids`` is alive; returns those still alive."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        if alive:
            time.sleep(0.1)
    return alive


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return False
