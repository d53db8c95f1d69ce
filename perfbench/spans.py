"""In-memory spans, Spark event-log totals, /proc readers and the
percentile rule the benchmark reports by.

Spans are recorded from the benchmark's own files around each call into
an engine layer. In a traced run every span also sets a Spark job group,
so jobs (and their tasks, from the event log) are attributed to the span
that launched them.
"""

from __future__ import annotations

import glob
import itertools
import json
import math
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass

# ---------------------------------------------------------------------------
# percentiles
# ---------------------------------------------------------------------------


def median(values) -> float:
    return float(statistics.median(values)) if values else float("nan")


def tail(values, pcts=(99, 95, 90, 75)) -> tuple[float, float]:
    """(percentile, value) for the highest of ``pcts`` that the sample
    supports; falls back to the median."""
    for p in pcts:
        v = supported_percentile(values, p)
        if v is not None:
            return float(p), v
    return 50.0, median(values)


def supported_percentile(values, pct: float) -> float | None:
    """The ``pct``-th percentile (nearest rank), or None when fewer than
    ten samples lie beyond it: a tail figure resting on a handful of
    samples does not repeat from run to run."""
    n = len(values)
    if n == 0:
        return None
    rank = max(1, math.ceil(pct / 100.0 * n))
    if n - rank < 10:
        return None
    return float(sorted(values)[rank - 1])


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    run_id: str

    @property
    def group(self) -> str:
        return f"{self.run_id}.{self.span_id}"


class Tracer:
    """Records spans while ``enabled``; a disabled tracer costs one branch.

    Spans nest through a stack (the benchmark is single-threaded where it
    traces), and each span's job group is restored on exit so jobs
    launched by the parent after a child returns stay the parent's."""

    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), name, layer, time.time(), float("nan"),
                 parent.span_id if parent else None, self.run_id)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(s)

    def wrap(self, fn, name: str, layer: str):
        """``fn`` with a span around every call (used to patch the name a
        plan module imported, in traced runs only)."""

        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def self_times(self) -> dict[str, float]:
        """Per-layer self time: each span's duration minus the time its
        direct children cover (children run sequentially inside it)."""
        child = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s.end - s.start) - child.get(s.span_id, 0.0)
            out[s.layer] = out.get(s.layer, 0.0) + own
        return out

    def total(self, layer: str) -> tuple[int, float]:
        """(calls, seconds) over spans of ``layer``."""
        sel = [s for s in self.spans if s.layer == layer]
        return len(sel), sum(s.end - s.start for s in sel)

    def groups(self, layer: str) -> set[str]:
        return {s.group for s in self.spans if s.layer == layer}

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "run_id": s.run_id, "span_id": s.span_id, "parent": s.parent,
                    "name": s.name, "layer": s.layer, "start": s.start, "end": s.end,
                }) + "\n")


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


@dataclass
class EventLog:
    jobs: dict  # job id -> {"group", "submit", "end", "stages"}
    tasks: list  # per-task dicts: stage, launch, finish, metric fields


def read_event_log(log_dir: str) -> EventLog:
    """Parse the one uncompressed event log in ``log_dir`` (the session
    must be stopped first so the log is complete)."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    jobs: dict[int, dict] = {}
    tasks: list[dict] = []
    with open(paths[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "submit": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": set(ev.get("Stage IDs", [])),
                }
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
                tasks.append({
                    "stage": ev["Stage ID"],
                    "launch": info.get("Launch Time", 0) / 1000.0,
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    "records_read": (m.get("Input Metrics") or {}).get("Records Read", 0),
                })
    return EventLog(jobs, tasks)


def exec_totals(log: EventLog, job_ids) -> dict[str, float]:
    """exec.* over the given jobs; run_s is the wall time covered by at
    least one of them running."""
    jobs = {j: log.jobs[j] for j in job_ids}
    stages = set().union(*(v["stages"] for v in jobs.values())) if jobs else set()
    tasks = [t for t in log.tasks if t["stage"] in stages]
    intervals = sorted((v["submit"], v["end"] or v["submit"]) for v in jobs.values())
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in intervals:
        if cur_e is None or s > cur_e:
            covered += (cur_e - cur_s) if cur_e is not None else 0.0
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    covered += (cur_e - cur_s) if cur_e is not None else 0.0
    return {
        "exec.run_s": covered,
        "exec.jobs": len(jobs),
        "exec.stages": len(stages),
        "exec.tasks": len(tasks),
        "exec.executor_run_s": sum(t["run_ms"] for t in tasks) / 1e3,
        "exec.executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "exec.gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
        "exec.shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
        "exec.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
        "exec.spill_bytes": sum(t["spill"] for t in tasks),
    }


def group_jobs(log: EventLog, groups: set[str]) -> list[int]:
    return [j for j, v in log.jobs.items() if v["group"] in groups]


def group_records_read(log: EventLog, groups: set[str]) -> int:
    stages = set()
    for j in group_jobs(log, groups):
        stages |= log.jobs[j]["stages"]
    return sum(t["records_read"] for t in log.tasks if t["stage"] in stages)


# ---------------------------------------------------------------------------
# /proc
# ---------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def proc_cpu_s(pid: int, children: bool = True) -> float:
    """utime+stime (+ reaped children's) of one process, in seconds."""
    f = _stat_fields(pid)
    if f is None:
        return 0.0
    ticks = int(f[11]) + int(f[12])
    if children:
        ticks += int(f[13]) + int(f[14])
    return ticks / _TICK


def descendants(root: int) -> list[int]:
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat_fields(int(d))
            if f is not None:
                parent[int(d)] = int(f[1])
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def peak_rss_mb(pids) -> float:
    """Sum of VmHWM (peak resident set) over ``pids``."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def steal_jiffies() -> int:
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def loadavg() -> tuple[float, float]:
    with open("/proc/loadavg") as fh:
        a = fh.read().split()
    return float(a[0]), float(a[1])
