"""Measurement plumbing: statistics, spans, /proc I/O counters, peak RSS
and the Spark event-log reader.

Everything here observes the program from outside: spans are opened by the
benchmark around calls into the package, Spark job and task numbers come
from Spark's own event log, I/O comes from /proc and peak memory from
getrusage.
"""

from __future__ import annotations

import glob
import json
import os
import resource
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

# the latency ladder: the highest percentile with at least TAIL_MIN_BEYOND
# samples beyond it is reported as the tail
TAIL_LADDER = (99, 90, 75)
TAIL_MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no values")
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail(values: list[float]) -> tuple[str, float, int]:
    """(label, value, samples beyond) of the highest percentile on the
    ladder with at least TAIL_MIN_BEYOND samples beyond it; the maximum
    when there are too few samples for any of them."""
    n = len(values)
    for p in TAIL_LADDER:
        beyond = int(n * (100 - p) / 100.0)
        if beyond >= TAIL_MIN_BEYOND:
            return f"p{p}", percentile(values, p), beyond
    return "max", max(values), 0


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

@dataclass
class Span:
    id: int
    op: str          # id shared by every span of one op
    name: str
    start: float     # time.monotonic() seconds
    end: float
    parent: int | None


class Tracer:
    """In-memory span recorder; with `enabled=False` it records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()

    def add(self, op: str, name: str, start: float, end: float,
            parent: int | None = None) -> int | None:
        if not self.enabled:
            return None
        with self._lock:
            sid = len(self.spans)
            self.spans.append(Span(sid, op, name, start, end, parent))
        return sid

    @contextmanager
    def span(self, op: str, name: str, parent: int | None = None):
        """Time the block as one span; yields its id (None when disabled),
        which spans opened inside the block pass as their parent."""
        sid = self.add(op, name, time.monotonic(), 0.0, parent)
        try:
            yield sid
        finally:
            if sid is not None:
                self.spans[sid].end = time.monotonic()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def union_length(intervals) -> float:
    """Total length covered by (start, end) intervals, overlaps once."""
    covered = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return covered


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time per span: its duration minus the part of its interval that
    its children cover (the union, so overlapping children count once)."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    return {s.id: (s.end - s.start) - union_length(
                (max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.id, ()))
            for s in spans}


# ---------------------------------------------------------------------------
# /proc: the driver process tree
# ---------------------------------------------------------------------------

def _tree(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            parent[int(d)] = int(fields[1])
        except (OSError, IndexError, ValueError):
            continue
    out, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        out.extend(frontier)
    return out


def tree_io_bytes(root: int) -> tuple[int, int]:
    """(read_bytes, write_bytes) that reached storage, summed over the
    process tree (/proc/<pid>/io)."""
    rd = wr = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/io") as fh:
                kv = dict(line.split(": ") for line in fh.read().splitlines())
            rd += int(kv["read_bytes"])
            wr += int(kv["write_bytes"])
        except (OSError, KeyError, ValueError):
            continue
    return rd, wr


def dir_bytes(path: str | None) -> int:
    """Total size of the files directly under path (0 when path is None)."""
    if path is None:
        return 0
    return sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))


def peak_rss_bytes() -> int:
    """Peak RSS of this process plus the largest peak among its waited-for
    descendants (the JVM, once stopped): getrusage's ru_maxrss, in KiB."""
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    kids = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss
    return (own + kids) * 1024


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

# SQL metrics of the Python-boundary operators; the timings are in ms
PY_ACCUMS = {
    "time to run Python workers": "udf_ms",
    "time to start Python workers": "boot_ms",
    "time to initialize Python workers": "init_ms",
    "data sent to Python workers": "sent_b",
    "data returned from Python workers": "recv_b",
}


@dataclass
class JobRecord:
    job_id: int
    group: str | None
    start_ms: int
    end_ms: int = 0


def read_event_log(log_dir: str) -> tuple[list[JobRecord], dict[str, dict]]:
    """Parse every event file under log_dir.

    Returns the jobs (with their job group) and, per job group, the summed
    task metrics: tasks, failed_tasks, task_ms, cpu_ns, gc_ms, shuffle
    read/write bytes, spill bytes and the Python-boundary accumulables,
    plus scan_b, the "size of files read" of the group's file scans (a
    driver-side SQL metric)."""
    jobs: dict[int, JobRecord] = {}
    stage_group: dict[int, str | None] = {}
    stage_seen: set[tuple[int, int]] = set()
    per_group: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    acc_name: dict[int, str] = {}
    exec_group: dict[int, str | None] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"].rsplit(".", 1)[-1]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    jid = ev["Job ID"]
                    jobs[jid] = JobRecord(jid, group, ev["Submission Time"])
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
                    group = stage_group.get(info["Stage ID"])
                    if group is not None and key not in stage_seen:
                        stage_seen.add(key)
                        per_group[group]["stages_run"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    if group is not None:
                        _add_task(per_group[group], ev)
                elif kind in ("SparkListenerSQLExecutionStart",
                              "SparkListenerSQLAdaptiveExecutionUpdate"):
                    if kind == "SparkListenerSQLExecutionStart":
                        exec_group[ev["executionId"]] = ev.get("jobGroupId")
                    _plan_metric_names(ev.get("sparkPlanInfo") or {}, acc_name)
                elif kind == "SparkListenerDriverAccumUpdates":
                    group = exec_group.get(ev["executionId"])
                    if group is None:
                        continue
                    for acc_id, value in ev.get("accumUpdates", []):
                        if acc_name.get(acc_id) == "size of files read":
                            per_group[group]["scan_b"] += float(value)
    for jr in jobs.values():
        if jr.group is not None:
            per_group[jr.group]["jobs"] += 1
    return sorted(jobs.values(), key=lambda j: j.job_id), per_group


def _plan_metric_names(plan: dict, out: dict[int, str]) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", []):
        _plan_metric_names(child, out)


def _add_task(acc: dict, ev: dict) -> None:
    info = ev.get("Task Info", {})
    acc["tasks"] += 1
    if info.get("Failed") or info.get("Killed"):
        acc["failed_tasks"] += 1
    m = ev.get("Task Metrics") or {}
    acc["task_ms"] += m.get("Executor Run Time", 0)
    acc["cpu_ns"] += m.get("Executor CPU Time", 0)
    acc["gc_ms"] += m.get("JVM GC Time", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    acc["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    acc["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0)
    acc["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    for a in info.get("Accumulables", []):
        key = PY_ACCUMS.get(a.get("Name"))
        if key is not None:
            acc[key] += float(a.get("Update", 0) or 0)


def catalyst_phases(df) -> dict[str, float]:
    """Catalyst phase durations (seconds) of a DataFrame's last execution,
    read from its QueryPlanningTracker through py4j."""
    out = {}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs() / 1000.0
    return out
