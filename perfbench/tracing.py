"""Spans, Spark job-group counts, event-log metrics and process memory.

A span has a name, a start, an end, a parent and the id of the op it
belongs to. Spans are kept in memory and written once, when the run ends.
A span's self time is its duration minus the part of it its child spans
cover, so ``core.io.load_table`` inside a query's ``build`` span (its
``Query.fn`` call) is counted once.

Every op runs its phases under its own Spark job group
(``<op id>:<phase>``), in traced and untraced runs alike, so Spark's
``statusTracker`` attributes jobs, stages and tasks to a phase, and the
event log attributes executor time and shuffle bytes to an op.
"""

from __future__ import annotations

import contextlib
import ctypes
import gc
import json
import os
import time
from dataclasses import dataclass

JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: str | None


class Tracer:
    """Collects spans while ``enabled``; a no-op context otherwise."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: dict[str, list[float]] = {}
        self._stack: list[int] = []
        self.op_id: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts.setdefault(name, []).append(value)

    def self_times(self, op_ids: set) -> dict[str, float]:
        """Total self time per span name over the spans of ``op_ids``, in
        seconds. A span's children belong to its op."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s.op_id in op_ids:
                out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child[i]
        return out

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


@contextlib.contextmanager
def job_group(sc, group: str):
    """Run the block's Spark jobs under ``group``; restore the outer group."""
    outer = sc.getLocalProperty(JOB_GROUP)
    sc.setLocalProperty(JOB_GROUP, group)
    try:
        yield
    finally:
        sc.setLocalProperty(JOB_GROUP, outer)


def group_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under ``group``, from statusTracker."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            stages += 1
            sinfo = st.getStageInfo(sid)
            tasks += sinfo.numTasks if sinfo is not None else 0
    return len(jobs), stages, tasks


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------

EVENTLOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


def eventlog_by_group(path: str) -> dict[str, dict]:
    """Executor metrics and job intervals per job group, from one event log.

    Per group: executor_run_s, executor_cpu_s, gc_s, shuffle_read_mb,
    shuffle_write_mb, spill_mb and ``intervals`` (job submit, end seconds).
    """
    stage_group: dict[int, str] = {}
    job_group_of: dict[int, str] = {}
    job_start: dict[int, float] = {}
    out: dict[str, dict] = {}

    def slot(g: str) -> dict:
        return out.setdefault(
            g,
            {
                "executor_run_s": 0.0,
                "executor_cpu_s": 0.0,
                "gc_s": 0.0,
                "shuffle_read_mb": 0.0,
                "shuffle_write_mb": 0.0,
                "spill_mb": 0.0,
                "intervals": [],
            },
        )

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get(JOB_GROUP)
                if g is None:
                    continue
                jid = ev["Job ID"]
                job_group_of[jid] = g
                job_start[jid] = ev["Submission Time"] / 1000.0
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = g
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_group_of:
                    slot(job_group_of[jid])["intervals"].append(
                        (job_start[jid], ev["Completion Time"] / 1000.0)
                    )
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if g is None or not m:
                    continue
                s = slot(g)
                s["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                s["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                s["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                rd = m.get("Shuffle Read Metrics", {})
                s["shuffle_read_mb"] += (rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)) / 2**20
                s["shuffle_write_mb"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 2**20
                s["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 2**20
    return out


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] during which at least one interval is running."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# --------------------------------------------------------------------------
# process memory
# --------------------------------------------------------------------------


def steal_cpu_s() -> float:
    """CPU seconds the hypervisor has taken from this host since boot."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def tree_cpu_s() -> float:
    """CPU seconds used by this process and everything under it (the JVM and
    the Python workers), including children they have already reaped."""
    tck, total = os.sysconf("SC_CLK_TCK"), 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / tck


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _children(pid: int) -> list[int]:
    """Child processes of every thread of ``pid``."""
    out = []
    try:
        threads = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in threads:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(p) for p in f.read().split()]
        except OSError:
            pass
    return out


def descendants(pid: int) -> list[int]:
    out, frontier = [], _children(pid)
    while frontier:
        p = frontier.pop()
        out.append(p)
        frontier.extend(_children(p))
    return out


def _python_workers() -> list[int]:
    """The ``python`` descendants of this driver: Spark's Python workers."""
    out = []
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().split(b"\0")[0]
        except OSError:
            continue
        if b"python" in os.path.basename(cmd):
            out.append(pid)
    return out


def reset_peak_rss() -> None:
    """Start the high-water marks of the driver and the Python workers anew.

    Frees what the driver no longer holds first (garbage, then the C
    allocator's free pages), so the driver's new mark starts from what it
    still uses. Writing 5 to ``clear_refs`` sets VmHWM to the current RSS.
    """
    gc.collect()
    with contextlib.suppress(OSError, AttributeError):
        ctypes.CDLL("libc.so.6").malloc_trim(0)
    for pid in [os.getpid(), *_python_workers()]:
        with contextlib.suppress(OSError):
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")


def peak_rss_mb() -> float:
    """VmHWM of this driver process plus the largest Python worker under it,
    since the last ``reset_peak_rss``.

    The JVM is left out: G1 grows the heap lazily, so its high-water mark
    varies by GBs between identical runs.
    """
    workers = [_vm_hwm_mb(pid) for pid in _python_workers()]
    return _vm_hwm_mb(os.getpid()) + max(workers, default=0.0)
