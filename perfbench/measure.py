"""Measurement helpers: percentiles, spans, job groups, event log, /proc.

Nothing here imports Spark, so the helpers are testable with fakes.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


def tail_percentile(samples: list[float], min_beyond: int = 10) -> tuple[int, float] | None:
    """Highest whole percentile (nearest rank) with at least
    ``min_beyond`` samples above its rank, as ``(p, value)``.

    Returns None when that percentile would not lie above the median:
    the sample is then too small to say anything about its tail.
    """
    n = len(samples)
    ordered = sorted(samples)
    for p in range(99, 50, -1):
        rank = math.ceil(p * n / 100)
        if n - rank >= min_beyond:
            return p, ordered[rank - 1]
    return None


def median(samples: list[float]) -> float:
    return statistics.median(samples) if samples else 0.0


@dataclass
class Span:
    name: str
    kind: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: str = ""


@dataclass
class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    enabled: bool = True
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, kind: str, op: str = ""):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if not op and parent is not None:
            op = self.spans[parent].op
        self.spans.append(Span(name, kind, time.perf_counter(), parent=parent, op=op))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def total(self, kind: str, name: str | None = None) -> float:
        return sum(
            s.end - s.start
            for s in self.spans
            if s.kind == kind and (name is None or s.name == name)
        )

    def count(self, kind: str) -> int:
        return sum(1 for s in self.spans if s.kind == kind)

    def self_times(self) -> dict[str, float]:
        """Seconds per span kind not covered by that span's children."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            covered = _covered(s.start, s.end, children.get(i, []))
            out[s.kind] = out.get(s.kind, 0.0) + (s.end - s.start) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s.__dict__}) + "\n")


def _covered(start: float, end: float, kids: list[Span]) -> float:
    """Length of the union of the children's intervals, clipped to
    [start, end]; overlapping children are not counted twice."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted((max(k.start, start), min(k.end, end)) for k in kids):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


@dataclass
class GroupCounts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    skipped_stages: int = 0

    def add(self, other: "GroupCounts") -> None:
        for k in self.__dict__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


class JobGroups:
    """Run code under named Spark job groups and count their work.

    ``sc`` needs ``setJobGroup``, ``getLocalProperty``,
    ``setLocalProperty`` and ``statusTracker()``.  :meth:`collect`
    reads each group's jobs by its id right after the call, never as a
    set difference over all retained jobs (Spark forgets jobs past
    ``spark.ui.retainedJobs``, which turned such deltas negative).
    """

    def __init__(self, sc, prefix: str):
        self.sc = sc
        self.prefix = prefix
        self._n = 0
        self._pending: list[tuple[str, str, str]] = []
        self._by: dict[tuple[str, str], GroupCounts] = {}

    @contextmanager
    def group(self, kind: str, label: str):
        self._n += 1
        gid = f"{self.prefix}:{kind}:{label}:{self._n}"
        self._pending.append((gid, kind, label))
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobGroup(gid, label)
        try:
            yield gid
        finally:
            if prev is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(prev, prev_desc or "")

    def read(self, gid: str) -> GroupCounts:
        tracker = self.sc.statusTracker()
        out = GroupCounts()
        stage_ids: set[int] = set()
        for jid in tracker.getJobIdsForGroup(gid) or []:
            out.jobs += 1
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            st = tracker.getStageInfo(sid)
            if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                # listed by a job but never run: its shuffle output existed
                out.skipped_stages += 1
                continue
            out.stages += 1
            out.tasks += st.numCompletedTasks + st.numFailedTasks
            out.failed_tasks += st.numFailedTasks
        return out

    def collect(self) -> None:
        """Read every group opened since the last call into the totals."""
        for gid, kind, label in self._pending:
            self._by.setdefault((kind, label), GroupCounts()).add(self.read(gid))
        self._pending.clear()

    def totals(self, *kinds: str) -> GroupCounts:
        out = GroupCounts()
        for (kind, _label), c in self._by.items():
            if kind in kinds:
                out.add(c)
        return out

    def label_totals(self, kind: str, label: str) -> GroupCounts:
        return self._by.get((kind, label), GroupCounts())


EVENT_METRICS = (
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "gc_s",
    "executor_run_s",
)


def _event_files(log_dir: str) -> list[str]:
    """Event log files in write order: a plain log file, or the
    ``events_<n>_<app>`` parts of a rolling ``eventlog_v2_*`` dir."""
    out = []
    for dirpath, _dirs, names in os.walk(log_dir):
        for n in names:
            if n.startswith((".", "appstatus_")):  # checksums, status marker
                continue
            part = n.split("_")[1] if n.startswith("events_") else "0"
            out.append((dirpath, int(part) if part.isdigit() else 0, n))
    return [os.path.join(d, n) for d, _i, n in sorted(out)]


def parse_event_log(log_dir: str, prefix: str) -> dict[str, float]:
    """Sum task metrics of the jobs whose group id starts with
    ``prefix`` over the Spark event log under ``log_dir``."""
    out = dict.fromkeys(EVENT_METRICS, 0.0)
    stage_in_scope: dict[int, bool] = {}
    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    for sid in ev.get("Stage IDs", []):
                        stage_in_scope.setdefault(sid, gid.startswith(prefix))
                elif kind == "SparkListenerTaskEnd":
                    if not stage_in_scope.get(ev.get("Stage ID"), False):
                        continue
                    m = ev.get("Task Metrics") or {}
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    out["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                        "Local Bytes Read", 0
                    )
                    out["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
                    out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    out["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    out["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
    return out


_TICK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


def _stat(pid: int) -> tuple[int, float, float] | None:
    """(ppid, own cpu s, reaped children's cpu s) from /proc/<pid>/stat."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    rest = raw[raw.rindex(")") + 2 :].split()
    ppid = int(rest[1])
    own = (int(rest[11]) + int(rest[12])) / _TICK
    reaped = (int(rest[13]) + int(rest[14])) / _TICK
    return ppid, own, reaped


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _peak_rss_mb(pid: int | None) -> float:
    if pid is None:
        return 0.0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class ProcTree:
    """CPU seconds of the Python driver, its JVM, and the
    ``pyspark.daemon`` processes under the JVM (live workers plus the
    CPU of workers the daemon has already reaped)."""

    def __init__(self, driver_pid: int | None = None):
        self.driver = driver_pid or os.getpid()

    def _table(self) -> dict[int, tuple[int, float, float]]:
        out = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                st = _stat(int(entry))
                if st is not None:
                    out[int(entry)] = st
        return out

    def jvm_pid(self, table=None) -> int | None:
        table = table if table is not None else self._table()
        for pid, (ppid, _, _) in table.items():
            if ppid == self.driver and "java" in _cmdline(pid):
                return pid
        return None

    def _daemons(self, table) -> tuple[int | None, set[int]]:
        jvm = self.jvm_pid(table)
        return jvm, {
            pid
            for pid, (ppid, _, _) in table.items()
            if ppid == jvm and "pyspark.daemon" in _cmdline(pid)
        }

    def cpu(self) -> dict[str, float]:
        table = self._table()
        jvm, daemons = self._daemons(table)
        out = {
            "driver_s": table.get(self.driver, (0, 0.0, 0.0))[1],
            "jvm_s": table[jvm][1] if jvm in table else 0.0,
            "py_worker_s": 0.0,
        }
        for pid, (ppid, own, reaped) in table.items():
            if pid in daemons:
                out["py_worker_s"] += own + reaped
            elif ppid in daemons:
                out["py_worker_s"] += own
        return out

    def python_pids(self) -> list[int]:
        """The pyspark.daemon processes under the JVM and their workers."""
        table = self._table()
        _jvm, daemons = self._daemons(table)
        return sorted(daemons) + [pid for pid, (ppid, _, _) in table.items() if ppid in daemons]

    def peak_rss_mb(self) -> dict[str, float]:
        return {
            "driver_peak_rss_mb": _peak_rss_mb(self.driver),
            "jvm_peak_rss_mb": _peak_rss_mb(self.jvm_pid()),
        }


def tree_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``; 0s when it does not exist."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
            except OSError:
                pass
    return files, size
