"""Measurement primitives of the benchmark: spans, the failure ledger, memory high-water marks and the Spark event-log reader.

Nothing here imports pyspark, so the arithmetic is testable without a JVM.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from collections.abc import Iterable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# Failure ledger
# ---------------------------------------------------------------------------


@dataclass
class Ledger:
    """Every attempted operation and why it failed, if it did: it raised, or
    its output did not match its reference. An operation fails at most
    once however many reasons it collects."""

    labels: list[str] = field(default_factory=list)
    reasons: dict[int, list[str]] = field(default_factory=dict)

    def attempt(self, label: str) -> int:
        self.labels.append(label)
        return len(self.labels) - 1

    def fail(self, idx: int, reason: str) -> None:
        self.reasons.setdefault(idx, []).append(reason)

    @property
    def attempted(self) -> int:
        return len(self.labels)

    @property
    def failed(self) -> int:
        return len(self.reasons)

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0

    def report(self) -> list[str]:
        return [
            f"{self.labels[i]}: {'; '.join(rs)}" for i, rs in sorted(self.reasons.items())
        ]


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total, cur_s, cur_e = 0.0, None, None
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    out = {}
    for s in spans:
        clipped = [
            (max(a, s.start), min(b, s.end))
            for a, b in kids.get(s.sid, [])
            if b > s.start and a < s.end
        ]
        out[s.sid] = s.duration - _covered(clipped)
    return out


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.name] += st[s.sid]
    return dict(out)


class Tracer:
    """Records spans in memory. With ``enabled=False`` every call is a no-op
    apart from the clock reads the caller needs anyway."""

    def __init__(self, enabled: bool, clock=time.perf_counter):
        self.enabled = enabled
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.own_s = 0.0  # time spent in the tracer's own bookkeeping

    @contextmanager
    def span(self, name: str, op: int | None = None) -> Iterator[Span | None]:
        if not self.enabled:
            yield None
            return
        t0 = self.clock()
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        s = Span(len(self.spans), name, parent, op, 0.0)
        self.spans.append(s)
        self._stack.append(s.sid)
        s.start = self.clock()
        self.own_s += s.start - t0
        try:
            yield s
        finally:
            s.end = self.clock()
            self._stack.pop()
            self.own_s += self.clock() - s.end

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


# ---------------------------------------------------------------------------
# Memory
# ---------------------------------------------------------------------------


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Resident-set high-water mark of a process, from /proc/<pid>/status."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _stat(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        # the command name (field 2) may hold spaces; fields after it don't
        return fh.read().rsplit(")", 1)[1].split()


def cpu_s(pids: Iterable[int]) -> float:
    """CPU seconds used so far by the given processes, their descendants,
    and descendants already reaped (``cutime``/``cstime``)."""
    children: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                children[int(_stat(int(name))[1])].append(int(name))
            except OSError:  # exited while listing
                pass
    tick = os.sysconf("SC_CLK_TCK")
    total, todo, seen = 0.0, list(pids), set()
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        try:
            f = _stat(pid)
        except OSError:
            continue
        # utime, stime, cutime, cstime are fields 14-17 of /proc/<pid>/stat
        total += sum(int(x) for x in f[11:15]) / tick
        todo.extend(children.get(pid, ()))
    return total


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


@dataclass
class GroupStats:
    """Work done by the Spark jobs of one job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    scan_bytes: int = 0
    scan_tasks: int = 0

    def add(self, other: GroupStats) -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


def read_event_log(lines: Iterable[str]) -> dict[str, GroupStats]:
    """Aggregate a Spark JSON event log by job group (``spark.jobGroup.id``).
    Stages belong to the group of the job that submitted them; tasks count
    toward their stage's group. Jobs without a group are dropped."""
    stage_group: dict[int, str] = {}
    stages_seen: set[int] = set()
    out: dict[str, GroupStats] = defaultdict(GroupStats)
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            out[group].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            group = stage_group.get(sid)
            if group is not None and sid not in stages_seen:
                stages_seen.add(sid)
                out[group].stages += 1
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            m = ev.get("Task Metrics")
            if group is None or not m:
                continue
            g = out[group]
            g.tasks += 1
            g.task_run_s += m.get("Executor Run Time", 0) / 1e3
            g.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            g.gc_s += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            g.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            g.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            g.spill_bytes += m.get("Disk Bytes Spilled", 0)
            read = (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            if read:
                g.scan_bytes += read
                g.scan_tasks += 1
    return dict(out)


def read_event_log_dir(path: str) -> dict[str, GroupStats]:
    """``read_event_log`` over the event files of one application under
    ``path`` (a plain file or a rolling-log directory of ``events_*``)."""
    files = sorted(
        os.path.join(d, f)
        for d, _, names in os.walk(path)
        for f in names
        if f.startswith(("events_", "local-", "app-"))
    )

    def lines():
        for name in files:
            with open(name) as fh:
                yield from fh

    return read_event_log(lines())
