"""Spans, Spark job accounting, event-log parsing and memory sampling.

Spans are recorded by the benchmark around its own calls into the
program's modules; nothing inside ``elusion_spark`` is instrumented.  Each
span runs under its own Spark job group, so the jobs a span launches are
read back from ``statusTracker`` and, after the session stops, from the
event log.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import operator
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    group: str = ""
    request: int | None = None
    jobs: list[int] = field(default_factory=list)


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping ``(start, end)`` pairs."""
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


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        inner = [(max(a, s.start), min(b, s.end)) for a, b in children.get(i, [])]
        out.append((s.end - s.start) - union_length([p for p in inner if p[1] > p[0]]))
    return out


class Tracer:
    """Records spans when enabled; a disabled tracer costs one branch."""

    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.request: int | None = None

    @contextmanager
    def span(self, layer: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(layer, time.perf_counter(), parent=parent,
                 group=f"r{self.request}.s{idx}", request=self.request)
        self.spans.append(s)
        self._stack.append(idx)
        self.sc.setJobGroup(s.group, layer)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            s.jobs = list(self.sc.statusTracker().getJobIdsForGroup(s.group))
            if parent is not None:
                self.sc.setJobGroup(self.spans[parent].group, self.spans[parent].layer)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap_modules(self, layers: dict[str, tuple[str, ...]]) -> None:
        """Record a span of ``layer`` around every public function of the
        named modules, so calls the suite makes into them are attributed."""
        for layer, modules in layers.items():
            for modname in modules:
                mod = importlib.import_module(modname)
                for name, fn in list(vars(mod).items()):
                    if (not name.startswith("_") and inspect.isfunction(fn)
                            and fn.__module__ == modname):
                        setattr(mod, name, _Spanned(fn, layer, self))

    def job_counts(self, spans: list[Span]) -> dict:
        """Jobs, stages that ran and tasks that completed, via statusTracker."""
        tracker = self.sc.statusTracker()
        jobs = stages = tasks = 0
        seen: set[int] = set()
        for s in spans:
            for j in s.jobs:
                info = tracker.getJobInfo(j)
                jobs += 1
                for st in (info.stageIds if info else []):
                    if st in seen:
                        continue
                    seen.add(st)
                    sinfo = tracker.getStageInfo(st)
                    if sinfo is not None and sinfo.numCompletedTasks > 0:
                        stages += 1
                        tasks += sinfo.numCompletedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks}


class _Spanned:
    """A module function wrapped in a span.  Pickles as the bare function,
    so a UDF closure that captured it ships no tracer to Python workers."""

    def __init__(self, fn, layer: str, tracer: Tracer):
        self.fn, self.layer, self.tracer = fn, layer, tracer
        functools.update_wrapper(self, fn)

    def __call__(self, *args, **kwargs):
        with self.tracer.span(self.layer):
            return self.fn(*args, **kwargs)

    def __reduce__(self):
        return operator.itemgetter(0), ((self.fn,),)


# ----------------------------------------------------------------- event log

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


def parse_event_log(lines) -> dict:
    """Per job group: job intervals (ms) and summed task metrics.

    Returns ``{group: {"intervals": [(submit_ms, end_ms)], "run_ms",
    "cpu_ns", "shuffle_write_bytes", "spill_bytes"}}``.  Jobs without a
    group are filed under ``""``.
    """
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    def acc(group: str) -> dict:
        return out.setdefault(group, {"intervals": [], "run_ms": 0, "cpu_ns": 0,
                                      "shuffle_write_bytes": 0, "spill_bytes": 0})

    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            job_group[jid] = group
            job_start[jid] = ev["Submission Time"]
            for st in ev.get("Stage IDs", []):
                stage_group.setdefault(st, group)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_start:
                acc(job_group[jid])["intervals"].append(
                    (job_start[jid], ev["Completion Time"]))
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            a = acc(stage_group.get(ev["Stage ID"], ""))
            a["run_ms"] += m.get("Executor Run Time", 0)
            a["cpu_ns"] += m.get("Executor CPU Time", 0)
            a["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0)
    return out


def read_event_log(directory: str) -> dict:
    """Parse the single application log the traced run leaves in ``directory``."""
    names = sorted(os.listdir(directory))
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {directory}, found {names}")
    with open(os.path.join(directory, names[0]), encoding="utf-8") as f:
        return parse_event_log(f)


# ---------------------------------------------------------------- memory

def tree_pids(root_pid: int) -> list[int]:
    """``root_pid`` and all its live descendants, from /proc."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def resident_kb(pid: int) -> int:
    """The process's proportional resident memory (Pss): pages shared with
    other processes, such as a forked worker's inherited ones, are split
    between them, so a sum over processes counts each page once.  Falls
    back to VmRSS where ``smaps_rollup`` is missing; 0 once it has exited."""
    for path, key in ((f"/proc/{pid}/smaps_rollup", "Pss:"),
                      (f"/proc/{pid}/status", "VmRSS:")):
        try:
            with open(path, encoding="ascii", errors="replace") as f:
                for line in f:
                    if line.startswith(key):
                        return int(line.split()[1])
        except OSError:
            continue
    return 0


class RssSampler:
    """Background thread polling the resident memory of every process alive
    in this process's tree; ``peak`` is the largest per-poll sum, in bytes."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self.peak_poll: dict[int, tuple[str, int]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        poll = {}
        for pid in tree_pids(os.getpid()):
            try:
                with open(f"/proc/{pid}/comm", encoding="utf-8") as f:
                    name = f.read().strip()
            except OSError:
                continue
            poll[pid] = (name, resident_kb(pid))
        self.record(poll)

    def record(self, poll: dict[int, tuple[str, int]]) -> None:
        """Take one poll, ``{pid: (command, kB)}`` of the live processes."""
        total = 1024 * sum(kb for _, kb in poll.values())
        if total > self.peak:
            self.peak, self.peak_poll = total, poll

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval):
                return

    def by_command(self) -> dict[str, float]:
        """MB per command name at the peak poll, for the run record."""
        out: dict[str, float] = {}
        for name, kb in self.peak_poll.values():
            out[name] = out.get(name, 0.0) + kb / 1024
        return out

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()
