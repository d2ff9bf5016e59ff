"""Spans, Spark event-log attribution, process-tree memory and cleanup.

A span is one timed call into an engine layer, made from the benchmark.
Every span runs under ``sc.setJobGroup(name, name)``, so the Spark jobs it
starts can be found in the event log by name. With tracing on, the
benchmark's own session writes an uncompressed event log, and
``executor_metrics`` reads ``SparkListenerJobStart``/``JobEnd``/``TaskEnd``
with the stdlib into per-span executor numbers.
"""

from __future__ import annotations

import json
import os
import signal
import threading
import time
from contextlib import contextmanager

OTHER_GROUP = "bench.other"


class Spans:
    """Wall-clock spans keyed by layer name, each under its own job group."""

    def __init__(self):
        self.sc = None
        self.calls: dict[str, list[tuple[float, float]]] = {}

    @contextmanager
    def span(self, name: str):
        if self.sc is not None:
            self.sc.setJobGroup(name, name)
        t0 = time.time()
        try:
            yield
        finally:
            self.calls.setdefault(name, []).append((t0, time.time()))
            if self.sc is not None:
                self.sc.setJobGroup(OTHER_GROUP, OTHER_GROUP)

    def mean_wall_s(self, name: str) -> float:
        calls = self.calls.get(name, [])
        return sum(b - a for a, b in calls) / len(calls) if calls else 0.0


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _read_app(app_dir: str):
    """(jobs, tasks) of one application's event log: jobs maps job id to
    [group, submitted_s, completed_s, stage ids]; tasks lists
    (stage id, task metrics)."""
    jobs: dict[int, list] = {}
    tasks: list[tuple[int, dict]] = []
    files = sorted(
        f for f in os.listdir(app_dir) if f.startswith("events_")
    )
    for name in files:
        with open(os.path.join(app_dir, name), encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    jobs[ev["Job ID"]] = [
                        group, ev["Submission Time"] / 1e3, None, ev["Stage IDs"],
                    ]
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]][2] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                    tasks.append((ev["Stage ID"], ev["Task Metrics"]))
    return jobs, tasks


def executor_metrics(event_dir: str, spans: Spans) -> dict[str, dict[str, float]]:
    """Per span name, per-call means of: driver_gap_s (wall minus the
    union of the span's job intervals), executor_run_s, executor_cpu_s,
    jvm_gc_s, shuffle_bytes (written), spill_bytes (to disk) and tasks."""
    per_group: dict[str, dict] = {}
    for app in sorted(os.listdir(event_dir)):
        app_dir = os.path.join(event_dir, app)
        if not os.path.isdir(app_dir):
            continue
        jobs, tasks = _read_app(app_dir)
        stage_group = {}
        for group, sub, done, stages in jobs.values():
            acc = per_group.setdefault(group, {"intervals": [], "run": 0.0,
                                               "cpu": 0.0, "gc": 0.0,
                                               "shuffle": 0, "spill": 0,
                                               "tasks": 0})
            acc["intervals"].append((sub, done if done is not None else sub))
            for s in stages:
                stage_group[s] = group
        for stage, m in tasks:
            acc = per_group.get(stage_group.get(stage))
            if acc is None:
                continue
            acc["run"] += m.get("Executor Run Time", 0) / 1e3
            acc["cpu"] += m.get("Executor CPU Time", 0) / 1e9
            acc["gc"] += m.get("JVM GC Time", 0) / 1e3
            acc["shuffle"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            acc["spill"] += m.get("Disk Bytes Spilled", 0)
            acc["tasks"] += 1
    out = {}
    for name, calls in spans.calls.items():
        acc = per_group.get(name)
        n = len(calls)
        wall = sum(b - a for a, b in calls)
        busy = _union_length(acc["intervals"]) if acc else 0.0
        out[name] = {
            "driver_gap_s": (wall - busy) / n,
            "executor_run_s": (acc["run"] if acc else 0.0) / n,
            "executor_cpu_s": (acc["cpu"] if acc else 0.0) / n,
            "jvm_gc_s": (acc["gc"] if acc else 0.0) / n,
            "shuffle_bytes": (acc["shuffle"] if acc else 0) / n,
            "spill_bytes": (acc["spill"] if acc else 0) / n,
            "tasks": (acc["tasks"] if acc else 0) / n,
        }
    return out


# ---------------------------------------------------------------------------
# process tree: resident memory and cleanup


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(root: int) -> list[tuple[int, int]]:
    """(pid, parent pid) of every live descendant of ``root``."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        parent = todo.pop()
        for child in kids.get(parent, []):
            out.append((child, parent))
            todo.append(child)
    return out


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def _jvm_spawn(child: int, parent: int) -> bool:
    """True for a child that a JVM has cloned to start a program and that
    has not yet exec'd it: it still runs the JVM's executable and shares
    the JVM's memory, so its RSS would count the JVM twice."""
    exe = _exe(parent)
    return exe is not None and os.path.basename(exe) == "java" and _exe(child) == exe


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", encoding="ascii") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Samples the resident memory of this process and all its descendants
    (the driver JVM and the Python workers it forks) on a background
    thread; ``peak_mb`` is the largest sum seen."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        total = _rss_bytes(os.getpid())
        for child, parent in descendants(os.getpid()):
            self.seen.add(child)
            if not _jvm_spawn(child, parent):
                total += _rss_bytes(child)
        self.peak = max(self.peak, total)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def _alive(pid: int) -> bool:
    """True until ``pid`` has ended and, if it is this process's child,
    been reaped. A zombie whose parent is another process counts as
    ended: reaping it is that parent's job."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            stat = fh.read()
    except OSError:
        return False
    state, ppid = stat[stat.rindex(")") + 2:].split()[:2]
    return state != "Z" or int(ppid) == os.getpid()


def adopt_orphans() -> None:
    """Become the child subreaper (Linux prctl), so descendants orphaned
    when their parent exits are reparented to, and reaped by, this
    process instead of lingering unreaped."""
    import ctypes

    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _reap() -> None:
    try:
        while os.waitpid(-1, os.WNOHANG)[0] > 0:
            pass
    except ChildProcessError:
        pass


def stop_process_tree(extra: set[int], timeout_s: float = 30.0) -> None:
    """Terminate every live descendant of this process (and any pid seen
    earlier that is still running), then wait until all have ended and
    reap them."""
    pids = {pid for pid, _ in descendants(os.getpid())} | extra
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in pids:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        deadline = time.monotonic() + timeout_s
        while pids and time.monotonic() < deadline:
            time.sleep(0.1)
            _reap()
            pids = {p for p in pids if _alive(p)}
        if not pids:
            break
    _reap()
