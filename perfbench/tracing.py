"""Traced-run instrumentation, measured from outside the program.

* ``Tracer`` records spans around calls into the layers' public
  functions by patching them for the duration of one traced run (and
  restoring the originals afterwards). Each span also sets the Spark
  job group, so the event log ties every Spark job to the innermost
  span that submitted it.
* ``read_event_log`` / ``aggregate`` turn Spark's own (uncompressed,
  non-rolling) event log into per-group engine counters: task time,
  CPU, GC, shuffle, spill, Python-worker time and Arrow bytes.
* ``RssSampler`` samples the resident set size of the whole process
  tree (this process, the driver JVM, the Python workers) from /proc;
  ``tree_cpu_seconds`` reads the same tree's CPU time.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import signal
import statistics
import threading
import time
from contextlib import contextmanager

GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    """Spans (name, start, end, parent) kept in memory; ``patch`` wraps
    ``owner.attr`` so every call opens a span named by ``name_fn``. The
    current ``prefix`` is prepended to every span name, so one set of
    patches can trace several jobs apart."""

    def __init__(self, sc, prefix: str = ""):
        self.sc = sc
        self.prefix = prefix
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        name = self.prefix + name
        parent = self._stack[-1] if self._stack else None
        prev = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, name)
        self._stack.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(GROUP_KEY, prev)
            self.spans.append({"name": name, "start": t0, "end": t1, "parent": parent})

    def patch(self, owner, attr: str, name_fn) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name_fn(*args, **kwargs)):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def seconds(self, name: str) -> float:
        """Total seconds of the spans called ``name`` (prefix included)."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def find(self, name: str) -> dict | None:
        return next((s for s in self.spans if s["name"] == name), None)

    def calls(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)


# ----------------------------------------------------------- event log

def read_event_log(log_dir: str) -> list[dict]:
    """All events of the (single) application log under ``log_dir``.
    Call after ``spark.stop()``: the listener flushes and closes it."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    with open(files[0]) as fh:
        return [json.loads(line) for line in fh if line.strip()]


_PY_TIME = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def _acc(task_info: dict, name: str) -> float:
    return sum(float(a.get("Update") or 0) for a in task_info.get("Accumulables", [])
               if a.get("Name") == name)


def _empty() -> dict:
    return {"jobs": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
            "spill_bytes": 0, "python_s": 0.0, "arrow_bytes": 0.0,
            "stage_task_ms": {}}


def aggregate(events: list[dict]) -> dict[str, dict]:
    """Per job group: jobs, tasks, run/CPU/GC seconds, shuffle and spill
    bytes, Python-worker seconds and Arrow bytes, and per-stage task
    durations (for the max/median skew ratio). Jobs without a group
    are ignored."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}

    def g(name: str) -> dict:
        return groups.setdefault(name, _empty())

    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            name = (e.get("Properties") or {}).get(GROUP_KEY)
            if name is None:
                continue
            g(name)["jobs"] += 1
            for sid in e.get("Stage IDs", []):
                stage_group[sid] = name
        elif kind == "SparkListenerTaskEnd":
            name = stage_group.get(e.get("Stage ID"))
            if name is None:
                continue
            m = e.get("Task Metrics") or {}
            info = e.get("Task Info") or {}
            a = g(name)
            a["tasks"] += 1
            a["run_s"] += m.get("Executor Run Time", 0) / 1e3
            a["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            a["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            a["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                        + sr.get("Local Bytes Read", 0))
            a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            a["python_s"] += _acc(info, _PY_TIME) / 1e3
            a["arrow_bytes"] += _acc(info, _PY_SENT) + _acc(info, _PY_RECV)
            dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            a["stage_task_ms"].setdefault(e["Stage ID"], []).append(dur)
    return groups


def merged(groups: dict[str, dict], names) -> dict:
    """Sum of the counters of the groups in ``names`` (absent = 0)."""
    out = _empty()
    for n in names:
        a = groups.get(n)
        if a is None:
            continue
        for k, v in a.items():
            if k == "stage_task_ms":
                out[k].update(v)
            else:
                out[k] += v
    return out


def task_skew(agg: dict) -> float:
    """max/median task duration of the busiest multi-task stage (the
    stage whose tasks took longest in total); 1.0 when there is none."""
    stages = [d for d in agg["stage_task_ms"].values() if len(d) > 1]
    if not stages:
        return 1.0
    busiest = max(stages, key=sum)
    med = statistics.median(busiest)
    return max(busiest) / med if med > 0 else 1.0


# --------------------------------------------------------- host load

def host_unit_s(reps: int = 9) -> float:
    """Median seconds of a fixed single-thread CPU-bound loop: what one
    unit of CPU work costs on this host right now. On a shared host it
    moves with the host's load, and the benchmark's jobs move with it."""
    def once() -> float:
        t0 = time.perf_counter()
        x = 0
        for i in range(200_000):
            x += (i * i) % 7
        return time.perf_counter() - t0
    return statistics.median(once() for _ in range(reps))


def cpu_times() -> list[int]:
    """The aggregate cpu line of /proc/stat (user, nice, system, idle,
    iowait, irq, softirq, steal, ...) in clock ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor took between two ``cpu_times``
    readings: a run with a high share was measured on a contended host."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d[:8]), 1)


# ----------------------------------------------------------------- RSS

def _children(pid: int) -> list[int]:
    """Child pids of every thread of ``pid`` (the JVM forks the Python
    daemon from a worker thread, not from its main thread)."""
    out: list[int] = []
    for f in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(f) as fh:
                out.extend(int(c) for c in fh.read().split())
        except OSError:
            pass
    return out


def _tree(root: int):
    """``root`` and all its descendants (pids that still exist)."""
    todo = [root]
    while todo:
        pid = todo.pop()
        if os.path.exists(f"/proc/{pid}"):
            yield pid
            todo.extend(_children(pid))


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root``."""
    return [p for p in _tree(root) if p != root]


def _running(pid: int) -> bool:
    """``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_ended(pids: list[int], grace: float = 30.0) -> list[int]:
    """Waits until every pid in ``pids`` has ended. Those still running
    after ``grace`` seconds get SIGTERM, and 5 s later SIGKILL. Returns
    the pids still running 5 s after that (none, unless the kernel
    cannot kill them)."""
    for sig, wait in ((None, grace), (signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        running = [p for p in pids if _running(p)]
        for p in running if sig else ():
            try:
                os.kill(p, sig)
            except OSError:
                pass
        deadline = time.monotonic() + wait
        while running and time.monotonic() < deadline:
            time.sleep(0.05)
            running = [p for p in running if _running(p)]
        if not running:
            return []
    return running


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
    return total


def tree_cpu_seconds(root: int) -> float:
    """User + system CPU seconds of ``root`` and all its descendants,
    including their reaped children. Time the hypervisor steals is not
    charged to a process, so this does not grow when the host is busy."""
    ticks = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in f[11:15])   # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Background thread sampling the process-tree RSS every ``period``
    seconds; ``peak`` holds the largest sample in bytes."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
