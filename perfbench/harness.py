"""Measurement plumbing shared by the workloads: host context, process-tree
peak RSS, span tracing around calls into the engine, Spark event-log
counters, percentiles and the seeded input cache.

Nothing here imports the engine; ``run.py`` decides when the engine is
imported so that a checkout without it fails fast.
"""

from __future__ import annotations

import functools
import json
import os
import platform
import shutil
import subprocess
import threading
import time

# ---------------------------------------------------------------------------
# host context
# ---------------------------------------------------------------------------


def _steal_jiffies() -> int:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    # cpu user nice system idle iowait irq softirq steal ...
    return int(fields[8]) if len(fields) > 8 else 0


def _java_version() -> str:
    java = shutil.which("java")
    if java is None:
        return "absent"
    try:
        out = subprocess.run(
            [java, "-version"], capture_output=True, text=True, timeout=30
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    lines = (out.stderr or out.stdout).strip().splitlines()
    return lines[0] if lines else "unknown"


class HostContext:
    """What the machine looked like during the run, so drift between runs
    can be told apart from drift in the program."""

    def __init__(self):
        self.steal_start = _steal_jiffies()

    def finish(self) -> dict:
        import pyspark

        return {
            "nproc": len(os.sched_getaffinity(0)),
            "steal_jiffies": _steal_jiffies() - self.steal_start,
            "jdk": _java_version(),
            "pyspark": pyspark.__version__,
            "python": platform.python_version(),
            "cc": shutil.which("cc") is not None,
        }


def process_start_epoch() -> float:
    """Wall-clock time at which this process was started (from /proc), so
    set-up time includes interpreter start and imports."""
    with open("/proc/self/stat") as f:
        after_comm = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(after_comm[19])  # field 22 of /proc/<pid>/stat
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    ticks = os.sysconf("SC_CLK_TCK")
    return time.time() - uptime + start_ticks / ticks


# ---------------------------------------------------------------------------
# peak RSS over the process tree
# ---------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Samples VmHWM of every process in this process's tree (driver
    Python, the Spark JVM, Python workers) and keeps the largest."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def sample(self) -> None:
        for pid in process_tree(os.getpid()):
            self.peak_kb = max(self.peak_kb, _vm_hwm_kb(pid))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------------------
# spans around calls into the engine
# ---------------------------------------------------------------------------


class Tracer:
    """Wraps public engine functions from outside the package and records
    one span per call: name, start, end and the enclosing span. Spans stay
    in memory until ``dump``."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []

    def wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*a, **kw):
            sid = len(tracer.spans)
            parent = tracer._stack[-1] if tracer._stack else None
            span = {"id": sid, "name": name, "parent": parent,
                    "start": time.perf_counter(), "end": None}
            tracer.spans.append(span)
            tracer._stack.append(sid)
            try:
                return orig(*a, **kw)
            finally:
                span["end"] = time.perf_counter()
                tracer._stack.pop()

        self._undo.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
    }


def event_log_counters(log_dir: str, t0: float, t1: float) -> dict[str, float]:
    """Engine counters of the jobs and tasks launched in [t0, t1] (epoch
    seconds), read from the event log written under ``log_dir``."""
    lo, hi = t0 * 1000.0, t1 * 1000.0
    c = {"jobs": 0, "stages": 0, "tasks": 0, "run_ms": 0.0, "cpu_ns": 0.0,
         "gc_ms": 0.0, "input": 0, "shuffle_w": 0, "shuffle_r": 0,
         "spill": 0}
    paths = [os.path.join(d, n) for d, _, names in os.walk(log_dir)
             for n in names if not n.startswith(("appstatus", "."))]
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if lo <= ev.get("Submission Time", 0) <= hi:
                        c["jobs"] += 1
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if lo <= info.get("Submission Time", 0) <= hi:
                        c["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    if not lo <= ev["Task Info"]["Launch Time"] <= hi:
                        continue
                    m = ev.get("Task Metrics") or {}
                    c["tasks"] += 1
                    c["run_ms"] += m.get("Executor Run Time", 0)
                    c["cpu_ns"] += m.get("Executor CPU Time", 0)
                    c["gc_ms"] += m.get("JVM GC Time", 0)
                    c["input"] += (m.get("Input Metrics") or {}).get(
                        "Bytes Read", 0)
                    c["shuffle_w"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    c["shuffle_r"] += (sr.get("Remote Bytes Read", 0)
                                       + sr.get("Local Bytes Read", 0))
                    c["spill"] += (m.get("Memory Bytes Spilled", 0)
                                   + m.get("Disk Bytes Spilled", 0))
    return c


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def tail(xs: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; with ten or fewer samples no such percentile
    exists and the maximum is returned as percentile 100."""
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0
    k = n - 11  # exactly ten samples sort after index k
    return s[k], 100.0 * (k + 1) / n


# ---------------------------------------------------------------------------
# input cache keyed by (workload, seed, size)
# ---------------------------------------------------------------------------


class InputCache:
    """Generated inputs live in ``<root>/<key>/`` and count as present
    only once ``_DONE`` is written. Only the most recently used
    ``keep`` entries of a workload survive, so disk use stays bounded
    when every run brings a new seed."""

    def __init__(self, root: str, keep: int = 3):
        self.root = root
        self.keep = keep
        os.makedirs(root, exist_ok=True)

    def path(self, workload: str, seed: int, size: str) -> str:
        return os.path.join(self.root, f"{workload}-seed{seed}-{size}")

    def get_or_build(self, workload: str, seed: int, size: str, build):
        """Return (path, build_seconds or None when it was cached)."""
        path = self.path(workload, seed, size)
        done = os.path.join(path, "_DONE")
        if os.path.exists(done):
            os.utime(done)
            return path, None
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        t = time.perf_counter()
        build(path)
        with open(done, "w") as f:
            f.write("ok\n")
        self._evict(workload)
        return path, time.perf_counter() - t

    def _evict(self, workload: str) -> None:
        entries = []
        for d in os.listdir(self.root):
            done = os.path.join(self.root, d, "_DONE")
            if d.startswith(workload + "-seed") and os.path.exists(done):
                entries.append((os.path.getmtime(done), d))
        for _, d in sorted(entries, reverse=True)[self.keep:]:
            shutil.rmtree(os.path.join(self.root, d), ignore_errors=True)


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files
