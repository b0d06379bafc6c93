"""Readings taken from outside the engine: Spark's own counters, the event
log, /proc, and a few small statistics helpers."""

from __future__ import annotations

import json
import math
import os
import re
import statistics
import time
from contextlib import contextmanager

# --- statistics -------------------------------------------------------------


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it, and its
    label. That is only a tail (p90 or above) from 100 samples on; with
    fewer, the maximum is reported instead and labelled as such."""
    n = len(xs)
    if n == 0:
        return 0.0, "none"
    s = sorted(xs)
    if n < 100:
        return s[-1], f"max of {n}"
    p = math.floor(100 * (n - 10) / n)
    return s[max(math.ceil(p / 100 * n) - 1, 0)], f"p{p} of {n}"


# --- Spark counters ---------------------------------------------------------


def next_job_id(spark) -> int:
    """The DAG scheduler's next job id: the difference around a call is the
    number of Spark jobs that call ran."""
    v = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    return int(v.get()) if hasattr(v, "get") else int(v)


@contextmanager
def span(spark, label: str):
    """Tag every job started inside the block with ``label`` (a local
    property the event log records on each job start)."""
    sc = spark.sparkContext
    sc.setLocalProperty("fplbench.span", label)
    try:
        yield
    finally:
        sc.setLocalProperty("fplbench.span", None)


def timed(fn, *args, **kw):
    t0 = time.perf_counter()
    out = fn(*args, **kw)
    return out, time.perf_counter() - t0


def event_log_by_span(log_dir: str) -> dict[str, dict[str, float]]:
    """Aggregate the newest event log in ``log_dir`` per ``fplbench.span``:
    task seconds, GC seconds, shuffle bytes written, bytes spilled to disk,
    peak concurrently running tasks and job count."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    files = [f for f in files if os.path.isfile(f)]
    if not files:
        return {}
    path = max(files, key=os.path.getmtime)
    stage_span: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    intervals: dict[str, list[tuple[int, int]]] = {}

    def acc(label: str) -> dict[str, float]:
        return out.setdefault(label, {"task_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0,
                                      "spill_mb": 0.0, "peak_tasks": 0.0, "jobs": 0.0})

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                label = (ev.get("Properties") or {}).get("fplbench.span")
                if label:
                    acc(label)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_span[sid] = label
            elif kind == "SparkListenerTaskEnd":
                label = stage_span.get(ev.get("Stage ID"))
                if label is None:
                    continue
                m = ev.get("Task Metrics") or {}
                a = acc(label)
                a["task_s"] += m.get("Executor Run Time", 0) / 1e3
                a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                a["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0) / 1e6
                a["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
                info = ev.get("Task Info") or {}
                intervals.setdefault(label, []).append(
                    (info.get("Launch Time", 0), info.get("Finish Time", 0)))
    for label, iv in intervals.items():
        edges = sorted([(s, 1) for s, _ in iv] + [(e, -1) for _, e in iv])
        cur = peak = 0
        for _, d in edges:
            cur += d
            peak = max(peak, cur)
        out[label]["peak_tasks"] = float(peak)
    return out


# --- /proc ------------------------------------------------------------------


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of each live process."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat's aggregate cpu line."""
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    vals = [int(x) for x in parts]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals[:8])


def other_jvms(own: set[int]) -> int:
    n = 0
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) in own:
            continue
        try:
            with open(f"/proc/{d}/comm") as f:
                if f.read().strip() == "java":
                    n += 1
        except OSError:
            pass
    return n


class Contention:
    """Steal%, load average and concurrent JVMs across a run; recorded,
    never used to discard samples."""

    def __init__(self) -> None:
        self.steal0, self.jiff0 = cpu_jiffies()
        self.load0 = os.getloadavg()[0]

    def report(self, own_pids: set[int], log_path: str) -> dict:
        steal1, jiff1 = cpu_jiffies()
        return {
            "steal_pct": round(100.0 * (steal1 - self.steal0) / max(jiff1 - self.jiff0, 1), 3),
            "loadavg_1m": [round(self.load0, 2), round(os.getloadavg()[0], 2)],
            "other_jvms": other_jvms(own_pids),
            "spark_error_lines": count_error_lines(log_path),
        }


_ERROR = re.compile(r"^\S+ \S+ ERROR ")


def count_error_lines(path: str) -> int:
    try:
        with open(path, errors="replace") as f:
            return sum(1 for line in f if _ERROR.match(line))
    except OSError:
        return 0
