"""Tracing for the benchmark, kept entirely outside the program.

Two sources:

- ``Tracer`` records spans around the program's public functions. It
  wraps them at run time by rebinding every reference the loaded
  package modules hold (``from x import f`` copies the reference, so
  patching one module alone would miss callers). Spans stay in memory
  until the run ends.
- ``fold_event_log`` reads Spark's JSON-lines event log (written with
  ``spark.eventLog.compress=false``) with the standard library and folds
  it into per-stage records for a wall-clock window.

Also here: ``tail`` (the percentile rule every timing uses) and
``rss_peak_mb`` (peak resident memory of the given processes).
"""

from __future__ import annotations

import functools
import json
import math
import os
import statistics
import sys
import time
from collections import defaultdict


class Tracer:
    """In-memory spans: (name, start_s, end_s, depth).

    Only the outermost span of a name counts towards ``total``, so a
    wrapped function calling itself (``set_last_run`` calls
    ``get_last_run``) is not counted twice.
    """

    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float, int]] = []
        self._open: dict[str, int] = defaultdict(int)
        self._undo: list[tuple[object, str, object]] = []

    def span(self, name: str):
        return _Span(self, name)

    def total(self, name: str, lo: float = 0.0, hi: float = math.inf) -> float:
        return sum(
            e - s for n, s, e, d in self.spans if n == name and d == 0 and lo <= s < hi
        )

    def count(self, name: str, lo: float = 0.0, hi: float = math.inf) -> int:
        return sum(1 for n, s, _, d in self.spans if n == name and d == 0 and lo <= s < hi)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Record a span around every call of ``owner.attr``.

        ``owner`` is a class or a module; for a module, references to
        the same function in the package's other loaded modules are
        rebound too.
        """
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return original(*args, **kwargs)

        if isinstance(owner, type):
            setattr(owner, attr, traced)
            self._undo.append((owner, attr, original))
        else:
            self._undo += rebind(owner.__name__.split(".")[0], original, traced)

    def unwrap_all(self) -> None:
        restore(self._undo)
        self._undo.clear()


def rebind(package: str, original, replacement) -> list[tuple]:
    """Point every reference that the loaded modules of ``package`` hold
    to ``original`` at ``replacement``; returns what ``restore`` undoes."""
    undo = []
    for name, mod in list(sys.modules.items()):
        if name.split(".")[0] != package:
            continue
        for key, value in list(vars(mod).items()):
            if value is original:
                undo.append((mod, key, value))
                setattr(mod, key, replacement)
    return undo


def restore(undo: list[tuple]) -> None:
    for owner, key, value in reversed(undo):
        setattr(owner, key, value)


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        self.depth = self.tracer._open[self.name]
        self.tracer._open[self.name] += 1
        self.start = time.time()
        return self

    def __exit__(self, *exc):
        end = time.time()
        self.tracer._open[self.name] -= 1
        self.tracer.spans.append((self.name, self.start, end, self.depth))
        return False


def tail(values: list[float]) -> tuple[float, int]:
    """(value, percentile) of the highest whole percentile with at least
    ten samples above it; the maximum (percentile 100) when fewer than
    twenty samples leave no such percentile at or above the median."""
    n = len(values)
    if n == 0:
        raise ValueError("no samples")
    ordered = sorted(values)
    if n < 20:
        return ordered[-1], 100
    pct = math.floor(100 * (n - 10) / n)
    while pct > 0 and n - math.ceil(pct * n / 100) < 10:
        pct -= 1
    idx = max(0, math.ceil(pct * n / 100) - 1)
    return ordered[idx], pct


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def event_log_confs(log_dir: str) -> dict[str, str]:
    """Session confs that make Spark write a stdlib-readable event log."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def fold_event_log(path: str, windows: list[tuple[float, float]], cores: int) -> dict:
    """Fold one application's event log over wall-clock windows.

    ``windows`` are (start, end) pairs in seconds since the epoch; a job
    or stage counts if it was submitted inside one of them. Returns
    totals plus one record per completed stage.
    """
    spans_ms = [(lo * 1000.0, hi * 1000.0) for lo, hi in windows]

    def inside(t_ms) -> bool:
        return t_ms is not None and any(lo <= t_ms <= hi for lo, hi in spans_ms)

    job_start: dict[int, float] = {}
    job_end: dict[int, float] = {}
    stages: dict[tuple[int, int], dict] = {}
    tasks: dict[tuple[int, int], list[dict]] = defaultdict(list)
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                job_start[ev["Job ID"]] = ev["Submission Time"]
            elif kind == "SparkListenerJobEnd":
                job_end[ev["Job ID"]] = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                stages[(info["Stage ID"], info["Stage Attempt ID"])] = info
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks[(ev["Stage ID"], ev["Stage Attempt ID"])].append({
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
                    "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                })

    jobs = [j for j, t in job_start.items() if inside(t)]
    intervals = sorted(
        (job_start[j], job_end.get(j, job_start[j])) for j in jobs
    )
    busy_ms, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in intervals:
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                busy_ms += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        busy_ms += cur_hi - cur_lo

    records = []
    for key, info in sorted(stages.items()):
        if not inside(info.get("Submission Time")):
            continue
        ts = tasks.get(key, [])
        run = [t["run_ms"] for t in ts]
        records.append({
            "stage": key[0],
            "attempt": key[1],
            "tasks": len(ts),
            "run_ms": sum(run),
            "cpu_ms": sum(t["cpu_ms"] for t in ts),
            "shuffle_read_bytes": sum(t["shuffle_read"] for t in ts),
            "shuffle_write_bytes": sum(t["shuffle_write"] for t in ts),
            "spill_bytes": sum(t["spill"] for t in ts),
            "max_task_ms": max(run, default=0),
            "median_task_ms": median(run),
        })

    cpu_ms = sum(r["cpu_ms"] for r in records)
    exec_s = busy_ms / 1000.0
    slowest = max(records, key=lambda r: r["run_ms"], default=None)
    skew = (
        slowest["max_task_ms"] / slowest["median_task_ms"]
        if slowest and slowest["median_task_ms"] > 0 else 1.0
    )
    # a stage is CPU-heavy when it holds at least a tenth of the
    # window's CPU time; serial when it ran on fewer tasks than cores
    serial = sum(
        1 for r in records
        if cpu_ms > 0 and r["cpu_ms"] >= 0.1 * cpu_ms and r["tasks"] < cores
    )
    return {
        "exec_s": exec_s,
        "jobs": len(jobs),
        "stages": len(records),
        "tasks": sum(r["tasks"] for r in records),
        "executor_run_ms": sum(r["run_ms"] for r in records),
        "executor_cpu_ms": cpu_ms,
        "cpu_busy_frac": cpu_ms / (busy_ms * cores) if busy_ms > 0 else 0.0,
        "shuffle_read_bytes": sum(r["shuffle_read_bytes"] for r in records),
        "shuffle_write_bytes": sum(r["shuffle_write_bytes"] for r in records),
        "spill_bytes": sum(r["spill_bytes"] for r in records),
        "task_skew": skew,
        "serial_cpu_stages": serial,
        "stage_records": records,
    }


def find_event_log(log_dir: str, app_id: str) -> str:
    for name in os.listdir(log_dir):
        if name.startswith(app_id):
            return os.path.join(log_dir, name)
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")


def rss_peak_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of the given processes."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status", encoding="ascii") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0
