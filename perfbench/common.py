"""Shared benchmark plumbing: statistics, tracing, Spark counters, memory.

Nothing here imports ``sparktrends_spark``; the workloads do, so that a
checkout without the program fails at import time in ``run.py``.
"""

from __future__ import annotations

import gc
import json
import math
import os
import resource
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any

MIN_BEYOND = 10  # a tail percentile needs this many samples beyond it


@dataclass
class Context:
    spark: Any
    tracer: "Tracer"
    seed: int
    seconds: int
    work: str
    inputs: Any = None  # what the workload's ``prepare`` returned


@dataclass
class Result:
    setup_s: float  # workload set-up after the session started
    e2e: dict[str, float]
    layer: dict[str, float]
    attempted: int
    failed: int
    correct: bool
    window_start: float  # perf_counter at the start of the measured window
    info: dict[str, Any] = field(default_factory=dict)  # printed, not a metric


# ---------------------------------------------------------------------------
# statistics


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no samples")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return quantile(values, 0.5)


def tail(values) -> tuple[float, float]:
    """(percentile, value) of the highest whole percentile that leaves at
    least ``MIN_BEYOND`` samples beyond it. With fewer than
    ``2 * MIN_BEYOND`` samples that percentile would sit at or below the
    median, so the median is returned and flagged by its percentile."""
    n = len(values)
    p = math.floor(100.0 * (1.0 - MIN_BEYOND / n)) if n else 0
    p = max(p, 50)
    return float(p), quantile(values, p / 100.0)


# ---------------------------------------------------------------------------
# tracing


class Tracer:
    """In-memory spans (name, start, end, parent, trace id), written out at
    exit. Disabled tracers hand out a no-op span so untraced runs pay one
    attribute check per boundary."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            self._next += 1
            sid = self._next
        parent = stack[-1] if stack else None
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace": parent["trace"] if parent else sid,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def self_times(self, since: float = float("-inf")) -> dict[str, float]:
        """Per-layer self time (span duration minus the union of its
        children's intervals), summed over spans starting at ``since`` or
        later. The layer is the span name's first dotted component."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            if s["start"] < since:
                continue
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(kids.get(s["id"], [])):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"] - covered)
        return out

    def durations(self, name: str, since: float = float("-inf")) -> list[float]:
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["start"] >= since
        ]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["start"]), f)


# ---------------------------------------------------------------------------
# Spark counters: status tracker (jobs, stages, tasks) + UI REST (bytes)


class SparkCounters:
    """Job/stage/task counts and IO bytes of the Spark jobs one operation
    ran, found through the job group the operation was tagged with."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        self._n = 0

    def tag(self, label: str) -> str:
        """Tag the calling thread's next jobs with a fresh group id."""
        self._n += 1
        group = f"perfbench-{self._n}-{label}"
        self.sc.setJobGroup(group, label)
        return group

    def jobs(self, group: str) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(group))

    def stages(self, group: str) -> list[int]:
        out = []
        for jid in self.jobs(group):
            info = self.tracker.getJobInfo(jid)
            if info is not None:
                out.extend(info.stageIds)
        return sorted(set(out))

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def snapshot(self) -> dict:
        """Stage metrics (stageId -> tasks, shuffle bytes) and, per SQL
        execution, its job ids and the bytes its file scans read. Waits for
        the listener bus so completed stages carry their final numbers."""
        deadline = time.monotonic() + 10
        while True:
            stages = self._get("stages")
            if all(s["status"] != "ACTIVE" for s in stages) or time.monotonic() > deadline:
                break
            time.sleep(0.2)
        per_stage: dict[int, dict] = {}
        for s in stages:
            if s["status"] == "SKIPPED":  # reused shuffle output; ran nothing
                continue
            m = per_stage.setdefault(s["stageId"], {"tasks": 0, "shuffle_bytes": 0})
            m["tasks"] += s["numTasks"]
            m["shuffle_bytes"] += s["shuffleWriteBytes"]
        execs = []
        for e in self._get("sql?details=true&planDescription=false&length=1000000"):
            jobs = set(e.get("successJobIds", [])) | set(e.get("failedJobIds", []))
            scanned = sum(
                _size_bytes(m["value"])
                for n in e["nodes"]
                for m in n["metrics"]
                if m["name"] == "size of files read"
            )
            execs.append((jobs, scanned))
        return {"stages": per_stage, "execs": execs}

    def totals(self, groups: list[str], snap: dict) -> dict[str, float]:
        """Jobs, tasks, shuffle bytes and scanned file bytes summed over
        the jobs of ``groups``."""
        tot = {"jobs": 0, "tasks": 0, "shuffle_bytes": 0, "scan_bytes": 0.0}
        for g in groups:
            jobs = set(self.jobs(g))
            tot["jobs"] += len(jobs)
            for sid in self.stages(g):
                for k, v in snap["stages"].get(sid, {}).items():
                    tot[k] += v
            tot["scan_bytes"] += sum(b for ej, b in snap["execs"] if ej & jobs)
        return tot


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _size_bytes(text: str) -> float:
    """Parse a Spark UI size such as ``'61.3 KiB'``."""
    num, unit = text.split()[:2]
    return float(num) * _UNITS[unit]


# ---------------------------------------------------------------------------
# memory and files


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of the Spark JVM plus this process. It follows
    the JVM's heap sizing more than the program, so it is printed, not
    a metric."""
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (_vm_hwm_kb(jvm_pid) + own_kb) / 1024.0


def retained_mem_mb(spark) -> tuple[float, dict[str, float]]:
    """Memory the program holds at this point: the Spark JVM's heap in
    use after full collections, plus its non-heap use (metaspace, code
    cache), plus this process's resident set. Unlike a peak, it does not
    depend on when the collector last ran or how far the heap grew.
    Returns the total and its parts, in MB."""
    mx = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    # A JVM object that Python still proxies is freed only after Python
    # collects the proxy, and Spark frees broadcast and shuffle blocks
    # only after the objects owning them were collected (ContextCleaner,
    # asynchronously). So collect on both sides until the heap reads the
    # same twice in a row.
    readings: list[int] = []
    for _ in range(10):
        gc.collect()
        mx.gc()
        readings.append(mx.getHeapMemoryUsage().getUsed())
        last3 = readings[-3:]
        if len(last3) == 3 and max(last3) - min(last3) < 2**20:
            break
        time.sleep(0.5)
    with open("/proc/self/statm") as f:
        own = int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    parts = {
        "heap": readings[-1] / 2**20,
        "non_heap": mx.getNonHeapMemoryUsage().getUsed() / 2**20,
        "client_rss": own / 2**20,
    }
    return sum(parts.values()), parts


def file_set(path: str) -> set[str]:
    """Data files under ``path``, ignoring hidden and marker files."""
    out = set()
    for d, _, files in os.walk(path):
        out.update(os.path.join(d, f) for f in files if not f.startswith((".", "_")))
    return out


def tree_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``."""
    files = file_set(path)
    return len(files), sum(os.path.getsize(f) for f in files)
