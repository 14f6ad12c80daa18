"""Measurement probes: spans around calls into the engine's layers, process
counters from ``/proc``, and Spark job/stage counters.

Spans are recorded only in a traced run. They are taken from outside the
engine: :meth:`Tracer.instrument` replaces a module-level function with a
timing wrapper in every engine module that holds a reference to it, so
calls through names a module imported (``staged.py`` imports its stage
functions by name) are timed too.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import sys
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime

PACKAGE = "etl_loading_scripts_spark"


class Tracer:
    """In-memory span recorder. A span is ``(name, start, end, parent,
    op_id)``; ``parent`` is the index of the enclosing span in the same
    thread (or -1). Nothing is written until :meth:`dump`."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple[str, float, float, int, str | None]] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
            self._local.op = None
        return self._local.stack

    @contextmanager
    def op(self, op_id: str):
        """Mark the calling thread as serving ``op_id`` for nested spans."""
        self._stack()
        prev, self._local.op = self._local.op, op_id
        try:
            yield
        finally:
            self._local.op = prev

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        with self._lock:
            idx = len(self.spans)
            self.spans.append((name, time.perf_counter(), 0.0, stack[-1] if stack else -1, self._local.op))
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            end = time.perf_counter()
            with self._lock:
                n, s, _, p, o = self.spans[idx]
                self.spans[idx] = (n, s, end, p, o)

    def instrument(self, targets: dict[str, list[str]]) -> None:
        """Wrap ``module.attr`` for every listed attribute, rebinding each
        engine module's reference to the same function object."""
        mods = [m for n, m in list(sys.modules.items()) if n.startswith(PACKAGE) and m]
        for modname, attrs in targets.items():
            mod = sys.modules[f"{PACKAGE}.{modname}"]
            for attr in attrs:
                orig = getattr(mod, attr)
                wrapped = self._wrap(f"{modname}.{attr}", orig)
                for m in mods:
                    for k, v in list(vars(m).items()):
                        if v is orig:
                            setattr(m, k, wrapped)

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def totals(self, op_ids: set[str]) -> dict[str, dict[str, float]]:
        """Per span name over the given ops: calls, total and self seconds
        (self = span minus the time its direct children cover)."""
        child = [0.0] * len(self.spans)
        for name, s, e, p, _ in self.spans:
            if p >= 0:
                child[p] += e - s
        out: dict[str, dict[str, float]] = {}
        for i, (name, s, e, _, op) in enumerate(self.spans):
            if op not in op_ids:
                continue
            agg = out.setdefault(name, {"calls": 0, "s": 0.0, "self_s": 0.0})
            agg["calls"] += 1
            agg["s"] += e - s
            agg["self_s"] += e - s - child[i]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                [
                    {"name": n, "start": s, "end": e, "parent": p, "op": o}
                    for n, s, e, p, o in self.spans
                ],
                fh,
            )


# --------------------------------------------------------------------------
# /proc counters of this process and its descendants (the JVM and the
# Python workers it forks)
# --------------------------------------------------------------------------


def _tree_pids() -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_wchar() -> int:
    """Bytes written by the process tree (``/proc/<pid>/io`` wchar)."""
    total = 0
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/io") as fh:
                for line in fh:
                    if line.startswith("wchar:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds used by the process tree so far (user + system, with the
    children each process has reaped). Time the hypervisor gives to other
    tenants (steal) is not charged to a process, so this is the engine's own
    work whatever else runs on the host."""
    ticks = 0
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / _CLK_TCK


class SpeedProbe:
    """How fast this machine's CPUs run while an op does: a background
    thread times a fixed pure-Python loop by its own CPU time every
    ``PERIOD`` seconds.

    On a shared host the CPU time of a fixed piece of work follows what the
    host's other tenants run on the same cores: on a 4-vCPU VM the same mix
    round cost 15 to 23 CPU seconds from one run to the next, and the loop
    slowed with it. ``speed`` is ``REF_LOOP_S`` over the mean loop time, so
    CPU seconds times ``speed`` are CPU seconds at the reference speed."""

    PERIOD = 0.2
    #: loop time at the reference speed: about the fastest seen on the
    #: 4-vCPU VM the bounds were set on
    REF_LOOP_S = 0.006

    def __init__(self):
        self.samples: list[float] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            t0 = time.thread_time()
            x = 0
            for i in range(100_000):
                x += i * i
            self.samples.append(time.thread_time() - t0)
            if self._stop.wait(self.PERIOD):
                return

    def __enter__(self) -> "SpeedProbe":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def cpu_s(self) -> float:
        """CPU seconds the probe itself used, to leave out of the op's."""
        return sum(self.samples)

    @property
    def speed(self) -> float:
        return self.REF_LOOP_S / statistics.mean(self.samples)


def tree_peak_rss_mb() -> float:
    """Sum of VmHWM (peak resident set) over the process tree, MB."""
    total_kb = 0
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


# --------------------------------------------------------------------------
# Spark counters: statusTracker for per-op job ids, the REST API (traced
# runs enable the UI) for job intervals and stage task metrics
# --------------------------------------------------------------------------


def _epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    return datetime.strptime(ts.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class SparkCounters:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.url = self.sc.uiWebUrl

    def _get(self, path: str):
        app = self.sc.applicationId
        with urllib.request.urlopen(f"{self.url}/api/v1/applications/{app}/{path}") as r:
            return json.load(r)

    def jobs_in_group(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def snapshot(self) -> dict:
        """Every job (with group and wall interval) and every stage's task
        metrics, keyed by id."""
        jobs = {}
        for j in self._get("jobs"):
            jobs[j["jobId"]] = {
                "group": j.get("jobGroup"),
                "start": _epoch(j.get("submissionTime")),
                "end": _epoch(j.get("completionTime")),
                "stages": j.get("stageIds", []),
                "tasks": j.get("numTasks", 0),
                "failed_tasks": j.get("numFailedTasks", 0),
            }
        stages = {}
        for s in self._get("stages"):
            sub, first = _epoch(s.get("submissionTime")), _epoch(s.get("firstTaskLaunchedTime"))
            stages[s["stageId"]] = {
                "run_s": s.get("executorRunTime", 0) / 1000.0,
                "gc_s": s.get("jvmGcTime", 0) / 1000.0,
                "wait_s": (first - sub) if sub and first else 0.0,
                "shuffle_write": s.get("shuffleWriteBytes", 0),
                "input": s.get("inputBytes", 0),
                "output": s.get("outputBytes", 0),
            }
        return {"jobs": jobs, "stages": stages}


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``[start, end]`` intervals."""
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


def job_totals(snap: dict, job_ids) -> dict[str, float]:
    """Summed counters over a set of jobs (stages counted once)."""
    jobs = [snap["jobs"][j] for j in job_ids if j in snap["jobs"]]
    stage_ids = {s for j in jobs for s in j["stages"]}
    stages = [snap["stages"][s] for s in stage_ids if s in snap["stages"]]
    return {
        "jobs": len(jobs),
        "tasks": sum(j["tasks"] for j in jobs),
        "failed_tasks": sum(j["failed_tasks"] for j in jobs),
        "run_s": sum(s["run_s"] for s in stages),
        "gc_s": sum(s["gc_s"] for s in stages),
        "wait_s": sum(s["wait_s"] for s in stages),
        "shuffle_write_mb": sum(s["shuffle_write"] for s in stages) / 1e6,
        "input_mb": sum(s["input"] for s in stages) / 1e6,
        "output_mb": sum(s["output"] for s in stages) / 1e6,
        "busy_s": union_s([(j["start"], j["end"]) for j in jobs if j["start"] and j["end"]]),
    }


def median(values, default: float = 0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest percentile with at least ten
    samples above it; (0, 0) with fewer than eleven samples."""
    xs = sorted(values)
    if len(xs) < 11:
        return 0.0, 0.0
    k = len(xs) - 11
    return 100.0 * (k + 1) / len(xs), xs[k]
