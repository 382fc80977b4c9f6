"""Layer accounting for the benchmark: Spark job-group spans, process-tree
peak RSS, and host facts.

A span wraps one call into an engine layer. In a traced run it tags every
Spark job the call starts with a job group of its own; when the run ends,
`SpanRecorder.aggregate` reads the status REST API (`/jobs`, `/stages`)
once and sums each group's jobs, stages, tasks, executor time and shuffle
bytes. Untraced runs record only wall time and set no job group.
"""

from __future__ import annotations

import json
import os
import platform
import statistics
import threading
import time
import urllib.request
from datetime import datetime

FIELDS = (
    "wall_ms",
    "driver_ms",
    "jobs",
    "stages",
    "tasks",
    "executor_run_ms",
    "executor_cpu_ms",
    "gc_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)
COUNT_FIELDS = ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


class SpanRecorder:
    """Keeps finished spans in memory: (name, group, start, end) in epoch
    seconds. One name may repeat (one span per query, per pass); the
    aggregate of a name is the median over its spans."""

    def __init__(self, spark, traced: bool):
        self._sc = spark.sparkContext
        self.traced = traced
        self.spans: list[tuple[str, str, float, float]] = []

    def span(self, name: str):
        return _Span(self, name)

    def aggregate(self) -> dict[str, dict[str, float]]:
        """Per span name, the median of each field over its spans."""
        jobs, stages = _read_status(self._sc) if self.traced else ([], [])
        by_group: dict[str, list[dict]] = {}
        for j in jobs:
            by_group.setdefault(j.get("jobGroup") or "", []).append(j)
        # a stage runs in the first job that lists it; later jobs list it as
        # skipped when they reuse its shuffle output
        owner: dict[int, int] = {}
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            for sid in j["stageIds"]:
                owner.setdefault(sid, j["jobId"])
        stage_rows: dict[int, list[dict]] = {}
        for st in stages:
            if st["status"] in ("COMPLETE", "FAILED"):
                stage_rows.setdefault(owner.get(st["stageId"], -1), []).append(st)

        per_name: dict[str, list[dict[str, float]]] = {}
        for name, group, t0, t1 in self.spans:
            rec = {"wall_ms": (t1 - t0) * 1000.0}
            if self.traced:
                gjobs = by_group.get(group, [])
                gstages = [s for j in gjobs for s in stage_rows.get(j["jobId"], [])]
                busy = _union_ms(
                    [(_ts(j["submissionTime"]), _ts(j["completionTime"])) for j in gjobs], t0, t1
                )
                rec.update(
                    driver_ms=max(0.0, rec["wall_ms"] - busy),
                    jobs=len(gjobs),
                    stages=len(gstages),
                    tasks=sum(s["numTasks"] for s in gstages),
                    executor_run_ms=float(sum(s["executorRunTime"] for s in gstages)),
                    executor_cpu_ms=sum(s["executorCpuTime"] for s in gstages) / 1e6,
                    gc_ms=float(sum(s["jvmGcTime"] for s in gstages)),
                    shuffle_read_bytes=sum(s["shuffleReadBytes"] for s in gstages),
                    shuffle_write_bytes=sum(s["shuffleWriteBytes"] for s in gstages),
                    spill_bytes=sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in gstages),
                )
            per_name.setdefault(name, []).append(rec)
        return {
            name: {k: statistics.median(r[k] for r in recs) for k in recs[0]}
            for name, recs in per_name.items()
        }


class _Span:
    def __init__(self, rec: SpanRecorder, name: str):
        self._rec, self._name = rec, name
        self._group = f"{name}#{len(rec.spans)}"

    def __enter__(self):
        if self._rec.traced:
            self._rec._sc.setJobGroup(self._group, self._name)
        self._t0 = time.time()
        return self

    def __exit__(self, *exc):
        t1 = time.time()
        if self._rec.traced:
            self._rec._sc.setLocalProperty("spark.jobGroup.id", None)
        self._rec.spans.append((self._name, self._group, self._t0, t1))
        return False


def _ts(s: str | None) -> float:
    """REST timestamps look like 2026-10-17T06:18:28.123GMT."""
    if not s:
        return time.time()
    return datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total * 1000.0


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def _read_status(sc, settle_s: float = 0.5, timeout_s: float = 30.0):
    """Jobs and stage attempts from the status REST API, once the listener
    has caught up: no job running and the job count stable over one poll."""
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    deadline = time.time() + timeout_s
    prev = -1
    while True:
        jobs = _get(f"{base}/jobs")
        settled = len(jobs) == prev and all(j["status"] != "RUNNING" for j in jobs)
        if settled or time.time() > deadline:
            break
        prev = len(jobs)
        time.sleep(settle_s)
    if not settled:
        raise RuntimeError("Spark status API did not settle; per-layer counts unavailable")
    return jobs, _get(f"{base}/stages")


class PeakRss:
    """Samples the summed RSS of every descendant of this process (the JVM
    that PySpark launches and the Python workers it forks) on a background
    thread; `peak_mb` is the largest sum seen."""

    def __init__(self, interval_s: float = 0.2):
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self.peak_mb = 0.0

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        return False

    def _run(self):
        page_kb = os.sysconf("SC_PAGE_SIZE") / 1024.0
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, _tree_rss_kb(os.getpid(), page_kb) / 1024.0)
            self._stop.wait(self._interval)


def _tree_rss_kb(root: int, page_kb: float) -> float:
    children: dict[int, list[int]] = {}
    rss: dict[int, float] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # process ended between listdir and open
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        pid = int(d)
        children.setdefault(int(fields[1]), []).append(pid)
        rss[pid] = int(fields[21]) * page_kb
    total, todo = 0.0, list(children.get(root, []))
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0.0)
        todo.extend(children.get(pid, []))
    return total


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of the whole host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return sum(ticks[:8]), ticks[7]


def host_facts(spark) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    jvm = spark.sparkContext._jvm
    return {
        "nproc": os.cpu_count(),
        "mem_gb": round(mem_kb / 1024 / 1024, 1),
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }
