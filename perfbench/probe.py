"""Measurement helpers: process-tree memory and Spark per-job-group counters.

``PeakRss`` samples the resident memory of this process and every
descendant (the driver JVM and its Python workers) from ``/proc``.
``spark_counters`` reads one job group's stage and SQL metrics from the
driver's own status REST API on localhost.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
import urllib.request

_PAGE = os.sysconf("SC_PAGE_SIZE")


def children() -> dict[int, list[int]]:
    """Parent process id → the ids of its live (or not yet reaped) children."""
    out: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended while we listed
        # the command name may hold spaces or parentheses: split after its ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        out.setdefault(ppid, []).append(int(name))
    return out


def descendants(root: int) -> set[int]:
    """Process ids of every live descendant of ``root``."""
    tree, out, todo = children(), set(), [root]
    while todo:
        kids = tree.get(todo.pop(), [])
        out.update(kids)
        todo.extend(kids)
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants."""
    total = 0
    for pid in descendants(root) | {root}:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class PeakRss:
    """Background sampler of the process tree's peak resident memory."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


_DURATION = re.compile(r"\n([\d.]+) (ms|s|m|h) ")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def sql_metric_total_s(value: str) -> float:
    """Total of a Spark SQL timing metric rendered as
    ``'total (min, med, max ...)\\n4.2 s (1.0 s, ...)'``."""
    m = _DURATION.search(value)
    return float(m.group(1)) * _UNIT_S[m.group(2)] if m else 0.0


class SparkStatus:
    """Reads the live application's status REST API (``/api/v1``)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.cores = sc.defaultParallelism

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.load(r)

    def _group_jobs(self, group: str, timeout: float = 10.0) -> list[dict]:
        # the status store is fed by an asynchronous listener: wait until
        # every job of the group is recorded as finished
        deadline = time.monotonic() + timeout
        while True:
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") == group]
            if jobs and all(j["status"] != "RUNNING" for j in jobs) or time.monotonic() > deadline:
                return jobs
            time.sleep(0.05)

    def counters(self, group: str, wall_s: float) -> dict[str, float]:
        """Stage totals for every job run under ``group`` (``wall_s``: the
        group's wall time, for the idle-core share)."""
        jobs = self._group_jobs(group)
        job_ids = {j["jobId"] for j in jobs}
        stages = []
        for sid in sorted({s for j in jobs for s in j["stageIds"]}):
            try:
                attempts = self._get(f"/stages/{sid}")
            except OSError:
                continue  # a stage skipped by every job is never registered
            stages += [a for a in attempts if a["status"] == "COMPLETE"]
        task_s = sum(s["executorRunTime"] for s in stages) / 1e3
        out = {
            "spark.task_s": task_s,
            "spark.cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "spark.gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "spark.shuffle_read_bytes": float(sum(s["shuffleReadBytes"] for s in stages)),
            "spark.shuffle_write_bytes": float(sum(s["shuffleWriteBytes"] for s in stages)),
            "spark.spill_bytes": float(sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                                           for s in stages)),
            "spark.stages": float(len(stages)),
            "spark.tasks": float(sum(s["numCompleteTasks"] for s in stages)),
            "spark.shuffle_stages": float(sum(1 for s in stages if s["shuffleWriteBytes"] > 0)),
            "spark.task_skew": 1.0,
            "spark.idle_core_share": max(0.0, 1.0 - task_s / (wall_s * self.cores)) if wall_s else 0.0,
            "spark.py_worker_start_s": 0.0,
        }
        if stages:
            wide = max(stages, key=lambda s: (s["numCompleteTasks"], s["executorRunTime"]))
            q = self._get(f"/stages/{wide['stageId']}/{wide['attemptId']}"
                          "/taskSummary?quantiles=0.5,1.0")["duration"]
            out["spark.task_skew"] = q[1] / max(q[0], 1.0)
        for ex in self._get("/sql?details=true&planDescription=false"):
            if job_ids & set(ex.get("successJobIds", []) + ex.get("failedJobIds", [])):
                for node in ex.get("nodes", []):
                    for m in node.get("metrics", []):
                        if m["name"] == "time to start Python workers":
                            out["spark.py_worker_start_s"] += sql_metric_total_s(m["value"])
        return out
