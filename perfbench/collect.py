"""Outside-in collectors: Spark stage totals per job group, read from the
Spark driver's localhost monitoring REST API, a ``/proc`` peak-RSS
sampler for the Python driver plus the driver JVM, and the CPU time of
the driver's process tree.

The REST reads mirror ``tools/scale_audit.py`` (jobs and stages of the
``/api/v1/applications/<app>`` tree). They are only made by the traced
run; the untraced run talks to Spark through the library alone.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
import urllib.request
from datetime import datetime

MB = 1e6

STAGE_FIELDS = {
    "tasks": "numTasks",
    "failed_tasks": "numFailedTasks",
    "input_bytes": "inputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_write_records": "shuffleWriteRecords",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
}


def _rest_time(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


_SIZE_RE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)")
_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def parse_size(text: str) -> float:
    """Bytes from a SQL-metric size string such as ``"1234.5 KiB"``."""
    m = _SIZE_RE.search(text)
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0


class SparkRest:
    """Stage, SQL and storage totals for the running application."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        port = re.search(r":(\d+)$", self.sc.uiWebUrl).group(1)
        self.base = f"http://localhost:{port}/api/v1/applications/{self.sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store behind the REST API holds the finished jobs."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def jobs_by_group(self) -> dict[str, list[dict]]:
        out: dict[str, list[dict]] = {}
        for j in self._get("jobs"):
            out.setdefault(j.get("jobGroup") or "", []).append(j)
        return out

    def stage_totals(self, jobs: list[dict]) -> dict[str, float]:
        tot = {k: 0 for k in STAGE_FIELDS}
        tot.update(jobs=len(jobs), stages=0, scheduler_wait_s=0.0)
        for sid in sorted({s for j in jobs for s in j["stageIds"]}):
            for att in self._get(f"stages/{sid}?details=false"):
                if att["status"] == "SKIPPED":
                    continue
                tot["stages"] += 1
                for k, field in STAGE_FIELDS.items():
                    tot[k] += att.get(field, 0)
                sub = _rest_time(att.get("submissionTime"))
                first = _rest_time(att.get("firstTaskLaunchedTime"))
                if sub is not None and first is not None:
                    tot["scheduler_wait_s"] += max(0.0, first - sub)
        return tot

    def scan_totals(self, job_ids: set[int]) -> dict[str, float]:
        """File-scan bytes per source format over the SQL executions
        that ran any of ``job_ids``."""
        tot = {"json_bytes": 0.0, "parquet_bytes": 0.0}
        for ex in self._get("sql?details=true&planDescription=false&offset=0&length=100000"):
            ran = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
            if not ran & job_ids:
                continue
            for node in ex.get("nodes", []):
                name = node.get("nodeName", "").lower()
                fmt = "json" if name.startswith("scan json") else (
                    "parquet" if name.startswith("scan parquet") else None)
                if fmt is None:
                    continue
                for m in node.get("metrics", []):
                    if m["name"] == "size of files read":
                        tot[f"{fmt}_bytes"] += parse_size(m["value"])
        return tot

    def cached_bytes(self) -> tuple[int, int]:
        """(memory, disk) bytes of every persisted RDD right now."""
        rdds = self._get("storage/rdd")
        return sum(r.get("memoryUsed", 0) for r in rdds), sum(r.get("diskUsed", 0) for r in rdds)


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (FileNotFoundError, ProcessLookupError):
        return 0


class PeakRss:
    """Background sampler of the summed RSS of ``pids``; ``stop()``
    returns the peak in bytes."""

    def __init__(self, pids: list[int], interval_s: float = 0.05):
        self.pids, self.interval_s = pids, interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, sum(rss_bytes(p) for p in self.pids))
            if self._stop.wait(self.interval_s):
                return

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak


def process_age_s() -> float:
    """Seconds since this process started, from ``/proc``."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by ``pid`` and its live descendants, from ``/proc``."""
    ticks = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/stat") as f:
                ticks += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except (FileNotFoundError, ProcessLookupError):
            pass
    return ticks / os.sysconf("SC_CLK_TCK")


def descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid`` (scans ``/proc``)."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (FileNotFoundError, ProcessLookupError, IndexError):
                pass
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until none of ``pids`` exists; return the ones still alive."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        time.sleep(0.05)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    return alive
