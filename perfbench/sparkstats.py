"""Engine counters read from outside the package.

* Spark's REST status API (``<uiWebUrl>/api/v1``) gives per-stage task
  metrics and per-SQL-node metrics. Each unit of work runs under its own
  job group, so the counters are attributed to units by group.
* ``/proc/<pid>/status`` gives each process's peak resident set size
  (``VmHWM``), summed over the JVM and the Python workers it started.
* ``/proc/<pid>/stat`` gives the Python workers' CPU time, which the
  stages' ``executorCpuTime`` (JVM threads only) leaves out.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re
import time
import urllib.request
from collections import defaultdict
from dataclasses import dataclass, field

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE_RE = re.compile(r"([\d.]+)\s*([KMGT]iB|B)\b")


def parse_size(value: str) -> float:
    """Bytes from a SQL size metric such as ``9.3 KiB`` or
    ``total (min, med, max ...)\\n37.2 KiB (9.3 KiB, ...)`` (the total
    comes first on the last line)."""
    m = _SIZE_RE.search(value.strip().splitlines()[-1])
    return float(m.group(1)) * _SIZE_UNITS[m.group(2)] if m else 0.0


def _epoch(ts: str) -> float:
    return dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


@dataclass
class GroupStats:
    """Counters of all stages and SQL nodes one job group ran."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    bytes_read: float = 0.0
    bytes_written: float = 0.0
    shuffle_read_bytes: float = 0.0
    shuffle_write_bytes: float = 0.0
    spill_bytes: float = 0.0
    stage_busy_s: float = 0.0
    py_bytes: dict[str, float] = field(default_factory=lambda: defaultdict(float))


class SparkStatus:
    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def _settled_jobs(self, timeout_s: float = 30.0) -> list[dict]:
        """Jobs once the status listener has caught up: none running and
        the list unchanged between two reads."""
        deadline = time.monotonic() + timeout_s
        prev = None
        while True:
            jobs = self._get("/jobs")
            sig = [(j["jobId"], j["status"]) for j in jobs]
            if sig == prev and all(j["status"] != "RUNNING" for j in jobs):
                return jobs
            if time.monotonic() > deadline:
                raise TimeoutError("Spark status listener did not settle")
            prev = sig
            time.sleep(0.25)

    def by_group(self) -> dict[str, GroupStats]:
        jobs = self._settled_jobs()
        group_of_job = {j["jobId"]: j.get("jobGroup") for j in jobs}
        group_of_stage: dict[int, str] = {}
        out: dict[str, GroupStats] = defaultdict(GroupStats)
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            g = j.get("jobGroup")
            if g is None:
                continue
            out[g].jobs += 1
            for sid in j["stageIds"]:
                group_of_stage.setdefault(sid, g)

        busy: dict[str, list[tuple[float, float]]] = defaultdict(list)
        for s in self._get("/stages"):
            g = group_of_stage.get(s["stageId"])
            if g is None or s["status"] not in ("COMPLETE", "FAILED"):
                continue
            st = out[g]
            st.stages += 1
            st.tasks += s["numCompleteTasks"] + s["numFailedTasks"]
            st.failed_tasks += s["numFailedTasks"]
            st.run_s += s["executorRunTime"] / 1e3
            st.cpu_s += s["executorCpuTime"] / 1e9
            st.gc_s += s["jvmGcTime"] / 1e3
            st.bytes_written += s["outputBytes"]
            st.shuffle_read_bytes += s["shuffleReadBytes"]
            st.shuffle_write_bytes += s["shuffleWriteBytes"]
            st.spill_bytes += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
            if "submissionTime" in s and "completionTime" in s:
                busy[g].append((_epoch(s["submissionTime"]), _epoch(s["completionTime"])))
        for g, iv in busy.items():
            out[g].stage_busy_s = _union_length(iv)

        executions = self._get(
            "/sql?details=true&planDescription=false&offset=0&length=1000000"
        )
        for ex in executions:
            ids = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
            groups = {group_of_job.get(i) for i in ids} - {None}
            if len(groups) != 1:
                continue
            st = out[groups.pop()]
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    if m["name"] == "size of files read":
                        # the stages' inputBytes miss the vectorized
                        # parquet reader's reads; the scan node counts them
                        st.bytes_read += parse_size(m["value"])
                    elif m["name"] in (
                        "data sent to Python workers",
                        "data returned from Python workers",
                    ):
                        direction = "sent" if "sent" in m["name"] else "returned"
                        st.py_bytes[f"{node['nodeName']}.{direction}"] += parse_size(
                            m["value"]
                        )
        return out


def _stat(pid: int | str) -> tuple[str, list[str]] | None:
    """(command name, the fields after it) of ``/proc/<pid>/stat``."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may hold spaces
    head, rest = stat.rsplit(")", 1)
    return head.split("(", 1)[1], rest.split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _stat(name)):
            kids[int(st[1][1])].append(int(name))
    return kids


def _vm_hwm_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(pid: int | None = None) -> list[int]:
    """Every live process below ``pid`` (this process by default)."""
    kids = _children()
    out, todo = [], list(kids.get(pid or os.getpid(), []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def descendants_peak_rss_mb() -> float:
    """Sum of ``VmHWM`` over every process below this one: the Spark JVM
    and the Python workers it forked."""
    return sum(_vm_hwm_kib(p) for p in descendants()) / 1024.0


def python_cpu_s() -> float:
    """User plus system CPU seconds of every Python process below this
    one (the Python workers and the daemon that forks them), with those
    of their children that have ended and been waited for."""
    ticks = 0
    for pid in descendants():
        st = _stat(pid)
        if st and st[0].startswith("python"):
            # utime, stime, cutime, cstime: fields 14 to 17 of stat
            ticks += sum(int(v) for v in st[1][11:15])
    return ticks / os.sysconf("SC_CLK_TCK")
