"""Measurement probes the benchmark reads from outside the program.

- :class:`ProcTree` reads CPU time and peak RSS of the Spark JVM and its
  Python workers from ``/proc`` (no third-party process library).
- :class:`SparkUI` reads job, stage, task and SQL-node metrics from the
  Spark UI REST API of the running application.
- :class:`Spans` records named, nested time spans in memory and writes
  them to one JSON file at the end of a run.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import statistics
import time
import urllib.request

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: str) -> tuple[int, str, float] | None:
    """(ppid, comm, cpu seconds incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[1] = ppid; [11..14] = utime stime cutime cstime (stat(5))
    ticks = sum(int(x) for x in fields[11:15])
    return int(fields[1]), comm, ticks / _TICK


class ProcTree:
    """The descendants of this process."""

    def __init__(self):
        self.root = os.getpid()

    def members(self) -> dict[int, tuple[str, float]]:
        stats = {}
        for pid in os.listdir("/proc"):
            if pid.isdigit():
                st = _stat(pid)
                if st is not None:
                    stats[int(pid)] = st
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _, _) in stats.items():
            kids.setdefault(ppid, []).append(pid)
        out, todo = {}, list(kids.get(self.root, []))
        while todo:
            pid = todo.pop()
            out[pid] = stats[pid][1:]
            todo.extend(kids.get(pid, []))
        return out

    def cpu_s(self) -> float:
        """User+sys CPU of every descendant, including children they have
        reaped (a Python worker that exited counts through its parent)."""
        return sum(cpu for _, cpu in self.members().values())

    def python_peak_rss_mb(self) -> float:
        """Largest peak RSS (VmHWM) of any descendant Python process."""
        peak = 0
        for pid, (comm, _) in self.members().items():
            if not comm.startswith("python"):
                continue
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            peak = max(peak, int(line.split()[1]))
            except OSError:
                continue
        return peak / 1024.0

    def wait_empty(self, timeout: float) -> None:
        """Wait for every descendant to exit; kill what is left."""
        deadline = time.monotonic() + timeout
        while self.members() and time.monotonic() < deadline:
            time.sleep(0.1)
        for pid in self.members():
            with contextlib.suppress(OSError):
                os.kill(pid, 9)
        deadline = time.monotonic() + 10
        while self.members() and time.monotonic() < deadline:
            with contextlib.suppress(ChildProcessError):
                os.waitpid(-1, os.WNOHANG)
            time.sleep(0.1)


_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
          "TiB": 2.0 ** 40}


def metric_value(text: str) -> float:
    """A SQL-node metric string as a number in seconds, bytes or units.
    Aggregated metrics read ``total (min, med, max ...)\\n12.2 s (...)``;
    the total is the first figure of the last line."""
    line = text.strip().split("\n")[-1]
    num, _, rest = line.partition(" ")
    unit = rest.split(" ")[0] if rest else ""
    return float(num.replace(",", "")) * _UNITS.get(unit, 1.0)


class SparkUI:
    """Read-only client of the application's UI REST API."""

    def __init__(self, sc):
        self.base = (f"{sc.uiWebUrl}/api/v1/applications/"
                     f"{sc.applicationId}")

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def mark(self) -> tuple[int, int]:
        """(last job id, last SQL execution id) seen so far."""
        jobs = self.get("/jobs")
        sql = self.get("/sql?details=false&length=100000")
        return (max((j["jobId"] for j in jobs), default=-1),
                max((e["id"] for e in sql), default=-1))

    def since(self, mark: tuple[int, int]) -> dict:
        """Jobs, their stages and the SQL executions that started after
        ``mark``. The listener bus runs behind the caller, so wait until
        every job and execution reads finished."""
        deadline = time.monotonic() + 10
        while True:
            jobs = [j for j in self.get("/jobs") if j["jobId"] > mark[0]]
            sql = [e for e in self.get("/sql?details=true&planDescription="
                                       "false&length=100000")
                   if e["id"] > mark[1]]
            busy = any(j["status"] == "RUNNING" for j in jobs) or any(
                e["status"] == "RUNNING" for e in sql)
            if not busy or time.monotonic() > deadline:
                break
            time.sleep(0.1)
        ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self.get("/stages") if s["stageId"] in ids
                  and s["status"] == "COMPLETE"]
        return {"jobs": jobs, "stages": stages, "sql": sql}

    def task_durations_s(self, stage_id: int) -> list[float]:
        att = max(s["attemptId"] for s in self.get(f"/stages/{stage_id}"))
        tasks = self.get(f"/stages/{stage_id}/{att}/taskList?length=100000")
        return [t["duration"] / 1000.0 for t in tasks
                if t.get("status") == "SUCCESS"]


def node_metrics(sql: list, node_name: str) -> list[dict[str, str]]:
    """Every instance of one SQL node type: {metric name: raw string}."""
    return [{m["name"]: m["value"] for m in n["metrics"]}
            for e in sql for n in e.get("nodes", [])
            if n["nodeName"] == node_name]


def engine_counters(activity: dict) -> dict[str, float]:
    """Engine-wide counters of one call: jobs, SQL executions, tasks,
    spilled bytes, JVM GC seconds and shuffle bytes written."""
    st = activity["stages"]
    return {
        "spark.jobs": len(activity["jobs"]),
        "spark.sql_executions": len(activity["sql"]),
        "spark.tasks": sum(s["numCompleteTasks"] for s in st),
        "spark.spill_bytes": sum(s["memoryBytesSpilled"]
                                 + s["diskBytesSpilled"] for s in st),
        "spark.gc_s": sum(s["jvmGcTime"] for s in st) / 1000.0,
        "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in st),
    }


def python_udf_counters(sql: list) -> dict[str, float]:
    """Time inside Python workers and Arrow bytes across every
    ArrowEvalPython node, plus the stage that ran the most Python time."""
    nodes = node_metrics(sql, "ArrowEvalPython")
    run = [n.get("time to run Python workers", "0 ms") for n in nodes]
    stage = None
    if run:
        top = max(run, key=metric_value)
        found = re.search(r"stage (\d+)\.", top)
        stage = int(found.group(1)) if found else None
    return {
        "python_worker_s": sum(metric_value(v) for v in run),
        "arrow_bytes": sum(metric_value(n.get(k, "0 B")) for n in nodes
                           for k in ("data sent to Python workers",
                                     "data returned from Python workers")),
        "udf_stage": stage,
    }


def max_over_median(values: list[float]) -> float:
    return max(values) / statistics.median(values) if values else 1.0


class Spans:
    """In-memory spans: name, start, end (seconds since ``t0``) and the
    index of the enclosing span. Nothing is recorded until ``enabled``."""

    def __init__(self, t0: float):
        self.t0 = t0
        self.enabled = False
        self.items: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "start": time.perf_counter() - self.t0,
               "end": None,
               "parent": self._stack[-1] if self._stack else None}
        self.items.append(rec)
        self._stack.append(len(self.items) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([dict(r, id=i) for i, r in enumerate(self.items)], f,
                      indent=1)
