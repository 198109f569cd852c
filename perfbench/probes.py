"""Measurements taken from outside the program.

- ``ProcTree``: user+sys CPU (and its JIT-compiler share) and peak
  resident memory of this process and every descendant (the Spark JVM and
  its Python workers), read from ``/proc``.
- ``SparkCounters``: job/stage/task counters from Spark's own status store
  through the UI REST API, diffed by id range around each operation.
- ``Spans``: in-memory (name, start, end, parent) records written out as
  JSON lines at exit.
"""

from __future__ import annotations

import json
import os
import urllib.request
from collections import defaultdict

_TICK = os.sysconf("SC_CLK_TCK")


class ProcTree:
    def __init__(self, root: int | None = None) -> None:
        self.root = root or os.getpid()

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = defaultdict(list)
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            children[int(stat[stat.rindex(")") + 2:].split()[1])].append(int(entry))
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def cpu_s(self) -> tuple[float, float]:
        """(all, jit): utime+stime of the live tree plus what its reaped
        children used, and the part of it spent in the JVM's JIT compiler
        threads. The compiler threads must be long-lived for the second
        figure to be a running total (``-XX:-UseDynamicNumberOfCompilerThreads``)."""
        ticks = jit = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    stat = f.read()
                ticks += sum(int(x) for x in stat[stat.rindex(")") + 2:].split()[11:15])
                for tid in os.listdir(f"/proc/{pid}/task"):
                    with open(f"/proc/{pid}/task/{tid}/stat") as f:
                        stat = f.read()
                    if "CompilerThre" in stat[stat.index("(") + 1:stat.rindex(")")]:
                        jit += sum(int(x) for x in stat[stat.rindex(")") + 2:].split()[11:13])
            except OSError:
                continue
        return ticks / _TICK, jit / _TICK

    def peak_rss_mb(self) -> float:
        """Sum over the live tree of each process's resident high-water mark."""
        kb = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            kb += int(line.split()[1])
                            break
            except OSError:
                continue
        return kb / 1024.0


STAGE_SUMS = {
    "tasks": ("numCompleteTasks", 1),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_write_mb": ("shuffleWriteBytes", 1 / 2**20),
    "spill_mb": ("diskBytesSpilled", 1 / 2**20),
    "input_mb": ("inputBytes", 1 / 2**20),
}


class SparkCounters:
    """Reads jobs and stages newer than the last read from the REST API.

    Jobs and stages are selected by id, not by list position: the status
    store keeps only the last ``spark.ui.retained{Jobs,Stages}`` entries,
    so list lengths stop growing once a session has run that many.
    """

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        self.job_mark = self.stage_mark = -1
        self.mark()

    def _get(self, what: str) -> list[dict]:
        with urllib.request.urlopen(f"{self.base}/{what}", timeout=60) as r:
            return json.load(r)

    def drain(self) -> None:
        """Block until every queued listener event, including the last
        stage's task metrics, has reached the status store."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def jobs_since_mark(self) -> int:
        self.drain()
        return sum(1 for j in self._get("jobs") if j["jobId"] > self.job_mark)

    def mark(self) -> None:
        self.drain()
        self.job_mark = max([j["jobId"] for j in self._get("jobs")], default=-1)
        self.stage_mark = max([s["stageId"] for s in self._get("stages")], default=-1)

    def since_mark(self) -> dict[str, float]:
        """Counters of the jobs and executed stages since the last mark;
        moves the mark past them."""
        self.drain()
        jobs = [j for j in self._get("jobs") if j["jobId"] > self.job_mark]
        new = [s for s in self._get("stages") if s["stageId"] > self.stage_mark]
        stages = [s for s in new if s["status"] == "COMPLETE"]
        out = {"jobs": len(jobs), "stages": len(stages)}
        for key, (field, scale) in STAGE_SUMS.items():
            out[key] = sum(s.get(field, 0) for s in stages) * scale
        out["write_tasks"] = sum(
            s["numCompleteTasks"] for s in stages if s.get("outputBytes", 0) > 0
        )
        self.job_mark = max([j["jobId"] for j in jobs], default=self.job_mark)
        self.stage_mark = max([s["stageId"] for s in new], default=self.stage_mark)
        return out


class Spans:
    """Span records kept in memory; ``write`` dumps them as JSON lines."""

    def __init__(self) -> None:
        self.records: list[dict] = []

    def add(self, name: str, start: float, end: float | None,
            parent: int | None = None, **attrs) -> int:
        self.records.append({"id": len(self.records), "name": name,
                             "parent": parent, "start": start, "end": end, **attrs})
        return len(self.records) - 1

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in self.records:
                f.write(json.dumps(rec, sort_keys=True) + "\n")
