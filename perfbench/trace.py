"""Spans around calls into the package, and Spark's own counters per span.

A span records name, start, end, parent and the Spark job group it set, so
every job Spark runs inside it is attributed to it. After the run the
counters come from Spark's status store through the local UI REST API:
``/jobs`` maps job groups to stages, ``/stages`` gives run, CPU, GC,
shuffle, spill and input figures per stage, ``taskSummary`` the task-time
quantiles, and ``/sql?details=true`` the Python-eval node metrics
(``pythonTotalTime`` and friends on Spark 4.1).

With tracing off a span only measures its own duration, so the untraced
run pays for none of this.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import SparkSession


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    group: str | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    spark: SparkSession
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    def begin(self, name: str) -> Span:
        """Open a span nested in the innermost open one; when tracing, the
        Spark jobs started until it ends run under its own job group."""
        parent = self._stack[-1] if self._stack else None
        s = Span(name, 0.0, parent=parent)
        self._stack.append(len(self.spans))
        self.spans.append(s)
        if self.enabled:
            s.group = f"pb{len(self.spans) - 1}.{name}"
            self.spark.sparkContext.setJobGroup(s.group, name)
        s.start = time.perf_counter()
        return s

    def end(self, s: Span) -> None:
        s.end = time.perf_counter()
        self._stack.pop()
        if self.enabled:
            sc = self.spark.sparkContext
            outer = self.spans[s.parent] if s.parent is not None else None
            if outer is not None:
                sc.setJobGroup(outer.group, outer.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str):
        s = self.begin(name)
        try:
            yield s
        finally:
            self.end(s)

    def subtree(self, sid: int) -> list[int]:
        """``sid`` and every span nested in it."""
        out = [sid]
        for i in range(sid + 1, len(self.spans)):
            if self.spans[i].parent in out:
                out.append(i)
        return out

    def dump(self, path: str, origin: float, jobs_by_group: dict[str, list[dict]]) -> None:
        """Write every span, with the Spark jobs of its job group."""
        rows = [
            {
                "id": i, "name": s.name, "parent": s.parent, "job_group": s.group,
                "start_s": round(s.start - origin, 6), "end_s": round(s.end - origin, 6),
                "jobs": [
                    {"id": j["jobId"], "name": j["name"], "status": j["status"],
                     "stages": j["stageIds"], "tasks": j["numTasks"]}
                    for j in jobs_by_group.get(s.group, [])
                ] if s.group else [],
            }
            for i, s in enumerate(self.spans)
        ]
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)


class SparkCounters:
    """Read-only view of the application's status store over REST."""

    def __init__(self, spark: SparkSession):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.cores = sc.defaultParallelism

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def settle(self, timeout: float = 15.0) -> None:
        """Wait until the listener bus has delivered every finished job."""
        deadline = time.monotonic() + timeout
        last = None
        while time.monotonic() < deadline:
            jobs = self.get("/jobs")
            state = (len(jobs), sum(j["status"] == "RUNNING" for j in jobs))
            if state == last and state[1] == 0:
                return
            last = state
            time.sleep(0.3)

    def jobs_by_group(self) -> dict[str, list[dict]]:
        out: dict[str, list[dict]] = {}
        for j in self.get("/jobs"):
            out.setdefault(j.get("jobGroup") or "", []).append(j)
        return out

    def stage_totals(self, jobs: list[dict], wall_s: float) -> dict[str, float]:
        """The ``spark.*`` per-layer counters over ``jobs``."""
        ids = {sid for j in jobs for sid in j["stageIds"]}
        stages = [s for s in self.get("/stages") if s["stageId"] in ids]
        ran = [s for s in stages if s["status"] == "COMPLETE"]
        run_s = sum(s["executorRunTime"] for s in ran) / 1e3
        skew = 0.0
        if ran:
            worst = max(ran, key=lambda s: s["executorRunTime"])
            q = self.get(
                f"/stages/{worst['stageId']}/{worst['attemptId']}"
                "/taskSummary?quantiles=0.5,1.0"
            )["executorRunTime"]
            skew = q[1] / q[0] if q[0] > 0 else 1.0
        return {
            "spark.jobs": len(jobs),
            "spark.tasks": sum(s["numCompleteTasks"] for s in ran),
            "spark.executor_run_s": run_s,
            "spark.executor_cpu_s": sum(s["executorCpuTime"] for s in ran) / 1e9,
            "spark.gc_s": sum(s["jvmGcTime"] for s in ran) / 1e3,
            "spark.shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in ran),
            "spark.shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in ran),
            "spark.spill_bytes": sum(
                s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in ran
            ),
            "spark.input_bytes": sum(s["inputBytes"] for s in ran),
            "spark.task_skew": skew,
            "spark.core_busy_frac": run_s / (wall_s * self.cores) if wall_s else 0.0,
        }

    def python_eval(self, job_ids: set[int]) -> dict[str, float]:
        """Python-eval node metrics summed over the SQL executions that ran
        ``job_ids``: seconds for the times, raw figures for the rest."""
        totals = {k: 0.0 for k in _PY_METRICS.values()}
        for ex in self.get("/sql?details=true&planDescription=false&length=100000"):
            ran = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
            if not ran & job_ids:
                continue
            for node in ex.get("nodes", []):
                if not _PYTHON_NODE.search(node["nodeName"]):
                    continue
                for m in node.get("metrics", []):
                    key = _PY_METRICS.get(m["name"])
                    if key:
                        totals[key] += parse_metric(m["value"])
        return totals


# plan nodes that run Python (ArrowEvalPython, MapInPandas, ...) and the
# display names of their SQL metrics (Spark 4.1) → our names
_PYTHON_NODE = re.compile(r"Python|Pandas|Arrow")
_PY_METRICS = {
    "time to run Python workers": "python_total_s",
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_init_s",
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_received",
    "number of output rows": "rows",
}

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
}


def parse_metric(value: str) -> float:
    """Total of a SQL metric as the UI renders it: ``"12"``,
    ``"1.2 s"`` or ``"total (min, med, max ...)\\n3.4 MiB (...)"``. Times
    come back in seconds, sizes in bytes."""
    text = value.split("\n")[-1] if "\n" in value else value
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2), 1.0)
