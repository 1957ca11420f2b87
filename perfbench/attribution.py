"""Per-layer attribution of Spark work by job group.

Every call into a layer runs under ``sc.setJobGroup(<layer>)``; inside a
kernel, the ``run_bsp`` loop additionally carries the job tag ``bsp``. After
each call the tracer reads the call's jobs, their stages and tasks from the
monitoring REST API (``/api/v1/applications/<id>/jobs``, ``/stages``,
``/sql``). Attribution is by job id, never by time window: a marker job run
after the call is waited for, so every event of the call has reached the
status store before it is read.
"""

from __future__ import annotations

import importlib
import json
import statistics
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime

from pyspark.sql import SparkSession


OUTSIDE = "benchmark"  # job group of everything outside a layer call
BSP_TAG = "bsp"
# the kernel modules (the package re-exports same-named functions)
BSP_KERNELS = [importlib.import_module(f"graphscope_spark.algorithms.{k}")
               for k in ("pagerank", "wcc", "cdlp")]
PY_TIME_METRIC = "time to run Python workers"
MB = 1024 * 1024


class TraceError(RuntimeError):
    """The status store did not hold every job, stage or metric of a call."""


@contextmanager
def untraced(_layer: str):
    yield


class Tracer:
    def __init__(self, spark: SparkSession, ncpu: int):
        self.sc = spark.sparkContext
        self.ncpu = ncpu
        url = self.sc.uiWebUrl
        if not url:
            raise TraceError("the Spark UI is disabled; the REST API is unavailable")
        self.base = f"{url}/api/v1/applications/{self.sc.applicationId}"
        self.calls: dict[str, dict] = {}
        self._seen_jobs: set[int] = set()
        self._seen_stages: set[tuple[int, int]] = set()
        self._markers = 0
        self.harvest_s = 0.0  # wall spent reading the status store
        self.sc.setJobGroup(OUTSIDE, OUTSIDE)

    # -- recording -------------------------------------------------------------

    @contextmanager
    def layer(self, name: str):
        """Run the body's Spark jobs under job group ``name`` and attribute
        them to the layer once the body returns."""
        before = self._persistent()
        self.sc.setJobGroup(name, name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self.sc.setJobGroup(OUTSIDE, OUTSIDE)
        call = self.calls.setdefault(name, _empty_call())
        call["wall_s"] += t1 - t0
        call["leaked_rdds"] += self._persistent() - before
        t2 = time.time()
        self._harvest(name, call)
        self.harvest_s += time.time() - t2

    @contextmanager
    def bsp_tagging(self):
        """Tag the jobs of every ``run_bsp`` loop of the traced kernels."""
        originals = [m.run_bsp for m in BSP_KERNELS]

        def wrap(run_bsp):
            def tagged(*args, **kwargs):
                self.sc.addJobTag(BSP_TAG)
                try:
                    return run_bsp(*args, **kwargs)
                finally:
                    self.sc.removeJobTag(BSP_TAG)
            return tagged

        for m, run_bsp in zip(BSP_KERNELS, originals):
            m.run_bsp = wrap(run_bsp)
        try:
            yield
        finally:
            for m, run_bsp in zip(BSP_KERNELS, originals):
                m.run_bsp = run_bsp

    def _persistent(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.loads(r.read())

    def _drain(self) -> None:
        """Run a marker job and wait until the status store lists it as
        done: the listener processes events in order, so every event of the
        jobs before it has been applied."""
        self._markers += 1
        group = f"trace-marker-{self._markers}"
        self.sc.setJobGroup(group, group)
        self.sc.parallelize([0], 1).count()
        self.sc.setJobGroup(OUTSIDE, OUTSIDE)
        deadline = time.time() + 30
        while time.time() < deadline:
            if any(j.get("jobGroup") == group and j["status"] == "SUCCEEDED"
                   for j in self._get("/jobs?status=succeeded")):
                return
            time.sleep(0.05)
        raise TraceError("marker job never reached the status store")

    def _harvest(self, name: str, call: dict) -> None:
        self._drain()
        jobs = [j for j in self._get("/jobs")
                if j.get("jobGroup") == name and j["jobId"] not in self._seen_jobs]
        self._seen_jobs.update(j["jobId"] for j in jobs)
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self._get("/stages?details=true")
                  if s["stageId"] in stage_ids and s["status"] in ("COMPLETE", "FAILED")
                  and (s["stageId"], s["attemptId"]) not in self._seen_stages]
        self._seen_stages.update((s["stageId"], s["attemptId"]) for s in stages)
        seen_ids = {sid for sid, _attempt in self._seen_stages}
        for j in jobs:
            if (j["status"] != "SUCCEEDED"
                    or len(seen_ids & set(j["stageIds"])) < j["numCompletedStages"]):
                raise TraceError(f"{name}: job {j['jobId']} is incomplete in the status store")
        call["jobs"] += len(jobs)
        call["bsp_jobs"] += sum(BSP_TAG in j.get("jobTags", []) for j in jobs)
        call["intervals"] += [(_ts(j["submissionTime"]), _ts(j["completionTime"])) for j in jobs]
        call["stages"] += stages
        call["tasks"] += [(t["duration"], t["taskMetrics"]["executorCpuTime"])
                          for s in stages for t in s.get("tasks", {}).values()
                          if t["status"] == "SUCCESS"]
        if name == "extract":
            call["python_s"] = self._python_s({j["jobId"] for j in jobs})

    def _python_s(self, job_ids: set[int]) -> float:
        total, found = 0.0, False
        # /sql pages its answer (20 executions unless a length is given)
        for ex in self._get("/sql?details=true&planDescription=false&offset=0&length=1000000"):
            if not job_ids & set(ex.get("successJobIds", [])):
                continue
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    if m["name"] == PY_TIME_METRIC:
                        total += _duration_s(m["value"])
                        found = True
        if not found:
            raise TraceError(f"no {PY_TIME_METRIC!r} SQL metric for the extract call")
        return total

    # -- reporting -------------------------------------------------------------

    def layer_metrics(self, name: str) -> dict[str, float]:
        """The per-call metrics of one layer, from the stages and tasks of
        its job group. Task quantiles use task CPU time (ns resolution);
        ``task_skew`` is the slowest task's wall over the median task's."""
        c = self.call(name)
        st = c["stages"]
        wall = c["wall_s"]
        run_s = sum(s["executorRunTime"] for s in st) / 1e3
        durations = sorted(d for d, _cpu in c["tasks"])
        cpu_ms = sorted(cpu / 1e6 for _d, cpu in c["tasks"])
        return {
            "wall_s": wall,
            "jobs": c["jobs"],
            "tasks": len(durations),
            "executor_run_s": run_s,
            "executor_cpu_s": sum(s["executorCpuTime"] for s in st) / 1e9,
            "shuffle_read_mb": sum(s["shuffleReadBytes"] for s in st) / MB,
            "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in st) / MB,
            "spill_mb": sum(s["diskBytesSpilled"] for s in st) / MB,
            "task_cpu_p50_ms": statistics.median(cpu_ms),
            "task_cpu_max_ms": cpu_ms[-1],
            "task_skew": durations[-1] / max(statistics.median(durations), 1),
            "driver_s": max(0.0, wall - _union(c["intervals"])),
            "cpu_util": run_s / (self.ncpu * wall),
        }

    def call(self, name: str) -> dict:
        """What was recorded for a layer; an empty record if never called."""
        return self.calls.get(name) or _empty_call()


def _empty_call() -> dict:
    return {"wall_s": 0.0, "jobs": 0, "bsp_jobs": 0, "intervals": [], "stages": [],
            "tasks": [], "leaked_rdds": 0, "python_s": 0.0}


def _ts(s: str) -> float:
    return datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _duration_s(value: str) -> float:
    """Total of a Spark SQL timing metric, e.g.
    ``"total (min, med, max (stageId: taskId))\\n1.2 s (0 ms, ...)"``."""
    num, unit = value.splitlines()[-1].split()[:2]
    return float(num.replace(",", "")) * _UNITS[unit]
