"""Link-graph benchmark: one workload per process, from an input table to
every kernel result, on ``local[<cores>]``.

    python3 perfbench/run.py --workload crawl_pipeline --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout (the package and ``tests/oracles.py``
are imported from there). Set-up starts the session and writes the seeded
inputs. Then full pipeline passes run until ``--seconds`` would be exceeded
(at least one). In the first pass every phase makes untimed warm-up calls
right before its timed calls; ``setup_s`` is the session start, the input
writing and those warm-up calls. A pass times the short phases (ingest, and
wcc on the crawl) more than once and takes each phase's median; each
end-to-end metric is the median over the passes. The outputs of every timed
call are checked against oracles; each kernel result or ingest is one
operation, and a failed check is a failed operation.

``--trace 1`` makes one pass in which every phase, after its warm-up calls,
is timed once untraced and once traced with a job group per layer, and
prints the per-layer metrics of ``BENCHMARK.json``; the difference of the
traced and the untraced calls' ``pipeline_s`` is the tracing overhead. See
``perfbench/README.md`` for every metric.

The last line of standard output is one JSON object:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
All scratch files live under ``.perfbench_work/`` of the working directory and
are removed on exit.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import replace
from pathlib import Path

T_START = time.perf_counter()

WORKLOADS = ("crawl_pipeline", "webgraph_scale")
PARTITIONS = 8  # num_partitions and spark.sql.shuffle.partitions
DRIVER_MEMORY = "3g"
BENCH_JSON = Path(__file__).resolve().parent.parent / "BENCHMARK.json"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = Path.cwd()
    for need in ("graphscope_spark/__init__.py", "tests/oracles.py"):
        if not (root / need).is_file():
            print(f"perfbench: {need} not found under {root}; run from a source checkout",
                  file=sys.stderr)
            return 2
    spec = json.loads(BENCH_JSON.read_text())
    work = root / ".perfbench_work" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local", "warehouse"):
        (work / sub).mkdir(parents=True)
    # Box fit through public knobs: driver heap, scratch dirs under the work dir.
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    sys.path.insert(0, str(root))
    try:
        return Bench(args, spec, work).run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            (root / ".perfbench_work").rmdir()
        except OSError:
            pass


class Bench:
    def __init__(self, args, spec: dict, work: Path):
        import workloads as W

        self.W = W
        self.args = args
        self.spec = spec
        self.work = work
        self.ncpu = len(os.sched_getaffinity(0))
        self.crawl = args.workload == "crawl_pipeline"
        self.size, self.warm_size = (W.CRAWL, W.CRAWL_WARMUP) if self.crawl else (W.WEB, W.WEB_WARMUP)
        self.input = str(work / "input")
        self.spark = None

    # -- session ---------------------------------------------------------------

    def start_session(self):
        from graphscope_spark.session import get_spark

        tmp = self.work / "tmp"
        return get_spark(
            f"perfbench-{self.args.workload}",
            master=f"local[{self.ncpu}]",
            shuffle_partitions=PARTITIONS,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": str(self.work / "local"),
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            },
        )

    def stop_session(self) -> None:
        """Stop Spark and the gateway JVM it launched, and wait for it."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is None:
            return
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    def write_inputs(self) -> None:
        write = self.W.write_crawl_input if self.crawl else self.W.write_web_input
        write(self.spark, self.size, self.args.seed, self.input, PARTITIONS)

    def pipeline(self, layers: list, warm: bool, single: bool = False):
        """One pass, with warm-up calls if ``warm``; ``single`` times each
        phase once per layer context.

        The warm-up calls run on the full input: after a pass on tiny inputs
        the next full pass still ran ~30% slower than the one after it (JIT),
        and the kernels' fixed per-call costs make a tiny call nearly as
        long as a full one."""
        run = self.W.run_crawl if self.crawl else self.W.run_web
        size = replace(self.size, ingests=1, wccs=1) if single else self.size
        return run(self.spark, size, self.warm_size if warm else None, self.input,
                   str(self.work / "ckpt"), PARTITIONS, layers)

    def setup(self) -> dict[str, float]:
        """Session up and inputs written; the warm-up calls come with the
        first pass and are added in ``with_warmup``."""
        self.spark = self.start_session()
        a = time.perf_counter()
        self.write_inputs()
        b = time.perf_counter()
        return {"session.start_s": a - T_START, "session.inputs_s": b - a}

    @staticmethod
    def with_warmup(setup: dict, rep) -> dict[str, float]:
        out = {**setup, "session.warmup_s": rep.warmup_s}
        out["setup_s"] = sum(out.values())
        print("set-up " + " ".join(f"{k}={v:.3f}" for k, v in out.items()), flush=True)
        return out

    # -- run -------------------------------------------------------------------

    def run(self) -> int:
        print("loadavg_before {:.2f} {:.2f} {:.2f}".format(*os.getloadavg()))
        print(f"workload {self.args.workload} seed {self.args.seed} cores {self.ncpu} "
              f"partitions {PARTITIONS} driver_memory {DRIVER_MEMORY}")
        try:
            setup = self.setup()
            if self.args.trace:
                rep, tracer = self.traced()
                reps = [rep]
            else:
                reps = self.measure()
            setup = self.with_warmup(setup, reps[0])
            peak_mb = self.jvm_peak_rss_mb()
            t = time.perf_counter()
            failures = self.check(reps)
            print(f"checks took {time.perf_counter() - t:.1f} s", flush=True)
            print(f"elapsed {time.perf_counter() - T_START:.1f} s", flush=True)
        finally:
            self.stop_session()
        attempted = sum(len(f) for f in failures)
        failed = sum(err is not None for f in failures for err in f.values())
        for i, f in enumerate(failures):
            for op, err in f.items():
                print(f"check pass={i} {op}: {'ok' if err is None else 'FAILED ' + err}")
        if self.args.trace:
            metrics = self.per_layer(setup, rep, tracer)
        else:
            metrics = self.end_to_end(setup, reps, peak_mb)
        for name, m in metrics.items():
            print(f"{name} = {m['value']} {m['unit']}")
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0

    def measure(self) -> list:
        """Passes until the next one's timed calls would take the timed
        total past --seconds; the first pass warms up."""
        from attribution import untraced

        reps, timed = [], 0.0
        while True:
            reps.append(self.pipeline([untraced], warm=not reps))
            last = sum(sum(w) for w in reps[-1].walls.values())
            timed += last
            self.report_pass(len(reps) - 1, reps[-1])
            if timed + last > self.args.seconds:
                return reps

    @staticmethod
    def report_pass(i, rep) -> None:
        print(f"pass {i}: warm-up calls {rep.warmup_s:.3f} s; " + " ".join(
            f"{k}={v:.3f}" for k, v in rep.phases.items()))
        for phase, walls in rep.walls.items():
            if len(walls) > 1:
                print(f"pass {i}: {phase} calls {[round(w, 3) for w in walls]}")
        for kernel, calls in rep.bsp.items():
            for bsp in calls:
                walls = [round(m["wall_s"], 2) for r in bsp for m in r.metrics]
                if walls:
                    print(f"pass {i}: {kernel} superstep walls {walls}", flush=True)

    def traced(self) -> tuple:
        """One pass; each phase is timed untraced, then traced by job group."""
        from attribution import Tracer, untraced
        from graphscope_spark.extract import extract_pages

        tracer = Tracer(self.spark, self.ncpu)
        with tracer.bsp_tagging():
            rep = self.pipeline([untraced, tracer.layer], warm=True, single=True)
        self.report_pass("traced", rep)
        if self.crawl:  # extraction alone, so that extract and graph separate
            with tracer.layer("extract"):
                extract_pages(self.spark.read.parquet(self.input)).write.format(
                    "noop").mode("overwrite").save()
        print(f"tracing: {tracer.harvest_s:.1f} s spent reading the status store "
              "between phases", flush=True)
        return rep, tracer

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("VmHWM missing from /proc status")

    def check(self, reps: list) -> list[dict]:
        self.spark.sparkContext.setJobGroup("checks", "checks")
        gc.collect()
        oracle = (self.W.CrawlOracle(self.spark, self.size) if self.crawl
                  else self.W.WebOracle(self.input))
        return [oracle.check(rep, self.size) for rep in reps]

    # -- metrics ---------------------------------------------------------------

    def end_to_end(self, setup: dict, reps: list, peak_mb: float) -> dict:
        med = lambda xs: statistics.median(xs)  # noqa: E731
        values = {
            "setup_s": setup["setup_s"],
            "pipeline_s": med(r.pipeline_s for r in reps),
            "pagerank_edges_per_s": med(
                r.counts["edges"] * self.W.supersteps(r) / r.phases["pagerank_s"] for r in reps),
            "peak_rss_mb": peak_mb,
        }
        for phase in reps[0].phases:
            values[phase] = med(r.phases[phase] for r in reps)
        return self._emit(self.spec["end_to_end"], values)

    def per_layer(self, setup: dict, rep, tracer) -> dict:
        """Every value is measured on both workloads, or is a count or ratio
        that reads 0 where a workload does not call the layer: a time that
        reads 0 on every run would look like no measurement at all. ``rep``
        holds an untraced, then a traced call per phase."""
        values = {k: v for k, v in setup.items() if k.startswith("session.")}
        values["trace.overhead_s"] = rep.call_pipeline_s(-1) - rep.call_pipeline_s(0)
        last = "algorithms.triangles" if self.crawl else "algorithms.cdlp"
        for name, layer in (("graph", "graph"), ("algorithms.pagerank", "algorithms.pagerank"),
                            ("algorithms.wcc", "algorithms.wcc"),
                            ("algorithms.last_kernel", last)):
            for k, v in tracer.layer_metrics(layer).items():
                values[f"{name}.{k}"] = v
        ex = tracer.call("extract")
        run_s = sum(s["executorRunTime"] for s in ex["stages"]) / 1e3
        values.update({
            "extract.jobs": ex["jobs"],
            "extract.tasks": len(ex["tasks"]),
            "extract.rows_per_s": self.size.pages / ex["wall_s"] if self.crawl else 0.0,
            "extract.python_share": ex["python_s"] / run_s if self.crawl else 0.0,
            "extract.cpu_util": run_s / (self.ncpu * ex["wall_s"]) if self.crawl else 0.0,
        })
        for kernel in ("pagerank", "wcc", "cdlp"):
            traced = rep.bsp[kernel][-1] if kernel in rep.bsp else []
            walls = sorted(m["wall_s"] for r in traced for m in r.metrics)
            call = tracer.call(f"algorithms.{kernel}")
            values.update({
                f"bsp.{kernel}.supersteps": len(walls),
                f"bsp.{kernel}.jobs_per_superstep": call["bsp_jobs"] / len(walls) if walls else 0.0,
                f"bsp.{kernel}.leaked_rdds": call["leaked_rdds"],
            })
            if walls:
                values[f"bsp.{kernel}.superstep_p50_s"] = statistics.median(walls)
                values[f"bsp.{kernel}.superstep_max_s"] = walls[-1]
        ratio = 0.0
        if self.crawl:
            split = {True: [], False: []}
            for r in rep.bsp["pagerank"][-1]:
                for m in r.metrics:
                    split[m["superstep"] % self.size.ckpt_every == 0].append(m["wall_s"])
            ratio = statistics.median(split[True]) / statistics.median(split[False])
        values["bsp.pagerank.ckpt_superstep_ratio"] = ratio
        values["bsp.ckpt_mb"] = rep.counts.get("ckpt_bytes", 0) / 2**20
        return self._emit(self.spec["per_layer"], values)

    @staticmethod
    def _emit(entries: list, values: dict) -> dict:
        return {e["name"]: {"value": values[e["name"]], "unit": e["unit"]} for e in entries}


if __name__ == "__main__":
    sys.exit(main())
