"""Inputs, pipelines and output checks of the two link-graph workloads.

``crawl_pipeline``: a seeded synthetic crawl (``corpus.generate_pages``) goes
through pandas-UDF link extraction, ``build_graph``, PageRank to convergence
(interrupted by ``max_rounds`` after 10 supersteps and finished with
``resume=True`` from its durable checkpoint), ``wcc`` and ``total_triangles``.

``webgraph_scale``: a seeded web-like edge table of distinct edges goes
through ``from_edge_df``, fixed-round PageRank, ``wcc`` and ``cdlp``, with no
Python UDF and no durable write.

Every timed call is one call into the library plus collecting its result to
the driver and releasing its Spark state. A phase makes untimed warm-up calls
(in a pass that warms up), then one or more timed calls; its time is their
median. The collected results of every timed call are checked against
single-process oracles after the timed phases.
"""

from __future__ import annotations

import gc
import os
import shutil
import statistics
import time
from collections.abc import Callable
from contextlib import nullcontext
from dataclasses import dataclass, field, replace
from functools import partial

import duckdb
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphscope_spark import corpus
from graphscope_spark.algorithms import cdlp, pagerank, total_triangles, wcc
from graphscope_spark.graph import LinkGraph, build_graph, from_edge_df, vid_expr
from tests.oracles import pagerank_oracle, triangles_oracle, wcc_oracle

ALPHA = 0.85


@dataclass(frozen=True)
class CrawlSize:
    pages: int
    pr_l1: float  # absolute L1 convergence target of PageRank
    pr_first_leg: int  # supersteps before the interruption
    ckpt_every: int
    pr_max_rounds: int = 200
    wcc_rounds: int = 200
    ingests: int = 1  # ingest calls per pass; ingest_s is their median
    wccs: int = 1  # wcc calls per pass; wcc_s is their median


@dataclass(frozen=True)
class WebSize:
    edges: int  # edges generated before dedup; ~all are distinct
    pr_rounds: int
    cdlp_rounds: int
    wcc_rounds: int = 200
    ingests: int = 1
    wccs: int = 1


# Sized so that set-up and one measured pass take about a minute on 4 cores:
# the engine's per-superstep and per-call costs, not the input size, dominate
# at these sizes (see README.md, "Sizing"). The short phases are timed more
# than once per pass: a single 1-2 s call moves by a quarter between runs.
CRAWL = CrawlSize(pages=4_000, pr_l1=2e-3, pr_first_leg=10, ckpt_every=5,
                  ingests=2, wccs=3)
WEB = WebSize(edges=100_000, pr_rounds=10, cdlp_rounds=10, ingests=4)
# Warm-up calls, untimed, run right before a phase's timed calls: the first
# call of a phase after another kernel is up to a third slower than the next
# one. They use few supersteps (PageRank 5: after 2, the timed call still ran
# a fifth slower than the one after it), and the crawl's PageRank still
# writes a durable checkpoint and resumes from it. The web graph is ingested twice:
# each of the first few ingests of a session is faster than the one before.
CRAWL_WARMUP = replace(CRAWL, pr_l1=0.0, pr_first_leg=3, ckpt_every=3, pr_max_rounds=5,
                       wcc_rounds=1, ingests=1)
WEB_WARMUP = replace(WEB, pr_rounds=5, cdlp_rounds=1, wcc_rounds=1, ingests=2)
SETTLE_S = 0.1  # after the forced GC, for the cleanup it triggers to finish

N_HUBS = 16
CRAWL_HOSTS = 16


# --- inputs -------------------------------------------------------------------


def write_crawl_input(spark: SparkSession, size: CrawlSize, seed: int, path: str,
                      partitions: int) -> None:
    """The seed places the pages: which input file holds each page, and in
    which order. It does not rename them: vids are hashes of urls, and which
    vertex of a component holds the least vid sets how many supersteps
    min-label WCC needs (4 or 5 on this corpus, a quarter of wcc_s)."""
    pages = corpus.generate_pages(spark, size.pages, CRAWL_HOSTS, partitions)
    key = lambda salt: F.xxhash64(F.col("url"), F.lit(seed), F.lit(salt))  # noqa: E731
    (pages.repartition(partitions, key(0)).sortWithinPartitions(key(1))
     .write.mode("overwrite").parquet(path))


def web_edges(spark: SparkSession, size: WebSize, seed: int, partitions: int) -> DataFrame:
    """Seeded web-like edge table, generated JVM-side.

    Structure (seed-independent) over vertices 0..V-1, V = E/5:
    a ``v -> v // 2`` tree backbone (small diameter), 1% of edges aimed at
    16 hubs, and the rest random pairs from a 64-bit hash of the edge index —
    so nearly every pair is distinct (expected duplicates ~ (E/V)^2 / 2).
    The seed then relabels every vertex ``v`` as ``v * 2^20 + seed mod 2^20``:
    ids and placement change (partitions hash the id), sizes and structure
    do not. The relabelling keeps the ids' order, because the order sets how
    many supersteps min-label WCC and cdlp's tie-breaks take: relabelled
    through a hash, WCC took 8 supersteps instead of 7 on one seed in ten.
    """
    n_v = size.edges // 5
    n_hub = size.edges // 100
    n_rand = size.edges - (n_v - 1) - n_hub
    i = F.col("id")
    backbone = spark.range(1, n_v, 1, partitions).select(
        i.alias("s"), F.floor(i / 2).cast("long").alias("d"))
    hubs = spark.range(0, n_hub, 1, partitions).select(
        F.pmod(F.xxhash64(i, F.lit(11)), F.lit(n_v)).alias("s"),
        F.pmod(i, F.lit(N_HUBS)).alias("d"))
    rand = spark.range(0, n_rand, 1, partitions).select(
        F.pmod(F.xxhash64(i, F.lit(12)), F.lit(n_v)).alias("s"),
        F.pmod(F.xxhash64(i, F.lit(13)), F.lit(n_v)).alias("d"))
    relabel = lambda c: c * F.lit(1 << 20) + F.lit(seed % (1 << 20))  # noqa: E731
    return (
        backbone.union(hubs).union(rand)
        .where(F.col("s") != F.col("d"))
        .select(relabel(F.col("s")).alias("src"), relabel(F.col("d")).alias("dst"))
    )


def write_web_input(spark: SparkSession, size: WebSize, seed: int, path: str,
                    partitions: int) -> None:
    web_edges(spark, size, seed, partitions).write.mode("overwrite").parquet(path)


# --- timed pipeline -----------------------------------------------------------


@dataclass
class Rep:
    """One pass of a pipeline. Per phase: its time (the median of its timed
    calls) and every timed call's wall; per kernel, every timed call's
    collected result and bsp results, in call order."""

    phases: dict[str, float] = field(default_factory=dict)
    walls: dict[str, list[float]] = field(default_factory=dict)
    warmup_s: float = 0.0  # total wall of the untimed warm-up calls
    counts: dict[str, int] = field(default_factory=dict)  # of the graph the kernels ran on
    ingests: list[dict[str, int]] = field(default_factory=list)  # counts per ingest call
    results: dict[str, list] = field(default_factory=dict)  # kernel -> [result]
    bsp: dict[str, list[list]] = field(default_factory=dict)  # kernel -> [[BSPResult]]

    @property
    def pipeline_s(self) -> float:
        return sum(self.phases.values())

    def call_pipeline_s(self, i: int) -> float:
        """The sum over phases of each phase's ``i``-th timed call."""
        return sum(walls[i] for walls in self.walls.values())


class Phases:
    """Runs the phases of one pass. A phase makes its warm-up calls, if the
    pass has a warm-up size, then its timed calls. ``layers`` holds one
    context per timed call of a round: it brackets the call's Spark jobs (the
    tracer tags them with a job group, the untraced run does nothing).
    Before each timed call a Python and a JVM GC run, outside the timings,
    and the cleanup they trigger gets ``SETTLE_S`` to finish."""

    def __init__(self, spark: SparkSession, rep: Rep, layers: list[Callable]):
        self.spark, self.rep, self.layers = spark, rep, layers

    def settle(self) -> None:
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        time.sleep(SETTLE_S)

    def run(self, phase: str, layer: str, call: Callable, warm_call: Callable | None,
            calls: int = 1, warm_calls: int = 1, prepare: Callable | None = None,
            discard: Callable | None = None) -> list:
        """The outputs of the timed calls. ``prepare`` runs before every
        call; ``discard`` gets every output but the last before the next
        call; both outside the timings."""
        plan = [(warm_call, None)] * (warm_calls if warm_call is not None else 0)
        plan += [(call, ctx) for _ in range(calls) for ctx in self.layers]
        outs, walls, prev = [], [], None
        for fn, ctx in plan:
            if prev is not None and discard is not None:
                discard(prev)
            if prepare is not None:
                prepare()
            if ctx is not None:
                self.settle()
            with ctx(layer) if ctx is not None else nullcontext():
                t0 = time.perf_counter()
                prev = fn()
                wall = time.perf_counter() - t0
            if ctx is None:
                self.rep.warmup_s += wall
            else:
                outs.append(prev)
                walls.append(wall)
        self.rep.phases[phase] = statistics.median(walls)
        self.rep.walls[phase] = walls
        return outs


def _ingest(g: LinkGraph) -> tuple[LinkGraph, dict[str, int]]:
    g.edges = g.edges.persist()
    g.vertices = g.vertices.persist()
    return g, {"edges": g.edges.count(), "vertices": g.vertices.count()}


def _unpersist(g: LinkGraph) -> None:
    g.edges.unpersist()
    g.vertices.unpersist()


def _ingest_phase(ph: Phases, rep: Rep, build: Callable, size, warm) -> LinkGraph:
    """The ingest phase; the kernels run on the last call's graph."""
    call = lambda: _ingest(build())  # noqa: E731
    outs = ph.run("ingest_s", "graph", call, None if warm is None else call, size.ingests,
                  0 if warm is None else warm.ingests, discard=lambda out: _unpersist(out[0]))
    rep.ingests = [counts for _g, counts in outs]
    rep.counts.update(rep.ingests[-1])
    return outs[-1][0]


def _kernel_phase(ph: Phases, rep: Rep, kernel: str, phase: str, call: Callable, size, warm,
                  calls: int = 1, prepare: Callable | None = None) -> None:
    """``call(size)`` returns (collected result, [BSPResult])."""
    outs = ph.run(phase, f"algorithms.{kernel}", lambda: call(size),
                  None if warm is None else lambda: call(warm), calls, prepare=prepare)
    rep.results[kernel] = [res for res, _bsp in outs]
    rep.bsp[kernel] = [bsp for _res, bsp in outs]


def _collect(res, col: str) -> dict:
    pdf = res.state.select("vid", col).toPandas()
    res.release()
    return dict(zip(pdf["vid"].tolist(), pdf[col].tolist()))


def _wcc(g: LinkGraph, size) -> tuple[dict, list]:
    res = wcc(g, max_rounds=size.wcc_rounds)
    return _collect(res, "comp"), [res]


def run_crawl(spark: SparkSession, size: CrawlSize, warm: CrawlSize | None, path: str,
              ckpt_dir: str, partitions: int, layers: list[Callable]) -> Rep:
    """One pass; ``warm`` is the size of the warm-up calls, None for none."""
    rep = Rep()
    ph = Phases(spark, rep, layers)
    g = _ingest_phase(ph, rep, lambda: build_graph(spark.read.parquet(path), partitions),
                      size, warm)

    def pr(sz: CrawlSize):
        tol = sz.pr_l1 / rep.counts["vertices"]
        first = pagerank(g, alpha=ALPHA, tol=tol, max_rounds=sz.pr_first_leg,
                         checkpoint_dir=ckpt_dir, checkpoint_every=sz.ckpt_every)
        first.release()
        rest = pagerank(g, alpha=ALPHA, tol=tol, max_rounds=sz.pr_max_rounds,
                        checkpoint_dir=ckpt_dir, checkpoint_every=sz.ckpt_every,
                        resume=True)
        return _collect(rest, "rank"), [first, rest]

    _kernel_phase(ph, rep, "pagerank", "pagerank_s", pr, size, warm,
                  prepare=lambda: shutil.rmtree(ckpt_dir, ignore_errors=True))
    rep.counts["ckpt_bytes"] = _tree_bytes(ckpt_dir)
    _kernel_phase(ph, rep, "wcc", "wcc_s", partial(_wcc, g), size, warm, size.wccs)
    _kernel_phase(ph, rep, "triangles", "last_kernel_s", lambda _sz: (total_triangles(g), []),
                  size, warm)
    _unpersist(g)
    return rep


def run_web(spark: SparkSession, size: WebSize, warm: WebSize | None, path: str,
            ckpt_dir: str, partitions: int, layers: list[Callable]) -> Rep:
    """One pass; ``warm`` is the size of the warm-up calls, None for none."""
    rep = Rep()
    ph = Phases(spark, rep, layers)
    g = _ingest_phase(ph, rep, lambda: from_edge_df(spark.read.parquet(path), partitions),
                      size, warm)

    def pr(sz: WebSize):
        res = pagerank(g, alpha=ALPHA, tol=0.0, max_rounds=sz.pr_rounds)
        return _collect(res, "rank"), [res]

    def lp(sz: WebSize):
        res = cdlp(g, max_rounds=sz.cdlp_rounds)
        return _collect(res, "label"), [res]

    _kernel_phase(ph, rep, "pagerank", "pagerank_s", pr, size, warm)
    _kernel_phase(ph, rep, "wcc", "wcc_s", partial(_wcc, g), size, warm, size.wccs)
    _kernel_phase(ph, rep, "cdlp", "last_kernel_s", lp, size, warm)
    _unpersist(g)
    return rep


def supersteps(rep: Rep) -> int:
    """PageRank supersteps of the pass's last PageRank call (both legs on
    the crawl)."""
    return sum(len(r.metrics) for r in rep.bsp["pagerank"][-1])


def _tree_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# --- oracles and checks -------------------------------------------------------


class CrawlOracle:
    """The corpus's true link graph in vid space, with oracle kernel results."""

    def __init__(self, spark: SparkSession, size: CrawlSize):
        n, h = size.pages, CRAWL_HOSTS
        edges_url = [(corpus.url_of(i, n, h), u)
                     for i in range(n) for u in corpus.expected_links(i, n, h)]
        urls = {u for e in edges_url for u in e} | {corpus.url_of(i, n, h) for i in range(n)}
        vids = spark.createDataFrame([(u,) for u in sorted(urls)], "url string").select(
            "url", vid_expr(F.col("url")).alias("vid")).toPandas()
        vm = dict(zip(vids["url"], vids["vid"].tolist()))
        self.edges = [(vm[s], vm[d]) for s, d in edges_url]
        self.vertices = set(vm.values())
        self.tol = size.pr_l1 / len(self.vertices)
        self.ranks = pagerank_oracle(self.edges, self.vertices, alpha=ALPHA,
                                     tol=self.tol, max_rounds=size.pr_max_rounds)
        self.comps = wcc_oracle(self.edges, self.vertices)
        self.triangles = sum(triangles_oracle(self.edges, self.vertices).values()) // 3

    def check(self, rep: Rep, size: CrawlSize) -> dict[str, str | None]:
        """Per operation: None if correct, else what was wrong."""
        return {
            **_per_call("ingest", [_expect(c, edges=len(self.edges), vertices=len(self.vertices))
                                   for c in rep.ingests]),
            **_per_call("pagerank", [self._pagerank(ranks, bsp, size) for ranks, bsp
                                     in zip(rep.results["pagerank"], rep.bsp["pagerank"])]),
            **_per_call("wcc", [None if comps == self.comps else "components differ from union-find"
                                for comps in rep.results["wcc"]]),
            **_per_call("triangles", [_same("triangles", t, self.triangles)
                                      for t in rep.results["triangles"]]),
        }

    def _pagerank(self, ranks: dict, bsp: list, size: CrawlSize) -> str | None:
        first, rest = bsp
        if first.converged or first.supersteps != size.pr_first_leg:
            return f"first leg: converged={first.converged} supersteps={first.supersteps}"
        if not rest.converged:
            return "resumed leg did not converge"
        if set(ranks) != self.vertices:
            return "rank vertex set differs from the oracle's"
        worst = max(abs(ranks[v] - self.ranks[v]) for v in self.vertices)
        return None if worst < 1e-6 else f"max |rank - oracle| = {worst:.3g}"


class WebOracle:
    """Edge and vertex counts from DuckDB over the same parquet, components
    from the union-find oracle."""

    def __init__(self, path: str):
        con = duckdb.connect()
        try:
            rel = f"read_parquet('{path}/*.parquet')"
            self.n_edges = con.execute(
                f"SELECT count(*) FROM (SELECT DISTINCT src, dst FROM {rel})").fetchone()[0]
            self.vertices = set(con.execute(
                f"SELECT src FROM {rel} UNION SELECT dst FROM {rel}").fetchnumpy()["src"].tolist())
            e = con.execute(f"SELECT src, dst FROM {rel}").fetchnumpy()
        finally:
            con.close()
        self.comps = wcc_oracle(zip(e["src"].tolist(), e["dst"].tolist()), self.vertices)

    def check(self, rep: Rep, size: WebSize) -> dict[str, str | None]:
        want = len(set(self.comps.values()))
        return {
            **_per_call("ingest", [_expect(c, edges=self.n_edges, vertices=len(self.vertices))
                                   for c in rep.ingests]),
            **_per_call("pagerank", [self._pagerank(ranks, pr, size) for ranks, (pr,)
                                     in zip(rep.results["pagerank"], rep.bsp["pagerank"])]),
            **_per_call("wcc", [None if comps == self.comps else
                                f"components differ from union-find "
                                f"({len(set(comps.values()))} vs {want})"
                                for comps in rep.results["wcc"]]),
            **_per_call("cdlp", [self._cdlp(labels, lp, size) for labels, (lp,)
                                 in zip(rep.results["cdlp"], rep.bsp["cdlp"])]),
        }

    def _pagerank(self, ranks: dict, pr, size: WebSize) -> str | None:
        if pr.supersteps != size.pr_rounds:
            return f"{pr.supersteps} supersteps, want {size.pr_rounds}"
        if set(ranks) != self.vertices:
            return "rank vertex set differs from the input's"
        if abs(sum(ranks.values()) - 1.0) >= 1e-9:
            return f"sum of ranks = {sum(ranks.values())!r}"
        return None

    def _cdlp(self, labels: dict, lp, size: WebSize) -> str | None:
        if set(labels) != self.vertices or not set(labels.values()) <= self.vertices:
            return "label table is not a labelling of the input's vertices"
        if lp.supersteps > size.cdlp_rounds:
            return f"{lp.supersteps} rounds, budget {size.cdlp_rounds}"
        return None


def _per_call(op: str, errors: list) -> dict[str, str | None]:
    """One operation per call: ``op`` alone, or ``op.<i>`` for several."""
    if len(errors) == 1:
        return {op: errors[0]}
    return {f"{op}.{i}": err for i, err in enumerate(errors)}


def _same(what: str, got, want) -> str | None:
    return None if got == want else f"{what}: got {got!r}, want {want!r}"


def _expect(counts: dict, **want) -> str | None:
    bad = [f"{k}={counts[k]} (want {v})" for k, v in want.items() if counts[k] != v]
    return "; ".join(bad) or None
