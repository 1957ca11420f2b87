"""Headline benchmark — the driver runs this per-round and records the JSON.

Runs the engine's headline operators at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus a larger synthetic
link-graph PageRank that measures the north-rule metric (edges/sec per
superstep). Prints ONE JSON line:
    {"metric": ..., "value": total_sec, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ...,
     "edges_per_sec_per_superstep": N, ...}
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from graphscope_spark.session import get_spark  # noqa: E402
from graphscope_spark.graph import LinkGraph  # noqa: E402


def synthetic_edges(spark, n_vertices: int, n_edges: int, num_partitions: int):
    """Deterministic power-law-ish edge table, generated JVM-side. ~1% of
    edges hit one of 16 hub vertices (the skew path). Endpoints come from a
    64-bit hash of the edge index, so nearly every pair is distinct
    (expected duplicates ~ (E/V)^2 / 2); a linear congruence in the index
    would repeat every ``n_vertices`` edges."""
    i = F.col("id")
    src = F.pmod(F.xxhash64(i, F.lit(1)), F.lit(n_vertices))
    dst = F.when(
        F.pmod(i, F.lit(100)) < 1, F.pmod(i, F.lit(16))  # hub skew
    ).otherwise(F.pmod(F.xxhash64(i, F.lit(2)), F.lit(n_vertices)))
    return (
        spark.range(0, n_edges, 1, num_partitions)
        .select(src.alias("src"), dst.alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )


def synthetic_graph(spark, n_vertices: int, n_edges: int, P: int) -> LinkGraph:
    edges = synthetic_edges(spark, n_vertices, n_edges, P).repartition(
        P, F.pmod(F.col("src"), F.lit(P))
    )
    vertices = spark.range(0, n_vertices, 1, P).select(F.col("id").alias("vid"))
    return LinkGraph(vertices=vertices, edges=edges, num_partitions=P)


def pagerank_throughput(
    spark, n_vertices: int, n_edges: int, P: int, rounds: int = 6, warmup: int = 3
):
    """North-rule metric: edges/sec per PageRank superstep on a pre-built,
    persisted graph. A short warmup pass first — cold JVM/JIT costs are
    constant per process and would otherwise swamp the per-superstep signal
    (measured: first-ever round ~5× steady state). Reported throughput uses
    the MEDIAN steady-state round."""
    from graphscope_spark.algorithms import pagerank

    g = synthetic_graph(spark, n_vertices, n_edges, P)
    g.edges = g.edges.persist()
    e_count = g.edges.count()
    g.vertices = g.vertices.persist()
    g.vertices.count()
    if warmup:
        pagerank(g, alpha=0.85, max_rounds=warmup, tol=0.0)
    best_median, wall, supersteps = None, 0.0, 0
    for _ in range(2):  # repeated measured passes damp scheduler/GC noise
        t0 = time.time()
        res = pagerank(g, alpha=0.85, max_rounds=rounds, tol=0.0)
        res.state.count()
        wall = time.time() - t0
        supersteps = res.supersteps
        round_times = sorted(m["wall_s"] for m in res.metrics)
        median_round = round_times[len(round_times) // 2]
        if best_median is None or median_round < best_median:
            best_median = median_round
    g.edges.unpersist()
    g.vertices.unpersist()
    return {
        "edges": e_count,
        "supersteps": supersteps,
        "wall_s": round(wall, 3),
        "sec_per_superstep": round(wall / supersteps, 3),
        "median_round_s": round(best_median, 3),
        "edges_per_sec_per_superstep": int(e_count / best_median),
    }


def synthetic_web_graph(spark, n_vertices: int, n_edges: int, P: int) -> LinkGraph:
    """Synthetic graph with web-like SMALL DIAMETER: the random edge set
    plus a tree backbone (v → v//2), so min-label propagation converges in
    O(log n) rounds like a real web graph. The pure quadratic-map graph has
    chain components hundreds of hops long — real crawls don't."""
    from pyspark.sql import functions as F2

    rand = synthetic_edges(spark, n_vertices, n_edges - n_vertices, P)
    backbone = (
        spark.range(1, n_vertices, 1, P)
        .select(F2.col("id").alias("src"), (F2.col("id") / 2).cast("long").alias("dst"))
    )
    edges = rand.unionByName(backbone).repartition(P, F2.pmod(F2.col("src"), F2.lit(P)))
    vertices = spark.range(0, n_vertices, 1, P).select(F2.col("id").alias("vid"))
    return LinkGraph(vertices=vertices, edges=edges, num_partitions=P)


def pagerank_convergence(spark, n_vertices: int, n_edges: int, P: int, l1_target=1e-6):
    """The north metric's other half: PageRank WALL TIME TO CONVERGENCE.
    Target = ABSOLUTE L1 delta < 1e-6 (i.e. reference tol = 1e-6/N): the
    reference's relative rule Σ|Δ| < N·tol self-weakens as N grows (at
    N=10⁶ it stops after 2 rounds — meaningless as a wall-time metric),
    while an absolute 1e-6 L1 budget across ranks that sum to 1 is the
    'allclose 1e-6 per-vertex at convergence' regime at any N. Same
    web-like synthetic graph as wcc_convergence."""
    from graphscope_spark.algorithms import pagerank

    g = synthetic_web_graph(spark, n_vertices, n_edges, P)
    g.edges = g.edges.persist()
    e_count = g.edges.count()
    g.vertices = g.vertices.persist()
    g.vertices.count()
    t0 = time.time()
    res = pagerank(g, alpha=0.85, tol=l1_target / n_vertices, max_rounds=200)
    res.state.count()
    wall = time.time() - t0
    g.edges.unpersist()
    g.vertices.unpersist()
    return {
        "edges": e_count,
        "l1_target": l1_target,
        "supersteps": res.supersteps,
        "converged": res.converged,
        "wall_to_convergence_s": round(wall, 3),
        "edges_per_sec_per_superstep": int(e_count * res.supersteps / wall),
    }


def wcc_convergence(spark, n_vertices: int, n_edges: int, P: int):
    """Time-to-convergence for WCC (min-label propagation with frontier) on
    the web-like synthetic graph — the north rule's second headline metric."""
    from graphscope_spark.algorithms import wcc

    g = synthetic_web_graph(spark, n_vertices, n_edges, P)
    g.edges = g.edges.persist()
    e_count = g.edges.count()
    g.vertices = g.vertices.persist()
    g.vertices.count()
    t0 = time.time()
    res = wcc(g)
    n_comp = res.state.select("comp").distinct().count()
    wall = time.time() - t0
    g.edges.unpersist()
    g.vertices.unpersist()
    return {
        "edges": e_count,
        "supersteps": res.supersteps,
        "converged": res.converged,
        "components": n_comp,
        "wall_to_convergence_s": round(wall, 3),
        "edges_per_sec_per_superstep": int(e_count * res.supersteps / wall),
    }


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # shared-box hygiene: external load corrupts timings (round 3's
    # pagerank-throughput "regression" re-measured flat on an idle box) —
    # record the 1/5/15-min load alongside every benchmark artifact, and
    # TAG the artifact as contaminated when the box was already busy at
    # start (round 4's artifact began at loadavg 4.13 and overstated
    # several rows by 20-100% vs the committed idle re-runs). The
    # contamination threshold is on the 1-min average; override with
    # SPARK_GRAFT_LOADAVG_MAX, or set it to 0 to skip the check.
    load_before = os.getloadavg()
    load_max = float(os.environ.get("SPARK_GRAFT_LOADAVG_MAX", "1.0"))
    contaminated = bool(load_max) and load_before[0] > load_max
    scale_edges = int(os.environ.get("SPARK_GRAFT_BENCH_EDGES", "5000000"))
    sf = float(sf_dir.rstrip("/").split("sf")[-1]) if "sf" in sf_dir else 0.0

    spark = get_spark(
        "bench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # tmpfs shuffle dir: this sandbox's disk is slow and the bench
            # is shuffle-bound; a real cluster sets spark.local.dir itself
            "spark.local.dir": "/dev/shm/spark-local",
        },
    )
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    headline = [
        "pagerank",
        "wcc",
        "cdlp",
        "triangles",
        "lcc",
        "hits",
        "dedup_exact",
        "dedup_minhash_lsh",
        "dedup_simhash",
        "ann_cosine_topk",
        "token_counts",
        "quality_scores",
        "events_hourly",
        # round 2 additions (breadth: centrality, communities, structure)
        "betweenness_sampled",
        "louvain",
        "mis",
        "msf",
        "ann_lsh_topk",
        # round 3: SCC joined the headline after the rewrite to doubled
        # fwd/bwd min-labels (O(log diameter) rounds; the ~500-hop directed
        # diameter of this graph made BFS-reach pivots cost 142 s here)
        "scc",
        # round 4: the families the gate's sf0.01 times under-reported
        # (barrier-dominated there) — measured at sf0.1 so peel-depth and
        # motif fan-out costs are visible. The peel pair is inherently
        # round-sequential (rounds = peel-cascade depth); see BENCH/PLANS.md.
        "bcc",
        "min_vertex_cover",
        "coreness",
        "degeneracy_order",
        "kclique4",
        # round 4 (cont.): GLE-lite sampling — frontier/fanout-bounded, so
        # these should sit near the bottom of the table; a regression here
        # signals window/shuffle plan drift, not data growth
        "neighbor_sample",
        "random_walks",
        "negative_sample",
        # round 4 (late): retrieval + sketch family — scan-dominated
        # single-aggregate plans; these calibrate the non-iterative floor
        "bm25_rank",
        "hll_distinct_shingles",
        "event_quantiles",
        # round 4 (final): link prediction (wedge self-join — the quadratic-
        # in-degree hot spot the hub cap exists for), temporal joins, the
        # LM scorer, and semantic dedup (GEMM-per-cluster applyInPandas)
        "link_prediction",
        "asof_join",
        "range_join",
        "lm_scores",
        "frequent_tokens",
        "semdedup",
        # round 4 (end): edge-level peel (k-truss) and the HLL
        # neighborhood-function sweep — the widest BSP state in the suite
        # (64 tinyint register columns/vertex; stresses wide-row shuffle)
        "truss_decomposition",
        "hyperanf",
        # round 4 (session 2): walk-derived similarity + embedding training
        # (simrank: collision join over the coupled reverse-walk corpus;
        # node_embeddings: walk corpus -> Word2Vec fit, driver O(vocab·dim)),
        # the shared-Brandes edge scores, DSIR selection (scan + broadcast
        # bucket-model join), SGC propagation (per-dim SUM aggregates), and
        # the ACL sweep (sparse K-ball PPR + windowed prefix conductance)
        "simrank",
        "edge_betweenness",
        "dsir_select",
        "feature_propagation",
        "local_community",
        "node_embeddings",
        "bipartite_projection",
    ]
    # The gate wrappers for these rows pin max_driver_edges=0 so DuckDB
    # always cross-checks the DISTRIBUTED loops; the bench measures the
    # operator's real contract instead (auto path selection: the bounded
    # driver peel at toy scale, the distributed loop above the bound —
    # see BENCH/PLANS.md "Bounded-driver fast paths").
    def _bench_coreness(spark_, sf):
        from graphscope_spark.algorithms import coreness

        return coreness(entry_mod._graph(spark_, sf))

    def _bench_degeneracy(spark_, sf):
        from graphscope_spark.algorithms.ordering import degeneracy_order

        return degeneracy_order(entry_mod._graph(spark_, sf))

    def _bench_hyperanf(spark_, sf):
        # the gate row (hyperanf_nf) bundles an exact multi-source-BFS
        # cross-check; the bench measures the sketch sweep alone
        from graphscope_spark.algorithms.hyperanf import neighborhood_function

        return neighborhood_function(
            entry_mod._graph(spark_, sf), t_max=8, rel_tol=0.0
        )

    overrides = {
        "coreness": _bench_coreness,
        "degeneracy_order": _bench_degeneracy,
        "hyperanf": _bench_hyperanf,
    }

    timings: dict[str, float] = {}
    for name in headline:
        t0 = time.time()
        fn = overrides.get(name)
        if fn is None:
            fn = qs[name]
        df = fn(spark, sf_dir)
        n = df.count()
        timings[name] = round(time.time() - t0, 3)
        print(f"# {name}: {n} rows in {timings[name]}s", file=sys.stderr)

    # north-rule throughput on a graph big enough to exercise the shuffle
    thr = pagerank_throughput(
        spark, n_vertices=scale_edges // 5, n_edges=scale_edges, P=2 * cpus
    )
    print(f"# pagerank_throughput: {thr}", file=sys.stderr)
    pr_conv = pagerank_convergence(
        spark, n_vertices=scale_edges // 5, n_edges=scale_edges, P=2 * cpus
    )
    print(f"# pagerank_convergence: {pr_conv}", file=sys.stderr)
    wcc_thr = wcc_convergence(
        spark, n_vertices=scale_edges // 5, n_edges=scale_edges, P=2 * cpus
    )
    print(f"# wcc_convergence: {wcc_thr}", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "pagerank_scale": thr,
        "pagerank_convergence": pr_conv,
        "wcc_scale": wcc_thr,
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in os.getloadavg()],
    }
    if contaminated:
        out["contaminated"] = True
        out["contamination_reason"] = (
            f"loadavg {load_before[0]:.2f} > {load_max:.2f} at start — "
            "timings include external load; re-run idle"
        )
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
