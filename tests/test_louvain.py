"""Louvain one-level local moves: structural + modularity-improvement checks
(no exact oracle — parallel Louvain is deterministic here but not equal to
sequential variants; see module docstring)."""

from __future__ import annotations

from graphscope_spark.algorithms.louvain import louvain, modularity
from graphscope_spark.graph import from_edge_df


def test_louvain_two_cliques(spark):
    # two 4-cliques joined by one bridge edge → two communities
    c1 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    c2 = [(a, b) for a in range(5, 9) for b in range(5, 9) if a < b]
    edges = c1 + c2 + [(4, 5)]
    g = from_edge_df(spark.createDataFrame(edges, "src long, dst long"), 4)
    comm = louvain(g)
    got = {r["vid"]: r["comm"] for r in comm.collect()}
    assert len({got[v] for v in (1, 2, 3, 4)}) == 1
    assert len({got[v] for v in (5, 6, 7, 8)}) == 1
    assert got[1] != got[8]


def test_multilevel_at_least_as_good_as_one_level(spark):
    # ring of 6 triangles, adjacent triangles bridged: one-level Louvain
    # stalls at partial merges; coarsening must not LOWER modularity
    tris = []
    for t in range(6):
        a, b, c = 3 * t, 3 * t + 1, 3 * t + 2
        tris += [(a, b), (b, c), (a, c)]
        tris.append((c, (3 * (t + 1)) % 18))  # bridge to next triangle
    g = from_edge_df(spark.createDataFrame(tris, "src long, dst long"), 4)
    q1 = modularity(g, louvain(g, max_levels=1))
    qm = modularity(g, louvain(g, max_levels=5))
    assert qm >= q1 - 1e-9
    assert qm > 0.4  # triangles must at least clump


def test_louvain_improves_modularity(tiny_graph):
    comm = louvain(tiny_graph)
    q_final = modularity(tiny_graph, comm)
    singletons = tiny_graph.vertices.selectExpr("vid", "vid AS comm")
    q_init = modularity(tiny_graph, singletons)
    assert q_final > q_init
    assert q_final > 0


def test_louvain_releases_intermediate_cuts(spark, tiny_graph):
    """Only the returned frame's own checkpoint blocks outlive the call;
    every per-round and per-level cut is released."""
    from graphscope_spark.bsp import release_state

    def persistent_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    before = persistent_ids()
    comm = louvain(tiny_graph)
    comm.collect()
    assert persistent_ids() - before <= set(getattr(comm, "_graft_ck_ids", []))
    release_state(comm)
    assert persistent_ids() - before == set()
