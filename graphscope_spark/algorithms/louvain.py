"""Louvain community detection — synchronous local moves + multi-level
coarsening — plus a distributed modularity metric.

Reference: `gs::LouvainAppBase` (`/root/reference/analytical_engine/apps/
pregel/louvain/louvain_app_base.h`, registered `.gs_conf.yaml:206-213`,
~1278 LoC) implements distributed multi-level Louvain over Pregel: local
moves to a fixpoint, then community contraction into a weighted super-graph,
repeated until modularity stops improving. This is the same two-phase loop
expressed as DataFrame supersteps.

Results are deterministic (rounded gains, smallest-community tie-breaks,
move-only-if-strictly-positive, alternating move direction for oscillation
damping) but — like every parallel Louvain, the reference's included — not
equal to sequential NetworkX Louvain; quality is validated by modularity
tests and the gate pins the (deterministic) assignment as a golden output,
the reference's own LDBC-style validation mode (`test/app_tests.sh:115-126`).

Per local-move round (weighted symmetric view; self-loops carry contracted
internal weight at coarse levels):

* ``k_ic``: Σ of edge weight from each vertex into each neighboring
  community (self-loops excluded — they move with the vertex);
* gain of moving i → c:  ``k_ic − deg_i · tot_c' / (2m)`` with ``tot_c'``
  excluding i itself when c is i's current community;
* adopt the argmax community (rounded gain desc, community id asc) if it
  strictly beats staying; synchronous apply; stop when no vertex moved.

Coarsening: super-vertex per community; super-edge weight = Σ member edge
weights (the symmetric table aggregates both directions, so contracted
self-loops hold 2× the internal weight — exactly the weighted-degree
convention modularity needs). Total weight 2m is invariant across levels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphscope_spark.bsp import release_state, truncate_plan, truncate_plan_lazy
from graphscope_spark.graph import LinkGraph


def modularity(graph: LinkGraph, comm: DataFrame) -> float:
    """Q = Σ_c [ L_c/m − (tot_c/(2m))² ] over the undirected simple graph;
    ``comm`` is (vid, comm)."""
    und = graph.undirected_edges(drop_self_loops=True)  # both directions
    m2 = und.count()  # = 2m
    if m2 == 0:
        return 0.0
    deg = und.groupBy(F.col("src").alias("vid")).agg(F.count("*").alias("deg"))
    cs = comm.select(F.col("vid").alias("src"), F.col("comm").alias("c_src"))
    cd = comm.select(F.col("vid").alias("dst"), F.col("comm").alias("c_dst"))
    internal2 = (
        und.join(cs, "src").join(cd, "dst").where(F.col("c_src") == F.col("c_dst")).count()
    )  # counts both directions = 2·L_c summed
    tot = (
        deg.join(comm, "vid")
        .groupBy("comm")
        .agg(F.sum("deg").alias("tot"))
        .agg(F.sum(F.col("tot") * F.col("tot")).alias("s"))
        .collect()[0]["s"]
    )
    return float(internal2 / m2 - tot / (m2 * m2))


def _local_moves(
    verts: DataFrame, sym: DataFrame, m2: float, max_rounds: int
) -> DataFrame:
    """One level of synchronous local moves over a weighted symmetric edge
    table ``sym(src, dst, w)`` (self-loops allowed). Returns the last
    round's checkpointed state (vid, comm, ...), for the caller to release.

    Oscillation damping, two deterministic mechanisms:

    * half-schedule — only vertices with ``(vid + round) % 2 == 0`` may move
      each round (the reference's Pregel Louvain colors vertices for the
      same reason): a mover's neighbors are frozen that round, so symmetric
      A→B / B→A swaps cannot ping-pong within a round;
    * move-back hysteresis — a vertex may not return to the community it
      just left (its ``prev``), which kills the period-2 cycles where a
      vertex's own departure re-raises the gain of moving back (measured on
      the 12-vertex fixture: 2 vertices cycled forever without this).

    Plan-shape note: best-move and stay-gain come from ONE aggregation over
    the scored table. Referencing the scored multi-join subtree twice per
    round (separate best + stay branches) triggers super-linear Catalyst
    planning growth across rounds in PySpark 4.x even with per-round
    localCheckpoint (measured: round 13 took 90 s on an 18-vertex graph);
    the fused aggregate is flat — and one shuffle cheaper."""
    deg = sym.groupBy(F.col("src").alias("vid")).agg(F.sum("w").alias("deg"))
    comm = (
        verts.join(deg, "vid", "left")
        .select(
            "vid",
            F.col("vid").alias("comm"),
            F.coalesce("deg", F.lit(0.0)).alias("deg"),
            F.lit(None).cast("long").alias("prev"),
        )
        .transform(truncate_plan_lazy)
    )
    cross = sym.where(F.col("src") != F.col("dst"))
    prev_moved = None
    for rnd in range(1, max_rounds + 1):
        tot = comm.groupBy("comm").agg(F.sum("deg").alias("tot"))
        # k_ic: weight from each vertex into each neighboring community
        nbr_comm = (
            cross.join(
                comm.select(F.col("vid").alias("dst"), F.col("comm").alias("nc")), "dst"
            )
            .groupBy(F.col("src").alias("vid"), F.col("nc").alias("cand"))
            .agg(F.sum("w").alias("k_ic"))
        )
        cur = comm.select("vid", F.col("comm").alias("cur"), "deg", "prev")
        scored = (
            nbr_comm.join(cur, "vid")
            .join(tot.withColumnRenamed("comm", "cand"), "cand")
            .where(  # hysteresis: never move straight back to `prev`
                F.col("prev").isNull()
                | (F.col("cand") != F.col("prev"))
                | (F.col("cand") == F.col("cur"))
            )
            .select(
                "vid",
                "cur",
                "cand",
                (
                    F.col("k_ic")
                    - F.col("deg")
                    * (
                        F.col("tot")
                        - F.when(F.col("cand") == F.col("cur"), F.col("deg")).otherwise(0.0)
                    )
                    / F.lit(float(m2))
                ).alias("gain"),
            )
        )
        best = scored.groupBy("vid").agg(
            F.max_by(
                F.struct("cand", "gain"),
                F.struct(F.round("gain", 9).alias("g"), (-F.col("cand")).alias("nc")),
            ).alias("b"),
            F.max(
                F.when(F.col("cand") == F.col("cur"), F.col("gain"))
            ).alias("stay_gain"),
        )
        movable = F.pmod(F.col("vid") + F.lit(rnd), F.lit(2)) == 0
        improves = F.col("b").isNotNull() & (
            F.round(F.col("b.gain"), 9)
            > F.round(F.coalesce(F.col("stay_gain"), F.lit(0.0)), 9)
        )
        moving = movable & improves & (F.col("b.cand") != F.col("comm"))
        nxt = (
            comm.join(best, "vid", "left")
            .select(
                "vid",
                F.when(moving, F.col("b.cand")).otherwise(F.col("comm")).alias("comm"),
                "deg",
                F.when(moving, F.col("comm")).otherwise(F.col("prev")).alias("prev"),
                moving.alias("moved"),
            )
            .transform(truncate_plan_lazy)
        )
        n_moved = nxt.where("moved").count()
        release_state(comm)
        comm = nxt
        if n_moved == 0 and prev_moved == 0:  # both half-schedules settled
            break
        prev_moved = n_moved
    return comm


def louvain(
    graph: LinkGraph, max_rounds: int = 20, max_levels: int = 5
) -> DataFrame:
    """Multi-level Louvain; returns (vid, comm) at the finest granularity.

    Each level runs local moves to their fixpoint, contracts communities
    into a weighted super-graph, and recurses until no contraction happens
    (or ``max_levels``). ``max_levels=1`` reproduces the one-level variant.
    The result is checkpoint-backed: free it with ``bsp.release_state``
    once consumed. Every intermediate cut is freed before returning.
    """
    sym = (
        graph.undirected_edges(drop_self_loops=True)
        .select("src", "dst", F.lit(1.0).alias("w"))
        .repartition(F.col("src"))
        .persist()
    )
    m2 = sym.agg(F.sum("w")).collect()[0][0] or 0.0
    if m2 == 0.0:
        sym.unpersist()
        return graph.vertices.select("vid", F.col("vid").alias("comm"))

    cur_verts = graph.vertices.select("vid")
    cur_sym = sym
    # assignment: finest vid → current-level community id
    assign = graph.vertices.select("vid", F.col("vid").alias("comm"))
    spent: list[DataFrame] = []  # cuts the current level's inputs came from
    for _level in range(max_levels):
        n_before = cur_verts.count()
        comm = _local_moves(cur_verts, cur_sym, m2, max_rounds)
        n_comm = comm.select("comm").distinct().count()
        # this level's lazy inputs are materialized by now
        for f in spent:
            release_state(f)
        spent = [comm, cur_verts, cur_sym]
        # compose: finest vid → new community of its current super-vertex;
        # eager, so the previous assignment is spent right away
        lut = comm.select(F.col("vid").alias("comm"), F.col("comm").alias("_new"))
        nxt = (
            assign.join(lut, "comm")
            .select("vid", F.col("_new").alias("comm"))
            .transform(truncate_plan)
        )
        release_state(assign)
        assign = nxt
        if n_comm >= n_before:
            break
        # coarsen into the weighted super-graph
        ce = (
            cur_sym.join(
                comm.select(F.col("vid").alias("src"), F.col("comm").alias("cs")), "src"
            )
            .join(comm.select(F.col("vid").alias("dst"), F.col("comm").alias("cd")), "dst")
            .groupBy(F.col("cs").alias("src"), F.col("cd").alias("dst"))
            .agg(F.sum("w").alias("w"))
        )
        cur_sym = ce.transform(truncate_plan_lazy)
        cur_verts = comm.select(F.col("comm").alias("vid")).distinct().transform(truncate_plan_lazy)
    # the last level's cuts (the base edge table included), and the next
    # level's if max_levels cut it off
    for f in spent + [cur_sym, cur_verts]:
        release_state(f)
    return assign
