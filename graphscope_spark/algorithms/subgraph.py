"""Subgraph counting — 4-cliques and rectangles (C4), degree-ordered.

Reference semantics: `apps/flash/subgraph/k-clique.h`
(`/root/reference/analytical_engine/apps/flash/subgraph/k-clique.h:50-95`)
and `rectangle.h` (`.../subgraph/rectangle.h:50-80`) — both orient every
undirected edge from the smaller to the larger endpoint under the total
order ``(deg, id)`` (the same orientation as `algorithms/triangles.py`,
which bounds each out-neighbourhood by O(√m) and kills hub skew), then:

* **4-cliques**: a 4-clique's two orientation-minimal vertices (u, v) form
  an oriented edge whose oriented common neighbourhood contains the other
  two corners, which must themselves be adjacent — so count pairs (w₁, w₂)
  from each oriented edge's sorted-intersection that are edges. Each
  4-clique is counted exactly once (from its unique minimal oriented edge).
* **rectangles** (4-cycles): each C4 is counted exactly once at the
  diagonal (v, o) where o is the orientation-MAX corner: a wedge table
  W(v, o) = #{mid u : {v,u} ∈ E, u→o oriented} restricted to o > v in the
  order gives Σ C(W, 2) = the rectangle count (mids of a max-rooted
  diagonal are always oriented into o; any other diagonal contributes <2
  valid mids).

The DuckDB oracles in `__spark_entry__.py` are INDEPENDENT formulations
(6-way canonical edge join for 4-cliques; the co-degree identity
C4 = ½·Σ_{u<v} C(codeg(u,v), 2) for rectangles).
"""

from __future__ import annotations

from functools import partial, update_wrapper

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphscope_spark.algorithms.triangles import _batch_intersect, _oriented
from graphscope_spark.graph import LinkGraph, sorted_adjacency

_WS_TYPE = pa.list_(pa.field("element", pa.int64()))


def _common_neighbours(batches, min_ws):
    """mapInArrow body: (u, v, nbrs_u, nbrs_v) → (u, v, ws) for the rows
    whose sorted intersection ws has at least ``min_ws`` elements."""
    for batch in batches:
        row, w = _batch_intersect(batch)
        k = np.bincount(row, minlength=batch.num_rows)
        keep = k >= min_ws
        offs = np.concatenate([[0], np.cumsum(k[keep])]).astype(np.int32)
        ws = pa.ListArray.from_arrays(
            pa.array(offs), pa.array(w[keep[row]], pa.int64()), type=_WS_TYPE
        )
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(np.asarray(batch.column("u"))[keep], pa.int64()),
                pa.array(np.asarray(batch.column("v"))[keep], pa.int64()),
                ws,
            ],
            names=["u", "v", "ws"],
        )


def _closed_triangles(graph: LinkGraph, min_ws: int = 2):
    """(u, v, ws) — oriented edges with their oriented common
    neighbourhoods (the triangle kernel of `algorithms/triangles.py`),
    plus the oriented edge DataFrame itself. ``min_ws=2`` (the 4-clique
    default) keeps only edges that can anchor a candidate pair; pass 1 to
    enumerate every triangle (motif counting). The intersection and the
    ``min_ws`` cut happen in one Arrow pass, so each pair crosses into
    Python once."""
    P = graph.num_partitions
    oriented = _oriented(graph).persist()
    adj = sorted_adjacency(
        oriented.select(F.col("u").alias("src"), F.col("v").alias("dst")), P
    )
    adj_u = adj.select(F.col("src").alias("u"), F.col("nbrs").alias("nbrs_u"))
    adj_v = adj.select(F.col("src").alias("v"), F.col("nbrs").alias("nbrs_v"))
    closed = (
        oriented.join(adj_u, "u")
        .join(adj_v, "v")
        .mapInArrow(
            update_wrapper(partial(_common_neighbours, min_ws=min_ws), _common_neighbours),
            "u long, v long, ws array<long>",
        )
    )
    return closed, oriented


def kclique4_count(graph: LinkGraph) -> DataFrame:
    """One row (cliques4 bigint) — the number of 4-cliques."""
    closed, oriented = _closed_triangles(graph)
    # pairs within each oriented common neighbourhood; |ws| ≤ oriented
    # out-degree = O(√m), so the pair fan-out is the intrinsic
    # 4-clique-candidate count, never a hub blow-up
    pairs = (
        closed.select("u", "v", F.posexplode("ws").alias("i", "w1"))
        .join(
            closed.select("u", "v", F.posexplode("ws").alias("j", "w2")),
            ["u", "v"],
        )
        .where(F.col("i") < F.col("j"))
        .select(F.least("w1", "w2").alias("a"), F.greatest("w1", "w2").alias("b"))
    )
    und = graph.undirected_edges(drop_self_loops=True).where(
        F.col("src") < F.col("dst")
    ).select(F.col("src").alias("a"), F.col("dst").alias("b"))
    cnt = pairs.join(und, ["a", "b"], "semi").agg(
        F.count("*").cast("long").alias("cliques4")
    )
    oriented.unpersist()
    return cnt


def kclique_count(graph: LinkGraph, k: int = 4) -> DataFrame:
    """One row (cliques<k> bigint) — the number of k-cliques, any k ≥ 3.

    Reference semantics: `apps/flash/subgraph/k-clique.h:50-95` (the
    GENERAL-k recursion; `kclique4_count` is the unrolled k=4 special
    case). Iterative oriented extension: level j carries ``cands`` = the
    sorted intersection of the oriented out-neighbourhoods of the j
    members chosen so far; every next member comes from ``cands``, and
    because the (deg,id) orientation is a DAG order, members enumerate in
    strictly increasing orientation order — each clique is counted exactly
    once from its orientation-minimal edge, no canonicalization join
    needed. Fan-out per level is bounded by the O(√m) oriented out-degree
    (the same hub-skew bound as the triangle kernel); the level-j frame
    holds one row per (j+1)-clique candidate prefix, pruned by
    ``|cands| ≥ k-j`` so dead branches die early."""
    if k < 3:
        raise ValueError("k-clique needs k >= 3")
    from graphscope_spark.algorithms.triangles import _sorted_intersect

    col = f"cliques{k}"
    closed, oriented = _closed_triangles(graph, min_ws=k - 2)
    P = graph.num_partitions
    adj = sorted_adjacency(
        oriented.select(F.col("u").alias("src"), F.col("v").alias("dst")), P
    )
    cur = closed.select(F.col("ws").alias("cands"))  # 2 members chosen
    for j in range(2, k - 1):
        need = k - (j + 1)  # members still missing after this extension
        cur = (
            cur.select("cands", F.explode("cands").alias("w"))
            .join(
                adj.select(F.col("src").alias("w"), F.col("nbrs").alias("nbrs_w")),
                "w",
            )
            .select(_sorted_intersect("cands", "nbrs_w").alias("cands"))
            .where(F.size("cands") >= need)
        )
    out = cur.agg(
        F.coalesce(F.sum(F.size("cands")), F.lit(0)).cast("long").alias(col)
    )
    oriented.unpersist()
    return out


def rectangle_count(graph: LinkGraph) -> DataFrame:
    """One row (rectangles bigint) — the number of 4-cycles (C4)."""
    deg = graph.degrees()
    # orientation key: struct(deg, vid) compared lexicographically — any
    # strict total order works for the count; a BIGINT packing would
    # overflow under ANSI mode for full-range 64-bit vids
    okey = F.struct(F.col("deg").alias("d"), F.col("vid").alias("v")).alias("okey")
    keys = deg.select("vid", okey)
    sym = graph.undirected_edges(drop_self_loops=True)
    oriented = (
        sym.join(keys.select(F.col("vid").alias("src"), F.col("okey").alias("ks")), "src")
        .join(keys.select(F.col("vid").alias("dst"), F.col("okey").alias("kd")), "dst")
        .where(F.col("ks") < F.col("kd"))
        .select(F.col("src").alias("u"), F.col("dst").alias("o"), F.col("kd").alias("ko"))
    )
    # wedge v — u — o with u→o oriented and okey(o) > okey(v)
    wedges = (
        sym.select(F.col("src").alias("v"), F.col("dst").alias("u"))
        .join(keys.select(F.col("vid").alias("v"), F.col("okey").alias("kv")), "v")
        .join(oriented, "u")
        .where((F.col("ko") > F.col("kv")) & (F.col("v") != F.col("o")))
        .groupBy("v", "o")
        .agg(F.count("*").alias("c"))
    )
    return wedges.agg(
        F.coalesce(F.sum(F.col("c") * (F.col("c") - 1) / 2), F.lit(0.0))
        .cast("long")
        .alias("rectangles")
    )


def densest_subgraph(graph: LinkGraph) -> DataFrame:
    """One row (density double, nv bigint, ne bigint) — reference
    `densest-sub-2-approx.h:84-100`: the subgraph induced on the maximum-
    coreness vertices; density = (# ordered adjacent pairs within it) / nv,
    i.e. its average degree, a 2-approximation of the maximum average
    degree. Coreness comes from the existing h-index iteration
    (`algorithms/kcore.py::coreness`) — one extra induced-edge count."""
    from graphscope_spark.algorithms.kcore import coreness

    core = coreness(graph).persist()
    cmax = core.agg(F.max("core")).collect()[0][0] or 0
    members = core.where(F.col("core") == cmax).select("vid")
    sym = graph.undirected_edges(drop_self_loops=True)
    ne = (
        sym.join(members.withColumnRenamed("vid", "src"), "src")
        .join(members.withColumnRenamed("vid", "dst"), "dst")
        .count()
    )
    nv = members.count()
    core.unpersist()
    spark = graph.vertices.sparkSession
    return spark.createDataFrame(
        [(float(ne) / nv if nv else 0.0, nv, ne)],
        "density double, nv long, ne long",
    )
