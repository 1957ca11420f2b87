"""Triangle counting — degree-ordered orientation + sorted-array intersection.

Semantics transliterated from
`/root/reference/analytical_engine/apps/clustering/triangles.h:30-159`:

* undirected view, self-loops and duplicate edges dropped      (:43-47)
* stage 0: global degree table                                  (:49-54)
* stage 1: orient each undirected edge from the smaller to the larger
  endpoint under the total order ``(deg, id)`` — keep u→v iff
  ``deg(u) < deg(v)`` or (``deg(u)==deg(v)`` and ``id(u) < id(v)``)
  (:78-91). Every vertex's oriented out-degree is O(√m), which bounds
  the intersection work and kills the hub-skew problem by construction.
* stage 2: for each oriented edge (u,v), count (and identify)
  ``N⁺(u) ∩ N⁺(v)``; each common w closes triangle {u,v,w}; credit all
  three corners                                                 (:119-139)
* stage 3: per-vertex counts; total = Σ/3                        (:148-153)

Spark shape: the oriented adjacency (one ``groupBy(u)`` into a sorted list
— no salting needed, since orientation bounds every list by O(√m)) is
exploded back into its edges, which gives ``(u, v, nbrs_u)`` without a
join, and joined once on v for ``nbrs_v``. One ``mapInArrow`` pass then
intersects a whole Arrow batch at a time over the list offsets with numpy
(``_batch_intersect``) and emits the corner credits ``(vid, c)`` directly —
u and v get k for k common w, each w gets 1 — so every oriented edge
crosses into Python exactly once; ``groupBy(vid)`` sums them, and
``total_triangles`` just sums ``c``. This is the "sorted-intersection via
pandas UDFs" the north rule prescribes, and the one place join/agg
genuinely can't express the semantics (SURVEY.md §2.3). A Python node costs
a fixed ~0.15–0.2 s per task (4-core box, worker reuse on) whatever its
rows, so the plan must hold exactly one: an array-valued UDF would be copied
into any size filter or union branch over its result. Nothing is persisted,
so nothing outlives a call.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from graphscope_spark.graph import LinkGraph


@pandas_udf(T.ArrayType(T.LongType()))
def _sorted_intersect(a: pd.Series, b: pd.Series) -> pd.Series:
    """Common elements of two sorted long arrays (vectorized per Arrow batch)."""
    out = []
    for x, y in zip(a.values, b.values):
        if x is None or y is None or len(x) == 0 or len(y) == 0:
            out.append([])
        else:
            out.append(np.intersect1d(np.asarray(x), np.asarray(y), assume_unique=True).tolist())
    return pd.Series(out)


def _oriented(graph: LinkGraph) -> DataFrame:
    """Oriented edges u→v under the (deg,id) order."""
    # one row per undirected edge {u,v}: canonical (small vid, large vid);
    # the degree table counts the same rows, so it costs no second distinct
    e = graph.edges.where(F.col("src") != F.col("dst")).select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    deg = (
        e.select(F.col("a").alias("vid"))
        .union(e.select(F.col("b").alias("vid")))
        .groupBy("vid")
        .agg(F.count("*").alias("deg"))
    )
    da = deg.select(F.col("vid").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("vid").alias("b"), F.col("deg").alias("deg_b"))
    ed = e.join(da, "a").join(db, "b")
    lt = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    return ed.select(
        F.when(lt, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lt, F.col("b")).otherwise(F.col("a")).alias("v"),
    )


def _batch_intersect(batch: pa.RecordBatch) -> tuple[np.ndarray, np.ndarray]:
    """Common elements of ``nbrs_u`` and ``nbrs_v`` for every row of a batch:
    ``(row, w)`` sorted by row, then w. Both lists of a row are sorted and
    duplicate-free, so a value present in both appears exactly twice among
    the row's concatenated values: one lexsort of (row, value) over the flat
    list buffers finds every common w of the batch at once."""
    rows, vals = [], []
    for name in ("nbrs_u", "nbrs_v"):
        col = batch.column(name)
        offs = np.asarray(col.offsets)
        rows.append(np.repeat(np.arange(len(col)), np.diff(offs)))
        vals.append(np.asarray(col.values)[offs[0]:offs[-1]])
    row, val = np.concatenate(rows), np.concatenate(vals)
    order = np.lexsort((val, row))
    row, val = row[order], val[order]
    both = (row[1:] == row[:-1]) & (val[1:] == val[:-1])
    return row[1:][both], val[1:][both]


def _credit_batches(batches):
    """mapInArrow body: (u, v, nbrs_u, nbrs_v) → (vid, c) corner credits."""
    for batch in batches:
        row, w = _batch_intersect(batch)
        k = np.bincount(row, minlength=batch.num_rows)
        hit = k > 0
        u = np.asarray(batch.column("u"))[hit]
        v = np.asarray(batch.column("v"))[hit]
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(np.concatenate([u, v, w]), pa.int64()),
                pa.array(np.concatenate([k[hit], k[hit], np.ones(len(w), np.int64)]), pa.int64()),
            ],
            names=["vid", "c"],
        )


def _corner_credits(graph: LinkGraph) -> DataFrame:
    """(vid, c) — one credit row per triangle corner found at an oriented
    edge; Σc = 3 × the triangle count."""
    adj = _oriented(graph).groupBy("u").agg(F.sort_array(F.collect_list("v")).alias("nbrs"))
    pairs = adj.select("u", F.col("nbrs").alias("nbrs_u"), F.explode("nbrs").alias("v")).join(
        adj.select(F.col("u").alias("v"), F.col("nbrs").alias("nbrs_v")), "v"
    )
    return pairs.mapInArrow(_credit_batches, "vid long, c long")


def triangles(graph: LinkGraph) -> DataFrame:
    """Per-vertex triangle counts (vid, tri) — every vertex listed, zeros
    included (matches the reference's vertex_data context output)."""
    counts = _corner_credits(graph).groupBy("vid").agg(F.sum("c").alias("tri"))
    return (
        graph.vertices.select("vid")
        .join(counts, "vid", "left")
        .select("vid", F.coalesce(F.col("tri"), F.lit(0)).cast("long").alias("tri"))
    )


def total_triangles(graph: LinkGraph) -> int:
    """Global triangle count = Σ corner credits / 3."""
    s = _corner_credits(graph).agg(F.sum("c")).collect()[0][0] or 0
    return int(s) // 3


def lcc(graph: LinkGraph) -> DataFrame:
    """Local clustering coefficient (vid, lcc) = tri(v) / (deg(v)·(deg(v)-1)/2)
    on the undirected simple graph — reference `grape::LCCOpt` semantics
    (.gs_conf.yaml:87-94), triangles ÷ wedge count."""
    tri = triangles(graph)
    deg = graph.degrees()
    return (
        tri.join(deg, "vid", "left")
        .select(
            "vid",
            F.when(
                F.coalesce(F.col("deg"), F.lit(0)) >= 2,
                F.col("tri") * 2.0 / (F.col("deg") * (F.col("deg") - 1)),
            )
            .otherwise(F.lit(0.0))
            .alias("lcc"),
        )
    )
