"""run_bsp fusion: overshooting the fixpoint inside a fused block must not
disturb a monotone superstep's result."""

from __future__ import annotations

from pyspark.sql import functions as F

from graphscope_spark.bsp import run_bsp


def test_sssp_fused_overshoot_equivalence(corpus_graph):
    """fused_rounds far past the fixpoint must not disturb SSSP distances
    (the monotone-overshoot contract run_bsp's docstring claims)."""
    from graphscope_spark.algorithms.traversal import sssp

    src = corpus_graph.vertices.agg(F.min("vid")).collect()[0][0]
    base = {
        (r["vid"]): r["dist"]
        for r in sssp(corpus_graph, source=src).state.collect()
    }
    fused = {
        (r["vid"]): r["dist"]
        for r in sssp(corpus_graph, source=src, fused_rounds=100).state.collect()
    }
    assert len(base) > 1 and base == fused


def test_run_bsp_static_fusion_fixpoint(spark):
    """A saturating counter run with fused_rounds=4 reaches its fixpoint
    (blocks of 4 rounds, plan cuts and block-end stats resets included)."""
    state0 = spark.createDataFrame(
        [(i, 0) for i in range(8)], "vid long, val long"
    )

    def superstep(st, rnd):
        return st.select(
            "vid",
            F.when(F.col("val") < 21, F.col("val") + 1)
            .otherwise(F.col("val"))
            .alias("val"),
        )

    def scalar(st):
        return float(st.where(F.col("val") < 21).count())

    res = run_bsp(
        state0, superstep, max_rounds=64, scalar_fn=scalar,
        converged_fn=lambda c, r: c == 0.0, fused_rounds=4,
    )
    assert res.converged
    assert {r["vid"]: r["val"] for r in res.state.collect()} == {i: 21 for i in range(8)}
    res.release()
