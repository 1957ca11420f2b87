"""PageRank — power iteration with dangling-mass redistribution.

Semantics transliterated from the reference's NetworkX-compatible app
`/root/reference/analytical_engine/apps/pagerank/pagerank_networkx.h:54-163`:

* init ``r = 1/N``                                     (:62-67)
* per round ``r'(v) = (1-α)/N + α·Σ_{u→v} r(u)/outdeg(u) + α·dangling/N``
  where ``dangling = Σ_{outdeg(u)=0} r(u)``            (:76-85, :117-133)
* converge when ``Σ_v |r'(v) - r(v)| < N·tol`` or round > max_rounds
  (:135-148)

Spark shape (one shuffle-agg + one join per superstep):

* static prepared table ``ew(src, dst, w=1/outdeg(src))`` — built once,
  persisted, hash-partitioned by src (the fragment analog);
* per round: ``contrib = ranks ⋈ ew on vid=src → groupBy(dst).sum(rank·w)``
  (Catalyst plans a partial/map-side aggregate before the shuffle — the
  message-combine GRAPE does in its message manager);
* dangling mass is a scalar: folded into the *previous* round's convergence
  aggregate so each superstep costs exactly one extra one-row collect;
* lineage truncation, checkpoint/resume and fusion via bsp.run_bsp. One
  superstep is one power-iteration round. With ``fused_rounds=k>1``,
  run_bsp stacks k of them into ONE Spark job, and the dangling scalar
  moves in-plan as a broadcast 1-row aggregate, so no driver round-trip is
  needed between fused rounds. Arithmetic is identical per round; only the
  barrier count changes — k× fewer driver round-trips and scheduler waits,
  the dominant cost at high executor counts. Convergence (reference
  semantics: last round's Σ|Δ| < N·tol) is then only CHECKED at block
  ends, so a tol>0 run may execute up to k-1 extra rounds past the
  reference's stopping round. ``max_rounds`` is exact for every k, and
  supersteps and checkpoints count true rounds, so a run may resume under
  a different k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphscope_spark.bsp import BSPResult, load_checkpoint, run_bsp
from graphscope_spark.graph import LinkGraph


def pagerank(
    graph: LinkGraph,
    alpha: float = 0.85,
    max_rounds: int = 100,
    tol: float = 1e-6,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    resume: bool = False,
    fused_rounds: int = 1,
    weight_col: str | None = None,
    init_ranks: DataFrame | None = None,
) -> BSPResult:
    """Returns BSPResult whose state is (vid, rank).

    ``fused_rounds=k`` runs k power-iteration rounds per Spark job (see
    module docstring); ``max_rounds`` counts rounds and is honoured exactly.
    A checkpoint written by an older release that counted fused BLOCKS
    (its manifest carries ``fused_rounds`` > 1) is refused on resume.

    ``weight_col``: name of a POSITIVE edge-weight column on ``graph.edges``
    — rank then distributes proportionally to weight (NetworkX
    ``pagerank(weight=...)`` semantics; the reference's nx layer exposes the
    same knob). Dangling detection is unchanged (a vertex with any out-edge
    is non-dangling), which is exact for positive weights.

    ``init_ranks``: optional (vid, rank) warm start — vertices absent from
    it start at 1/n and the whole vector is renormalized to sum 1. Power
    iteration converges to the SAME unique stationary vector from any
    positive start; a warm start from a nearby solution (the incremental
    crawl-maintenance case, streaming.IncrementalPageRank) gets there
    sooner by ≈ log(start-error ratio)/log(1/contraction) supersteps — see
    the IncrementalPageRank docstring for the honest economics. Costs one
    extra scalar aggregate."""
    spark = graph.vertices.sparkSession
    P = graph.num_partitions
    verts = graph.vertices.select("vid")
    n = verts.count()
    out_deg = graph.out_degrees()

    # Static message-weight table: one join at build time instead of two per
    # round. Persisted hash-partitioned BY THE JOIN COLUMN (not pmod): the
    # cached HashPartitioning(src, N) satisfies the per-round join's
    # ClusteredDistribution(src), so when the rank side is too big to
    # broadcast, Catalyst shuffles only the small state — never the edges.
    # (When the state fits the broadcast threshold, AQE picks a broadcast
    # join and the edges are streamed from cache with no exchange at all.)
    if weight_col is None:
        ew = graph.edges.join(
            out_deg.withColumnRenamed("vid", "src"), "src"
        ).select("src", "dst", (F.lit(1.0) / F.col("out_deg")).alias("w"))
    else:
        wsum = graph.edges.groupBy("src").agg(F.sum(weight_col).alias("_wsum"))
        ew = graph.edges.join(wsum, "src").select(
            "src", "dst", (F.col(weight_col) / F.col("_wsum")).alias("w")
        )
    ew = ew.repartition(F.col("src")).persist()
    ew.count()

    if init_ranks is None:
        rank0 = F.lit(1.0 / n)
        seeded = verts
    else:
        seeded = verts.join(
            init_ranks.select("vid", F.col("rank").alias("_ir")), "vid", "left"
        ).withColumn("_r0", F.coalesce("_ir", F.lit(1.0 / n)))
        total = seeded.agg(F.sum("_r0")).collect()[0][0] or 1.0
        rank0 = F.col("_r0") / F.lit(float(total))
    state0 = (
        seeded.join(out_deg, "vid", "left")
        .select(
            "vid",
            rank0.alias("rank"),
            F.lit(0.0).alias("prev"),
            F.col("out_deg").isNull().alias("dangling"),
        )
        .repartition(P, F.pmod(F.col("vid"), F.lit(P)))
    )

    # dangling mass for the upcoming round; updated by scalar_fn each round
    # (one collect returns both Σ|Δ| and Σ_dangling r — the Spark analog of
    # the reference's two Sum() allreduces at pagerank_networkx.h:85,146,159).
    holder = {"dmass": None}
    if resume and checkpoint_dir:
        loaded = load_checkpoint(spark, checkpoint_dir)
        if loaded is not None:
            st, _, man = loaded
            if int(man.get("fused_rounds", 1)) > 1:
                raise ValueError(
                    f"pagerank resume: the checkpoint at {checkpoint_dir} "
                    "counts blocks of fused_rounds="
                    f"{man['fused_rounds']}, not rounds; restart without "
                    "resume"
                )
            holder["dmass"] = (
                st.agg(F.sum(F.when(F.col("dangling"), F.col("rank")).otherwise(0.0))).collect()[0][0]
            ) or 0.0
    if holder["dmass"] is None:
        n_dangling = state0.where("dangling").count()
        holder["dmass"] = n_dangling / n

    base = (1.0 - alpha) / n

    def one_round(s: DataFrame, dmass_term) -> DataFrame:
        contrib = (
            s.join(ew, s["vid"] == ew["src"])
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("w")).alias("c"))
        )
        joined = s.join(contrib, s["vid"] == contrib["dst"], "left")
        if dmass_term is None:
            # in-plan dangling mass: broadcast 1-row aggregate of the input
            # state — no driver round-trip between fused rounds
            dm = s.agg(
                (
                    F.coalesce(
                        F.sum(F.when(F.col("dangling"), F.col("rank"))), F.lit(0.0)
                    )
                    * F.lit(alpha / n)
                ).alias("_dmt")
            )
            joined = joined.crossJoin(F.broadcast(dm))
            dmass_term = F.col("_dmt")
        return joined.select(
            s["vid"],
            (F.lit(base) + F.lit(alpha) * F.coalesce(F.col("c"), F.lit(0.0))
             + dmass_term).alias("rank"),
            s["rank"].alias("prev"),
            s["dangling"],
        )

    def superstep(state: DataFrame, rnd: int) -> DataFrame:
        if fused_rounds > 1:
            return one_round(state, None)
        return one_round(state, F.lit(alpha * holder["dmass"] / n))

    def scalar_fn(state: DataFrame) -> float:
        row = state.agg(
            F.sum(F.abs(F.col("rank") - F.col("prev"))).alias("delta"),
            F.sum(F.when(F.col("dangling"), F.col("rank")).otherwise(0.0)).alias("dmass"),
        ).collect()[0]
        holder["dmass"] = row["dmass"] or 0.0
        return row["delta"]

    res = run_bsp(
        state0,
        superstep,
        max_rounds=max_rounds,
        scalar_fn=scalar_fn,
        converged_fn=lambda delta, rnd: delta < n * tol,
        checkpoint_dir=checkpoint_dir,
        checkpoint_every=checkpoint_every,
        resume=resume,
        meta={"algorithm": "pagerank", "alpha": alpha, "tol": tol, "n": n},
        fused_rounds=fused_rounds,
    )
    ew.unpersist()
    res.state = res.state.select("vid", "rank")
    return res
