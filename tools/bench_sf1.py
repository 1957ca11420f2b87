"""One-step scale evidence for the 100-TB claims (round-5 plan item 7):
run the heavy datapipe/graph ops at sf0.1-equivalent size AND at 10×
("sf1" — ~50M synthetic edges / 10× docs) on the same box, recording wall
time and per-op shuffle bytes. Each measured op runs under its own Spark
job tag, resolved afterwards by ``bsp.job_tag_metrics`` (Spark UI REST),
so shuffle bytes are exactly the op's own (null when the UI is off).
The success criterion is the SCALING RATIO: shuffle bytes must grow
~linearly with input (ratio ≈ 10 for a 10× input, never super-linear
blowup), which turns the analytical 100-TB arguments in the op docstrings
into a measured data point.

All inputs are synthesized deterministically JVM-side (no external data):
the bench.synthetic_edges power-law graph, hash-token documents with a
10% planted near-duplicate rate, and hash-derived embedding vectors.

Usage: python tools/bench_sf1.py [--small] [--ops op1,op2]
Writes BENCH/SF1_r5.json.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import uuid
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from bench import synthetic_graph  # noqa: E402
from graphscope_spark.bsp import job_tag_metrics  # noqa: E402
from graphscope_spark.session import get_spark  # noqa: E402


def synthetic_docs(spark, n_docs: int, partitions: int):
    """(doc_id, text) — ~60 hash tokens per doc, every 10th doc re-uses the
    previous doc's token stream with a one-token edit (planted near-dups,
    the minhash recall target)."""
    base = F.when(
        F.col("id") % 10 == 9, F.col("id") - 1
    ).otherwise(F.col("id"))
    # md5-derived 8-hex-char tokens: the char-shingle space is effectively
    # unbounded, so two RANDOM docs share no shingles and only the planted
    # edits collide — the web-text regime LSH is designed for. Two earlier
    # corpus attempts ("w" + number tokens, 5·10^4 then 10^9 vocabulary)
    # made unrelated docs share prefix shingles by construction, so the
    # per-perm min-hash concentrated on popular shingles and band buckets
    # grew quadratically — corpus artifacts, not operator properties
    # (documented here so the artifact's history is auditable).
    toks = F.transform(
        F.sequence(F.lit(1), F.lit(60)),
        lambda i: F.substring(
            F.md5(
                F.concat(
                    base.cast("string"),
                    F.lit(":"),
                    i.cast("string"),
                    F.lit(":"),
                    F.when(
                        (i == 60) & (F.col("id") % 10 == 9), F.lit("edit")
                    ).otherwise(F.lit("")),
                )
            ),
            1,
            8,
        ),
    )
    return spark.range(0, n_docs, 1, partitions).select(
        F.col("id").alias("doc_id"), F.array_join(toks, " ").alias("text")
    )


def synthetic_embeddings(spark, n: int, dim: int, partitions: int):
    """(vec_id, embedding float[dim]) — deterministic pseudo-random unit-ish
    vectors; every 20th row copies its predecessor (planted semantic dups)."""
    base = F.when(F.col("id") % 20 == 19, F.col("id") - 1).otherwise(F.col("id"))
    vec = F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda i: (
            F.pmod(base * 1315423911 + i * 2654435761, F.lit(100_000)).cast(
                "double"
            )
            / 50_000.0
            - 1.0
        ).cast("float"),
    )
    return spark.range(0, n, 1, partitions).select(
        F.col("id").alias("vec_id"), vec.alias("embedding")
    )


def _mb(n):
    return None if n is None else round(n / 1e6, 3)


def run_op(spark, name, fn):
    sc = spark.sparkContext
    tag = f"bench_sf1-{name}-{uuid.uuid4().hex[:8]}"
    sc.addJobTag(tag)
    try:
        t0 = time.time()
        result_rows = fn()
        wall = time.time() - t0
    finally:
        sc.removeJobTag(tag)
    m = job_tag_metrics(spark, [tag])[tag]
    return {
        "rows": result_rows,
        "wall_s": round(wall, 2),
        "shuffle_read_mb": _mb(m["shuffle_read_bytes"]),
        "shuffle_write_mb": _mb(m["shuffle_write_bytes"]),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--small", action="store_true", help="1/10 sizes (smoke)")
    ap.add_argument("--ops", default="", help="comma list to restrict")
    ap.add_argument("--out", default=str(REPO / "BENCH" / "SF1_r5.json"))
    args = ap.parse_args()
    div = 10 if args.small else 1
    only = set(args.ops.split(",")) if args.ops else None

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    P = 2 * cpus
    load_before = os.getloadavg()
    spark = get_spark(
        "bench_sf1",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": "/dev/shm/spark-local",
        },
    )

    out: dict = {
        "artifact": "sf1-scale-step",
        "cpus": cpus,
        "loadavg_before": [round(x, 2) for x in load_before],
        "ops": {},
    }

    def scales(op, base, sf1):
        """Run an op builder at base and 10× size; record both + ratios.
        The base build runs once unmeasured first (JIT/codegen warmup is a
        per-process constant that would otherwise inflate the base and
        understate every ratio)."""
        if only and op not in only:
            return
        base()  # warmup, unmeasured
        r1 = run_op(spark, op, base)
        r10 = run_op(spark, op, sf1)
        ratio = {
            "wall": round(r10["wall_s"] / max(r1["wall_s"], 1e-9), 2),
            # sub-MB base shuffles are all fixed overhead — a ratio over
            # them is noise, not evidence; report null instead
            "shuffle_write": (
                round(r10["shuffle_write_mb"] / r1["shuffle_write_mb"], 2)
                if r1["shuffle_write_mb"] is not None
                and r10["shuffle_write_mb"] is not None
                and r1["shuffle_write_mb"] >= 1.0
                else None
            ),
        }
        out["ops"][op] = {"base": r1, "sf1": r10, "ratio_10x": ratio}
        print(json.dumps({op: out["ops"][op]}), flush=True)

    # -- dedup_minhash (scan mode: the >1M-doc physical strategy) ----------
    def mk_dedup(n):
        def go():
            from graphscope_spark.datapipe.dedup import minhash_dedup_pairs

            docs = synthetic_docs(spark, n, P)
            return minhash_dedup_pairs(docs, mode="scan").count()

        return go

    # 20k→200k, not 5k→50k: below ~10k docs AQE broadcast-joins the whole
    # candidate path (zero shuffle — the measured 0.14 MB), so a ratio
    # against it compares regimes, not scaling; both these sizes are in
    # the shuffle regime
    scales("dedup_minhash_scan", mk_dedup(20_000 // div), mk_dedup(200_000 // div))

    # -- semdedup ----------------------------------------------------------
    def mk_sem(n):
        def go():
            from graphscope_spark.datapipe.semdedup import semantic_dedup

            emb = synthetic_embeddings(spark, n, 64, P)
            return semantic_dedup(emb, n_clusters=16, threshold=0.95).count()

        return go

    scales("semdedup", mk_sem(2_000 // div), mk_sem(20_000 // div))

    # -- node_embeddings ---------------------------------------------------
    def mk_ne(nv, ne):
        def go():
            from graphscope_spark.learning import train_node_embeddings

            g = synthetic_graph(spark, nv, ne, 64)
            return train_node_embeddings(
                g, dim=16, walk_length=6, num_walks=2, num_partitions=cpus
            ).count()

        return go

    scales(
        "node_embeddings",
        mk_ne(5_000 // div, 50_000 // div),
        mk_ne(50_000 // div, 500_000 // div),
    )

    # -- hyperanf ----------------------------------------------------------
    def mk_anf(nv, ne):
        def go():
            from graphscope_spark.algorithms.hyperanf import neighborhood_function

            g = synthetic_graph(spark, nv, ne, 64)
            return neighborhood_function(g, t_max=6, rel_tol=0.0).count()

        return go

    scales(
        "hyperanf",
        mk_anf(500_000 // div, 5_000_000 // div),
        mk_anf(5_000_000 // div, 50_000_000 // div),
    )

    # -- truss_decomposition ----------------------------------------------
    def mk_truss(nv, ne):
        def go():
            from graphscope_spark.algorithms.ktruss import truss_decomposition

            g = synthetic_graph(spark, nv, ne, 64)
            return truss_decomposition(g).count()

        return go

    scales(
        "truss_decomposition",
        mk_truss(200_000 // div, 1_000_000 // div),
        mk_truss(2_000_000 // div, 10_000_000 // div),
    )

    out["loadavg_after"] = [round(x, 2) for x in os.getloadavg()]
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps({"written": args.out}))
    spark.stop()


if __name__ == "__main__":
    main()
