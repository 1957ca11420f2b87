"""spark-submit entry point: pages parquet → link graph → algorithm → parquet.

The north-rule deployment shape — the whole pipeline as one submittable job:

    python tools/make_pyfiles_zip.py                       # → graphscope_spark.zip
    spark-submit --master <cluster> \
        --py-files graphscope_spark.zip \
        tools/submit_job.py \
        --pages hdfs://…/pages.parquet \
        --algorithm pagerank --partitions 2048 \
        --checkpoint-dir hdfs://…/ck --resume \
        --output hdfs://…/ranks.parquet

``--pages`` is a parquet table of the input-hint shape
(url, warc_ts, html, text, lang); ``--synthesize N`` generates the
deterministic test corpus instead (local smoke runs). The session comes
from spark-submit's conf (master/executors are the CLUSTER's business);
only engine-level SQL conf (AQE advisory size, shuffled-hash preference)
is applied on top, mirroring graphscope_spark.session.get_spark.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--pages", help="parquet of (url, warc_ts, html, text, lang)")
    src.add_argument("--synthesize", type=int, help="generate N synthetic pages")
    ap.add_argument("--algorithm", default="pagerank",
                    choices=["pagerank", "wcc", "cdlp", "triangles"])
    ap.add_argument("--output", required=True, help="parquet output path")
    ap.add_argument("--partitions", type=int, default=0,
                    help="graph partitions (0 = default parallelism)")
    ap.add_argument("--alpha", type=float, default=0.85)
    ap.add_argument("--tol", type=float, default=1e-6)
    ap.add_argument("--max-rounds", type=int, default=100)
    ap.add_argument("--fused-rounds", type=int, default=1)
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--metrics-out", default=None,
                    help="write per-superstep metrics (wall s, convergence "
                         "scalar, jobs, shuffle bytes, task-time p50/max; "
                         "null where the Spark UI is off) as JSON lines")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName(
        f"graphscope_spark:{args.algorithm}"
    ).getOrCreate()
    # engine-level SQL conf only — cluster sizing belongs to spark-submit
    from graphscope_spark.session import apply_engine_conf

    apply_engine_conf(spark)

    from graphscope_spark.corpus import generate_pages
    from graphscope_spark.graph import build_graph

    if args.pages:
        pages = spark.read.parquet(args.pages)
    else:
        pages = generate_pages(spark, args.synthesize, 12)
    P = args.partitions or spark.sparkContext.defaultParallelism
    g = build_graph(pages, num_partitions=P)

    t0 = time.time()
    meta: dict = {"algorithm": args.algorithm, "partitions": P}
    res = None
    if args.algorithm == "pagerank":
        from graphscope_spark.algorithms import pagerank

        res = pagerank(
            g, alpha=args.alpha, tol=args.tol, max_rounds=args.max_rounds,
            checkpoint_dir=args.checkpoint_dir, resume=args.resume,
            fused_rounds=args.fused_rounds,
        )
        out, meta["supersteps"], meta["converged"] = res.state, res.supersteps, res.converged
    elif args.algorithm == "wcc":
        from graphscope_spark.algorithms import wcc

        res = wcc(g, checkpoint_dir=args.checkpoint_dir, resume=args.resume)
        out, meta["supersteps"], meta["converged"] = res.state, res.supersteps, res.converged
    elif args.algorithm == "cdlp":
        from graphscope_spark.algorithms import cdlp

        res = cdlp(g, max_rounds=10)
        out, meta["supersteps"] = res.state, res.supersteps
    else:
        from graphscope_spark.algorithms.triangles import triangles

        out = triangles(g)

    out.write.mode("overwrite").parquet(args.output)
    meta["rows"] = spark.read.parquet(args.output).count()
    meta["wall_s"] = round(time.time() - t0, 3)
    if args.metrics_out and res is not None:
        from graphscope_spark.bsp import job_tag_metrics

        by_tag = job_tag_metrics(spark, [m["job_tag"] for m in res.metrics])
        with open(args.metrics_out, "w") as f:
            for m in res.metrics:
                f.write(json.dumps({**m, **by_tag[m["job_tag"]]}) + "\n")
        meta["metrics_out"] = args.metrics_out
    print(json.dumps(meta))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
