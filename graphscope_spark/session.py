"""SparkSession factory with scale-oriented defaults.

The reference engine hash-partitions fragments and shuffles messages per
superstep (SURVEY.md §4); on Spark the equivalents are AQE + explicit
``spark.sql.shuffle.partitions`` sizing + skew-join handling, set here once
so every entry point (tests, bench, __spark_entry__) runs the same plan
environment. Designed for a 1000-executor cluster; in this sandbox it runs
``local[N]``.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import zipfile

from pyspark.sql import SparkSession

# Defaults chosen for local[32]/128GiB sandbox; on a real cluster these are
# overridden by spark-submit conf. Shuffle partitions scale with parallelism —
# AQE coalesces down at runtime, so we set an upper bound, not an exact count.
_SCALE_CONF = {
    # AQE: runtime re-planning — partition coalescing, skew-join splitting,
    # and broadcast conversion of small join sides. This is the Spark
    # equivalent of GRAPE's sparse/dense direction switching (SURVEY.md §4).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Default 64MB advisory partitions strangle iterative supersteps: a
    # ~160MB message shuffle coalesces to ~3 tasks and the cluster idles.
    # 8MB keeps superstep parallelism (measured 2.4× per-round speedup at
    # 50M edges) while still collapsing genuinely tiny stages; on a real
    # cluster tune upward with executor count.
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.localShuffleReader.enabled": "true",
    # Iterative state⋈edges joins: prefer shuffled-hash over sort-merge —
    # the big cached edge side is already HashPartitioning(src) so neither
    # re-shuffling nor per-round sorting pays for itself (measured 5.0 vs
    # 6.1 s/superstep at 5M edges; broadcast of a 1M-row state was 20.9).
    # Genuinely small frontiers still broadcast via the default 10MB
    # threshold — that's GRAPE's sparse-direction analog.
    "spark.sql.join.preferSortMergeJoin": "false",
    # Arrow transfer for pandas UDFs — the only Python that ever touches rows.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Iterative jobs re-read small state tables; keep parquet scans cheap.
    "spark.sql.parquet.filterPushdown": "true",
    # Deterministic timestamps regardless of machine TZ.
    "spark.sql.session.timeZone": "UTC",
    # Keep driver-side collect of convergence scalars cheap.
    "spark.sql.execution.arrow.pyspark.fallback.enabled": "true",
}


def get_spark(
    app_name: str = "graphscope_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    ``shuffle_partitions`` defaults to 2× the local core count — enough
    granularity for AQE to coalesce, small enough to avoid tiny-task overhead
    at test scale.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 64 if n == "*" else max(8, 2 * int(n))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # 24g: multi-hundred-round loops (the coreness correction wave runs
        # ~600 rounds at sf0.1) accumulate per-round plan/RDD metadata the
        # JVM retains even after explicit checkpoint release + gc (measured
        # OOM at 8g, stable at 24g) — a long-running driver on a real
        # cluster is provisioned the same way. Override: SPARK_DRIVER_MEMORY.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
    )
    for k, v in _SCALE_CONF.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def apply_engine_conf(spark: SparkSession) -> None:
    """Apply the engine's SQL conf to an EXTERNALLY created session — the
    ``spark-submit`` path (tools/submit_job.py), where master/executors are
    the cluster's business and only runtime-settable SQL conf belongs to the
    engine. Also ships the package zip in case --py-files was omitted."""
    for k, v in _SCALE_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover — static conf on some builds
            pass
    _ship_package(spark)


def _build_package_zip() -> str:
    """Zip this package's sources into a fresh directory and return the
    zip's path. Each call gets its own directory, so two sessions on one
    host — say from two checkouts — never ship each other's code."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    out_dir = tempfile.mkdtemp(prefix="graphscope_spark_pyfiles_")
    atexit.register(shutil.rmtree, out_dir, True)
    zpath = os.path.join(out_dir, "graphscope_spark_pyfiles.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    zf.write(full, rel)
    return zpath


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executors so pandas UDFs deserialize anywhere —
    the in-process analog of ``spark-submit --py-files graphscope_spark.zip``
    (how the north rule's cluster runs deploy). Idempotent per session."""
    sc = spark.sparkContext
    if getattr(sc, "_graphscope_spark_shipped", False):
        return
    sc.addPyFile(_build_package_zip())
    sc._graphscope_spark_shipped = True
