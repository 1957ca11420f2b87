"""Shared BSP superstep driver — the Spark stand-in for GRAPE's PIE loop.

The reference runs ``PEval`` then rounds of ``IncEval`` until no messages
(`/root/reference/docs/analytical_engine/programming_model_pie.md:25-30`);
message shuffles between rounds are MPI all-to-alls. Here a superstep is a
lazy DataFrame transformation and the "message shuffle" is whatever exchange
Catalyst plans for the round's joins/aggregations; the driver loop only
evaluates one scalar action per block (the convergence aggregate) so it
never serializes the cluster. ``run_bsp`` is the one superstep loop.

Scale concerns handled centrally (north rule):

* **Fusion** — ``fused_rounds=k`` composes k supersteps into one block that
  one Spark action materializes (k× fewer driver barriers); the plan is cut
  every ``FUSE_CUT_EVERY`` inner rounds.
* **Lineage truncation** — every block ends at a truncation point: a lazy
  ``localCheckpoint`` (fast, in-memory), or, every ``checkpoint_every``
  rounds, parquet with a JSON manifest (true superstep number, partition
  count, schema, the caller's ``meta``) so a killed job resumes mid-iteration
  (reference analog: SERIALIZE_GRAPH snapshots,
  `framework/dag_utils.py:1115`). The stats-resetting rebuild
  (``truncate_plan``) replaces the plain checkpoint every
  ``STATS_RESET_EVERY`` rounds and at the end of every fused block.
* **Per-superstep metrics** — wall time, rounds in the job and the
  convergence value, plus the superstep's Spark job tag. Shuffle bytes and
  task-time quantiles (the skew the north rule names) are resolved from
  the tag by ``job_tag_metrics`` only when asked, exactly per superstep and
  off the loop's critical path.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
import urllib.request
import uuid
from collections import Counter
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


# --- lineage truncation ---------------------------------------------------------


def truncate_plan(df: DataFrame, eager: bool = True) -> DataFrame:
    """localCheckpoint + rebuild the DataFrame over the materialized RDD.

    ``Dataset.localCheckpoint`` keeps the origin plan's computed Catalyst
    Statistics. In iterative rounds whose plan references the state twice or
    more (any self-join shape: Louvain k_ic⋈tot, k-core alive⋈alive, SCC
    trim, WCC state⋈msgs), join size estimates MULTIPLY, so the DIGIT COUNT
    of ``sizeInBytes`` doubles per round — measured 5 → 429,935 digits in 18
    rounds on an 18-vertex graph, after which every planning pass burns CPU
    in million-digit ``BigInteger.multiplyToomCook3`` (rounds went 0.5 s →
    90 s). Rebuilding over the checkpointed RDD resets the node to leaf
    defaults; stats stay flat forever.

    Trade-off: the rebuilt node loses outputPartitioning metadata, which can
    cost one extra exchange of the (small) state side per round — noise next
    to the stats blowup. Falls back to the plain checkpoint if the internal
    constructor is unavailable.
    """
    sc = df.sparkSession.sparkContext
    before = _persistent_ids(sc)
    ck = df.localCheckpoint(eager=eager)
    try:
        spark = ck.sparkSession
        jdf = ck._jdf
        new_jdf = spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        out = DataFrame(new_jdf, spark)
    except Exception:  # pragma: no cover - internal API moved/renamed
        out = ck
    _tag_ck_ids(sc, before, out)
    return out


def _persistent_ids(sc) -> set | None:
    try:
        return set(sc._jsc.getPersistentRDDs().keySet().toArray())
    except Exception:  # pragma: no cover - monitoring API unavailable
        return None


def _tag_ck_ids(sc, before: set | None, df: DataFrame) -> None:
    if before is None:
        return
    try:
        after = set(sc._jsc.getPersistentRDDs().keySet().toArray())
        df._graft_ck_ids = sorted(after - before)
    except Exception:  # pragma: no cover
        pass


def local_checkpoint(df: DataFrame, eager: bool = False) -> DataFrame:
    """``Dataset.localCheckpoint`` that RECORDS the RDD ids it registers
    (``_graft_ck_ids``, same channel as ``truncate_plan``) so the blocks
    are actually freeable later. ``Dataset.unpersist()`` is a
    CacheManager-only call — measured a NO-OP on checkpoint-backed frames
    (the checkpointed RDD stays in persistentRDDs), so a loop that
    localCheckpoints every round and releases with unpersist retains every
    round's state blocks. Registration happens at the localCheckpoint CALL
    even with ``eager=False`` (verified), so the before/after delta is
    race-free as long as no concurrent persist runs on the same session
    (the driver loop is single-threaded)."""
    sc = df.sparkSession.sparkContext
    before = _persistent_ids(sc)
    out = df.localCheckpoint(eager=eager)
    _tag_ck_ids(sc, before, out)
    return out


def release_state(df: DataFrame) -> None:
    """Release a spent loop state of ANY kind: plain ``persist`` frames
    via unpersist (CacheManager), ``truncate_plan``/``local_checkpoint``
    frames via their recorded checkpoint RDD ids. Safe to call on frames
    of either kind — each path is a no-op on the other."""
    try:
        df.unpersist()
    except Exception:  # pragma: no cover - best-effort release
        pass
    release_truncated(df)


def release_truncated(df: DataFrame) -> None:
    """Free the localCheckpoint blocks (and their persistentRdds entries)
    behind a ``truncate_plan``/``truncate_plan_lazy`` result. Long loops
    (hundreds of truncation points) MUST release spent states: each
    checkpoint registers an RDD in the context's persistent-RDD map, and a
    600-round loop was measured leaking ~1,200 entries — enough retained
    driver-heap metadata to OOM an 8g driver. Call ONLY once a NEWER
    truncation point has materialized (the checkpointed blocks are the
    severed lineage's only source; releasing them earlier makes dependents
    unrecomputable)."""
    ids = getattr(df, "_graft_ck_ids", None)
    if not ids:
        return
    try:
        m = df.sparkSession.sparkContext._jsc.getPersistentRDDs()
        for i in ids:
            r = m.get(i)
            if r is not None:
                r.unpersist(False)
    except Exception:  # pragma: no cover - best-effort release
        pass


def truncate_plan_lazy(df: DataFrame) -> DataFrame:
    """``truncate_plan`` with deferred materialization: the NEXT action on
    the result is the job that computes and caches it — one scheduler
    barrier per round instead of two (materialize + aggregate). The plan is
    still cut at construction time (the stats-blowup guard does not depend
    on eagerness).

    Use ONLY where an action on the result runs before any upstream
    ``unpersist()``: unpersisting an input local-checkpoint first would
    delete blocks the deferred computation still needs (localCheckpoint
    truncates RDD lineage, so lost blocks are unrecoverable)."""
    return truncate_plan(df, eager=False)


# --- metrics ------------------------------------------------------------------


_TAG_METRICS = ("jobs", "shuffle_read_bytes", "shuffle_write_bytes",
                "task_time_p50_ms", "task_time_max_ms")


def job_tag_metrics(spark: SparkSession, tags: list[str]) -> dict[str, dict]:
    """Map Spark job tags (e.g. each superstep's ``job_tag`` in
    ``BSPResult.metrics``) to ``{jobs, shuffle_read_bytes,
    shuffle_write_bytes, task_time_p50_ms, task_time_max_ms}`` of the jobs
    that carry them.

    Reads the monitoring REST API once — ``/jobs`` (their ``jobTags``) and
    ``/stages?details=true`` — after a marker job has reached the status
    store, so every event of the tagged jobs has been applied. A stage is
    credited to the first job that lists it (a later job lists a reused
    stage as skipped), so no stage counts twice. Task-time quantiles are
    over the successful TASKS' executor run time, i.e. they show skew.

    Metrics that cannot be read are ``None``, never 0: every tag when the
    UI is disabled or the API fails, and a tag whose jobs are not (or no
    longer, see ``spark.ui.retainedJobs``) in the status store."""
    out = {t: dict.fromkeys(_TAG_METRICS) for t in tags}
    sc = spark.sparkContext
    if not sc.uiWebUrl or not tags:
        return out
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    try:
        if not _drain(sc, base):
            return out
        jobs = _rest(base, "/jobs")
        stages = _rest(base, "/stages?details=true")
    except (OSError, ValueError):  # UI unreachable or not answering JSON
        return out
    owner: dict[int, int] = {}  # stage id -> first job that lists it
    for j in jobs:
        for s in j["stageIds"]:
            owner[s] = min(owner.get(s, j["jobId"]), j["jobId"])
    tag_of = {j["jobId"]: t for j in jobs for t in j.get("jobTags", []) if t in out}
    for t, n in Counter(tag_of.values()).items():
        out[t].update(jobs=n, shuffle_read_bytes=0, shuffle_write_bytes=0)
    task_ms: dict[str, list[int]] = {t: [] for t in tags}
    for st in stages:
        t = tag_of.get(owner.get(st["stageId"]))
        if t is None or st["status"] not in ("COMPLETE", "FAILED"):
            continue
        out[t]["shuffle_read_bytes"] += st["shuffleReadBytes"]
        out[t]["shuffle_write_bytes"] += st["shuffleWriteBytes"]
        task_ms[t] += [task["taskMetrics"]["executorRunTime"]
                       for task in st.get("tasks", {}).values()
                       if task["status"] == "SUCCESS" and "taskMetrics" in task]
    for t, ms in task_ms.items():
        if ms:
            out[t]["task_time_p50_ms"] = statistics.median(ms)
            out[t]["task_time_max_ms"] = max(ms)
    return out


def _rest(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=60) as r:
        return json.loads(r.read())


def _drain(sc, base: str) -> bool:
    """Run a marker job and wait until the status store lists it as done:
    the listener applies events in order, so every job before it is
    complete in the store."""
    marker = f"graphscope_spark-marker-{uuid.uuid4().hex}"
    sc.addJobTag(marker)
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc.removeJobTag(marker)
    deadline = time.time() + 30
    while time.time() < deadline:
        if any(marker in j.get("jobTags", []) for j in _rest(base, "/jobs?status=succeeded")):
            return True
        time.sleep(0.05)
    return False


# --- checkpoint manifest --------------------------------------------------------


def _manifest_path(ckpt_dir: str) -> str:
    return os.path.join(ckpt_dir, "MANIFEST.json")


def save_checkpoint(
    state: DataFrame, ckpt_dir: str, superstep: int, meta: dict | None = None
) -> DataFrame:
    """Write state to parquet + manifest; return the re-read (lineage-free)
    DataFrame. Writes to a temp dir then promotes, so a crash mid-write never
    corrupts the last good checkpoint."""
    spark = state.sparkSession
    step_dir = os.path.join(ckpt_dir, f"step={superstep}")
    tmp_dir = step_dir + ".tmp"
    state.write.mode("overwrite").parquet(tmp_dir)
    if os.path.exists(step_dir):
        shutil.rmtree(step_dir)
    os.replace(tmp_dir, step_dir)
    manifest = {
        "superstep": superstep,
        "path": step_dir,
        "num_partitions": state.rdd.getNumPartitions(),
        "schema": state.schema.json(),
        "ts": time.time(),
        **(meta or {}),
    }
    tmp_manifest = _manifest_path(ckpt_dir) + ".tmp"
    with open(tmp_manifest, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp_manifest, _manifest_path(ckpt_dir))
    return spark.read.parquet(step_dir)


def load_checkpoint(spark: SparkSession, ckpt_dir: str) -> tuple[DataFrame, int, dict] | None:
    """Resume point, or None if no checkpoint exists."""
    mp = _manifest_path(ckpt_dir)
    if not os.path.exists(mp):
        return None
    with open(mp) as f:
        manifest = json.load(f)
    return spark.read.parquet(manifest["path"]), manifest["superstep"], manifest


# --- the loop -------------------------------------------------------------------


@dataclass
class BSPResult:
    state: DataFrame
    supersteps: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)
    # checkpoint RDD ids behind the final state, captured at return time —
    # algorithms typically re-select the state (dropping the DataFrame's
    # _graft_ck_ids attribute), so the ids live here for release()
    ck_ids: list = field(default_factory=list)

    def release(self) -> None:
        """Free the result state's cache/checkpoint blocks. Call when the
        state has been consumed (written out / collected) — afterwards the
        DataFrame is only recomputable from durable storage."""
        self.state._graft_ck_ids = self.ck_ids
        release_state(self.state)
        self.ck_ids = []


# Inner rounds of a fused block between plan cuts. A superstep references
# the previous state twice (frontier + join base), so uncut inner rounds
# re-execute up to 2^(FUSE_CUT_EVERY-1) = 8x: cheap frontier-sized joins,
# next to the k-fold barrier saving on the sparse rounds fusion targets.
FUSE_CUT_EVERY = 4
# Rounds between stats-resetting rebuilds: a per-round rebuild costs a
# full-state exchange and real stats (measured 7.3 → 20.5 s/superstep at
# 100M edges), while every-8 caps sizeInBytes at ~19·2⁸ digits. A fused
# block compounds that growth over all its rounds (PageRank: ~3^k digits),
# so it is rebuilt at every block end.
STATS_RESET_EVERY = 8


def run_bsp(
    state: DataFrame,
    superstep_fn: Callable[[DataFrame, int], DataFrame],
    max_rounds: int,
    scalar_fn: Callable[[DataFrame], float],
    converged_fn: Callable[[float, int], bool],
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    resume: bool = False,
    meta: dict | None = None,
    fused_rounds: int = 1,
) -> BSPResult:
    """Run supersteps until convergence or ``max_rounds``.

    ``superstep_fn(state, round)`` returns the *lazy* next state, which may
    carry helper columns (e.g. the previous value). ``scalar_fn`` computes
    the convergence measure on the materialized state — a cheap aggregate
    over truncated lineage, the Spark analog of GRAPE's ``Sum()``
    allreduce (`pagerank_networkx.h:85,146`) — and is the block's one
    action. ``converged_fn(scalar, round)`` decides termination —
    reference analogs: PageRank's ``Σ|Δ| < tol·N``
    (`pagerank_networkx.h:135-148`), WCC's "no vertex changed"
    (`wcc_projected.h:175-180`).

    ``fused_rounds=k`` stacks k supersteps into ONE block: the inner
    applications only compose lazy plans (cut every ``FUSE_CUT_EVERY``
    rounds), and the block's convergence aggregate is the single action
    that materializes them all. Convergence is only CHECKED at block ends,
    so a block may overshoot the converging round by up to k-1 rounds:
    free for MONOTONE supersteps where an all-quiet round stays quiet
    (BFS / SSSP relaxation / min-label propagation); for others (PageRank
    with tol>0) the overshoot runs extra rounds. ``max_rounds`` is exact
    (the last block is shortened to fit). The reported
    ``BSPResult.supersteps`` and each metric's ``superstep`` are TRUE round
    numbers (the block-end round), and so are the checkpoint manifests: a
    run resumed with a different ``fused_rounds`` keeps a correct round
    budget.

    Truncation rule: every block ends at a truncation point — durable
    parquet every ``checkpoint_every`` rounds, else the stats-resetting
    rebuild every ``STATS_RESET_EVERY`` rounds and after every block of
    more than one round, else a lazy ``localCheckpoint`` (keeps the round
    output's partitioning, so the next state⋈edges join reuses it). Each
    block's Spark jobs carry a job tag unique to this call and superstep,
    recorded as the metric's ``job_tag``: ``job_tag_metrics`` resolves it
    to shuffle bytes and task-time quantiles.
    """
    spark = state.sparkSession
    sc = spark.sparkContext
    start_round = 0
    if resume and checkpoint_dir:
        loaded = load_checkpoint(spark, checkpoint_dir)
        if loaded is not None:
            state, start_round, man = loaded
            if man.get("final"):  # already converged — nothing to redo
                return BSPResult(state=state, supersteps=start_round, converged=True)
    call_tag = f"graphscope_spark-bsp-{uuid.uuid4().hex[:12]}"
    k = max(1, int(fused_rounds))
    metrics: list[dict] = []
    converged = False
    rnd = last_durable = last_reset = start_round
    while rnd < max_rounds:
        t0 = time.time()
        block = min(k, max_rounds - rnd)
        tag = f"{call_tag}-{rnd + block}"
        sc.addJobTag(tag)
        try:
            new_state = state
            inner_cuts: list[DataFrame] = []
            for j in range(1, block + 1):
                new_state = superstep_fn(new_state, rnd + j)
                if j < block and j % FUSE_CUT_EVERY == 0:
                    # deferred checkpoint with leaf stats: in-block
                    # self-join stats can't multiply; it materializes with
                    # the block's single convergence action
                    new_state = truncate_plan_lazy(new_state)
                    inner_cuts.append(new_state)
            rnd += block
            # Lazy truncation: the convergence aggregate below is the action
            # that materializes it — ONE job per block (eager=True would add
            # a materialization job: 2 scheduler barriers per block).
            if checkpoint_dir and rnd - last_durable >= checkpoint_every:
                last_durable = rnd
                new_state = save_checkpoint(new_state, checkpoint_dir, rnd, meta)
            elif block > 1 or rnd - last_reset >= STATS_RESET_EVERY:
                last_reset = rnd
                new_state = truncate_plan(new_state, eager=False)
            else:
                new_state = local_checkpoint(new_state, eager=False)
            scalar = scalar_fn(new_state)
        finally:
            sc.removeJobTag(tag)
        # Materialized BEFORE releasing the old state (evicting first would
        # recompute); new_state's lineage is severed, so the old state and
        # the in-block cuts are releasable. release_state, not unpersist:
        # on checkpoint-backed frames unpersist alone leaves their blocks
        # registered forever (one full state copy per round).
        release_state(state)
        for st in inner_cuts:
            release_state(st)
        state = new_state
        metrics.append({"superstep": rnd, "rounds_in_job": block,
                        "wall_s": round(time.time() - t0, 4),
                        "convergence": scalar, "job_tag": tag})
        if converged_fn(scalar, rnd):
            converged = True
            break
    # Mark final only on true convergence: a max_rounds-bounded run must stay
    # resumable with a larger budget (e.g. PageRank stopped early by budget).
    if checkpoint_dir and converged:
        state = save_checkpoint(state, checkpoint_dir, rnd, {**(meta or {}), "final": True})
    elif checkpoint_dir and rnd != last_durable:
        state = save_checkpoint(state, checkpoint_dir, rnd, meta)
    return BSPResult(
        state=state, supersteps=rnd, converged=converged, metrics=metrics,
        ck_ids=list(getattr(state, "_graft_ck_ids", None) or []),
    )
