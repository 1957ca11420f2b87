"""run_bsp as the one superstep loop: PageRank resume across fusion factors,
exact round budgets, per-superstep job-tag metrics, and the release
invariant of every run_bsp client and of the triangle kernels (all on the
12-vertex fixture)."""

from __future__ import annotations

import json
import os
import types
import urllib.request

import numpy as np
import pytest

from graphscope_spark.algorithms import avg_clustering, cdlp, pagerank, total_triangles, wcc
from graphscope_spark.algorithms.hyperanf import neighborhood_function
from graphscope_spark.algorithms.traversal import bfs, sssp
from graphscope_spark.bsp import job_tag_metrics
from graphscope_spark.pregel import min_label_program, run_pregel


def _ranks(res) -> dict:
    return {r["vid"]: r["rank"] for r in res.state.collect()}


def _assert_same_ranks(a: dict, b: dict) -> None:
    assert a.keys() == b.keys()
    for v in a:
        assert np.isclose(a[v], b[v], rtol=0, atol=1e-12), v


def test_pagerank_resume_matches_uninterrupted(tiny_graph, tmp_path):
    """Interrupted by max_rounds, then resumed with fused_rounds=1: same
    ranks and the same total supersteps as one uninterrupted run. The first
    leg may run fused: max_rounds is exact, and checkpoints count true
    rounds, not blocks."""
    kw = {"alpha": 0.5, "tol": 1e-5}
    full = pagerank(tiny_graph, **kw)
    assert full.converged and full.supersteps > 6
    want = _ranks(full)
    for first_k, blocks in ((1, [1] * 6), (4, [4, 2])):
        ck = str(tmp_path / f"ck{first_k}")
        first = pagerank(tiny_graph, max_rounds=6, fused_rounds=first_k,
                         checkpoint_dir=ck, **kw)
        assert not first.converged and first.supersteps == 6
        assert [m["rounds_in_job"] for m in first.metrics] == blocks
        first.release()
        rest = pagerank(tiny_graph, checkpoint_dir=ck, resume=True, **kw)
        assert rest.converged and rest.supersteps == full.supersteps, first_k
        _assert_same_ranks(_ranks(rest), want)


def test_pagerank_refuses_block_counting_checkpoint(tiny_graph, tmp_path):
    """A manifest whose superstep counts blocks of fused_rounds > 1 cannot
    be resumed as a round count."""
    ck = str(tmp_path / "ck")
    pagerank(tiny_graph, tol=0.0, max_rounds=2, checkpoint_dir=ck)
    path = os.path.join(ck, "MANIFEST.json")
    with open(path) as f:
        man = json.load(f)
    with open(path, "w") as f:
        json.dump({**man, "fused_rounds": 4}, f)
    with pytest.raises(ValueError, match="fused_rounds=4"):
        pagerank(tiny_graph, checkpoint_dir=ck, resume=True)


def test_job_tag_metrics_per_superstep(spark, tiny_graph):
    res = wcc(tiny_graph)
    tags = [m["job_tag"] for m in res.metrics]
    assert len(set(tags)) == len(tags) == res.supersteps
    by_tag = job_tag_metrics(spark, tags)
    for t in tags:
        m = by_tag[t]
        assert m["jobs"] >= 1, m
        assert m["shuffle_read_bytes"] is not None and m["shuffle_write_bytes"] is not None
        assert 0 <= m["task_time_p50_ms"] <= m["task_time_max_ms"]
    # no job is counted under two supersteps
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/jobs"
    with urllib.request.urlopen(url, timeout=60) as r:
        jobs = json.loads(r.read())
    per_job = [len(set(j.get("jobTags", [])) & set(tags)) for j in jobs]
    assert max(per_job) == 1
    assert sum(per_job) == sum(by_tag[t]["jobs"] for t in tags)


def test_job_tag_metrics_unavailable_without_ui():
    no_ui = types.SimpleNamespace(sparkContext=types.SimpleNamespace(uiWebUrl=None))
    out = job_tag_metrics(no_ui, ["a", "b"])
    assert set(out) == {"a", "b"}
    assert all(v is None for m in out.values() for v in m.values())


def _persistent_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _release(res) -> None:
    res.state.collect()
    res.release()


CLIENTS = {
    "pagerank": lambda g: _release(pagerank(g, max_rounds=5)),
    # a fused block with an in-block plan cut (after inner round 4)
    "pagerank_fused": lambda g: _release(pagerank(g, max_rounds=6, fused_rounds=6)),
    "wcc": lambda g: _release(wcc(g)),
    "cdlp": lambda g: _release(cdlp(g, max_rounds=3)),
    "bfs": lambda g: _release(bfs(g, source=1)),
    "sssp": lambda g: _release(sssp(g, source=1)),
    "neighborhood_function": lambda g: neighborhood_function(g, t_max=3).collect(),
    "run_pregel": lambda g: _release(run_pregel(g, min_label_program())),
    "total_triangles": total_triangles,
    "avg_clustering": avg_clustering,
}


@pytest.mark.parametrize("client", sorted(CLIENTS))
def test_run_bsp_clients_release_everything(spark, tiny_graph, client):
    """Every run_bsp client leaves no RDD of its own in the session's
    persistent-RDD map once its result is released. (Compared as id sets:
    the context cleaner may drop earlier tests' RDDs meanwhile.)"""
    before = _persistent_ids(spark)
    CLIENTS[client](tiny_graph)
    assert _persistent_ids(spark) - before == set()
