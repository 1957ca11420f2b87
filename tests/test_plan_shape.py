"""Each row crosses into Python once: in the executed plan of every kernel
below, each Python function appears in exactly one Python-evaluation node
(``ArrowEvalPython`` / ``MapInArrow``). Plans only — no action runs."""

from __future__ import annotations

import re
from collections import Counter

from graphscope_spark.algorithms.subgraph import _closed_triangles
from graphscope_spark.algorithms.triangles import triangles
from graphscope_spark.extract import edges_from_pages

_PY_NODE = re.compile(r"(?:ArrowEvalPython \[|MapInArrow )(.*)")


def _python_functions(df) -> Counter:
    """Python function name → number of Python-evaluation nodes naming it."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return Counter(
        name
        for node in _PY_NODE.findall(plan)
        for name in set(re.findall(r"(\w+)\(", node))
    )


def _assert_once(df, fn: str) -> None:
    found = _python_functions(df)
    assert found[fn] == 1, found
    assert set(found.values()) == {1}, found


def test_link_extraction_runs_once_per_page(pages_small):
    _assert_once(edges_from_pages(pages_small), "extract_links_udf")


def test_triangle_credits_run_once_per_pair(tiny_graph):
    _assert_once(triangles(tiny_graph), "_credit_batches")


def test_closed_triangles_intersect_once_per_pair(tiny_graph):
    closed, oriented = _closed_triangles(tiny_graph)
    try:
        _assert_once(closed, "_common_neighbours")
    finally:
        oriented.unpersist()
