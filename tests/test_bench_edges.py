"""bench.py's synthetic link graph must be (nearly) free of duplicate edges,
or edges/s counts the same edge several times."""

from __future__ import annotations

from bench import synthetic_edges


def test_synthetic_edges_are_distinct(spark):
    edges = synthetic_edges(spark, n_vertices=2_000, n_edges=10_000, num_partitions=4)
    total = edges.count()
    distinct = edges.distinct().count()
    assert total > 9_900
    assert distinct / total >= 0.99
    # the hub skew is kept: ~1% of edges point at the 16 hubs
    assert edges.where("dst < 16").count() >= 100
