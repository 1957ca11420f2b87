"""GLE-lite sampling operators (graphscope_spark/learning.py)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from graphscope_spark.learning import (
    gen_edge_labels,
    gen_labels,
    negative_sample,
    neighbor_sample,
    node2vec_walks,
    random_walks,
)

from tests.conftest import TINY_EDGES, TINY_VERTICES


def _edge_set():
    return {(s, d) for s, d in TINY_EDGES if s != d}


def test_gen_labels_partition_and_determinism(tiny_graph):
    lab = gen_labels(tiny_graph.vertices).collect()
    assert {r.vid for r in lab} == TINY_VERTICES
    assert all(r.mask in ("train", "val", "test") for r in lab)  # ranges cover [0,100)
    again = {(r.vid, r.mask) for r in gen_labels(tiny_graph.vertices).collect()}
    assert again == {(r.vid, r.mask) for r in lab}
    # disjoint custom ranges leave a NONE remainder
    part = gen_labels(tiny_graph.vertices, splits=[("train", 0, 50)]).collect()
    assert any(r.mask is None for r in part) or all(r.mask == "train" for r in part)


def test_gen_edge_labels_stable_per_pair(tiny_graph):
    lab = gen_edge_labels(tiny_graph.edges).collect()
    es = {(s, d) for s, d in TINY_EDGES}
    assert {(r.src, r.dst) for r in lab} == es
    assert all(r.mask in ("train", "val", "test") for r in lab)
    # the same pair always gets the same mask (no train/test leakage)
    again = {(r.src, r.dst): r.mask for r in gen_edge_labels(tiny_graph.edges).collect()}
    assert all(again[(r.src, r.dst)] == r.mask for r in lab)


def test_neighbor_sample_blocks(spark, tiny_graph):
    seeds = spark.createDataFrame([(1,), (10,)], "vid long")
    blocks = neighbor_sample(tiny_graph, seeds, fanouts=[2, 2]).collect()
    es = _edge_set()
    assert blocks, "sampled block must be nonempty"
    for r in blocks:
        assert (r.src, r.dst) in es, "every sampled edge is a real edge"
        assert r.hop in (1, 2)
    # fanout respected per (root, src, hop)
    from collections import Counter

    c = Counter((r.root, r.hop, r.src) for r in blocks)
    assert max(c.values()) <= 2
    # hop-1 sources are exactly the seeds that have out-edges
    hop1_src = {r.src for r in blocks if r.hop == 1}
    assert hop1_src <= {1, 10}
    # deterministic
    again = sorted(map(tuple, neighbor_sample(tiny_graph, seeds, fanouts=[2, 2]).collect()))
    assert again == sorted(map(tuple, blocks))


def test_random_walks_multiwalk(spark, tiny_graph):
    roots = spark.createDataFrame([(1,), (8,)], "vid long")
    w = random_walks(tiny_graph, roots, length=4, num_walks=3).collect()
    es = _edge_set()
    by_walk = {}
    for r in w:
        by_walk.setdefault((r.root, r.w), {})[r.step] = r.vid
    # 3 walks per root; vertex 8 is a sink → walks stop at step 0
    assert len([k for k in by_walk if k[0] == 1]) == 3
    for (root, _), steps in by_walk.items():
        assert steps[0] == root
        for s in range(1, max(steps) + 1):
            assert (steps[s - 1], steps[s]) in es, "walk follows real edges"
    sink_walks = [k for k in by_walk if k[0] == 8]
    assert all(max(by_walk[k]) == 0 for k in sink_walks)
    again = sorted(map(tuple, random_walks(tiny_graph, roots, length=4, num_walks=3).collect()))
    assert again == sorted(map(tuple, w))


def test_node2vec_walks_valid_and_biased(spark, tiny_graph):
    roots = spark.createDataFrame([(1,), (3,)], "vid long")
    w = node2vec_walks(tiny_graph, roots, length=5, num_walks=4, p=0.25, q=4.0).collect()
    es = _edge_set()
    by_walk = {}
    for r in w:
        by_walk.setdefault((r.root, r.w), {})[r.step] = r.vid
    for steps in by_walk.values():
        for s in range(1, max(steps) + 1):
            assert (steps[s - 1], steps[s]) in es
    # p≪1 favors returning to prev: with p=0.25,q=4 at least one walk
    # backtracks (vid at step k == vid at step k-2) on this graph
    returns = sum(
        1
        for steps in by_walk.values()
        for s in range(2, max(steps) + 1)
        if steps[s] == steps[s - 2]
    )
    w_noret = node2vec_walks(
        tiny_graph, roots, length=5, num_walks=4, p=100.0, q=1.0
    ).collect()
    by2 = {}
    for r in w_noret:
        by2.setdefault((r.root, r.w), {})[r.step] = r.vid
    returns_hi_p = sum(
        1
        for steps in by2.values()
        for s in range(2, max(steps) + 1)
        if steps[s] == steps[s - 2]
    )
    assert returns >= returns_hi_p, "low p must not backtrack less than high p"
    again = sorted(
        map(
            tuple,
            node2vec_walks(
                tiny_graph, roots, length=5, num_walks=4, p=0.25, q=4.0
            ).collect(),
        )
    )
    assert again == sorted(map(tuple, w))


def test_to_block_graph_induces_sampled_subgraph(spark, tiny_graph):
    from graphscope_spark.learning import to_block_graph
    from graphscope_spark.algorithms import wcc

    seeds = spark.createDataFrame([(1,), (10,)], "vid long")
    blocks = neighbor_sample(tiny_graph, seeds, fanouts=[2, 2])
    bg = to_block_graph(tiny_graph, blocks)
    rows = blocks.collect()
    want_v = {r.src for r in rows} | {r.dst for r in rows}
    assert {r.vid for r in bg.vertices.collect()} == want_v
    assert {(r.src, r.dst) for r in bg.edges.collect()} == {
        (r.src, r.dst) for r in rows
    }
    # algorithms run on the induced block graph: the two seed neighborhoods
    # live in different components of the tiny graph
    comps = wcc(bg).state.select("comp").distinct().count()
    assert comps == 2


def test_argument_guards(spark, tiny_graph):
    seeds = spark.createDataFrame([(1,)], "vid long")
    with pytest.raises(ValueError):
        neighbor_sample(tiny_graph, seeds, fanouts=[])
    with pytest.raises(ValueError):
        neighbor_sample(tiny_graph, seeds, fanouts=[3, 0])
    with pytest.raises(ValueError):
        random_walks(tiny_graph, seeds, length=0)
    with pytest.raises(ValueError):
        node2vec_walks(tiny_graph, seeds, p=0.0)


def test_negative_sample_rejects_edges(tiny_graph):
    neg = negative_sample(tiny_graph, k=3, oversample=4).collect()
    es = {(s, d) for s, d in TINY_EDGES}
    srcs_with_out = {s for s, _ in TINY_EDGES}
    assert {r.src for r in neg} <= srcs_with_out
    for r in neg:
        assert (r.src, r.neg) not in es, "negative must not be a true edge"
        assert r.neg != r.src
        assert 1 <= r.r <= 3
        assert r.neg in TINY_VERTICES
    from collections import Counter

    per_src = Counter(r.src for r in neg)
    assert max(per_src.values()) <= 3
    # dedup: no (src, neg) pair twice
    assert len({(r.src, r.neg) for r in neg}) == len(neg)
    again = sorted(map(tuple, negative_sample(tiny_graph, k=3, oversample=4).collect()))
    assert again == sorted(map(tuple, neg))


def test_walk_sentences_step_ordered(spark, tiny_graph):
    from graphscope_spark.learning import walk_sentences

    walks = random_walks(tiny_graph, tiny_graph.vertices, length=4, num_walks=2, seed=1)
    sent = {
        (r.root, r.w): [int(t) for t in r.walk]
        for r in walk_sentences(walks).collect()
    }
    long_form = {
        (r.root, r.w, r.step): r.vid for r in walks.collect()
    }
    for (root, w), toks in sent.items():
        assert toks[0] == root  # step 0 is the root
        for step, tok in enumerate(toks):
            assert long_form[(root, w, step)] == tok


def test_train_node_embeddings_shape_determinism_homophily(spark, tiny_graph):
    from graphscope_spark.learning import (
        embedding_homophily,
        train_node_embeddings,
    )

    emb = train_node_embeddings(
        tiny_graph, dim=8, walk_length=6, num_walks=6, seed=3
    )
    rows = emb.collect()
    assert {r.vid for r in rows} == TINY_VERTICES  # total over vertices
    assert all(len(r.embedding) == 8 for r in rows)
    # fixed seed + numPartitions=1 → bit-deterministic end to end
    again = {
        r.vid: list(r.embedding)
        for r in train_node_embeddings(
            tiny_graph, dim=8, walk_length=6, num_walks=6, seed=3
        ).collect()
    }
    first = {r.vid: list(r.embedding) for r in rows}
    assert first == again
    # walk corpus encodes adjacency: edge cosine beats derangement cosine
    h = embedding_homophily(tiny_graph, emb).collect()[0]
    assert h.homophily_ok and h.edge_cos > h.rand_cos


def test_feature_propagation_matches_hand_sgc(spark):
    """X <- S^2 X on a triangle + isolated vertex, vs a NumPy hand-roll of
    the SGC operator S = D~^-1/2 (A+I) D~^-1/2."""
    import numpy as np
    from graphscope_spark.graph import LinkGraph
    from graphscope_spark.learning import feature_propagation

    g = LinkGraph(
        vertices=spark.createDataFrame([(v,) for v in [1, 2, 3, 4]], "vid long"),
        edges=spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src long, dst long"),
        num_partitions=2,
    )
    feats = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])],
        "vid long, x array<double>",
    )
    out = {
        r.vid: list(r.x)
        for r in feature_propagation(g, feats, rounds=2, dim=2).collect()
    }
    vids = [1, 2, 3, 4]
    A = np.zeros((4, 4))
    for u, v in [(1, 2), (2, 3), (3, 1)]:
        A[vids.index(u), vids.index(v)] = A[vids.index(v), vids.index(u)] = 1
    At = A + np.eye(4)
    Dm = np.diag(1.0 / np.sqrt(At.sum(1)))
    S = Dm @ At @ Dm
    X = np.array([[1.0, 0.0], [0.0, 1.0], [1.0, 1.0], [0.0, 0.0]])
    want = S @ (S @ X)
    for v in vids:
        assert np.allclose(out[v], want[vids.index(v)], atol=1e-12), v
    # missing-feature vertices start at the zero vector (4 got zeros)
    assert out[4] == list(want[3])


def test_export_pyg_blocks(spark, corpus_graph):
    """PyG hand-off adapter: local index 0 is the root, n_id/edge_index
    round-trip exactly to the sampled global block set, and features align
    by local index."""
    from graphscope_spark.learning import export_pyg_blocks, neighbor_sample

    g = corpus_graph
    seeds = g.vertices.limit(5)
    blocks = neighbor_sample(g, seeds, fanouts=[3, 2], seed=7).persist()
    feats = g.vertices.select(
        "vid", F.array(F.col("vid") * 2.0, F.col("vid") + 0.5).alias("x")
    )
    out = export_pyg_blocks(blocks, features=feats).collect()
    want_edges = {}
    for r in blocks.collect():
        want_edges.setdefault(r["root"], set()).add((r["src"], r["dst"], r["hop"]))
    blocks.unpersist()
    assert {r["root"] for r in out} == set(want_edges)
    for r in out:
        n_id = r["n_id"]
        assert n_id[0] == r["root"]                       # PyG convention
        assert sorted(n_id[1:]) == n_id[1:]               # deterministic order
        assert len(set(n_id)) == len(n_id)
        # edge_index maps back to exactly the sampled block set
        got = {
            (n_id[s], n_id[d], h)
            for s, d, h in zip(
                r["edge_index_src"], r["edge_index_dst"], r["hop"]
            )
        }
        assert got == want_edges[r["root"]]
        # features align with n_id by local position
        for i, vid in enumerate(n_id):
            assert r["x"][i] == [vid * 2.0, vid + 0.5]


def test_node2vec_duplicate_edges_ignored(spark):
    """The inverse-CDF draw must be duplicate-insensitive: a multigraph
    edge list with a repeated (src, dst) row yields the same walks as the
    simple edge list (the row-weighted cumulative sum would otherwise
    double that neighbour's draw probability)."""
    from graphscope_spark.graph import from_edge_df
    from graphscope_spark.learning import node2vec_walks

    simple = [(0, 1), (0, 2), (1, 2), (2, 0), (1, 0)]
    dup = simple + [(0, 1), (0, 1), (2, 0)]
    roots = None
    outs = []
    for edges in (simple, dup):
        g = from_edge_df(
            spark.createDataFrame(edges, "src long, dst long"),
            num_partitions=2,
        )
        roots = g.vertices.select("vid")
        w = node2vec_walks(g, roots, length=4, num_walks=3, p=0.5, q=2.0)
        outs.append(sorted(tuple(r) for r in w.collect()))
    assert outs[0] == outs[1]


def test_pyg_blocks_gate_rows_sort(tiny_graph):
    """The gate's pyg_blocks rows must survive the driver's canonical
    ``sort_values`` over every column: list cells are unhashable, so the
    query renders each array as a comma-joined string."""
    import __spark_entry__ as entry
    from graphscope_spark.learning import export_pyg_blocks, neighbor_sample

    blocks = neighbor_sample(tiny_graph, tiny_graph.vertices, fanouts=[3, 2], seed=42)
    flat = entry._pyg_blocks_flat(export_pyg_blocks(blocks))
    pdf = flat.toPandas().sort_values(list(flat.columns))
    assert len(pdf) > 1
    for _, row in pdf.iterrows():
        assert row["n_id"].split(",")[0] == str(row["root"])  # local 0 = root
        assert (len(row["edge_index_src"].split(","))
                == len(row["edge_index_dst"].split(","))
                == len(row["hop"].split(",")))
