"""Blocked-CSR connected components == flat small-star/large-star path."""

import numpy as np
import pytest

from linkgraph.components import connected_components
from linkgraph.components_csr import connected_components_blocked, symmetrize
from linkgraph.pagerank_csr import build_blocked

from conftest import collect_map


@pytest.fixture(scope="module")
def blocked_sym(spark, small, tmp_path_factory):
    store = str(tmp_path_factory.mktemp("blocks_sym"))
    return build_blocked(
        spark, symmetrize(small.edges), small.vertices.select("id"),
        n_blocks=8, store_path=store,
    )


def test_symmetrize_rows_equal_two_branch_union(spark):
    """One exploded pass emits the same row multiset as the union of both
    directions, duplicates and self-loops included."""
    from collections import Counter

    from pyspark.sql import functions as F

    edges = spark.createDataFrame(
        [(1, 2, "a"), (2, 2, "b"), (1, 2, "c"), (3, 1, "d")],
        "src long, dst long, tag string",
    )
    union = edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    got = symmetrize(edges)
    assert got.columns == ["src", "dst"]
    assert Counter(map(tuple, got.collect())) == Counter(
        map(tuple, union.collect())
    )


def test_blocked_cc_equals_flat(spark, small, blocked_sym):
    flat = collect_map(
        connected_components(spark, small.edges, small.vertices),
        "id", "component",
    )
    blk = collect_map(
        connected_components_blocked(spark, blocked_sym), "id", "component"
    )
    assert flat == blk


def test_blocked_cc_component_count_matches_networkx(spark, small, blocked_sym):
    import networkx as nx

    blk = connected_components_blocked(spark, blocked_sym)
    n_engine = blk.select("component").distinct().count()
    n_nx = nx.number_connected_components(small.nx_digraph().to_undirected())
    assert n_engine == n_nx


def test_scatter_min_kernels_match_numpy():
    from linkgraph import native

    rng = np.random.default_rng(9)
    dsize, ssize, n = 4000, 3000, 100_000
    sl = rng.integers(0, ssize, n).astype(np.uint32)
    dl = rng.integers(0, dsize, n).astype(np.uint32)
    rs = rng.random(ssize)
    ref = np.full(dsize, 2.0)
    np.minimum.at(ref, dl.astype(np.int64), rs[sl.astype(np.int64)])

    acc = np.full(dsize, 2.0)
    native.scatter_min_pack16((sl << np.uint32(16)) | dl, rs, acc)
    assert (acc == ref).all()

    acc2 = np.full(dsize, 2.0)
    native.scatter_min32(sl.astype(np.int32), dl.astype(np.int32), rs, acc2)
    assert (acc2 == ref).all()


def test_bfs_blocked_matches_flat(spark, small):
    from pyspark.sql import functions as F

    from linkgraph.components_csr import bfs_distances_blocked
    from linkgraph.graph import bfs_distances
    from linkgraph.pagerank_csr import build_blocked

    seeds = small.vertices.select("id").where(F.pmod("id", F.lit(7)) == 0)
    for hops in (1, 3):
        flat = {
            r["id"]: r["dist"]
            for r in bfs_distances(
                spark, small.edges, seeds, max_hops=hops
            ).collect()
        }
        e = small.edges.where(F.col("src") != F.col("dst")) \
            .select("src", "dst").distinct()
        g = build_blocked(
            spark, e, small.vertices.select("id"), n_blocks=8
        )
        try:
            got = {
                r["id"]: r["dist"]
                for r in bfs_distances_blocked(
                    spark, g, seeds, max_hops=hops
                ).collect()
            }
            assert got == flat, hops
        finally:
            g.delete()


def test_bfs_blocked_no_seeds_empty(spark, small):
    from pyspark.sql import functions as F

    from linkgraph.components_csr import bfs_distances_blocked
    from linkgraph.pagerank_csr import build_blocked

    e = small.edges.where(F.col("src") != F.col("dst")) \
        .select("src", "dst").distinct()
    g = build_blocked(spark, e, small.vertices.select("id"), n_blocks=4)
    try:
        empty = small.vertices.select("id").limit(0)
        assert bfs_distances_blocked(spark, g, empty, 2).count() == 0
    finally:
        g.delete()


def test_kcore_blocked_matches_flat(spark, small):
    from pyspark.sql import functions as F

    from linkgraph.components_csr import kcore_blocked
    from linkgraph.kcore import kcore, undirected_edges
    from linkgraph.pagerank_csr import build_blocked

    for kwargs in ({"k": 2, "rounds": 2}, {"k": 2}, {"k": 3}):
        flat = {
            r["id"]: r["core_deg"]
            for r in kcore(
                spark, small.edges, small.vertices, **kwargs
            ).collect()
        }
        und = undirected_edges(small.edges).select(
            F.col("u").alias("src"), F.col("v").alias("dst")
        )
        g = build_blocked(
            spark, und, small.vertices.select("id"), n_blocks=8
        )
        try:
            got = {
                r["id"]: r["core_deg"]
                for r in kcore_blocked(spark, g, **kwargs).collect()
            }
            assert got == flat, kwargs
        finally:
            g.delete()
