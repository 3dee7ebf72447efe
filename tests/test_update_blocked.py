"""Incremental block-store update == from-scratch rebuild of the
post-delta graph (ranks, metadata, dangling counts); plus the stale
decoded-edge regression for stores rebuilt in place."""

import math
import random

import pytest

from linkgraph.pagerank_csr import (
    build_blocked, load_blocked, pagerank_blocked, update_blocked,
)

from conftest import collect_map


def _digraph(seed, n, m):
    rng = random.Random(seed)
    e = set()
    while len(e) < m:
        u, v = rng.randrange(n), rng.randrange(n)
        if u != v:
            e.add((u, v))
    return e


def _edf(spark, pairs):
    return spark.createDataFrame(sorted(pairs), "src long, dst long")


def _vdf(spark, ids):
    return spark.createDataFrame([(i,) for i in sorted(ids)], "id long")


def _ranks(spark, g, iters=8):
    return collect_map(
        pagerank_blocked(spark, g, tol=0.0, max_iter=iters).ranks, "id", "rank"
    )


def _assert_same(a, b):
    assert set(a) == set(b)
    for k in a:
        assert math.isclose(a[k], b[k], rel_tol=1e-9, abs_tol=1e-12), k


N = 60


def test_update_equals_rebuild(spark, tmp_path):
    full = _digraph(3, N, 200)
    added = {e for e in full if (e[0] + e[1]) % 5 == 0}
    spurious = {((u * 7 + 1) % N, (v * 11 + 2) % N) for u, v in list(full)[:25]}
    spurious = {(u, v) for u, v in spurious if u != v} - full
    base = (full - added) | spurious
    verts = _vdf(spark, range(N))

    g = build_blocked(
        spark, _edf(spark, base), verts, n_blocks=4,
        store_path=str(tmp_path / "store"),
    )
    g2 = update_blocked(
        spark, g, added=_edf(spark, added), removed=_edf(spark, spurious)
    )
    fresh = build_blocked(
        spark, _edf(spark, full), verts, n_blocks=4,
        store_path=str(tmp_path / "fresh"),
    )
    assert g2.n == fresh.n
    assert g2.n_dangling == fresh.n_dangling
    assert g2.build_token != g.build_token
    _assert_same(_ranks(spark, g2), _ranks(spark, fresh))


def test_update_with_new_vertices(spark, tmp_path):
    base = _digraph(4, N, 150)
    verts = _vdf(spark, range(N))
    g = build_blocked(
        spark, _edf(spark, base), verts, n_blocks=4,
        store_path=str(tmp_path / "store"),
    )
    new_ids = list(range(N, N + 7))
    added = {(N, 0), (1, N + 1), (N + 2, N + 3), (5, N + 6), (N + 6, 9)}
    full = base | added
    g2 = update_blocked(
        spark, g, added=_edf(spark, added), new_vertices=_vdf(spark, new_ids)
    )
    fresh = build_blocked(
        spark, _edf(spark, full), _vdf(spark, range(N + 7)), n_blocks=4,
        store_path=str(tmp_path / "fresh"),
    )
    assert g2.n == N + 7
    assert g2.n_dangling == fresh.n_dangling
    _assert_same(_ranks(spark, g2), _ranks(spark, fresh))


def test_update_noop_delta_keeps_ranks(spark, tmp_path):
    """Removing absent edges / re-adding present ones must not disturb
    out-degrees or ranks (delta normalization)."""
    base = _digraph(5, N, 150)
    some_present = set(list(base)[:10])
    absent = {(u, (v + 1) % N) for u, v in list(base)[:10]}
    absent = {(u, v) for u, v in absent if u != v and (u, v) not in base}
    verts = _vdf(spark, range(N))
    g = build_blocked(
        spark, _edf(spark, base), verts, n_blocks=4,
        store_path=str(tmp_path / "store"),
    )
    before = _ranks(spark, g)
    g2 = update_blocked(
        spark, g, added=_edf(spark, some_present), removed=_edf(spark, absent)
    )
    assert g2.n_dangling == g.n_dangling
    _assert_same(_ranks(spark, g2), before)


def test_update_rejects_unknown_ids(spark, tmp_path):
    base = _digraph(6, N, 100)
    g = build_blocked(
        spark, _edf(spark, base), _vdf(spark, range(N)), n_blocks=4,
        store_path=str(tmp_path / "store"),
    )
    with pytest.raises(ValueError, match="absent from the store"):
        update_blocked(spark, g, added=_edf(spark, {(0, 10_000)}))
    with pytest.raises(ValueError, match="empty delta"):
        update_blocked(spark, g)


def test_rebuild_in_place_serves_new_graph(spark, tmp_path):
    """Regression: a store rebuilt at the SAME path must not serve the
    previous build's decoded .npy edges (presence-based sidecar check +
    un-keyed cache dir would). Ranks after the rebuild must match the
    new graph."""
    a = _digraph(7, N, 150)
    b = _digraph(8, N, 150)
    verts = _vdf(spark, range(N))
    store = str(tmp_path / "store")
    g1 = build_blocked(spark, _edf(spark, a), verts, n_blocks=4,
                       store_path=store)
    _ranks(spark, g1)  # force the decode sidecars into existence
    g2 = build_blocked(spark, _edf(spark, b), verts, n_blocks=4,
                       store_path=store)
    fresh = build_blocked(spark, _edf(spark, b), verts, n_blocks=4,
                          store_path=str(tmp_path / "fresh"))
    _assert_same(_ranks(spark, g2), _ranks(spark, fresh))


def test_warm_start_after_update(spark, tmp_path):
    """update_blocked + init_ranks: re-ranking from the previous fixpoint
    converges in fewer supersteps than from uniform, to the same ranks."""
    base = _digraph(9, N, 220)
    added = set(list(base)[:12])
    stale = base - added
    verts = _vdf(spark, range(N))
    g = build_blocked(spark, _edf(spark, stale), verts, n_blocks=4,
                      store_path=str(tmp_path / "store"))
    prev = pagerank_blocked(spark, g, tol=1e-10, max_iter=200)
    assert prev.converged
    prev_ranks = prev.ranks.localCheckpoint()

    g2 = update_blocked(spark, g, added=_edf(spark, added))
    cold = pagerank_blocked(spark, g2, tol=1e-10, max_iter=200)
    warm = pagerank_blocked(
        spark, g2, tol=1e-10, max_iter=200, init_ranks=prev_ranks
    )
    assert cold.converged and warm.converged
    assert warm.iterations < cold.iterations
    a = collect_map(cold.ranks, "id", "rank")
    b = collect_map(warm.ranks, "id", "rank")
    assert set(a) == set(b)
    for k in a:
        assert math.isclose(a[k], b[k], rel_tol=1e-6, abs_tol=1e-9), k


def test_load_blocked_round_trip_after_update(spark, tmp_path):
    """build -> update -> load_blocked reopens the updated store: same
    metadata and bit-identical ranks as the in-session handle, also when
    the directory still holds the ``_pairs`` sidecar of earlier builds."""
    full = _digraph(11, N, 200)
    old = {e for e in full if max(e) < N - 5 and (e[0] + 2 * e[1]) % 7}
    added = full - old
    removed = set(sorted(old)[:10])
    store = str(tmp_path / "store")
    g0 = build_blocked(
        spark, _edf(spark, old), _vdf(spark, range(N - 5)),
        n_blocks=4, store_path=store,
    )
    g1 = update_blocked(
        spark, g0, added=_edf(spark, added), removed=_edf(spark, removed),
        new_vertices=_vdf(spark, range(N)),
    )
    ref = _ranks(spark, g1, iters=3)
    try:
        for legacy_pairs in (False, True):
            if legacy_pairs:
                spark.createDataFrame(
                    [(0, 0, 1)], "sb int, db int, dsize int"
                ).write.mode("overwrite").parquet(f"{store}/_pairs")
            g2 = load_blocked(spark, store)
            for f in ("n", "n_dangling", "n_blocks", "sum_od"):
                assert getattr(g2, f) == getattr(g1, f), (f, legacy_pairs)
            assert _ranks(spark, g2, iters=3) == ref, legacy_pairs
            g2.unpersist()
    finally:
        g1.delete()
