"""Blocked-CSR PageRank == flat DataFrame PageRank == networkx."""

import math

import pytest

from linkgraph.pagerank import pagerank
from linkgraph.pagerank_csr import build_blocked, pagerank_blocked

from conftest import collect_map
from oracles import pagerank_oracle


@pytest.fixture(scope="module")
def blocked(spark, small, tmp_path_factory):
    store = str(tmp_path_factory.mktemp("blocks"))
    return build_blocked(
        spark, small.edges, small.vertices.select("id"), n_blocks=8,
        store_path=store,
    )


def test_blocked_equals_flat_fixed_iters(spark, small, blocked):
    flat = pagerank(spark, small.edges, small.vertices, tol=0.0, max_iter=20)
    blk = pagerank_blocked(spark, blocked, tol=0.0, max_iter=20)
    a = collect_map(flat.ranks, "id", "rank")
    b = collect_map(blk.ranks, "id", "rank")
    assert set(a) == set(b)
    for k in a:
        assert math.isclose(a[k], b[k], rel_tol=1e-12, abs_tol=1e-15), k


def test_blocked_allclose_networkx(spark, small, blocked):
    res = pagerank_blocked(spark, blocked, tol=1e-8, max_iter=200)
    assert res.converged
    g = small.nx_digraph()
    oracle = pagerank_oracle(g.nodes, g.edges, alpha=0.85, tol=1e-12)
    got = {
        small.url_of_id[i]: r
        for i, r in collect_map(res.ranks, "id", "rank").items()
    }
    for u in oracle:
        assert math.isclose(got[u], oracle[u], rel_tol=1e-6, abs_tol=1e-6), u


def test_blocked_mass_conserved(spark, blocked):
    from pyspark.sql import functions as F

    res = pagerank_blocked(spark, blocked, tol=0.0, max_iter=10)
    total = res.ranks.agg(F.sum("rank")).collect()[0][0]
    assert math.isclose(total, 1.0, rel_tol=1e-9)


def test_barrier_transport_equals_jobs(spark, small, blocked):
    jobs = pagerank_blocked(spark, blocked, tol=0.0, max_iter=15)
    barr = pagerank_blocked(
        spark, blocked, tol=0.0, max_iter=15, transport="barrier",
        barrier_slots=2,
    )
    a = collect_map(jobs.ranks, "id", "rank")
    b = collect_map(barr.ranks, "id", "rank")
    assert set(a) == set(b)
    for k in a:
        assert math.isclose(a[k], b[k], rel_tol=1e-12, abs_tol=1e-15), k
    assert len(barr.supersteps) == 15


def test_barrier_bit_identical_to_itself_and_jobs(spark, blocked):
    """Work-stealing claims decide which slot runs a block, not the order
    the per-block scalars are summed in: repeated barrier runs and the
    jobs transport give the same bits, per-step scalars and ranks."""

    def bits(res):
        steps = [(s.l1_delta.hex(), s.dangling_mass.hex())
                 for s in res.supersteps]
        ranks = sorted(
            (r["id"], r["rank"].hex()) for r in res.ranks.collect()
        )
        return steps, ranks

    runs = [
        bits(pagerank_blocked(
            spark, blocked, tol=0.0, max_iter=5, transport="barrier",
            barrier_slots=2,
        ))
        for _ in range(3)
    ]
    jobs = bits(pagerank_blocked(spark, blocked, tol=0.0, max_iter=5))
    assert runs[0] == runs[1] == runs[2]
    assert runs[0] == jobs


def test_barrier_converges_like_jobs(spark, small, blocked):
    barr = pagerank_blocked(
        spark, blocked, tol=1e-8, max_iter=200, transport="barrier",
        barrier_slots=2,
    )
    assert barr.converged
    jobs = pagerank_blocked(spark, blocked, tol=1e-8, max_iter=200)
    assert len(barr.supersteps) == len(jobs.supersteps)


def test_range_blocking_equals_hash(spark, small, tmp_path_factory):
    store = str(tmp_path_factory.mktemp("blocks_range"))
    rng = build_blocked(
        spark, small.edges, small.vertices.select("id"), n_blocks=4,
        store_path=store, blocking="range",
    )
    flat = pagerank(spark, small.edges, small.vertices, tol=0.0, max_iter=12)
    blk = pagerank_blocked(spark, rng, tol=0.0, max_iter=12)
    a = collect_map(flat.ranks, "id", "rank")
    b = collect_map(blk.ranks, "id", "rank")
    assert set(a) == set(b)
    for k in a:
        assert math.isclose(a[k], b[k], rel_tol=1e-12, abs_tol=1e-15), k
    rng.unpersist()


def test_resume_mid_iteration(spark, small, blocked, tmp_path):
    full = pagerank_blocked(spark, blocked, tol=0.0, max_iter=14)
    rdir = str(tmp_path / "run1")
    part1 = pagerank_blocked(
        spark, blocked, tol=0.0, max_iter=6, run_dir=rdir
    )
    assert len(part1.supersteps) == 6
    part2 = pagerank_blocked(
        spark, blocked, tol=0.0, max_iter=14, run_dir=rdir
    )
    assert len(part2.supersteps) == 14
    # first 6 supersteps come from the checkpoint record
    assert [s.superstep for s in part2.supersteps] == list(range(14))
    assert part2.supersteps[3].l1_delta == part1.supersteps[3].l1_delta
    a = collect_map(full.ranks, "id", "rank")
    b = collect_map(part2.ranks, "id", "rank")
    for k in a:
        assert math.isclose(a[k], b[k], rel_tol=1e-12, abs_tol=1e-15), k


def test_resume_across_transports(spark, small, blocked, tmp_path):
    rdir = str(tmp_path / "run2")
    pagerank_blocked(
        spark, blocked, tol=0.0, max_iter=5, run_dir=rdir,
        transport="barrier", barrier_slots=2,
    )
    res = pagerank_blocked(
        spark, blocked, tol=0.0, max_iter=10, run_dir=rdir, transport="jobs"
    )
    assert len(res.supersteps) == 10
    ref = pagerank_blocked(spark, blocked, tol=0.0, max_iter=10)
    a = collect_map(ref.ranks, "id", "rank")
    b = collect_map(res.ranks, "id", "rank")
    for k in a:
        assert math.isclose(a[k], b[k], rel_tol=1e-12, abs_tol=1e-15), k


def test_resume_killed_barrier_run_under_barrier(spark, small, blocked, tmp_path):
    """Round-2 ADVICE (high): a KILLED barrier run leaves claim files for
    blocks nobody finished, stale slot partials, and torn next-step rank
    files. Resuming under transport=barrier must clear that debris —
    otherwise blocks are skipped (FileNotFoundError a step later), dead
    partials poison l1/dangling mass, or slot 0 publishes early."""
    import os

    import numpy as np

    rdir = str(tmp_path / "run_killed")
    pagerank_blocked(
        spark, blocked, tol=0.0, max_iter=5, run_dir=rdir,
        transport="barrier", barrier_slots=2,
    )
    # fabricate the worst-case debris of a run killed mid-superstep 5:
    # every block claimed but no outputs, one bogus completed partial, and
    # a torn next-step rank file
    os.makedirs(f"{rdir}/claim5", exist_ok=True)
    for db in range(blocked.n_blocks):
        open(f"{rdir}/claim5/d{db}", "w").close()
    np.save(f"{rdir}/part/s5_t0.npy", np.array([999.0, 999.0]))
    os.makedirs(f"{rdir}/step6", exist_ok=True)
    np.save(f"{rdir}/step6/b0.npy", np.full(3, 123.456))

    res = pagerank_blocked(
        spark, blocked, tol=0.0, max_iter=10, run_dir=rdir,
        transport="barrier", barrier_slots=2,
    )
    assert len(res.supersteps) == 10
    ref = pagerank_blocked(spark, blocked, tol=0.0, max_iter=10)
    a = collect_map(ref.ranks, "id", "rank")
    b = collect_map(res.ranks, "id", "rank")
    assert set(a) == set(b)
    for k in a:
        assert math.isclose(a[k], b[k], rel_tol=1e-12, abs_tol=1e-15), k
    # the bogus partial (999.0) must not have leaked into the step-5
    # metrics; tolerance because work-stealing assigns blocks to slots
    # non-deterministically and the l1 partial-sum order follows it
    assert math.isclose(
        res.supersteps[5].l1_delta, ref.supersteps[5].l1_delta, rel_tol=1e-9
    )


def test_resume_already_converged_is_noop(spark, small, blocked, tmp_path):
    rdir = str(tmp_path / "run3")
    first = pagerank_blocked(
        spark, blocked, tol=1e-8, max_iter=200, run_dir=rdir
    )
    assert first.converged
    again = pagerank_blocked(
        spark, blocked, tol=1e-8, max_iter=200, run_dir=rdir
    )
    assert again.converged
    assert len(again.supersteps) == len(first.supersteps)
    assert all(s.seconds == 0.0 for s in again.supersteps)


def test_delete_removes_store_and_sidecars(spark, small, tmp_path_factory):
    import os

    store = str(tmp_path_factory.mktemp("blocks_del")) + "/store"
    g = build_blocked(
        spark, small.edges, small.vertices.select("id"), n_blocks=4,
        store_path=store,
    )
    res = pagerank_blocked(spark, g, tol=0.0, max_iter=3)
    res.ranks.count()
    assert os.path.isdir(store)
    g.delete()
    assert not os.path.exists(store)  # edges, meta, ranks, npy all gone


def test_build_blocked_drops_edges_outside_vertices(spark, tmp_path):
    """An edge with an endpoint outside ``vertices`` is neither stored nor
    counted in any out-degree: (0, 3) vanishes, vertex 0 keeps od 1."""
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (0, 3)], "src long, dst long"
    )
    verts = spark.createDataFrame([(0,), (1,), (2,)], "id long")
    g = build_blocked(
        spark, edges, verts, n_blocks=2, store_path=str(tmp_path / "drop")
    )
    try:
        assert (g.n, g.sum_od) == (3, 3)
        od = {r["block"]: r["od"] for r in g.block_meta.collect()}
        got = {
            r["id"]: od[r["block"]][r["local"]] for r in g.vmap.collect()
        }
        assert got == {0: 1, 1: 1, 2: 1}
    finally:
        g.delete()
