"""Strongly connected components on the blocked-CSR store pair.

The flat path (linkgraph.scc: trim + forward coloring + per-color
backward settle, the Orzan/FW-BW coloring family) runs every phase as
|E|-row joins — one shuffle per BSP round. This module runs the SAME
algorithm on the fwd/rev block-store pair (one shared vertex layout,
like hits_csr), with every phase a map-only job over per-block state
vectors and O(B) scalar driver traffic:

- TRIM: in/out-degree among survivors = two scatter-adds of the 0/1
  active mask (fwd store gives in-degrees, rev store out-degrees); a
  vertex with either zero is a singleton SCC, assigned in-task.
- COLOR: forward min fixpoint f(v) = min rank reaching v — masked
  scatter-min supersteps (the CC kernel over active sources only).
- SETTLE: the flat path's backward min-propagation over intra-color
  edges collapses to a BOOLEAN reach propagation with a per-destination
  color check: a finite backward label always equals its own color
  (within a color class the only seed is the pivot), so v joins the
  settled set iff some already-reached in-neighbor u (on the REVERSED
  graph) has f(u) == f(v). Per superstep: gather incoming
  (reached ? f : nan) values through the LP gather kernels, compare to
  the destination block's own f vector, OR into the reached mask —
  vectorized numpy on top of the native gathers, no per-edge Python.

State lives in rank space (dense id-ascending ranks, float64-exact —
labelprop_csr.id_ranks), so min-rank pivots correspond exactly to the
flat path's min-id pivots; the final (id, component) is one rank->id
join. Output equals linkgraph.scc.strongly_connected_components EXACTLY
(pinned by tests/test_scc_csr.py and the graph_scc_blocked oracle row).
"""

from __future__ import annotations

import os
import shutil
import uuid

import numpy as np
from pyspark.sql import DataFrame, functions as F

from .caching import register_cache
from .labelprop_csr import id_ranks
from .lineage import truncate_plan
from .pagerank_csr import BlockedGraph, _load_block, _ranks_root, build_blocked
from .supersteps import (
    _write_npy_atomic,
    gather_in,
    map_blocks,
    read_blocks,
    run_steps,
    scatter_in,
    scatter_ranks,
    work_index,
)

_INF = np.inf


def build_scc_stores(
    spark,
    edges: DataFrame,
    vertices: DataFrame,
    n_blocks: int | None = None,
    store_path: str | None = None,
) -> "tuple[BlockedGraph, BlockedGraph]":
    """-> (g_fwd, g_rev) over the self-loop-free DISTINCT directed edge
    set (the flat path's normalization), one shared vertex layout."""
    if n_blocks is None:
        n_blocks = 2 * int(spark.conf.get("spark.sql.shuffle.partitions"))
    e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .persist()
    )
    ids = vertices.select("id").distinct()
    g_fwd = build_blocked(
        spark, e, ids, n_blocks=n_blocks,
        store_path=f"{store_path}/fwd" if store_path else None,
    )
    g_rev = build_blocked(
        spark,
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
        ids, n_blocks=n_blocks,
        store_path=f"{store_path}/rev" if store_path else None,
    )
    e.unpersist()
    return g_fwd, g_rev


def strongly_connected_components_blocked(
    spark,
    g_fwd: BlockedGraph,
    g_rev: BlockedGraph,
    max_outer: int = 50,
    max_rounds: int = 200,
    stats: dict | None = None,
) -> DataFrame:
    """-> (id, component), component = min vertex id of the SCC; exactly
    linkgraph.scc.strongly_connected_components. ``stats`` (optional)
    receives ``outer_rounds`` / ``trim_rounds`` like the flat path."""
    assert g_fwd.n_blocks == g_rev.n_blocks and g_fwd.n == g_rev.n, \
        "fwd/rev stores must share the vertex layout (build_scc_stores)"
    n_blocks = g_fwd.n_blocks
    fstore, ftoken = g_fwd.store_path, g_fwd.build_token
    rstore, rtoken = g_rev.store_path, g_rev.build_token
    rdir = f"{_ranks_root(g_fwd)}/scc-{uuid.uuid4().hex[:12]}"
    os.makedirs(rdir, exist_ok=True)
    work = work_index(g_fwd)  # both stores share the block id space

    # rank vector per block (dense id-ascending ranks — labelprop's
    # init), plus active=1 / comp=nan: ONE O(V) init shuffle total
    ranks = register_cache(
        truncate_plan(id_ranks(g_fwd.vmap.select("id"))).persist()
    )

    scatter_ranks(
        g_fwd, ranks, f"{rdir}/rank",
        fills={f"{rdir}/active0": 1.0, f"{rdir}/comp0": np.nan},
    )

    av, cv = 0, 0  # active / comp version counters
    outer_rounds = trim_rounds = 0
    n_active = g_fwd.n

    def run_job(kernel) -> int:
        return int(map_blocks(work, kernel, "changed long")[0] or 0)

    def load(d):
        return lambda sb: np.load(f"{d}/b{sb}.npy")

    for _outer in range(max_outer):
        if n_active == 0:
            break
        outer_rounds += 1

        # ---- TRIM loop: peel indeg==0 or outdeg==0 among active ----
        while True:
            trim_rounds += 1
            a_cur = f"{rdir}/active{av}"
            ind_dir = f"{rdir}/ind"

            def indeg_kernel(db, dsize, cache, _a=a_cur, _out=ind_dir):
                acc = scatter_in(
                    _load_block(fstore, ftoken, db, n_blocks), cache,
                    load(_a), np.zeros(dsize, dtype=np.float64),
                )
                os.makedirs(_out, exist_ok=True)
                _write_npy_atomic(f"{_out}/b{db}.npy", acc)
                return (0,)

            run_job(indeg_kernel)

            a_nxt = f"{rdir}/active{av + 1}"
            c_cur, c_nxt = f"{rdir}/comp{cv}", f"{rdir}/comp{cv + 1}"

            def trim_kernel(db, dsize, cache, _a=a_cur, _an=a_nxt, _c=c_cur,
                            _cn=c_nxt, _ind=ind_dir):
                outd = scatter_in(
                    _load_block(rstore, rtoken, db, n_blocks), cache,
                    load(_a), np.zeros(dsize, dtype=np.float64),
                )
                act = np.load(f"{_a}/b{db}.npy")
                ind = np.load(f"{_ind}/b{db}.npy")
                comp = np.load(f"{_c}/b{db}.npy").copy()
                rank = np.load(f"{rdir}/rank/b{db}.npy")
                keep = (act > 0) & (ind > 0) & (outd > 0)
                trimmed = (act > 0) & ~keep
                comp[trimmed] = rank[trimmed]  # singleton SCCs
                os.makedirs(_an, exist_ok=True)
                os.makedirs(_cn, exist_ok=True)
                _write_npy_atomic(f"{_an}/b{db}.npy", keep.astype(np.float64))
                _write_npy_atomic(f"{_cn}/b{db}.npy", comp)
                return (int(trimmed.sum()),)

            n_trimmed = run_job(trim_kernel)
            av += 1
            cv += 1
            n_active -= n_trimmed
            if n_trimmed == 0 or n_active == 0:
                break
        if n_active == 0:
            break

        # ---- COLOR: forward min fixpoint over the active subgraph ----
        a_cur = f"{rdir}/active{av}"

        def color_init(db, dsize, cache, _a=a_cur):
            act = np.load(f"{_a}/b{db}.npy")
            rank = np.load(f"{rdir}/rank/b{db}.npy")
            os.makedirs(f"{rdir}/f0", exist_ok=True)
            _write_npy_atomic(
                f"{rdir}/f0/b{db}.npy", np.where(act > 0, rank, _INF)
            )
            return (0,)

        run_job(color_init)

        def color_step(k, cur, nxt, _a=a_cur):
            def kernel(db, dsize, cache):
                f_old = np.load(f"{cur}/b{db}.npy")
                # inactive sources propagate nothing
                acc = scatter_in(
                    _load_block(fstore, ftoken, db, n_blocks), cache,
                    lambda sb: np.where(
                        np.load(f"{_a}/b{sb}.npy") > 0,
                        np.load(f"{cur}/b{sb}.npy"), _INF),
                    f_old.copy(), op="min",
                )
                act = np.load(f"{_a}/b{db}.npy") > 0
                f_new = np.where(act, acc, f_old)
                os.makedirs(nxt, exist_ok=True)
                _write_npy_atomic(f"{nxt}/b{db}.npy", f_new)
                return (int((f_new != f_old).sum()),)

            return (run_job(kernel),)

        ft = len(run_steps(
            rdir, color_step, 0, max_rounds, dirs=("f",),
            stop=lambda s: s[0] == 0,
        ))
        f_fin = f"{rdir}/f{ft}"

        # ---- SETTLE: boolean backward reach within color classes ----
        def settle_init(db, dsize, cache, _a=a_cur, _f=f_fin):
            act = np.load(f"{_a}/b{db}.npy") > 0
            fv = np.load(f"{_f}/b{db}.npy")
            rank = np.load(f"{rdir}/rank/b{db}.npy")
            os.makedirs(f"{rdir}/r0", exist_ok=True)
            _write_npy_atomic(
                f"{rdir}/r0/b{db}.npy", (act & (fv == rank)).astype(np.float64)
            )
            return (0,)

        run_job(settle_init)

        def settle_step(k, cur, nxt, _f=f_fin):
            def kernel(db, dsize, cache):
                old = np.load(f"{cur}/b{db}.npy")
                reached = old.copy()
                fv = np.load(f"{_f}/b{db}.npy")
                # reached sources broadcast their color; nan (never
                # equal) silences the rest
                lab, dl = gather_in(
                    _load_block(rstore, rtoken, db, n_blocks), cache,
                    lambda sb: np.where(
                        np.load(f"{cur}/b{sb}.npy") > 0,
                        np.load(f"{_f}/b{sb}.npy"), np.nan),
                )
                ok = lab == fv[dl]  # per-dst color check
                if ok.any():
                    reached[dl[ok]] = 1.0
                os.makedirs(nxt, exist_ok=True)
                _write_npy_atomic(f"{nxt}/b{db}.npy", reached)
                return (int((reached != old).sum()),)

            return (run_job(kernel),)

        rt = len(run_steps(
            rdir, settle_step, 0, max_rounds, dirs=("r",),
            stop=lambda s: s[0] == 0,
        ))
        r_fin = f"{rdir}/r{rt}"

        # ---- APPLY: settled vertices leave the active set ----
        a_nxt = f"{rdir}/active{av + 1}"
        c_cur, c_nxt = f"{rdir}/comp{cv}", f"{rdir}/comp{cv + 1}"

        def apply_kernel(db, dsize, cache, _a=a_cur, _an=a_nxt, _c=c_cur,
                         _cn=c_nxt, _f=f_fin, _r=r_fin):
            act = np.load(f"{_a}/b{db}.npy")
            reached = np.load(f"{_r}/b{db}.npy") > 0
            fv = np.load(f"{_f}/b{db}.npy")
            comp = np.load(f"{_c}/b{db}.npy").copy()
            comp[reached] = fv[reached]
            os.makedirs(_an, exist_ok=True)
            os.makedirs(_cn, exist_ok=True)
            _write_npy_atomic(f"{_an}/b{db}.npy", np.where(reached, 0.0, act))
            _write_npy_atomic(f"{_cn}/b{db}.npy", comp)
            return (int(reached.sum()),)

        n_settled = run_job(apply_kernel)
        av += 1
        cv += 1
        n_active -= n_settled
        for d in ("f0", f"f{ft - 1}", f_fin, "r0", f"r{rt - 1}", r_fin,
                  "ind"):
            shutil.rmtree(f"{rdir}/{d}" if not d.startswith("/") else d,
                          ignore_errors=True)
        shutil.rmtree(f"{rdir}/active{av - 1}", ignore_errors=True)
        shutil.rmtree(f"{rdir}/comp{cv - 1}", ignore_errors=True)

    if stats is not None:
        stats["outer_rounds"] = outer_rounds
        stats["trim_rounds"] = trim_rounds

    labels = (
        read_blocks(g_fwd, f"{rdir}/comp{cv}", {"crank": "b"})
        .where(~F.isnan("crank"))
        .select("id", F.col("crank").cast("long").alias("crank"))
    )
    owner = ranks.select(
        F.col("rank").alias("crank"), F.col("id").alias("component")
    )
    out = truncate_plan(
        labels.join(owner, "crank").select("id", "component"), eager=False
    )
    out.count()  # materialize before cleanup
    shutil.rmtree(rdir, ignore_errors=True)
    return out
