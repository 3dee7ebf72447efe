"""HITS (hubs & authorities) on the blocked-CSR store — zero-shuffle
supersteps over BOTH edge orientations.

The flat path (linkgraph.hits) shuffles |E| rows twice per iteration
(authority gather keyed on dst, hub gather keyed on src) — the exact
shape that failed the N->4N gate for flat LP. This module runs the same
spec on two block stores sharing ONE vertex layout:

- ``g_fwd``  — edges as given, grouped by destination block: the
  authority half-step is pagerank's scatter-add kernel verbatim
  (acc[dst_local] += h[src_local]);
- ``g_rev``  — edges reversed, so the hub half-step is the SAME kernel
  on the other store (acc[src] += a[dst]).

Both stores are built from the same DISTINCT edge set with the same
hash blocking and vertex set, so (block, local) coordinates agree and
the per-step score vectors are shared .npy files (the rank-file
transport of pagerank_csr / components_csr / labelprop_csr).

L1 normalization per half-step (the flat spec) is folded into the NEXT
half-step's block loads: each half-step scatters RAW vectors and
returns per-block partial sums (O(B) scalars — the only cross-task
traffic), the driver forms the normalizer, and the next kernel divides
each loaded source block by it — numerically the same per-element
division the flat path performs, without a separate normalization pass
over V. Scores match linkgraph.hits to float64 round-off (pinned
allclose 1e-9 by tests/test_hits_csr.py and the dual-engine oracle row,
which rounds to 6 decimals like the flat row).
"""

from __future__ import annotations

import os
import shutil
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .lineage import truncate_plan
from .pagerank_csr import BlockedGraph, _load_block, _ranks_root, build_blocked
from .supersteps import (
    _write_npy_atomic,
    fill_blocks,
    map_blocks,
    read_blocks,
    run_steps,
    scatter_in,
    work_index,
)


def build_hits_stores(
    spark,
    edges: DataFrame,
    vertices: DataFrame,
    n_blocks: int | None = None,
    store_path: str | None = None,
) -> "tuple[BlockedGraph, BlockedGraph]":
    """-> (g_fwd, g_rev) over the DISTINCT edge set, one shared vertex
    layout (same hash blocking + n_blocks => identical (block, local)
    coordinates in both stores)."""
    if n_blocks is None:
        n_blocks = 2 * int(spark.conf.get("spark.sql.shuffle.partitions"))
    e = edges.select("src", "dst").distinct().persist()
    ids = vertices.select("id")
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


def _scatter_step(
    g: BlockedGraph,
    work: DataFrame,
    src_dir: str,
    dst_dir: str,
    src_norm: float,
    src_scale_dir: str | None = None,
    post: "tuple[float, float] | None" = None,
) -> float:
    """One zero-shuffle half-step: for every destination block of ``g``,
    acc[dst] += (src_vec[src] / src_norm) over the block's edges; writes
    ``dst_dir/b<db>.npy`` and returns the RAW global sum (the next
    half-step's normalizer). ``src_norm`` <= 0 => source treated as all
    zeros (the flat spec's zero-mass case).

    ``src_scale_dir`` names per-block elementwise source multipliers
    (SALSA's 1/degree vectors, loaded once per task like the source
    vectors). ``post = (add, mul)`` applies ``add + mul * acc`` before
    the write (Katz's beta + alpha·gather)."""
    store, token, n_blocks = g.store_path, g.build_token, g.n_blocks

    def load(sb):
        # normalization folded into the load: the same per-element
        # division the flat path performs
        vs = np.load(f"{src_dir}/b{sb}.npy") / src_norm
        if src_scale_dir is not None:
            vs = vs * np.load(f"{src_scale_dir}/b{sb}.npy")
        return vs

    def kernel(db, dsize, cache):
        acc = np.zeros(dsize, dtype=np.float64)
        if src_norm > 0:
            scatter_in(_load_block(store, token, db, n_blocks), cache, load,
                       acc)
        if post is not None:
            acc = post[0] + post[1] * acc
        os.makedirs(dst_dir, exist_ok=True)
        _write_npy_atomic(f"{dst_dir}/b{db}.npy", acc)
        return (float(acc.sum()),)

    return float(map_blocks(work, kernel, "part double")[0] or 0.0)


def _write_invdeg_blocks(g: BlockedGraph, out_dir: str,
                         mask_value: float | None = None) -> None:
    """Per-block 1/out-degree vectors from block_meta's od arrays
    (mask_value instead of 1/od when given — SALSA's h0 wants the
    support mask scaled by a constant). od == 0 -> 0."""
    def prep_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        os.makedirs(out_dir, exist_ok=True)
        for b, od in zip(pdf["block"], pdf["od"]):
            od = np.asarray(od, dtype=np.float64)
            if mask_value is None:
                with np.errstate(divide="ignore"):
                    v = np.where(od > 0, 1.0 / np.maximum(od, 1), 0.0)
            else:
                v = np.where(od > 0, mask_value, 0.0)
            _write_npy_atomic(f"{out_dir}/b{int(b)}.npy", v)
        return pd.DataFrame({"block": [int(b)]})

    g.block_meta.select("block", "od").groupBy("block").applyInPandas(
        prep_kernel, "block int"
    ).count()


def hits_blocked(
    spark,
    g_fwd: BlockedGraph,
    g_rev: BlockedGraph,
    iterations: int = 50,
    keep_steps: int = 2,
) -> DataFrame:
    """-> (id, hub, authority) after ``iterations`` full HITS rounds —
    the spec of linkgraph.hits.hits, on the blocked stores.

    Per round: TWO map-only jobs (authority scatter on g_fwd, hub
    scatter on g_rev), O(B) scalar driver traffic each, no shuffle. The
    missing-block case (a vertex block with no in-edges anywhere) still
    writes its zero vector, so every block file exists every step."""
    assert g_fwd.n_blocks == g_rev.n_blocks and g_fwd.n == g_rev.n, \
        "fwd/rev stores must share the vertex layout (build_hits_stores)"
    rdir = f"{_ranks_root(g_fwd)}/hits-{uuid.uuid4().hex[:12]}"
    os.makedirs(rdir, exist_ok=True)
    n = g_fwd.n

    work_fwd, work_rev = work_index(g_fwd), work_index(g_rev)

    # h0 = 1/n everywhere: derivable from block sizes alone, no shuffle
    fill_blocks(g_fwd, f"{rdir}/h0", 1.0 / n)

    norms = [1.0, 1.0]  # (h, a); h0 is already normalized

    def step(t, cur, nxt):
        # authority: a_raw = A^T (h / h_norm) — scatter over g_fwd
        norms[1] = _scatter_step(
            g_fwd, work_fwd, cur, f"{rdir}/a{t + 1}", norms[0]
        )
        # hub: h_raw = A (a / a_norm) — scatter over g_rev
        norms[0] = _scatter_step(
            g_rev, work_rev, f"{rdir}/a{t + 1}", nxt, norms[1]
        )
        return tuple(norms)

    run_steps(rdir, step, 0, iterations, keep_steps, dirs=("h", "a"))
    # the final L1 normalization (norm <= 0: the flat spec's all-zero case)
    last = {"hub": f"h{iterations}/b", "authority": f"a{iterations}/b"}
    scores = read_blocks(g_fwd, rdir, last).select("id", *[
        (F.col(c) / norm if norm > 0 else F.lit(0.0)).alias(c)
        for c, norm in (("hub", norms[0]), ("authority", norms[1]))
    ])
    out = truncate_plan(scores, eager=False)
    out.count()  # materialize before callers delete the stores
    shutil.rmtree(rdir, ignore_errors=True)
    return out


def katz_blocked(
    spark,
    g_fwd: BlockedGraph,
    iterations: int = 2,
    alpha: float = 0.05,
    beta: float = 1.0,
    keep_steps: int = 2,
) -> DataFrame:
    """-> (id, katz): linkgraph.hits.katz on the blocked store — each
    round is ONE map-only scatter job with the affine transform
    ``beta + alpha * gather`` applied in-task before the block write
    (no normalization pass; Katz is unnormalized by spec). Build
    ``g_fwd`` from the edges AS GIVEN (the flat path counts duplicate
    edges — do not distinct)."""
    rdir = f"{_ranks_root(g_fwd)}/katz-{uuid.uuid4().hex[:12]}"
    os.makedirs(rdir, exist_ok=True)
    work = work_index(g_fwd)
    fill_blocks(g_fwd, f"{rdir}/x0", float(beta))
    run_steps(
        rdir,
        lambda t, cur, nxt: _scatter_step(
            g_fwd, work, cur, nxt, 1.0, post=(float(beta), float(alpha))
        ),
        0, iterations, keep_steps, dirs=("x",),
    )
    out = truncate_plan(
        read_blocks(g_fwd, f"{rdir}/x{iterations}", {"katz": "b"}),
        eager=False,
    )
    out.count()
    shutil.rmtree(rdir, ignore_errors=True)
    return out


def salsa_blocked(
    spark,
    g_fwd: BlockedGraph,
    g_rev: BlockedGraph,
    iterations: int = 2,
    keep_steps: int = 2,
) -> DataFrame:
    """-> (id, hub, authority): linkgraph.hits.salsa on the blocked store
    pair — degree-normalized HITS (the TKC-resistant Lempel-Moran walk).
    The per-source 1/out-degree (authority step) and 1/in-degree (hub
    step) factors are per-block sidecar vectors derived ONCE from each
    store's own out-degree metadata (g_rev's out-degrees ARE the original
    in-degrees), multiplied into the source blocks at load time —
    column-stochastic updates, so no normalizer and no driver reduction
    beyond the O(B) partial sums. Build both stores from the DISTINCT
    edge set with one shared layout (build_hits_stores)."""
    assert g_fwd.n_blocks == g_rev.n_blocks and g_fwd.n == g_rev.n, \
        "fwd/rev stores must share the vertex layout (build_hits_stores)"
    rdir = f"{_ranks_root(g_fwd)}/salsa-{uuid.uuid4().hex[:12]}"
    os.makedirs(rdir, exist_ok=True)
    work_fwd, work_rev = work_index(g_fwd), work_index(g_rev)

    # scale sidecars: 1/od (authority step), 1/idg (hub step)
    _write_invdeg_blocks(g_fwd, f"{rdir}/iod")
    _write_invdeg_blocks(g_rev, f"{rdir}/iidg")
    # h0 = 1/|{out-degree > 0}| on hub-side vertices, 0 elsewhere
    n_hub = int(
        g_fwd.block_meta.agg(
            F.sum(F.size(F.filter("od", lambda x: x > 0))).alias("s")
        ).collect()[0]["s"]
        or 0
    )
    _write_invdeg_blocks(
        g_fwd, f"{rdir}/h0",
        mask_value=(1.0 / n_hub) if n_hub else 0.0,
    )

    def step(t, cur, nxt):
        _scatter_step(
            g_fwd, work_fwd, cur, f"{rdir}/a{t + 1}", 1.0,
            src_scale_dir=f"{rdir}/iod",
        )
        return (_scatter_step(
            g_rev, work_rev, f"{rdir}/a{t + 1}", nxt, 1.0,
            src_scale_dir=f"{rdir}/iidg",
        ),)

    run_steps(rdir, step, 0, iterations, keep_steps, dirs=("h", "a"))
    out = truncate_plan(
        read_blocks(
            g_fwd, rdir,
            {"hub": f"h{iterations}/b", "authority": f"a{iterations}/b"},
        ),
        eager=False,
    )
    out.count()
    shutil.rmtree(rdir, ignore_errors=True)
    return out
