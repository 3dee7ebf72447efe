"""Synchronous Louvain local moves on the blocked-CSR store — the scale
path for community detection (round-4 verdict item #1).

Why this exists: the flat ``linkgraph.community`` round is one |2E|-row
join against the label map + three aggregations — exactly the
per-superstep executor-to-executor exchange shape whose label-propagation
incarnation FAILED the N->4N scaling gate at median 0.40 before the
blocked port fixed it at 0.94 (BENCH/BASELINE.md). This module runs the
SAME synchronous semantics (``community.louvain_move_round``: every
vertex simultaneously argmaxes the modularity-gain score over its
neighbors' current communities plus its own, ties to the smaller label)
on the compacted block store, so a round is two map-only jobs over the
per-block work index with zero shuffle:

- **tot job**: Σtot(c) — the total degree of each community under the
  CURRENT labeling — is a dense per-label vector, blocked into B uniform
  label-range stripes exactly like the label vectors themselves. Each
  move task emits its block's (label, Σdeg) partials binned by stripe
  (written with the step's label files — a map-side combine through the
  file transport); the tot job sums ≤B small partial files per stripe.
  O(n) bytes total per round, never O(nB).
- **move job**: per destination block, gather every incoming neighbor
  label (the labelprop_csr gather kernels over the packed/wide edge
  arrays), gather tot(c) per vote from the stripe files, then ONE
  ``native.louvain_vote`` call — counting-sort by dst local carrying the
  (label, tot) pair + per-segment sort + run scan. Scores are computed
  with the flat SQL's exact expression tree over exact integer-valued
  float64 inputs (counts, degrees, Σtot < 2^53), so the argmax — and the
  smaller-label tie-break — is BIT-IDENTICAL to the flat path.

Like labelprop_csr, the label VALUE space is the dense id-rank (0..n-1
ascending-id order, float64-exact), mapped back to ids with one join at
the end; labels travel the per-step .npy file transport (O(B) files per
round, page-cache shared, resumable — the step directory IS the
checkpoint, marker contract of ``supersteps.completed_steps``).

Store contract: build the BlockedGraph from ``undirected_edges(edges)``
(distinct symmetric closure, self-loops dropped) — k_{i,c} COUNTS are
wrong under duplicate edges, the labelprop_csr rule. In that store,
per-vertex degree == block_meta's out-degree array (symmetry), so the
degree sidecar costs one tiny per-block job, and 2m == sum(od).

Scaling shape: the vote is the modal-vote kernel family (gate median
0.94, BENCH/BASELINE.md) with a per-vote f64 tot payload and a per-round
O(n)-byte stripe reduction; a dedicated Louvain gate section is measured
in BENCH/BASELINE.md.

Output matches ``linkgraph.community.louvain_communities`` EXACTLY
(pinned by tests/test_community_csr.py and the graph_louvain_blocked
oracle row). Reference parity: extends the reference's per-component
structural metrics (/root/reference/src/ccm/complexity.py) to web-scale
community structure, same family as labelprop_csr.
"""

from __future__ import annotations

import glob
import os
import time
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from . import native
from .caching import register_cache
from .labelprop_csr import _vote_stats, id_ranks
from .lineage import truncate_plan
from .pagerank_csr import BlockedGraph, _load_block, _ranks_root
from .supersteps import (
    _write_npy_atomic,
    cached,
    completed_steps,
    gather_in,
    map_blocks,
    read_blocks,
    run_steps,
    work_index,
)


def _emit_tot_partials(
    rdir: str, step: int, b: int, labels: np.ndarray, kdeg: np.ndarray,
    stride: int,
) -> None:
    """Write block b's contribution to the step's Σtot vector, binned by
    label stripe: one atomic .npy per non-empty stripe holding the
    stacked (label, Σdeg-at-that-label) pairs. Degrees are exact
    integer-valued float64, so partial sums are order-free exact."""
    os.makedirs(f"{rdir}/totp{step}", exist_ok=True)
    ul, inv = np.unique(labels, return_inverse=True)
    uk = np.bincount(inv, weights=kdeg)
    ts = ul.astype(np.int64) // stride
    for t in np.unique(ts):
        m = ts == t
        _write_npy_atomic(
            f"{rdir}/totp{step}/t{int(t)}_s{b}.npy",
            np.stack([ul[m], uk[m]]),
        )


def louvain_blocked(
    spark,
    g: BlockedGraph,
    rounds: int = 2,
    keep_steps: int = 2,
    stats: dict | None = None,
    run_dir: str | None = None,
) -> DataFrame:
    """-> (id, label) after exactly ``rounds`` synchronous local-move
    rounds from singleton labels; ``label`` is a vertex id, bit-identical
    to ``community.louvain_communities(..., rounds=rounds)``.

    ``g`` MUST be built from ``undirected_edges(edges)`` (see module
    docstring). ``stats``, if given, receives ``step_secs`` (wall seconds
    per round: tot job + move job), ``kernel_secs``, ``steps``,
    ``changed`` (labels changed per round), and ``final_dir``/``run_dir``
    (the scaling bench's cross-level checksum hooks).

    ``run_dir`` names the run's checkpoint directory; a killed run handed
    the same ``run_dir`` RESUMES after its last completed round
    (labelprop_csr's ``part/g<k>.npy`` marker contract — the marker is
    written AFTER round k's aggregation returns, so every step-k+1 label
    file and every totp{k+1} partial landed first; a partially-written
    next round is recomputed via atomic same-bytes rewrites). Resumed
    rounds report ``step_secs`` 0.0 with their recorded ``changed``."""
    n, n_blocks = g.n, g.n_blocks
    store, token = g.store_path, g.build_token
    stride = (n + n_blocks - 1) // n_blocks if n else 1
    rdir = run_dir or f"{_ranks_root(g)}/louv-{uuid.uuid4().hex[:12]}"
    os.makedirs(f"{rdir}/part", exist_ok=True)
    done = completed_steps(rdir) if run_dir else []
    start = len(done)
    if start > rounds:
        raise ValueError(
            f"run_dir {rdir} already holds {start} completed rounds "
            f"> rounds={rounds}; pass rounds >= {start}")

    # 2m = total stored (symmetric) edges = sum of the store's
    # out-degrees — free from the build's metadata aggregate; the O(B)
    # fallback aggregate only runs for stores predating the field
    sym_total = g.sum_od
    if sym_total is None:
        sym_total = int(
            g.block_meta.agg(
                F.sum(
                    F.expr("aggregate(od, 0L, (a, x) -> a + bigint(x))")
                ).alias("s")
            ).collect()[0]["s"]
            or 0
        )
    m = sym_total // 2
    if m == 0:
        # edgeless graph: every vertex keeps its singleton community
        return g.vmap.select("id", F.col("id").alias("label"))
    two_m = 2.0 * m  # == the flat path's F.lit(2.0 * m)

    # lazy truncation: the prep job below is the materializing action for
    # the rank map (it is reused by the final id decode via the cache)
    ranks = register_cache(
        truncate_plan(id_ranks(g.vmap.select("id")), eager=False).persist()
    )

    if start == 0:
        # ONE cogrouped prep job (was two): per block, the degree sidecar
        # (straight from block_meta's out-degree arrays — symmetric store:
        # out-deg == degree), the step-0 labels (own rank scattered into
        # local order — labelprop_csr's init), and the step-0 tot partials
        def prep_cg(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            if not len(right):
                return pd.DataFrame({"block": []})
            os.makedirs(f"{rdir}/deg", exist_ok=True)
            os.makedirs(f"{rdir}/step0", exist_ok=True)
            b = int(right["block"].iloc[0])
            kdeg = np.asarray(right["od"].iloc[0], dtype=np.float64)
            arr = np.empty(len(kdeg), dtype=np.float64)
            arr[left["local"].to_numpy(dtype=np.int64)] = (
                left["rank"].to_numpy(dtype=np.float64)
            )
            _write_npy_atomic(f"{rdir}/deg/b{b}.npy", kdeg)
            _write_npy_atomic(f"{rdir}/step0/b{b}.npy", arr)
            _emit_tot_partials(rdir, 0, b, arr, kdeg, stride)
            return pd.DataFrame({"block": [b]})

        (
            g.vmap.join(ranks, "id")
            .select("block", "local", "rank")
            .groupBy("block")
            .cogroup(g.block_meta.select("block", "od").groupBy("block"))
            .applyInPandas(prep_cg, "block int")
            .count()
        )

    work = work_index(g)

    def step(k, cur, nxt):
        totp, totd = f"{rdir}/totp{k}", f"{rdir}/tot{k}"

        # tot job: per label stripe t, sum the ≤B (label, Σdeg) partial
        # files into the dense stripe vector. Recomputed idempotently on
        # resume (partials are complete before the round marker lands).
        def tot_kernel(t, _dsize, _cache):
            size = min(stride, n - t * stride)
            if size > 0:
                acc = np.zeros(size, dtype=np.float64)
                for fn in glob.glob(f"{totp}/t{t}_s*.npy"):
                    pair = np.load(fn)
                    acc[pair[0].astype(np.int64) - t * stride] += pair[1]
                os.makedirs(totd, exist_ok=True)
                _write_npy_atomic(f"{totd}/b{t}.npy", acc)
            return (max(size, 0),)

        map_blocks(work, tot_kernel, "size long")

        # move job: the per-destination-block vote (module docstring)
        def kernel(db, dsize, cache):
            def tot_of(vals: np.ndarray) -> np.ndarray:
                idx = vals.astype(np.int64)
                ts = idx // stride
                out = np.empty(len(vals), dtype=np.float64)
                for t in np.unique(ts):
                    t = int(t)
                    s = cached(
                        cache, ("tot", t),
                        lambda key: np.load(f"{totd}/b{key[1]}.npy"),
                    )
                    mask = ts == t
                    out[mask] = s[idx[mask] - t * stride]
                return out

            t_k = time.perf_counter()
            old = np.load(f"{cur}/b{db}.npy")
            kdeg = np.load(f"{rdir}/deg/b{db}.npy")
            acc = old.copy()
            lab, dl = gather_in(
                _load_block(store, token, db, n_blocks), cache,
                lambda sb: np.load(f"{cur}/b{sb}.npy"),
            )
            if len(lab):
                native.louvain_vote(
                    dl, lab, tot_of(lab), kdeg, old, tot_of(old), two_m, acc,
                )
            os.makedirs(nxt, exist_ok=True)
            _write_npy_atomic(f"{nxt}/b{db}.npy", acc)
            _emit_tot_partials(rdir, k + 1, db, acc, kdeg, stride)
            return int((acc != old).sum()), time.perf_counter() - t_k

        return map_blocks(work, kernel, "changed long, kern double")

    # completion marker AFTER the move job's agg (resume contract)
    ran = run_steps(
        rdir, step, start, rounds, keep_steps, dirs=("step", "tot", "totp"),
        marker=True,
    )
    last = f"{rdir}/step{rounds}"
    _vote_stats(stats, done, ran, last, rdir)

    from .joinhints import fits_broadcast

    final = read_blocks(g, last, {"flabel": "b"}).select(
        "id", F.col("flabel").cast("long").alias("flabel")
    )
    # rank -> owning vertex id: the inverse of the init mapping
    owner = ranks.select(
        F.col("rank").alias("flabel"), F.col("id").alias("label")
    )
    return final.join(
        F.broadcast(owner) if fits_broadcast(g.n) else owner, "flabel"
    ).select("id", "label")
