"""Connected components on the blocked-CSR store — min-label supersteps.

The same compacted layout, transport, and native kernels that power
pagerank_blocked (linkgraph.pagerank_csr) generalize to any
gather-COMBINE-apply superstep; here the combiner is MIN and the vertex
state is a label vector, giving weak connected components by min-label
propagation (≙ the flat small-star/large-star path in
linkgraph.components, and the reference's P — /root/reference/src/ccm/
complexity.py:84 — at web scale).

- labels are float64 global vertex indices (exact for < 2^53 vertices),
  so the per-step label files are bit-compatible with the rank-file
  transport and the scatter-min kernel shares the scatter-add layout
  (packed u32 edge words / int32 pairs, see linkgraph.native)
- a superstep is the same single-stage map job over the per-db work
  index: load my label block, scatter-min every source block's labels
  into it, write the next label file, return ONE changed-count scalar
- convergence: no label changed anywhere (integer-exact, no tolerance)
- the store must be built from SYMMETRIZED edges (undirected
  reachability): ``build_blocked(spark, symmetrize(edges), ...)``
- complexity: O(diameter of the component graph) supersteps; web graphs
  are short-diameter, and each superstep is cache-shaped exactly like a
  PageRank superstep, so the 0.84-efficiency scaling evidence in
  BENCH/BASELINE.md carries over to this operator

Output matches linkgraph.components.connected_components EXACTLY
(component = min vertex id in the component): the converged min-INDEX
labels are remapped to min vertex ids with one group-by + join.
"""

from __future__ import annotations

import os
import shutil
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .graph import sym_pairs
from .lineage import truncate_plan
from .pagerank_csr import BlockedGraph, _load_block, _ranks_root
from .supersteps import (
    _write_npy_atomic,
    fill_blocks,
    map_blocks,
    read_blocks,
    run_steps,
    scatter_in,
    seed_blocks,
    vmap_side,
    work_index,
)


def symmetrize(edges: DataFrame) -> DataFrame:
    """edges(src,dst) -> both directions (weak-connectivity input), in
    one exploded pass; duplicates and self-loops are kept."""
    return sym_pairs(edges, "src", "dst")


def connected_components_blocked(
    spark,
    g: BlockedGraph,
    max_iter: int = 200,
    keep_steps: int = 2,
    stats: dict | None = None,
) -> DataFrame:
    """-> (id, component), component = min vertex id in the component.

    ``g`` MUST be built from symmetrized edges (see ``symmetrize``);
    propagation only follows stored edge direction.

    ``stats``, if given, is filled with ``step_secs`` (wall seconds per
    min-label superstep job) and ``steps`` — the scaling bench reads these
    (every superstep does the full scatter-min over all edges regardless
    of how many labels still change, so per-step wall IS throughput).
    """
    n_blocks, store, token = g.n_blocks, g.store_path, g.build_token
    rdir = f"{_ranks_root(g)}/cc-{uuid.uuid4().hex[:12]}"
    os.makedirs(rdir, exist_ok=True)

    # global index base per block: labels must be totally ordered across
    # blocks. O(B) scalars on the driver — never O(V).
    sizes = {
        int(r["block"]): int(r["size"])
        for r in g.block_meta.select("block", "size").collect()
    }
    goff, acc_off = {}, 0
    for b in sorted(sizes):
        goff[b] = acc_off
        acc_off += sizes[b]

    def prep_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        os.makedirs(f"{rdir}/step0", exist_ok=True)
        for b, size in zip(pdf["block"], pdf["size"]):
            b = int(b)
            _write_npy_atomic(
                f"{rdir}/step0/b{b}.npy",
                goff[b] + np.arange(int(size), dtype=np.float64),
            )
        return pd.DataFrame({"block": [int(b) for b in pdf["block"]]})

    g.block_meta.groupBy("block").applyInPandas(
        prep_kernel, "block int"
    ).count()

    work = work_index(g)

    def step(k, cur, nxt):
        def kernel(db, dsize, cache):
            old = np.load(f"{cur}/b{db}.npy")
            acc = scatter_in(
                _load_block(store, token, db, n_blocks), cache,
                lambda sb: np.load(f"{cur}/b{sb}.npy", mmap_mode="r"),
                old.copy(), op="min",
            )
            os.makedirs(nxt, exist_ok=True)
            _write_npy_atomic(f"{nxt}/b{db}.npy", acc)
            return (int((acc != old).sum()),)

        return map_blocks(work, kernel, "changed long")

    done = run_steps(
        rdir, step, 0, max_iter, keep_steps, stop=lambda s: s[0] == 0
    )
    if stats is not None:
        stats["step_secs"] = [round(secs, 3) for _, secs in done]
        stats["steps"] = len(done)

    labels = (
        read_blocks(g, f"{rdir}/step{len(done)}", {"glabel": "b"})
        .select("id", F.col("glabel").cast("long").alias("glabel"))
    )
    # min-INDEX label -> min vertex ID per component (exactly the flat
    # path's contract); one aggregation + one broadcast-able join on the
    # (small) per-component reps
    reps = labels.groupBy("glabel").agg(F.min("id").alias("component"))
    return labels.join(reps, "glabel").select("id", "component")


def bfs_distances_blocked(
    spark,
    g: BlockedGraph,
    seeds: DataFrame,
    max_hops: int = 3,
    keep_steps: int = 2,
) -> DataFrame:
    """-> (id, dist): minimal DIRECTED hop distance from the seed set,
    bounded at ``max_hops``; unreached vertices absent — exactly
    linkgraph.graph.bfs_distances, on the blocked store.

    Build ``g`` from ``edges.where(src != dst).distinct()`` (the flat
    path's edge normalization) WITHOUT symmetrizing — propagation follows
    stored direction. Distances travel as float64 block vectors (inf =
    unreached); a superstep scatter-mins every source block's
    distances + 1 into each destination block ON TOP of the block's
    current vector — the same single-stage map job as the min-label CC
    superstep, zero shuffle, with the frontier bound coming from the
    FIXED unrolled hop count (the scalable bounded-radius form)."""
    n_blocks, store, token = g.n_blocks, g.store_path, g.build_token
    rdir = f"{_ranks_root(g)}/bfs-{uuid.uuid4().hex[:12]}"
    os.makedirs(rdir, exist_ok=True)

    # step0: inf everywhere, 0 at seed positions. Blocks without seeds
    # get their all-inf file from the first (sizes-only) job; seed blocks
    # are then atomically overwritten by the seed job.
    fill_blocks(g, f"{rdir}/step0", np.inf)
    pos = seeds.select("id").distinct().join(vmap_side(g), "id")
    seed_blocks(g, pos, f"{rdir}/step0", np.inf, 0.0)

    work = work_index(g)

    def step(k, cur, nxt):
        def kernel(db, dsize, cache):
            acc = scatter_in(
                _load_block(store, token, db, n_blocks), cache,
                lambda sb: np.load(f"{cur}/b{sb}.npy") + 1.0,
                np.load(f"{cur}/b{db}.npy").copy(), op="min",
            )
            os.makedirs(nxt, exist_ok=True)
            _write_npy_atomic(f"{nxt}/b{db}.npy", acc)
            return (int(np.isfinite(acc).sum()),)

        return map_blocks(work, kernel, "reached long")

    run_steps(rdir, step, 0, max_hops, keep_steps)
    out = truncate_plan(
        read_blocks(g, f"{rdir}/step{max_hops}", {"d": "b"})
        .where(F.col("d") != float("inf"))
        .select("id", F.col("d").cast("int").alias("dist")),
        eager=False,
    )
    out.count()
    shutil.rmtree(rdir, ignore_errors=True)
    return out


def kcore_blocked(
    spark,
    g: BlockedGraph,
    k: int = 2,
    rounds: int | None = None,
    max_iter: int = 200,
    keep_steps: int = 2,
) -> DataFrame:
    """-> (id, core_deg) for every vertex in the k-core — exactly
    linkgraph.kcore.kcore (``rounds`` = bounded unrolled prefix,
    ``rounds=None`` = fixpoint), on the blocked store.

    Build ``g`` from ``kcore.undirected_edges(edges)`` (distinct
    symmetric closure, self-loops dropped). The peel round is ONE
    map-only job: scatter-add the 0/1 alive mask into each destination
    block (degree among survivors — the source's aliveness is the
    summand, the destination's gates the output), then
    ``alive' = alive AND deg >= k`` in-task; the returned changed count
    (O(B) scalars) drives the fixpoint. No per-round shuffle, edge set
    never rewritten — the mask does the filtering the flat path's two
    semi-joins do."""
    n_blocks, store, token = g.n_blocks, g.store_path, g.build_token
    rdir = f"{_ranks_root(g)}/kcore-{uuid.uuid4().hex[:12]}"
    os.makedirs(rdir, exist_ok=True)

    fill_blocks(g, f"{rdir}/alive0", 1.0)
    work = work_index(g)

    n_rounds = rounds if rounds is not None else max_iter
    if n_rounds < 1:
        raise ValueError("kcore_blocked needs rounds >= 1 (or rounds=None)")

    def step(r, cur, nxt):
        degd = f"{rdir}/deg{r + 1}"

        def kernel(db, dsize, cache):
            acc = scatter_in(
                _load_block(store, token, db, n_blocks), cache,
                lambda sb: np.load(f"{cur}/b{sb}.npy"),
                np.zeros(dsize, dtype=np.float64),
            )
            old = np.load(f"{cur}/b{db}.npy")
            new = old * (acc >= k)
            os.makedirs(nxt, exist_ok=True)
            os.makedirs(degd, exist_ok=True)
            _write_npy_atomic(f"{nxt}/b{db}.npy", new)
            _write_npy_atomic(f"{degd}/b{db}.npy", acc)
            return (int((new != old).sum()),)

        return map_blocks(work, kernel, "changed long")

    done = len(run_steps(
        rdir, step, 0, n_rounds, keep_steps, dirs=("alive", "deg"),
        stop=lambda s: rounds is None and s[0] == 0,
    ))
    out = truncate_plan(
        read_blocks(g, rdir, {"av": f"alive{done}/b", "dv": f"deg{done}/b"})
        .where(F.col("av") > 0)
        .select("id", F.col("dv").cast("long").alias("core_deg")),
        eager=False,
    )
    out.count()
    shutil.rmtree(rdir, ignore_errors=True)
    return out
