"""Weighted single-source shortest paths — bounded Bellman-Ford relaxation.

The weighted generalization of ``linkgraph.graph.bfs_distances``: edges
carry a non-negative float cost (crawl latency, link-distance priors,
toll-weighted navigation) and each BSP round relaxes every settled
distance through one more directed edge, re-taking the per-vertex min.

Flat path (``sssp_distances``): join + union + groupBy(min) per round over
``edges(src, dst, w)`` — a FIXED unrolled prefix of ``max_hops`` rounds, so
the whole relaxation is one lazy Catalyst plan with zero per-round driver
actions, SQL-replicable round for round (dual-engine oracle row
``graph_sssp3``). Bounded-radius queries are the scalable form at web
scale: the frontier of an unbounded Bellman-Ford on a 10^12-vertex graph
is the whole graph within ~20 hops, while a crawl/influence query wants a
small radius anyway; the unbounded fixpoint shape is
``linkgraph.components.connected_components``' signature-loop pattern.

Blocked path (``sssp_blocked`` + ``build_weight_store``): the scale-path
twin on the blocked-CSR layout. Weights ride in a WEIGHT-ALIGNED edge
store — the same per-(db: sb, sl) clustering as the rank store, with the
per-edge float64 cost as one extra aligned array — decoded once per host
to mmap'd ``.npy`` sidecars (the exact decode-once/cache-everywhere
contract of ``pagerank_csr._load_block``). A superstep is ONE map-only
job: load my distance block, for each in-edge segment take
``min(acc[dl], dist_src[sl] + w)`` through the native
``scatter_minw32`` kernel (the weighted cousin of
``native.scatter_min32``; ``np.minimum.at`` fallback), write the next
distance vector.
Zero shuffle; O(B) scalar rows of driver traffic per superstep; identical
N→4N scaling shape to the measured CC/BFS scatter-min gate
(BENCH/BASELINE.md: CC gate, median 0.93).

At a real 100 TB deployment the weight column would be folded into the
main store build (one more aligned array in the same parquet write); here
it is a parallel aligned store so the measured rank-store layout stays
byte-identical to the one the scaling gates were run on.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .lineage import truncate_plan
from .pagerank_csr import BlockedGraph, _npy_cache_dir, _ranks_root
from .supersteps import (
    _write_npy_atomic,
    cached,
    fill_blocks,
    map_blocks,
    read_blocks,
    run_steps,
    scatter_in,
    seed_blocks,
    segments,
    vmap_side,
    work_index,
)


def sssp_distances(
    spark,
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
    truncate_rounds: bool = True,
) -> DataFrame:
    """-> (id, dist) — minimal directed WEIGHTED distance from the seed
    set within ``max_hops`` edges (unreached vertices absent).

    ``edges`` must carry (src, dst, w); self-loops are dropped and
    parallel edges collapsed to their cheapest cost (the only one a
    shortest path can use), exactly what the SQL oracle does.
    ``truncate_rounds=False`` keeps the whole unrolled relaxation one
    inspectable lazy plan (the plan-audit view); the default truncates
    per round so deep radii don't stack analyzer work.
    """
    e = (
        edges.where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.min("w").alias("w"))
    )
    dist = seeds.select("id", F.lit(0.0).alias("dist")).distinct()
    for _ in range(max_hops):
        hop = e.join(
            dist.select(F.col("id").alias("src"), "dist"), "src"
        ).select(
            F.col("dst").alias("id"), (F.col("dist") + F.col("w")).alias("dist")
        )
        dist = dist.unionByName(hop).groupBy("id").agg(
            F.min("dist").alias("dist")
        )
        if truncate_rounds:
            dist = truncate_plan(dist, eager=False)
    return dist.select("id", "dist")


def sssp_voronoi(
    spark,
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
    truncate_rounds: bool = True,
) -> DataFrame:
    """-> (id, seed, dist): each reached vertex assigned to its NEAREST
    seed — the weighted-shortest-path Voronoi partition of the graph
    (crawl sharding by nearest hub, mirror assignment, geo-ish routing).
    Ties break deterministically to the smaller seed id at equal
    distance; unreached vertices are absent.

    Same bounded Bellman-Ford rounds as ``sssp_distances`` with the
    owning seed carried through the relaxation: per round the per-vertex
    min is taken over the lexicographic (dist, seed) pair — one ordered
    struct-min aggregation, no window sort (SQL-replicable via a
    min-dist join + min-seed tie-break; oracle row ``graph_voronoi3``).
    """
    e = (
        edges.where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.min("w").alias("w"))
    )
    state = seeds.select(
        F.col("id"), F.col("id").alias("seed"), F.lit(0.0).alias("dist")
    ).distinct()
    for _ in range(max_hops):
        hop = e.join(
            state.select(F.col("id").alias("src"), "seed", "dist"), "src"
        ).select(
            F.col("dst").alias("id"),
            "seed",
            (F.col("dist") + F.col("w")).alias("dist"),
        )
        state = (
            state.unionByName(hop)
            .groupBy("id")
            .agg(
                F.min(F.struct("dist", "seed")).alias("best")
            )
            .select(
                "id",
                F.col("best.seed").alias("seed"),
                F.col("best.dist").alias("dist"),
            )
        )
        if truncate_rounds:
            state = truncate_plan(state, eager=False)
    return state.select("id", "seed", "dist")


def build_weight_store(
    spark,
    g: BlockedGraph,
    edges: DataFrame,
    agg: str = "min",
    keep_self: bool = False,
    wpath: str | None = None,
) -> str:
    """Write the weight-aligned edge store for ``g``: per-db parquet of
    (sb, sl, dl, w) rows, same clustering sort as the rank store.
    Normalization is per-consumer: shortest paths want ``agg="min"`` /
    ``keep_self=False`` (the ``sssp_distances`` contract — only the
    cheapest parallel edge can be on a shortest path, self-loops never);
    weighted PageRank wants ``agg="sum"`` / ``keep_self=True``
    (``pagerank_weighted`` — multiplicities add, self-loops carry rank).
    Returns the store directory. All heavy lifting is JVM-side (two
    map-side-able joins + one partitioned write); no Python touches the
    |E| rows.

    ``wpath`` names the store directory explicitly; an existing COMPLETE
    store there (parquet ``_SUCCESS`` marker plus a ``_wmeta.json``
    sidecar recording how it was built) is reused ONLY when the sidecar's
    ``agg``/``keep_self``/graph token match this call — a min-collapsed
    SSSP store silently fed to weighted PageRank (which needs agg="sum",
    keep_self=True) would produce wrong ranks, so a mismatch (or a store
    predating the sidecar) raises instead of reusing (round-4 ADVICE).
    Default: a fresh anonymous dir under the graph store."""
    want = {"agg": agg, "keep_self": bool(keep_self),
            "token": g.build_token}
    if wpath is not None:
        if os.path.exists(f"{wpath}/_SUCCESS"):
            mpath = f"{wpath}/_wmeta.json"
            if not os.path.exists(mpath):
                raise ValueError(
                    f"weight store {wpath} has no _wmeta.json sidecar — "
                    "it predates the build-parameter check; delete and "
                    "rebuild it (cannot verify agg/keep_self)"
                )
            with open(mpath) as f:
                have = json.load(f)
            if have != want:
                raise ValueError(
                    f"weight store {wpath} was built with {have}, but "
                    f"this call needs {want} — refusing to reuse "
                    "(agg/keep_self mismatches silently corrupt results)"
                )
            return wpath
    else:
        wpath = f"{g.store_path}/wedges-{uuid.uuid4().hex[:8]}"
    e = edges
    if not keep_self:
        e = e.where(F.col("src") != F.col("dst"))
    aggfn = {"min": F.min, "sum": F.sum}[agg]
    e = e.groupBy("src", "dst").agg(aggfn("w").alias("w"))
    src_map = g.vmap.select(
        F.col("id").alias("src"),
        F.col("block").alias("sb"),
        F.col("local").alias("sl"),
    )
    dst_map = g.vmap.select(
        F.col("id").alias("dst"),
        F.col("block").alias("db"),
        F.col("local").alias("dl"),
    )
    (
        e.join(src_map, "src")
        .join(dst_map, "dst")
        .select(
            F.col("sb").cast("int"),
            "db",
            F.col("sl").cast("int").alias("sl"),
            F.col("dl").cast("int").alias("dl"),
            F.col("w").cast("double").alias("w"),
        )
        .repartition("db")
        .sortWithinPartitions("db", "sb", "sl", "dl")
        .write.mode("overwrite")
        .partitionBy("db")
        .parquet(wpath)
    )
    # build-parameter sidecar, written AFTER the parquet commit so a
    # killed build never leaves a validated-looking store behind
    with open(f"{wpath}/_wmeta.json", "w") as f:
        json.dump(want, f)
    return wpath


def _load_wblock(wpath: str, token: str, db: int, n_blocks: int):
    """Worker-side weighted edges for one destination block:
    ("wt", offs, sl_i32, dl_i32, w_f64), offs the B+1 prefix-sum index by
    source block (the ``supersteps.scatter_in`` block layout). First
    touch decodes parquet -> raw .npy (atomic, idempotent); later loads
    anywhere on the host are zero-copy mmaps."""
    cache_dir = _npy_cache_dir(wpath, f"{token}-w")
    base = f"{cache_dir}/{db}"
    offs_p = f"{base}.offs.npy"
    if not os.path.exists(offs_p):
        import pyarrow.parquet as pq

        part = f"{wpath}/db={db}"
        if os.path.exists(part):
            t = pq.read_table(part, columns=["sb", "sl", "dl", "w"])
            sb = t.column("sb").to_numpy().astype(np.int64, copy=False)
            sl = t.column("sl").to_numpy().astype(np.int64, copy=False)
            dl = t.column("dl").to_numpy().astype(np.int64, copy=False)
            w = t.column("w").to_numpy().astype(np.float64, copy=False)
        else:
            sb = sl = dl = np.empty(0, dtype=np.int64)
            w = np.empty(0, dtype=np.float64)
        if len(sb) and np.any(np.diff(sb) < 0):
            order = np.lexsort((dl, sl, sb))
            sb, sl, dl, w = sb[order], sl[order], dl[order], w[order]
        offs = np.searchsorted(sb, np.arange(n_blocks + 1)).astype(np.int64)
        _write_npy_atomic(f"{base}.sl.npy", sl.astype(np.int32))
        _write_npy_atomic(f"{base}.dl.npy", dl.astype(np.int32))
        _write_npy_atomic(f"{base}.w.npy", w)
        _write_npy_atomic(offs_p, offs)  # offs last: presence = decoded
    return (
        "wt",
        np.load(offs_p),
        np.load(f"{base}.sl.npy", mmap_mode="r"),
        np.load(f"{base}.dl.npy", mmap_mode="r"),
        np.load(f"{base}.w.npy", mmap_mode="r"),
    )


def sssp_voronoi_blocked(
    spark,
    g: BlockedGraph,
    wpath: str,
    seeds: DataFrame,
    max_hops: int = 3,
    keep_steps: int = 2,
) -> DataFrame:
    """-> (id, seed, dist): the ``sssp_voronoi`` nearest-seed partition on
    the blocked store. State per block is a (dist, owner) vector PAIR; a
    superstep is two vectorized passes per in-edge segment:

    1. weighted scatter-min of dist (the gated native kernel), then
    2. owner election — among candidates whose relaxed distance EQUALS
       the new minimum (float-exact: identical sums), take the smallest
       seed id via one masked ``np.minimum.at``; the previous owner
       survives only where the previous distance did.

    Zero shuffle, O(B) scalar driver rows per superstep — the labeled
    generalization of the scatter-min family the CC gate measured."""
    n_blocks, token = g.n_blocks, g.build_token
    rdir = f"{_ranks_root(g)}/vor-{uuid.uuid4().hex[:12]}"
    os.makedirs(rdir, exist_ok=True)

    def inf_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        os.makedirs(f"{rdir}/step0", exist_ok=True)
        for b, size in zip(pdf["block"], pdf["size"]):
            b, size = int(b), int(size)
            _write_npy_atomic(
                f"{rdir}/step0/b{b}.npy",
                np.full(size, np.inf, dtype=np.float64),
            )
            _write_npy_atomic(
                f"{rdir}/step0/o{b}.npy",
                np.full(size, np.iinfo(np.int64).max, dtype=np.int64),
            )
        return pd.DataFrame({"block": [int(b) for b in pdf["block"]]})

    g.block_meta.groupBy("block").applyInPandas(
        inf_kernel, "block int"
    ).count()

    sizes_by_block = g.block_meta.select("block", "size")

    def seed_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        b = int(pdf["block"].iloc[0])
        size = int(pdf["size"].iloc[0])
        d = np.full(size, np.inf, dtype=np.float64)
        o = np.full(size, np.iinfo(np.int64).max, dtype=np.int64)
        locs = pdf["local"].to_numpy(dtype=np.int64)
        d[locs] = 0.0
        o[locs] = pdf["id"].to_numpy(dtype=np.int64)  # int64-exact ids
        _write_npy_atomic(f"{rdir}/step0/b{b}.npy", d)
        _write_npy_atomic(f"{rdir}/step0/o{b}.npy", o)
        return pd.DataFrame({"block": [b]})

    (
        seeds.select("id").distinct()
        .join(vmap_side(g), "id")
        .join(sizes_by_block, "block")
        .select("id", "block", "local", "size")
        .groupBy("block")
        .applyInPandas(seed_kernel, "block int")
        .count()
    )

    work = work_index(g)
    never = np.iinfo(np.int64).max

    def step(k, cur, nxt):
        def kernel(db, dsize, cache):
            prev_d = np.load(f"{cur}/b{db}.npy")
            blk = _load_wblock(wpath, token, db, n_blocks)
            # pass 1: minimum distance (native weighted kernel)
            acc_d = scatter_in(
                blk, cache, lambda sb: np.load(f"{cur}/b{sb}.npy"),
                prev_d.copy(), op="min",
            )
            # pass 2: owner = min seed among dist-equal candidates;
            # previous owner survives only where its dist did
            acc_o = np.where(
                acc_d == prev_d, np.load(f"{cur}/o{db}.npy"), never
            ).astype(np.int64, copy=False)
            _, offs, sl, dl, w = blk
            for sb, a, b_ in segments(offs):
                seg_sl = np.asarray(sl[a:b_], dtype=np.int64)
                seg_dl = np.asarray(dl[a:b_], dtype=np.int64)
                cand_d = cache[sb][seg_sl] + w[a:b_]
                mask = cand_d == acc_d[seg_dl]
                if mask.any():
                    owners = cached(
                        cache, ("o", sb),
                        lambda key: np.load(f"{cur}/o{key[1]}.npy"),
                    )
                    np.minimum.at(acc_o, seg_dl[mask], owners[seg_sl[mask]])
            os.makedirs(nxt, exist_ok=True)
            _write_npy_atomic(f"{nxt}/b{db}.npy", acc_d)
            _write_npy_atomic(f"{nxt}/o{db}.npy", acc_o)
            return (int(np.isfinite(acc_d).sum()),)

        return map_blocks(work, kernel, "reached long")

    run_steps(rdir, step, 0, max_hops, keep_steps)
    out = truncate_plan(
        read_blocks(
            g, f"{rdir}/step{max_hops}", {"dist": "b", "seed": "o"},
            types={"seed": "long"},
        ).where(F.col("dist") != float("inf"))
        .select("id", "seed", "dist"),
        eager=False,
    )
    out.count()
    shutil.rmtree(rdir, ignore_errors=True)
    return out


def sssp_blocked(
    spark,
    g: BlockedGraph,
    wpath: str,
    seeds: DataFrame,
    max_hops: int = 3,
    keep_steps: int = 2,
    stats: dict | None = None,
) -> DataFrame:
    """-> (id, dist): bounded weighted shortest distance from the seed
    set — exactly ``sssp_distances``, on the blocked store. ``wpath`` is
    the ``build_weight_store`` directory for ``g``'s vertex mapping.

    ``stats``, if given, is filled with ``step_secs`` (wall seconds per
    relaxation superstep job — every superstep scatters ALL stored edges
    regardless of frontier size, so per-step wall IS throughput),
    ``steps``, ``reached`` (per-step global reached counts — a
    cross-level agreement signal for the scaling bench), and
    ``final_dir``/``run_dir`` (the final distance vectors; cleanup
    becomes the CALLER's job so it can checksum them first)."""
    n_blocks, token = g.n_blocks, g.build_token
    rdir = f"{_ranks_root(g)}/sssp-{uuid.uuid4().hex[:12]}"
    os.makedirs(rdir, exist_ok=True)

    fill_blocks(g, f"{rdir}/step0", np.inf)
    pos = seeds.select("id").distinct().join(vmap_side(g), "id")
    seed_blocks(g, pos, f"{rdir}/step0", np.inf, 0.0)

    work = work_index(g)

    def step(k, cur, nxt):
        def kernel(db, dsize, cache):
            # fused gather-add-scatter-min (native kernel; chunked-numpy
            # fallback inside)
            acc = scatter_in(
                _load_wblock(wpath, token, db, n_blocks), cache,
                lambda sb: np.load(f"{cur}/b{sb}.npy"),
                np.load(f"{cur}/b{db}.npy").copy(), op="min",
            )
            os.makedirs(nxt, exist_ok=True)
            _write_npy_atomic(f"{nxt}/b{db}.npy", acc)
            return (int(np.isfinite(acc).sum()),)

        return map_blocks(work, kernel, "reached long")

    done = run_steps(rdir, step, 0, max_hops, keep_steps)
    last = f"{rdir}/step{max_hops}"
    if stats is not None:
        stats["step_secs"] = [round(secs, 3) for _, secs in done]
        stats["steps"] = max_hops
        stats["reached"] = [int(sums[0] or 0) for sums, _ in done]
        stats["final_dir"] = last
        stats["run_dir"] = rdir

    out = truncate_plan(
        read_blocks(g, last, {"dist": "b"})
        .where(F.col("dist") != float("inf")),
        eager=False,
    )
    out.count()
    if stats is None:  # with stats the caller checksums final_dir first
        shutil.rmtree(rdir, ignore_errors=True)
    return out
