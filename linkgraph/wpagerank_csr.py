"""Weighted PageRank on the blocked-CSR store — weight-aligned supersteps.

The scale-path twin of ``linkgraph.pagerank.pagerank_weighted``: rank
flows in proportion to edge weight (link multiplicity, anchor counts,
link-quality priors), contrib = r(src) * w / strength(src) with
strength = sum of outgoing weights and dangling = zero out-strength.

Rides the SAME weight-aligned edge store as ``linkgraph.sssp``
(``build_weight_store``: per-(db: sb, sl) clustering + an aligned float64
cost array, decoded once per host to mmap'd sidecars). The pre-scaled
rank file per block is ``s = r * inv_strength`` — exactly the plain
blocked path's ``r * inv_od`` generalized — so a superstep gathers
``sum_edges s[sl] * w`` per destination through the native
``scatter_addw32`` kernel (one C loop per (db, sb) segment; chunked
``np.bincount`` fallback): a fused gather-multiply-scatter-add, no
Python loop over edges, zero shuffle,
O(B) scalar driver rows per superstep. Scaling shape is the measured
scatter-add gate's (BENCH/BASELINE.md: PageRank gate, median 1.06).

Dual-engine row ``graph_wpagerank2_blocked`` replays the SAME unrolled
SQL as the flat weighted path.
"""

from __future__ import annotations

import json
import os
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .pagerank import PageRankResult
from .pagerank_csr import (
    BlockedGraph,
    _apply_ranks,
    _prep_block,
    _ranks_root,
    _run_jobs,
)
from .sssp import _load_wblock
from .supersteps import read_blocks, scatter_in


def wpagerank_blocked(
    spark,
    g: BlockedGraph,
    wpath: str,
    wedges: DataFrame | None = None,
    damping: float = 0.85,
    tol: float = 0.0,
    max_iter: int = 2,
    keep_steps: int = 2,
    stats: dict | None = None,
) -> PageRankResult:
    """-> PageRankResult over the weighted graph in ``wpath`` (a
    ``build_weight_store`` directory for ``g``'s vertex mapping, built
    with ``agg="sum"``/``keep_self=True`` — the store's ``_wmeta.json``
    sidecar is validated here, raising on mismatch or absence).

    Per-vertex out-strengths are derived FROM THE STORE (one JVM-side
    aggregation over its (sb, sl, w) rows), so the superstep edge data
    and the strengths can never disagree — round-4 ADVICE: deriving
    strengths from a separately-passed ``wedges`` frame let an
    inconsistent (wedges, wpath) pair silently leak or double-count rank
    mass. ``wedges`` is accepted for caller compatibility but unused.
    Strength equivalence vs the flat ``pagerank_weighted`` (which sums
    the raw wedges): agg="sum" collapses parallel (src, dst) rows first,
    so with parallel edges the float64 summation ASSOCIATION differs —
    exact when weights sum exactly (integer-valued, or wedges already
    per-(src,dst) collapsed, both true of every engine fixture), last-bit
    otherwise; the oracle rows round to 9 decimals either way.

    ``stats``, if given, is filled with ``step_secs`` (wall seconds per
    superstep job — every superstep streams ALL stored weighted edges, so
    per-step wall IS throughput), ``steps``, and ``final_dir``/``run_dir``
    (final rank vectors for the scaling bench's cross-level checksum;
    per-block vectors are a pure function of step inputs, hence
    bit-identical across cluster sizes)."""
    n, n_blocks, token = g.n, g.n_blocks, g.build_token
    mpath = f"{wpath}/_wmeta.json"
    if not os.path.exists(mpath):
        raise ValueError(
            f"weight store {wpath} has no _wmeta.json sidecar — rebuild "
            "it with build_weight_store(agg='sum', keep_self=True)"
        )
    with open(mpath) as f:
        wmeta = json.load(f)
    want = {"agg": "sum", "keep_self": True, "token": token}
    if wmeta != want:
        raise ValueError(
            f"weight store {wpath} was built with {wmeta}, but weighted "
            f"PageRank needs {want} (rank mass leaks or double-counts "
            "otherwise)"
        )
    rdir = f"{_ranks_root(g)}/wpr-{uuid.uuid4().hex[:12]}"
    os.makedirs(rdir, exist_ok=True)

    # per-block out-strength arrays in local order (block_meta's od
    # pattern, weighted), summed from the STORE's own rows: strength of
    # (block=sb, local=sl) = sum of w over its stored out-edges. NO
    # self-loop filter: pagerank_weighted keeps them (rank may flow to
    # self) — guaranteed present by the sidecar check above. O(V) total
    # but O(V/B) per task; vertices with no out-edges get 0 (dangling).
    # basePath + explicit db=* glob: the store dir also holds the decoded
    # .npy sidecar cache, which plain recursive parquet discovery trips on
    s = (
        spark.read.schema("sb int, sl int, dl int, w double, db int")
        .option("basePath", wpath)
        .parquet(f"{wpath}/db=*")
        .groupBy(F.col("sb").alias("block"), F.col("sl").alias("local"))
        .agg(F.sum("w").alias("strength"))
    )
    per_block = (
        g.vmap.withColumn("block", F.col("block").cast("int"))
        .withColumn("local", F.col("local").cast("int"))
        .join(s, ["block", "local"], "left")
        .groupBy("block")
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("local").cast("int").alias("l"),
                            F.coalesce("strength", F.lit(0.0)).alias("v"),
                        )
                    )
                ),
                lambda x: x["v"],
            ).alias("sv"),
        )
    )

    def prep_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for b, sv in zip(pdf["block"], pdf["sv"]):
            dang = _prep_block(
                rdir, int(b), np.asarray(sv, dtype=np.float64),
                np.full(len(sv), 1.0 / n),
            )
            out.append((int(b), float(len(dang)) / n))
        return pd.DataFrame(out, columns=["block", "dm"])

    dangling = float(
        per_block.groupBy("block")
        .applyInPandas(prep_kernel, "block int, dm double")
        .agg(F.sum("dm"))
        .collect()[0][0]
        or 0.0
    )

    def db_step(db, dsize, cur, nxt, dm, cache):
        # fused gather-multiply-scatter-add over the weighted segments
        # (native kernel; chunked-numpy fallback inside)
        acc = scatter_in(
            _load_wblock(wpath, token, db, n_blocks), cache,
            lambda sb: np.load(f"{cur}/s{sb}.npy", mmap_mode="r"),
            np.zeros(dsize),
        )
        base = (1.0 - damping) / n + damping * dm / n
        return _apply_ranks(rdir, db, acc, cur, nxt, base, damping)

    supersteps, converged = _run_jobs(
        g, rdir, tol, max_iter, keep_steps, 0, dangling, db_step,
        marker=False,
    )
    last = f"{rdir}/step{len(supersteps)}"
    if stats is not None:
        stats["step_secs"] = [round(s.seconds, 3) for s in supersteps]
        stats["steps"] = len(supersteps)
        stats["final_dir"] = last
        stats["run_dir"] = rdir
    flat = read_blocks(g, last, {"rank": "b"})
    return PageRankResult(flat, len(supersteps), converged, supersteps)
