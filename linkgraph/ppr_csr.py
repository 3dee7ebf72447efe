"""Personalized PageRank on the blocked-CSR store — seed-teleport supersteps.

The scale-path twin of ``linkgraph.pagerank.pagerank(seeds=...)`` (networkx
``personalization=`` semantics: teleport AND dangling mass both land on the
seed set, uniformly over seeds ∩ vertices). Same compacted store, packed
edge words, native scatter-add kernels, and O(B)-scalar driver traffic as
``pagerank_blocked`` — the only structural difference from plain blocked
PageRank is that the per-superstep base term is a per-block TELEPORT VECTOR
sidecar instead of a scalar:

    new_b = (1 - d) * tp_b + d * (acc_b + dm * tp_b)

where ``tp_b`` is block b's slice of the teleport vector (1/|S| at seed
positions, else 0 — written once at prep, mmap'd per superstep) and ``dm``
is the previous step's global dangling mass (ONE scalar per superstep, same
transport as the plain path).

Per-superstep cost is identical to a pagerank_blocked superstep (one
map-only job, zero shuffle, one extra mmap'd vector read per block), so the
N→4N scaling evidence for the scatter-add kernel family
(BENCH/BASELINE.md: PageRank gate, median 1.06) carries over directly.

Use cases this unlocks at web scale: topic-sensitive ranking (Haveliwala,
WWW'02), TrustRank-style spam demotion from a whitelist, and
random-walk-with-restart proximity from a single page's context — all of
which are just different seed sets over the same store.

Reference parity: the reference's graph metrics are global
(/root/reference/src/ccm/complexity.py); personalization is an engine
extension in the same spirit as hits_csr / labelprop_csr.
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
    _prep_block,
    _prior_info,
    _ranks_root,
    _run_jobs,
    _superstep_db,
)
from .supersteps import (
    _write_npy_atomic,
    completed_steps,
    read_blocks,
    seed_blocks,
    vmap_side,
)


def ppr_blocked(
    spark,
    g: BlockedGraph,
    seeds: DataFrame,
    damping: float = 0.85,
    tol: float = 1e-9,
    max_iter: int = 100,
    keep_steps: int = 2,
    run_dir: str | None = None,
) -> PageRankResult:
    """-> PageRankResult whose .ranks is (id, rank), personalized on seeds.

    ``seeds`` is a DataFrame with an ``id`` column; teleport mass is
    1/|seeds ∩ vertices| on each seed, 0 elsewhere, and dangling mass is
    redistributed over the same vector — bit-matching the flat
    ``linkgraph.pagerank.pagerank(seeds=...)`` path up to float64 summation
    order (tested allclose 1e-12; the dual-engine oracle row
    ``graph_ppr_blocked`` pins it to the unrolled DuckDB SQL exactly at
    round-9).

    ``run_dir`` names the run's checkpoint directory (pagerank_blocked's
    resume contract): a killed run handed the same ``run_dir`` resumes
    mid-iteration — the per-step ``part/g<k>.npy`` metric file marks a
    superstep complete, prep and every finished superstep are skipped,
    and the result is bit-identical to an uninterrupted run (tested).
    Prior supersteps appear in the result with seconds=0.0. The seed set
    must be the same across resumes — the teleport sidecar is only
    written at step 0, so a ``seeds.json`` fingerprint recorded at prep
    is VALIDATED on every resume and a mismatch raises.
    """
    n, n_blocks = g.n, g.n_blocks
    store, token = g.store_path, g.build_token

    seed_pos = (
        seeds.select("id").distinct()
        .join(vmap_side(g), "id")
        .select("block", "local")
    )
    # one action: |seeds| + an order-independent fingerprint (sum of
    # per-seed hashes) — cheap, and the fingerprint pins the seed SET to
    # the run_dir so a resume with different seeds fails loudly instead
    # of silently personalizing on the step-0 teleport sidecar's old
    # seeds (round-4 ADVICE)
    fp_row = seed_pos.agg(
        F.count("*").alias("c"),
        # per-seed hash reduced mod 2^31-1 before the sum so the long
        # aggregate can't overflow under ANSI mode even at huge |S|
        F.coalesce(
            F.sum(F.pmod(F.xxhash64("block", "local"),
                         F.lit(2147483647))),
            F.lit(0),
        ).alias("h"),
    ).collect()[0]
    n_seeds, seed_fp = int(fp_row["c"]), int(fp_row["h"])
    if n_seeds == 0:
        raise ValueError(
            "personalized pagerank needs a non-empty seeds ∩ vertices set"
        )
    tp_val = 1.0 / n_seeds

    rdir = run_dir or f"{_ranks_root(g)}/ppr-{uuid.uuid4().hex[:12]}"
    os.makedirs(f"{rdir}/part", exist_ok=True)
    prior = completed_steps(rdir)  # pagerank_blocked's resume protocol
    start_step = len(prior)
    seeds_sidecar = f"{rdir}/part/seeds.json"
    if start_step > 0:
        # resuming: the teleport vectors on disk encode the ORIGINAL seed
        # set; require the recorded fingerprint to match this call's
        if not os.path.exists(seeds_sidecar):
            raise ValueError(
                f"run_dir {rdir} has completed supersteps but no seed "
                "fingerprint sidecar (predates the seed-set check) — "
                "restart in a fresh run_dir"
            )
        with open(seeds_sidecar) as f:
            rec = json.load(f)
        if rec != {"n_seeds": n_seeds, "fp": seed_fp}:
            raise ValueError(
                f"run_dir {rdir} was started with a different seed set "
                f"(recorded {rec}, this call has n_seeds={n_seeds}, "
                f"fp={seed_fp}) — resuming would return ranks "
                "personalized on the old seeds"
            )

    # prep job 1 (every block): static inv_od + dangling locals + ZERO
    # teleport vector + uniform step-0 ranks. Per-block work only — O(V/B)
    # rows per task, nothing O(V) on the driver. Skipped entirely on
    # resume (the retained step files + sidecars win).
    def prep_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        os.makedirs(f"{rdir}/tp", exist_ok=True)
        out = []
        for b, size, od in zip(pdf["block"], pdf["size"], pdf["od"]):
            b = int(b)
            _write_npy_atomic(
                f"{rdir}/tp/b{b}.npy", np.zeros(int(size), dtype=np.float64)
            )
            dang = _prep_block(
                rdir, b, np.asarray(od, dtype=np.int64),
                np.full(int(size), 1.0 / n),
            )
            out.append((b, float(len(dang)) / n))
        return pd.DataFrame(out, columns=["block", "dm"])

    if start_step == 0:
        dangling = float(
            g.block_meta.groupBy("block")
            .applyInPandas(prep_kernel, "block int, dm double")
            .agg(F.sum("dm"))
            .collect()[0][0]
            or 0.0
        )

        # prep job 2 (seed blocks only): overwrite the zero teleport file
        # with tp_val at seed positions. Runs strictly after job 1 (the
        # aggregate above is an action), so the atomic rename always wins.
        seed_blocks(g, seed_pos, f"{rdir}/tp", 0.0, tp_val)
        # seed fingerprint AFTER the teleport sidecars land: a run killed
        # mid-prep re-runs prep (no completed-step marker yet), so the
        # sidecar is always consistent with the tp/ files it describes
        with open(seeds_sidecar, "w") as f:
            json.dump({"n_seeds": n_seeds, "fp": seed_fp}, f)
    else:
        # resume: dangling mass of the last completed superstep
        dangling = float(prior[-1][1])

    def db_step(db, dsize, cur, nxt, dm, cache):
        # the SHARED plain-path kernel, switched to the teleport vector by
        # tp_dm (pagerank_csr.py)
        return _superstep_db(
            store, token, rdir, db, dsize, n_blocks, cur, nxt, 0.0, damping,
            cache, tp_dm=(f"{rdir}/tp", dm),
        )

    supersteps, converged = [], bool(prior and float(prior[-1][0]) < tol)
    if not converged:
        supersteps, converged = _run_jobs(
            g, rdir, tol, max_iter, keep_steps, start_step, dangling, db_step,
        )
    supersteps = _prior_info(g, prior) + supersteps
    flat = read_blocks(g, f"{rdir}/step{len(supersteps)}", {"rank": "b"})
    return PageRankResult(flat, len(supersteps), converged, supersteps)
