"""Deterministic Luby MIS on the blocked-CSR store — scatter-min rounds
with zero shuffle (round-4 verdict item #2).

The scale-path twin of ``linkgraph.mis.maximal_independent_set``: every
round, an UNDECIDED vertex joins the set iff its priority beats every
undecided neighbor's, and the new members' undecided neighbors are
eliminated. The flat round is a |2E|-row join + min-agg + two anti-joins
per round — the exact per-superstep exchange shape that measured 0.40 on
label propagation's N->4N gate before its blocked port. Here a round is
TWO map-only jobs over the per-block work index, each a scatter-MIN over
the compacted store (the connected-components kernel, gate median 0.93,
BENCH/BASELINE.md) with a state-masked source vector:

- **win job**: per destination block, acc = +inf, then scatter-min of
  ``eff = prio if undecided else +inf`` over all in-edges; vertex d wins
  iff it is undecided and ``prio[d] < acc[d]`` (strict — distinct
  priorities). Winners are written as a per-block 0/1 vector.
- **eliminate job**: same scatter-min with ``eff = 0 if just-won else
  +inf``; an undecided non-winner with a finite min has a winning
  neighbor and becomes 'out'. (Adjacent vertices can never both win, so
  the win/eliminate precedence is vacuous.)

Priorities: the flat path orders vertices by the PORTABLE string
``md5(id) || '-' || id`` (collision-free, engine-independent). float64
block vectors can't carry 128-bit strings, so prep computes each
vertex's dense RANK under that exact string order (0..n-1, exact in
float64) — a strictly monotone reindexing, so every strict comparison,
and hence every round's winner set, is IDENTICAL to the flat path's
string compares. Rank computation is the id_ranks scale-out (range
repartition by the priority string + per-partition row_number + O(P)
driver offsets — never a single-partition window).

State travels the per-step .npy transport (0 = undecided, 1 = in,
2 = out; O(B) files per round, page-cache shared). ``rounds=N`` runs a
fixed bounded prefix (the SQL-replicable form the ``graph_mis_blocked``
oracle row checks); ``rounds=None`` iterates to the empty-undecided
fixpoint with mis.py's progress guard (strictly shrinking undecided set,
warn past ``max_iter``, raise on non-progress).

Store contract: build from ``undirected_edges(edges)`` (distinct
symmetric closure, self-loops dropped). Duplicate edges would be
harmless to min/eliminate semantics, but the shared contract keeps one
store reusable across LP/Louvain/MIS.

Output matches ``linkgraph.mis.maximal_independent_set`` EXACTLY (pinned
by tests/test_mis_csr.py and the graph_mis_blocked oracle row).
Reference parity: engine extension beyond ccm's metric set
(/root/reference/src/ccm/complexity.py), same family as labelprop_csr.
"""

from __future__ import annotations

import logging
import os
import shutil
import uuid

import numpy as np
from pyspark.sql import DataFrame, functions as F

from .caching import register_cache
from .labelprop_csr import _dense_ranks
from .lineage import truncate_plan
from .pagerank_csr import BlockedGraph, _load_block, _ranks_root
from .supersteps import (
    _write_npy_atomic,
    map_blocks,
    read_blocks,
    run_steps,
    scatter_in,
    scatter_ranks,
    work_index,
)

log = logging.getLogger(__name__)


def priority_ranks(
    ids: DataFrame, num_partitions: int | None = None
) -> DataFrame:
    """ids(id) -> (id, rank): dense 0..n-1 rank under ascending
    ``md5(id) || '-' || id`` string order — the flat MIS priority
    (mis.py:_priority), reindexed to a float64-exact total order.
    Same scale-out shape as labelprop_csr.id_ranks."""
    id_str = F.col("id").cast("string")
    pri = F.concat(F.md5(id_str), F.lit("-"), id_str).alias("pri")
    return _dense_ranks(ids.select("id", pri), "pri", num_partitions)


def mis_blocked(
    spark,
    g: BlockedGraph,
    rounds: int | None = None,
    max_iter: int = 64,
    keep_steps: int = 2,
    stats: dict | None = None,
) -> DataFrame:
    """-> (id, state): 'in' / 'out' / 'und' (bounded mode only),
    bit-identical to ``maximal_independent_set(..., rounds=rounds)``.

    ``g`` MUST be built from ``undirected_edges(edges)`` (module
    docstring). ``stats``, if given, receives ``step_secs`` (wall
    seconds per round: win job + eliminate job), ``steps``, ``winners``
    and ``undecided`` per round — the scaling bench's hooks."""
    n_blocks, store, token = g.n_blocks, g.store_path, g.build_token
    rdir = f"{_ranks_root(g)}/mis-{uuid.uuid4().hex[:12]}"
    os.makedirs(rdir, exist_ok=True)

    ranks = register_cache(
        truncate_plan(priority_ranks(g.vmap.select("id"))).persist()
    )

    # prep: per-block priority-rank vectors + all-undecided step0 state
    scatter_ranks(g, ranks, f"{rdir}/prio", fills={f"{rdir}/step0": 0.0})

    work = work_index(g)
    und_per: list[int] = []

    def step(k, cur, nxt):
        # win job: nbr-min of undecided priorities -> 0/1 winner vectors
        wdir = f"{rdir}/win{k}"

        def win_kernel(db, dsize, cache):
            def eff_of(sb):
                ss = np.load(f"{cur}/b{sb}.npy")
                pp = np.load(f"{rdir}/prio/b{sb}.npy")
                return np.where(ss == 0.0, pp, np.inf)

            s = np.load(f"{cur}/b{db}.npy")
            p = np.load(f"{rdir}/prio/b{db}.npy")
            acc = scatter_in(
                _load_block(store, token, db, n_blocks), cache, eff_of,
                np.full(dsize, np.inf), op="min",
            )
            win = (s == 0.0) & (p < acc)
            os.makedirs(wdir, exist_ok=True)
            _write_npy_atomic(f"{wdir}/b{db}.npy", win.astype(np.float64))
            return (int(win.sum()),)

        n_win = map_blocks(work, win_kernel, "w long")[0]

        # eliminate job: finite min over winner-indicator sources => an
        # undecided neighbor of a winner -> 'out'; winners -> 'in'
        def elim_kernel(db, dsize, cache):
            s = np.load(f"{cur}/b{db}.npy")
            win = np.load(f"{wdir}/b{db}.npy")
            acc = scatter_in(
                _load_block(store, token, db, n_blocks), cache,
                lambda sb: np.where(
                    np.load(f"{wdir}/b{sb}.npy") == 1.0, 0.0, np.inf
                ),
                np.full(dsize, np.inf), op="min",
            )
            ns = s.copy()
            ns[win == 1.0] = 1.0
            ns[(acc < np.inf) & (s == 0.0) & (win == 0.0)] = 2.0
            os.makedirs(nxt, exist_ok=True)
            _write_npy_atomic(f"{nxt}/b{db}.npy", ns)
            return (int((ns == 0.0).sum()),)

        n_und = map_blocks(work, elim_kernel, "u long")[0]
        shutil.rmtree(wdir, ignore_errors=True)
        if rounds is None and n_und:
            # mis.py's fixpoint discipline: run to emptiness, guard
            # progress, warn past max_iter
            if und_per and n_und >= und_per[-1]:
                raise RuntimeError(
                    f"mis_blocked: round {k + 1} left {n_und} >= "
                    f"{und_per[-1]} undecided vertices — no progress; "
                    "winner election is broken"
                )
            if k + 1 >= max_iter:
                log.warning(
                    "mis_blocked: fixpoint still has %d undecided "
                    "vertices after %d rounds (> max_iter=%d); "
                    "continuing to emptiness", n_und, k + 1, max_iter,
                )
        und_per.append(n_und)
        return n_win, n_und

    done = run_steps(
        rdir, step, 0, rounds, keep_steps,
        stop=lambda sums: rounds is None and sums[1] == 0,
    )
    if stats is not None:
        stats["step_secs"] = [round(secs, 3) for _, secs in done]
        stats["steps"] = len(done)
        stats["winners"] = [int(sums[0]) for sums, _ in done]
        stats["undecided"] = und_per

    return read_blocks(g, f"{rdir}/step{len(done)}", {"sv": "b"}).select(
        "id",
        F.when(F.col("sv") == 1.0, F.lit("in"))
        .when(F.col("sv") == 2.0, F.lit("out"))
        .otherwise(F.lit("und"))
        .alias("state"),
    )
