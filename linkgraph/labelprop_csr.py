"""Synchronous label propagation on the blocked-CSR store — modal-vote
supersteps with zero shuffle.

Round-3 finding (BENCH/BASELINE.md "LP + triangle scaling"): the flat
join+agg LP path shuffles |E| vote rows per superstep through executor-to-
executor exchange and failed the N->4N scaling gate at median 0.40. This
module runs the SAME BSP semantics (linkgraph.labelprop.label_propagation:
every vertex simultaneously adopts the modal label among its neighbors'
previous labels, ties -> minimum label, isolated vertices keep theirs) on
the compacted block store that powers pagerank_blocked / the CC blocked
path — a superstep is ONE map-only job over the per-destination-block work
index, no exchange at all:

- per destination block: gather every incoming neighbor label (native
  gather kernels over the packed/wide edge arrays), then ONE modal_vote
  kernel call — counting-sort by dst local + per-segment sort + run scan
  (linkgraph.native). A mode has no streaming combiner (unlike PageRank's
  sum or CC's min), so the votes ARE materialized per block — O(in-edges
  of one block) memory at a time in a task, bounded by |E|/B by
  construction.
- labels travel the same per-step .npy file transport as ranks/CC labels:
  O(B) files per superstep, page-cache-shared per host, resumable (the
  step directory IS the checkpoint).
- the label VALUE space is the dense id-RANK (0..n-1 in ascending vertex-
  id order, float64-exact below 2^53), not the raw 64-bit id: xxhash64 ids
  overflow float64's 53-bit mantissa, and the min-label tie-break must
  order exactly like the flat path's min(id). ``id_ranks`` computes the
  rank scale-out (range repartition + O(P) driver offsets — never a
  single-partition global window); the converged ranks are mapped back to
  ids with one join.

Store contract: build the BlockedGraph from ``undirected_edges(edges)``
(distinct symmetric closure, self-loops dropped) — modal COUNTS, unlike
CC's min, are wrong under duplicate edges, so ``components_csr.symmetrize``
(which keeps duplicates) is NOT a valid input here.

Output matches linkgraph.labelprop.label_propagation EXACTLY (pinned by
tests/test_labelprop_csr.py and the graph_labelprop_blocked oracle row).
Reference parity: the reference's graph metrics are single-process
(/root/reference/src/ccm/graphs.py); this is the web-scale community
face of its per-component structure analysis.
"""

from __future__ import annotations

import os
import time
import uuid

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F

from . import native
from .caching import register_cache
from .lineage import truncate_plan
from .pagerank_csr import BlockedGraph, _load_block, _ranks_root
from .supersteps import (
    _write_npy_atomic,
    completed_steps,
    gather_in,
    map_blocks,
    read_blocks,
    run_steps,
    scatter_ranks,
    work_index,
)


def id_ranks(ids: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """ids(id) -> (id, rank): dense 0..n-1 rank in ascending id order.

    Scale-out dense rank: range-repartition by id, count per partition
    (O(P) scalars on the driver — never O(V)), then per-partition
    row_number + broadcast offset. The partition-tagged frame is persisted
    (registered with caching.register_cache) so partition identity is
    stable between the count job and the rank job; the caller releases it
    via caching.release_caches() after materializing downstream frames.
    """
    return _dense_ranks(ids.select("id"), "id", num_partitions)


def _dense_ranks(df: DataFrame, key: str,
                 num_partitions: int | None) -> DataFrame:
    """df(id, key) -> (id, rank): dense 0..n-1 rank in ascending ``key``
    order, by the scale-out shape ``id_ranks`` documents (also
    mis_csr.priority_ranks)."""
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    tagged = register_cache(
        df.repartitionByRange(num_partitions, key)
        .withColumn("pid", F.spark_partition_id())
        .persist()
    )
    counts = {
        int(r["pid"]): int(r["c"])
        for r in tagged.groupBy("pid").agg(F.count("*").alias("c")).collect()
    }
    rows, acc = [], 0
    for p in sorted(counts):
        rows.append((p, acc))
        acc += counts[p]
    offs = spark.createDataFrame(rows or [(0, 0)], "pid int, off long")
    w = Window.partitionBy("pid").orderBy(key)
    return tagged.join(F.broadcast(offs), "pid").select(
        "id", (F.row_number().over(w) - 1 + F.col("off")).alias("rank")
    )


def _vote_stats(stats: dict | None, done: list, ran: list, last: str,
                rdir: str) -> None:
    """Fill ``stats`` for a marker-resumable vote run (this module and
    community_csr): ``done`` are the resumed steps' (changed, kernel)
    marker records, ``ran`` the ``run_steps`` result of this call."""
    if stats is None:
        return
    sums = [(d[0], d[1]) for d in done] + [s for s, _ in ran]
    # resumed steps: no wall
    stats["step_secs"] = [0.0] * len(done) + [round(t, 3) for _, t in ran]
    # summed in-task block work (load + gather + vote + write) per
    # superstep: wall - kernel/slots ≈ scheduling/coordination, the
    # split the scaling-gate hygiene note reads
    stats["kernel_secs"] = [round(float(k), 3) for _, k in sums]
    stats["steps"] = len(sums)
    stats["changed"] = [int(c) for c, _ in sums]
    # benches checksum the final rank-space label files directly (this
    # host shares the transport dir) instead of paying the id decode
    stats["final_dir"] = last
    stats["run_dir"] = rdir


def label_propagation_blocked(
    spark,
    g: BlockedGraph,
    iterations: int = 5,
    keep_steps: int = 2,
    stats: dict | None = None,
    run_dir: str | None = None,
) -> DataFrame:
    """-> (id, label) after exactly ``iterations`` synchronous supersteps;
    ``label`` is a vertex id, bit-identical to the flat path's output.

    ``g`` MUST be built from ``undirected_edges(edges)`` (see module
    docstring). ``stats``, if given, receives ``step_secs`` (wall seconds
    per superstep job), ``steps``, and ``changed`` (labels changed per
    superstep) — the scaling bench reads these, so throughput is measured
    per-superstep INSIDE one run (round-3 estimator fix: no more
    differencing two runs whose base wall swings).

    ``run_dir`` names the run's checkpoint directory; a killed run handed
    the same ``run_dir`` RESUMES after its last completed superstep
    (marker contract of ``supersteps.completed_steps``; a partially
    written next step is simply recomputed — per-block files are atomic
    same-bytes rewrites). Resumed supersteps report ``step_secs`` 0.0
    and their recorded ``changed`` counts, the PageRank resume
    convention."""
    n_blocks, store, token = g.n_blocks, g.store_path, g.build_token
    rdir = run_dir or f"{_ranks_root(g)}/lp-{uuid.uuid4().hex[:12]}"
    os.makedirs(f"{rdir}/part", exist_ok=True)
    done = completed_steps(rdir) if run_dir else []
    start = len(done)
    if start > iterations:
        raise ValueError(
            f"run_dir {rdir} already holds {start} completed supersteps "
            f"> iterations={iterations}; pass iterations >= {start}")

    ranks = register_cache(
        truncate_plan(id_ranks(g.vmap.select("id"))).persist()
    )

    # step0: per-block initial label files = each vertex's own rank (the
    # only O(V) shuffle anywhere in this operator — init, not per-superstep)
    if start == 0:
        scatter_ranks(g, ranks, f"{rdir}/step0")

    work = work_index(g)

    def step(k, cur, nxt):
        def kernel(db, dsize, cache):
            t_k = time.perf_counter()
            old = np.load(f"{cur}/b{db}.npy")
            acc = old.copy()
            # full load (not mmap): gather kernels need a contiguous
            # array; label files are V/B doubles
            lab, dl = gather_in(
                _load_block(store, token, db, n_blocks), cache,
                lambda sb: np.load(f"{cur}/b{sb}.npy"),
            )
            if len(lab):
                native.modal_vote(dl, lab, acc)
            os.makedirs(nxt, exist_ok=True)
            _write_npy_atomic(f"{nxt}/b{db}.npy", acc)
            return int((acc != old).sum()), time.perf_counter() - t_k

        return map_blocks(work, kernel, "changed long, kern double")

    # completion marker AFTER the agg (resume contract, and it restores
    # this step's changed/kernel stats on resume)
    ran = run_steps(rdir, step, start, iterations, keep_steps, marker=True)
    last = f"{rdir}/step{iterations}"
    _vote_stats(stats, done, ran, last, rdir)

    final = read_blocks(g, last, {"flabel": "b"}).select(
        "id", F.col("flabel").cast("long").alias("flabel")
    )
    # rank -> owning vertex id: the inverse of the init mapping, one join
    owner = ranks.select(
        F.col("rank").alias("flabel"), F.col("id").alias("label")
    )
    return final.join(owner, "flabel").select("id", "label")
