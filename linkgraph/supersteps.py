"""Jobs-transport superstep runtime shared by every blocked-CSR operator.

Every ``*_csr`` operator runs the same vertex-program shape over the
block store (linkgraph.pagerank_csr): per-block state vectors live as
``.npy`` files under a run directory, and one superstep is ONE map-only
Spark job over a per-destination-block work index whose tasks run the
operator's kernel and return O(1) scalars per block. Nothing O(V) crosses
the Arrow boundary or a shuffle; per-superstep driver traffic is O(B)
scalar rows, summed on the driver in block order. This module owns that
machinery, so an operator only supplies its prep and its
per-destination-block kernel:

- ``fill_blocks`` / ``seed_blocks`` / ``scatter_ranks``: constant,
  seeded and per-vertex-rank step-0 vectors;
- ``work_index``: the (db, dsize) rows, dealt out strided to one task
  per core (``core_grant``);
- ``map_blocks``: one job running a kernel on every destination block,
  returning the per-block scalars summed by ``block_sums``;
- ``scatter_in`` / ``gather_in``: the in-edge walk of one destination
  block (source blocks with edges here, cached source vectors, the
  packed/wide/weighted native kernel dispatch);
- ``run_steps``: the step loop — step directories, the ``part/g<k>``
  completion marker, ``keep_steps`` cleanup, per-step wall time and a
  stop test on the summed scalars; ``completed_steps`` is its resume
  position;
- ``read_blocks``: the decode of per-block vectors to ``(id, ...)``.

The same pattern as Pregelix (PAPERS.md): vertex programs expressed as
generic dataflow supersteps under one runtime. PageRank's barrier
transport (all supersteps in one barrier job) stays in pagerank_csr; it
writes the same step files and markers, so a run may resume under
either transport.
"""

from __future__ import annotations

import itertools
import os
import shutil
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from . import native
from .lineage import truncate_plan

# kernel per (combiner, block layout): packed u32 words, wide int32
# (sl, dl) pairs, or wide pairs plus an aligned float64 weight array;
# every kernel takes (edge arrays..., source vector, accumulator)
_SCATTER = {
    "add": {
        "p": native.scatter_add_pack16,
        "w": native.scatter_add32,
        "wt": native.scatter_addw32,
    },
    "min": {
        "p": native.scatter_min_pack16,
        "w": native.scatter_min32,
        "wt": native.scatter_minw32,
    },
}


def _write_npy_atomic(path: str, arr: np.ndarray) -> None:
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "wb") as f:
        np.save(f, arr)
    os.replace(tmp, path)  # atomic; retried/speculative tasks are idempotent


def vmap_side(g) -> DataFrame:
    """The vertex-map side of a decode/seed join: broadcast when |V|
    (store metadata — no counting job) fits the broadcast cap; the plain
    frame otherwise (guide §3.1)."""
    from .joinhints import fits_broadcast

    return F.broadcast(g.vmap) if fits_broadcast(g.n) else g.vmap


def fill_blocks(g, out_dir: str, value: float) -> None:
    """Step-0 state from block sizes alone: ``{out_dir}/b<block>.npy`` =
    ``value`` everywhere (one job over the per-block metadata rows)."""

    def fill_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        os.makedirs(out_dir, exist_ok=True)
        for b, size in zip(pdf["block"], pdf["size"]):
            _write_npy_atomic(
                f"{out_dir}/b{int(b)}.npy",
                np.full(int(size), value, dtype=np.float64),
            )
        return pd.DataFrame({"block": [int(b) for b in pdf["block"]]})

    g.block_meta.groupBy("block").applyInPandas(
        fill_kernel, "block int"
    ).count()


def seed_blocks(g, pos: DataFrame, out_dir: str, fill: float,
                value: float) -> None:
    """Overwrite the step-0 file of every block holding a seed position
    of ``pos`` (its block, local columns): ``fill`` everywhere, ``value``
    at the seeds (one job over the seed rows; run after ``fill_blocks``,
    which covers the blocks without seeds)."""

    def seed_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        b = int(pdf["block"].iloc[0])
        arr = np.full(int(pdf["size"].iloc[0]), fill, dtype=np.float64)
        arr[pdf["local"].to_numpy(dtype=np.int64)] = value
        _write_npy_atomic(f"{out_dir}/b{b}.npy", arr)
        return pd.DataFrame({"block": [b]})

    (
        pos.select("block", "local")
        .join(g.block_meta.select("block", "size"), "block")
        .groupBy("block")
        .applyInPandas(seed_kernel, "block int")
        .count()
    )


def scatter_ranks(g, ranks: DataFrame, out_dir: str,
                  fills: dict[str, float] | None = None) -> None:
    """Step-0 vectors from per-vertex ranks: ``{out_dir}/b<block>.npy``
    holds the ``rank`` column of ``ranks`` (id, rank) at each vertex's
    local position; every ``fills`` directory gets a same-size vector of
    its constant in the same task (one job over ``g.vmap`` joined with
    ``ranks``, the operator's one O(V) init shuffle)."""
    fills = fills or {}

    def rank_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        b = int(pdf["block"].iloc[0])
        arr = np.empty(len(pdf), dtype=np.float64)
        arr[pdf["local"].to_numpy(dtype=np.int64)] = pdf["rank"].to_numpy(
            dtype=np.float64
        )
        os.makedirs(out_dir, exist_ok=True)
        _write_npy_atomic(f"{out_dir}/b{b}.npy", arr)
        for d, value in fills.items():
            os.makedirs(d, exist_ok=True)
            _write_npy_atomic(
                f"{d}/b{b}.npy", np.full(len(pdf), value, dtype=np.float64)
            )
        return pd.DataFrame({"block": [b]})

    (
        g.vmap.join(ranks, "id")
        .select("block", "local", "rank")
        .groupBy("block")
        .applyInPandas(rank_kernel, "block int")
        .count()
    )


def core_grant(sc) -> int:
    """Cores the application may run tasks on at once:
    ``spark.cores.max`` when set (a standalone cluster's grant, whose
    ``defaultParallelism`` is clamped to >= 2 and counts only the
    executors registered so far), else ``defaultParallelism``."""
    cores_max = sc.getConf().get("spark.cores.max")
    return int(cores_max) if cores_max else sc.defaultParallelism


def work_index(g) -> DataFrame:
    """Static per-superstep work index: ONE row (db, dsize) per
    destination block (the per-db offset index in the decoded store says
    which source blocks feed it; blocks with no in-edges still run their
    kernel each step), in ``P = min(B, core_grant)`` partitions: one
    superstep task per core, task k running the blocks with
    ``db % P == k`` (range partitioning on ``(db % P, db)``: exact when
    P divides B, else boundaries shift by a block or so).

    Tasks, not blocks, carry Spark's fixed per-task cost (a Python task
    costs ~0.3 s even when it does nothing), so B tasks per superstep
    made a superstep's wall time follow B instead of the graph. With one
    task per core nothing rebalances a superstep at run time, so the
    blocks are dealt out strided: under range blocking in-edges can pile
    up in a run of adjacent blocks (popular low ids, big hosts), and a
    contiguous run of B/P blocks would hand one task all of them (4
    cores, a 96M-edge store whose heaviest block held 8.5x the mean:
    label-propagation supersteps took 1.9 s strided, 2.5 s contiguous).
    A task shares one
    source-vector cache across its blocks (``map_blocks``), loading each
    source block at most once per superstep; that cache can reach the
    whole vertex vector, as it could for a single block under hash
    blocking. The repartition happens BEFORE truncation, so the cached
    LogicalRDD keeps its explicit partition count and a superstep job is
    a SINGLE mapInPandas stage — no exchange, hence nothing AQE could
    coalesce into one task."""
    p = min(g.n_blocks, core_grant(g.block_meta.sparkSession.sparkContext))
    return truncate_plan(
        g.block_meta.select(
            F.col("block").alias("db"), F.col("size").alias("dsize")
        ).repartitionByRange(p, F.col("db") % p, "db")
    )


def block_sums(rows) -> tuple:
    """Column sums of per-block scalar rows ``(block, v1, v2, ...)``,
    added in ascending block order: the reduction order follows the
    blocks, not the task layout or work stealing, so equal per-block
    values give bit-equal sums under either transport."""
    rows = sorted(rows, key=lambda r: r[0])
    return tuple(sum(col) for col in list(zip(*rows))[1:])


def map_blocks(work: DataFrame, kernel, schema: str) -> tuple:
    """Run ``kernel(db, dsize, cache) -> tuple of scalars`` on every row
    of ``work`` in ONE Spark job and return the per-column sums
    (``block_sums`` of the collected per-block rows), in ``schema`` order
    (e.g. ``"l1 double, dm double"``). ``cache`` is a per-task dict for
    source vectors shared by the blocks a task runs (see ``scatter_in``)."""
    names = [c.split()[0] for c in schema.split(",")]

    def task(batches):
        # one partition = whole db rows (physical clustering by the
        # pre-truncation repartition); batches never span partitions
        dfs = [b for b in batches if len(b)]
        if not dfs:
            return
        pdf = pd.concat(dfs, ignore_index=True)
        cache: dict = {}
        rows = [
            (int(db), *kernel(int(db), int(dsize), cache))
            for db, dsize in zip(pdf["db"], pdf["dsize"])
        ]
        yield pd.DataFrame(rows, columns=["block", *names])

    rows = work.mapInPandas(task, f"block int, {schema}").collect()
    # no rows: None per column, as Spark's sum over nothing
    return block_sums(rows) or (None,) * len(names)


def cached(cache: dict, key, load):
    """``cache[key]``, computed by ``load(key)`` on first use."""
    v = cache.get(key)
    if v is None:
        v = cache[key] = load(key)
    return v


def segments(offs: np.ndarray):
    """(sb, a, b) for every source block sb with edges into a destination
    block: rows [a, b) of its edge arrays (``offs`` is the B+1 prefix-sum
    index of the (sb, sl)-clustered block)."""
    for sb in np.flatnonzero(np.diff(offs)):
        yield sb, int(offs[sb]), int(offs[sb + 1])


def scatter_in(blk: tuple, cache: dict, load, acc: np.ndarray,
               op: str = "add") -> np.ndarray:
    """In-edge walk of one destination block: ``acc[dl] (op)= vs[sl]``
    over every edge, ``vs`` the source block's vector from
    ``cached(cache, sb, load)``. ``blk`` is a loaded block — ("p", offs,
    e) packed, ("w", offs, sl, dl) wide, or ("wt", offs, sl, dl, w)
    weighted (``op`` "add" then multiplies by w, "min" adds it)."""
    fn = _SCATTER[op][blk[0]]
    for sb, a, b in segments(blk[1]):
        fn(*(arr[a:b] for arr in blk[2:]), cached(cache, sb, load), acc)
    return acc


def gather_in(blk: tuple, cache: dict, load) -> tuple:
    """Every in-edge's source value, materialized: -> (lab, dl), lab[i]
    = vs[sl[i]] float64 and dl[i] its int32 destination local, in store
    order (the vote kernels' input: a mode has no streaming combiner)."""
    labs, dls = [], []
    for sb, a, b in segments(blk[1]):
        vs = cached(cache, sb, load)
        if blk[0] == "p":
            lab, dl = native.gather_labels_pack16(blk[2][a:b], vs)
        else:
            lab = native.gather_labels32(blk[2][a:b], vs)
            dl = np.ascontiguousarray(blk[3][a:b], dtype=np.int32)
        labs.append(lab)
        dls.append(dl)
    if not labs:
        return np.empty(0, dtype=np.float64), np.empty(0, dtype=np.int32)
    return np.concatenate(labs), np.concatenate(dls)


def completed_steps(rdir: str) -> list[np.ndarray]:
    """Contiguous prefix of per-step marker records in ``rdir`` —
    ``part/g<k>.npy`` is written AFTER superstep k's aggregate returns
    (or, under the barrier transport, after every slot finished step k),
    so its presence proves every block's step-k+1 file landed. The prefix
    length is exactly the resumable position."""
    out = []
    k = 0
    while os.path.exists(f"{rdir}/part/g{k}.npy"):
        out.append(np.load(f"{rdir}/part/g{k}.npy"))
        k += 1
    return out


def run_steps(
    rdir: str,
    step,
    start: int,
    end: int | None,
    keep_steps: int = 2,
    stop=None,
    dirs: tuple = ("step",),
    marker: bool = False,
) -> list:
    """Run supersteps ``start .. end-1`` (``end=None``: until ``stop``).

    ``step(k, cur, nxt)`` runs superstep k's job(s), reading
    ``cur = {rdir}/{dirs[0]}{k}`` and writing ``nxt`` (k+1), and returns
    its summed scalars. After each step: with ``marker`` the sums are
    written as the ``part/g<k>.npy`` completion record (the resume
    position, ``completed_steps``), the ``dirs`` of step
    ``k - keep_steps + 1`` are removed, and ``stop(sums)`` true ends the
    loop. -> [(sums, wall seconds)] per superstep run."""
    out = []
    ks = itertools.count(start) if end is None else range(start, end)
    for k in ks:
        t0 = time.perf_counter()
        sums = step(k, f"{rdir}/{dirs[0]}{k}", f"{rdir}/{dirs[0]}{k + 1}")
        if marker:
            _write_npy_atomic(
                f"{rdir}/part/g{k}.npy", np.array(sums, dtype=np.float64)
            )
        stale = k - keep_steps + 1
        if stale >= 0:
            for d in dirs:
                shutil.rmtree(f"{rdir}/{d}{stale}", ignore_errors=True)
        out.append((sums, time.perf_counter() - t0))
        if stop is not None and stop(sums):
            break
    return out


def read_blocks(
    g, step_dir: str, columns: dict, types: dict | None = None
) -> DataFrame:
    """-> (id, <name>...) decoded from per-block vectors: one column per
    ``columns`` item ``name -> prefix``, read from
    ``{step_dir}/{prefix}{block}.npy`` (arrays of double unless ``types``
    maps the name to another Spark type), joined to ids through the
    vertex map (``vmap_side``)."""
    names = list(columns)
    types = types or {}

    def read_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for b in pdf["block"]:
            b = int(b)
            out.append((
                b, *(np.load(f"{step_dir}/{columns[c]}{b}.npy") for c in names)
            ))
        return pd.DataFrame(out, columns=["block", *names])

    schema = ", ".join(
        f"{c} array<{types.get(c, 'double')}>" for c in names
    )
    return (
        g.block_meta.groupBy("block")
        .applyInPandas(read_kernel, f"block int, {schema}")
        .select(
            "block", F.posexplode(F.arrays_zip(*names)).alias("local", "z")
        )
        .select("block", "local", *[F.col(f"z.{c}").alias(c) for c in names])
        .join(vmap_side(g), ["block", "local"])
        .select("id", *names)
    )
