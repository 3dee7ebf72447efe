"""N -> 4N executor scaling evidence for one operator on a real cluster.

    python scripts/bench_scaling.py <op>      # op: one of OPS below

Starts a Spark standalone master plus CPU-pinned workers on localhost and
spark-submits scripts/cluster_job.py (shipped with --py-files
dist/linkgraph.zip) at two cluster sizes, BENCH_REPS times:

    N  = spark.cores.max=1 -> 1 executor x 1 core
    4N = spark.cores.max=4 -> 4 executors x 1 core

The protocol is the same for every operator:
- each measurement worker is `taskset`-pinned to its own physical core;
  executor JVMs and their forked Python workers inherit the affinity, so
  "N cores" means N cores at both levels. Master and the submitting
  driver run on CONTROL_CPUS, outside every measurement set;
- the operator's input (block store, decoded sidecars) is built once by
  an unpinned full-width prep run, so both levels of every repetition
  load byte-identical input;
- both levels of every repetition must agree on the operator's
  agreement fields (answers that do not depend on the cluster size). A
  repetition is appended to BENCH/<op>_runs.jsonl only after it passes,
  and a rerun resumes from that file: with BENCH_REPS repetitions
  recorded no cluster starts, and the section is regenerated from the
  file (delete it, or raise BENCH_REPS, to measure fresh repetitions);
- per-run efficiency = (throughput_4N / throughput_N) / 4; the gate is
  the median over repetitions.

The result replaces the operator's own section of BENCH/BASELINE.md and
nothing else. BENCH_* environment variables override the operator's
defaults in OPS. Run with nothing else on the machine.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass
from pathlib import Path
from types import SimpleNamespace
from typing import Callable

import pyspark

REPO = Path(__file__).resolve().parent.parent
SPARK_HOME = Path(pyspark.__file__).parent
MASTER = "spark://127.0.0.1:7077"
NPY_DIR = "/dev/shm/linkgraph-npy"
RANKS_DIR = "/dev/shm/linkgraph-ranks"
# Level shape: N = 1 executor x 1 core, 4N = 4 executors x 1 core, each
# worker taskset-pinned to its OWN single physical core. Measured hardware
# context (pure-python embarrassingly-parallel burn, no Spark): this
# shared virtualized host clocks down as active-core count grows — 4->16
# active cores caps even ideal scaling at ~0.75-0.83, while 1->4 active
# cores sustains ~0.91. A real cluster adds NODES at constant frequency,
# so the 1-core-executor shape is the configuration whose hardware
# ceiling least distorts the ENGINE's scaling (and "N vs 4N executors"
# is exactly the north rule's unit).
EXECUTOR_CORES = 1
EXECUTOR_MEM = "4g"
WORKER_CPU_SETS = ["0", "1", "2", "3"]
CONTROL_CPUS = "16-31"  # master + driver; outside every measurement set
LEVELS = {
    EXECUTOR_CORES: "1 executor x 1 core (pinned to its own core)",
    4 * EXECUTOR_CORES: "4 executors x 1 core (pinned, one per core)",
}
LO, HI = (str(c) for c in LEVELS)  # level keys of a recorded repetition

ENV = {
    **os.environ,
    "SPARK_HOME": str(SPARK_HOME),
    # build-phase shuffles are tens of GB at 1.3B edges: keep them on real
    # disk so tmpfs stays free for the block store + rank files (the
    # superstep itself barely shuffles — file-based transport)
    "SPARK_LOCAL_DIRS": "/tmp/linkgraph-cluster-local",
    "LINKGRAPH_NPY_DIR": NPY_DIR,
    "LINKGRAPH_RANKS_DIR": RANKS_DIR,
    "SPARK_LOG_DIR": "/tmp/linkgraph-cluster-logs",
    "SPARK_NO_DAEMONIZE": "1",
    "PYSPARK_PYTHON": sys.executable,
    "PYSPARK_DRIVER_PYTHON": sys.executable,
}


@dataclass(frozen=True)
class Metric:
    rate: str  # per-level throughput key of the RESULT json
    secs: str  # per-level time key shown in the per-run table
    label: str  # gate-table workload name
    secs_col: str  # per-run table column headers
    eff_col: str = "eff"


@dataclass(frozen=True)
class Op:
    run_mode: str  # cluster_job.py mode of one measured level
    prep_mode: str | None  # cluster_job.py mode of the full-width prep
    knobs: dict  # BENCH_* defaults
    metrics: tuple[Metric, ...]
    agree: tuple[str, ...]  # RESULT fields every level of every rep shares
    marker: str  # first line of the operator's BASELINE.md section
    text: Callable[[SimpleNamespace], str]  # the section
    last_line: str | None = None  # section end; default: next '## ' header
    run_mem: str | None = None  # executor memory of a measured level


def knobs(n_vertices, avg_deg, supersteps, reps, store, bench_round,
          n_pages=1000, n_blocks=256) -> dict:
    """An operator's BENCH_* defaults (``settings`` applies overrides)."""
    return {
        "BENCH_N_VERTICES": n_vertices, "BENCH_AVG_DEG": avg_deg,
        "BENCH_SUPERSTEPS": supersteps, "BENCH_N_PAGES": n_pages,
        "BENCH_N_BLOCKS": n_blocks, "BENCH_REPS": reps,
        "BENCH_STORE": store, "BENCH_INTRA_HOST": 0.9,
        "BENCH_ROUND": bench_round,
    }


def settings(op: Op) -> dict[str, str]:
    """The operator's knobs, each overridden by its environment variable."""
    return {k: os.environ.get(k, str(v)) for k, v in op.knobs.items()}


def _pagerank_text(c) -> str:
    cfg, runs = c.cfg, c.runs
    supersteps = int(cfg["BENCH_SUPERSTEPS"])
    lo_c, hi_c = LEVELS

    def best(rate: str) -> str:
        lo = max(r[LO][rate] for r in runs)
        hi = max(r[HI][rate] for r in runs)
        return f"{lo:,} | {hi:,} | {(hi / lo) / 4:.2f}"

    return f"""# BENCH/BASELINE.md — measured scaling evidence

North rule: throughput scaling efficiency >= 0.8 from N to 4N executors,
run via spark-submit --py-files on a multi-executor cluster at two cluster
sizes. Sandbox evidence: a REAL Spark standalone cluster on localhost
(separate master, worker, and executor JVMs), same deterministic input,
same executor shape ({EXECUTOR_CORES} core(s) / {EXECUTOR_MEM}) at both
levels — only the executor count changes:

- N  = {LEVELS[lo_c]} (spark.cores.max={lo_c})
- 4N = {LEVELS[hi_c]} (spark.cores.max={hi_c})

**CPU isolation**: each measurement worker is `taskset`-pinned to its own
single physical core (cores {', '.join(WORKER_CPU_SETS)}); executors and
their forked Python workers inherit the affinity, so "N cores" means
exactly N cores at BOTH levels (an unpinned executor otherwise bursts
GC/shuffle threads onto idle cores and inflates the efficiency
denominator). Master and driver are pinned to cores {CONTROL_CPUS},
outside every measurement set. {len(runs)} independent repetitions of the
full two-level experiment, machine otherwise idle.

**Why 1-core executors**: measured on this shared virtualized host, even
an embarrassingly-parallel pure-python CPU burn (no Spark, no shared
state) scales 4->16 active cores at only ~0.75-0.83 — the host clocks
down as active-core count grows — while 1->4 active cores sustains
~0.91. A real cluster adds NODES at constant per-core frequency, so the
1-core-executor shape is the level pair whose hardware ceiling least
distorts the ENGINE's measured scaling; "N executors vs 4N executors"
is exactly the north rule's unit, with executor shape held constant.

Submitted with `spark-submit --master {MASTER} --py-files
dist/linkgraph.zip scripts/cluster_job.py` (the engine's shipping
mechanism).

Input: synthetic power-law web graph, {int(cfg['BENCH_N_VERTICES']):,} vertices,
{c.first['n_edges']:,} edges, {float(cfg['BENCH_INTRA_HOST']):.0%} intra-host links
(linkgraph.synthgraph, seed 42 — host locality per published Common-Crawl
measurements; host-clustered ids), compacted ONCE into a {cfg['BENCH_N_BLOCKS']}-block
range-blocked CSR store (linkgraph.pagerank_csr.build_blocked, full-width
unpinned prep run) that BOTH levels of every repetition load —
byte-identical input, so the timing isolates superstep throughput;
{int(cfg['BENCH_N_PAGES']):,} synthesized HTML pages for the extraction path. PageRank runs
the engine's scale path: blocked CSR with packed-u32 edge words, per-host
JIT-compiled native scatter-add kernel (linkgraph.native), pre-scaled
rank files, ONE barrier-scheduled job for all supersteps with file-based
rendezvous and work-stealing block claims — bit-matched to the flat
DataFrame path and networkx by tests/test_pagerank_csr.py.
Per-run PageRank throughput = edges/sec per superstep at steady state
(median of the last {supersteps - supersteps // 2} of {supersteps} supersteps); per-run
extraction throughput = pages/sec, best of two timed passes after a
slice warm-up (additive-noise model: contention only slows a pass).

## Gate: PER-RUN estimator (median over {len(runs)} repetitions)

{c.gate}

Reading the PageRank ratios: values slightly above 1.0 are expected for
this superstep design, not an artifact to clip — the single-slot N level
serializes per-superstep work that is embarrassingly parallel at 4N
(256 rank-block npy writes, per-source-block mmap opens, the coordinator
reduce), and a single core has less memory-level parallelism than four
independent ones. The spread brackets the ideal 1.0: the engine's
superstep adds no measurable N->4N coordination cost (no shuffle, no
barrier RPC, O(B) scalar rendezvous files), which is precisely what the
gate tests.

## All repetitions

{c.per_run}

## Best-per-level (secondary, least-contaminated estimate)

| workload | metric | N | 4N | efficiency |
|---|---|---|---|---|
| PageRank superstep | edges/sec | {best('pagerank_edges_per_sec')} |
| link extraction | pages/sec | {best('extract_pages_per_sec')} |

Method notes:
- Separate executor JVMs (not local[N] threads): a single shared heap
  makes memory-heavy stages anti-scale with thread count (GC and the
  block manager are shared); independent JVMs are the faithful analogue
  of adding cluster nodes.
- All executors share one machine's memory bandwidth, L3, and loopback —
  a true 4N-node cluster adds those resources per node; these numbers are
  a LOWER bound on real scaling. The 4N level uses half the box's 32
  cores; the driver/OS live on the other half.
- Efficiency = (throughput_4N / throughput_N) / 4.
- {c.reproduce}

Raw (all {len(runs)} repetitions): {json.dumps(runs)}"""


OPS: dict[str, Op] = {
    "pagerank": Op(
        run_mode="run", prep_mode="prep",
        knobs=knobs(16_000_000, 84, 20, 6, "/tmp/linkgraph-cluster-store",
                    "round 2", n_pages=600_000),
        metrics=(
            Metric("pagerank_edges_per_sec", "pagerank_sec_per_superstep",
                   "PageRank superstep", "PR sec/superstep N -> 4N",
                   "PR eff"),
            Metric("extract_pages_per_sec", "extract_sec",
                   "link extraction (pandas UDF)", "extract sec N -> 4N",
                   "extract eff"),
        ),
        agree=("n_edges", "n_links"),
        marker="# BENCH/BASELINE.md — measured scaling evidence",
        last_line="Raw (all ",
        text=_pagerank_text,
    ),
    # symmetrization doubles the stored edge count, so the graph is half
    # the PageRank gate's scale; SUPERSTEPS is CC's max_iter cap
    "cc": Op(
        run_mode="run-cc", prep_mode="prep-cc",
        knobs=knobs(8_000_000, 42, 40, 3, "/tmp/linkgraph-cluster-store-cc",
                    "round 3"),
        metrics=(Metric("cc_edges_per_sec", "cc_sec_per_superstep",
                        "CC min-label superstep", "CC sec/superstep N -> 4N",
                        "CC eff"),),
        agree=("n_edges", "n_components"),
        marker="## Connected-components scaling",
        text=lambda c: f"""## Connected-components scaling ({c.round}, same protocol)

Same cluster, pinning, estimator, and level shape as the PageRank gate
above; the workload is the CC scale path
(`linkgraph.components_csr.connected_components_blocked`): min-label
scatter supersteps over a SYMMETRIZED range-blocked CSR store
({c.cfg['BENCH_N_VERTICES']} vertices, {c.first['n_edges']:,} stored
(symmetrized) edges, {c.cfg['BENCH_N_BLOCKS']} blocks, built once
at full width, decode-warmed in prep). Converges in {c.first['cc_n_steps']} supersteps;
per-run throughput = edges/sec at the median of the last half of the
supersteps; every run at BOTH levels agrees on the component count
({c.first['n_components']:,}) — the levels compute the same answer, byte-identical
input.

{c.gate}

{c.per_run}

{c.reproduce}""",
    ),
    # flat shuffle jobs at 1 core are ~10-20x slower per edge than the
    # blocked-CSR kernel: the graph is sized well below the CC gate's;
    # SUPERSTEPS is LP's k_hi (k_lo = 1); no store, so no prep
    "lptri": Op(
        run_mode="run-lptri", prep_mode=None, run_mem="6g",
        knobs=knobs(1_000_000, 12, 6, 3, "/tmp/linkgraph-cluster-store-lptri",
                    "round 3", n_blocks=16),
        metrics=(
            Metric("lp_edges_per_sec", "lp_sec_per_superstep",
                   "LP superstep (edge traversals/sec)",
                   "LP sec/superstep N -> 4N", "LP eff"),
            Metric("tri_edges_per_sec", "tri_sec",
                   "triangle count (edges/sec)", "tri sec N -> 4N",
                   "tri eff"),
        ),
        agree=("n_edges", "lp_check", "n_triangles"),
        marker="## Label propagation + triangle counting scaling",
        text=lambda c: f"""## Label propagation + triangle counting scaling ({c.round}, same protocol)

Same cluster, pinning, and level shape as the PageRank gate; the
workloads are the two FLAT shuffle-on-key paths the north rule names —
modal-label BSP label propagation (one join + two map-side-partial
aggregations per superstep) and degree-ordered oriented triangle
counting — over a deterministic power-law graph
({c.cfg['BENCH_N_VERTICES']} vertices, {c.first['n_edges']:,} directed edges,
seed 42) that both levels regenerate and persist before timing. These
exercise Spark's executor-to-executor shuffle itself, not the blocked
CSR kernel. LP per-superstep cost = marginal wall between a 1- and a
{c.cfg['BENCH_SUPERSTEPS']}-iteration run (Δwall/Δiters, min of two
passes per point: cancels synth + one-time edge-side partition+persist +
warmup); triangles = min of two passes. Both levels agree on the label
checksum and the triangle total ({c.first['n_triangles']:,}) in every repetition.

{c.gate}

{c.per_run}

{c.reproduce}""",
    ),
    # modal vote materializes every incoming label per superstep (no
    # streaming combiner exists for a mode), so per-edge cost is several x
    # CC's scatter-min: same graph shape as the CC gate, fewer supersteps
    "lpblk": Op(
        run_mode="run-lpblk", prep_mode="prep-lpblk",
        knobs=knobs(8_000_000, 42, 8, 4, "/tmp/linkgraph-cluster-store-lpblk",
                    "round 4"),
        metrics=(Metric("lp_edges_per_sec", "lp_sec_per_superstep",
                        "LP modal-vote superstep (blocked)",
                        "LP sec/superstep N -> 4N", "LP eff"),),
        agree=("n_edges", "lp_check", "lp_changed"),
        marker="## Label propagation scaling — blocked store",
        text=lambda c: f"""## Label propagation scaling — blocked store ({c.round}, same protocol)

Same cluster, pinning, and level shape as the PageRank gate; the workload
is LP's scale path (`linkgraph.labelprop_csr.label_propagation_blocked`,
bit-identical to the flat join+agg path by tests/test_labelprop_csr.py
and the `graph_labelprop_blocked` oracle row): modal-vote native-kernel
supersteps over a blocked-CSR store built ONCE at full width from the
DISTINCT symmetric closure ({c.cfg['BENCH_N_VERTICES']} vertices,
{c.first['n_edges']:,} stored undirected edges, {c.cfg['BENCH_N_BLOCKS']}
blocks) — zero shuffle per superstep. This replaces the flat-path LP gate
(previous section), which failed at median 0.40 for the two reasons
diagnosed there: per-superstep |E|-row exchange contending on shared
memory bandwidth, and a Δwall-between-runs estimator whose 1-iteration
base wall swung 404->634s. Both are fixed structurally here: no exchange,
and per-superstep walls are recorded INSIDE one run
(stats["step_secs"], the CC gate's estimator); per-run throughput =
stored edges/sec at the median of the last half of {c.first['lp_n_steps']} supersteps.
Every repetition's two levels agree on the final-label checksum AND the
per-superstep changed-label counts (validated before the rep is
persisted to BENCH/lpblk_runs.jsonl).

{c.gate}

{c.per_run}

{c.reproduce}""",
    ),
    # the merge kernel streams ~2x the stored pair set per count (both
    # endpoint adjacency lists), far cheaper per edge than LP's modal vote:
    # same graph shape as the LP/CC gates; one pass, so SUPERSTEPS is unused
    "triblk": Op(
        run_mode="run-triblk", prep_mode="prep-triblk",
        knobs=knobs(8_000_000, 42, 2, 3, "/tmp/linkgraph-cluster-store-triblk",
                    "round 4"),
        metrics=(Metric("tri_pairs_per_sec", "tri_sec",
                        "triangle count (blocked, one map stage)",
                        "count wall N -> 4N (s)"),),
        agree=("n_pairs", "n_triangles"),
        marker="## Triangle-count scaling — blocked store",
        text=lambda c: f"""## Triangle-count scaling — blocked store ({c.round}, same protocol)

Same cluster, pinning, and level shape as the PageRank/CC/LP gates; the
workload is the blocked triangle path
(`linkgraph.triangles_csr.triangle_total_blocked`, per-vertex counts
bit-identical to the flat wedge join by tests/test_triangles_csr.py and
the `graph_triangles_blocked` oracle row): ONE map-only stage of native
sorted-merge intersections over a per-block oriented-CSR store built
ONCE at full width ({c.cfg['BENCH_N_VERTICES']} vertices,
{c.first['n_pairs']:,} stored oriented pairs, {c.cfg['BENCH_N_BLOCKS']}
blocks, triangle total {c.first['n_triangles']:,}) — zero shuffle;
the only cross-task traffic is B scalar rows. This is the scale-path
counterpart of the flat-path gate (which passed at 0.90 median but with
0.83-1.11 rep variance and 8-13 min walls at 45.7M edges; the blocked
walls below are on a {c.first['n_pairs'] / 45_700_000:.0f}x larger pair set). The
workload is one pass, so the estimator is the count-job wall (two passes
per level, min); both levels must report the identical triangle total
before a rep is persisted.

{c.gate}

{c.per_run}

{c.reproduce}""",
    ),
    # SUPERSTEPS is the bounded hop count
    "sspblk": Op(
        run_mode="run-sspblk", prep_mode="prep-sspblk",
        knobs=knobs(8_000_000, 42, 6, 3, "/tmp/linkgraph-cluster-store-sspblk",
                    "round 4"),
        metrics=(Metric("ssp_edges_per_sec", "ssp_sec_per_superstep",
                        "weighted SSSP relaxation (blocked)",
                        "SSSP sec/superstep N -> 4N"),),
        agree=("n_edges", "ssp_check", "ssp_reached"),
        marker="## Weighted SSSP scaling — blocked store",
        text=lambda c: f"""## Weighted SSSP scaling — blocked store ({c.round}, same protocol)

Same cluster, pinning, and level shape as the PageRank/CC/LP gates; the
workload is the weighted scatter-min kernel family's scale path
(`linkgraph.sssp.sssp_blocked` + `native.scatter_minw32`, bit-identical
to the flat Bellman-Ford by tests/test_sssp.py and the
`graph_sssp3_blocked` oracle row; `graph_voronoi3_blocked` rides the
same kernel): {c.first['ssp_n_steps']} bounded relaxation supersteps over the DIRECTED
blocked store's weight-aligned sidecar
({c.cfg['BENCH_N_VERTICES']} vertices, {c.first['n_edges']:,} weighted edges,
{c.cfg['BENCH_N_BLOCKS']} blocks, seeds = ids % 1009 == 0) — zero
shuffle per superstep; the weighted kernel streams the extra float64
cost array (8B/edge more than the CC gate's unweighted scatter-min).
Per-superstep walls from INSIDE one run; per-run throughput = weighted
edges/sec at the median of the last half of the supersteps. Every
repetition's two levels agree on per-step reached counts AND the
final-distance checksum (validated before the rep is persisted to
BENCH/sspblk_runs.jsonl).

{c.gate}

{c.per_run}

{c.reproduce}""",
    ),
    "wprblk": Op(
        run_mode="run-wprblk", prep_mode="prep-wprblk",
        knobs=knobs(8_000_000, 42, 6, 3, "/tmp/linkgraph-cluster-store-wprblk",
                    "round 4"),
        metrics=(Metric("wpr_edges_per_sec", "wpr_sec_per_superstep",
                        "weighted PageRank superstep (blocked)",
                        "WPR sec/superstep N -> 4N"),),
        agree=("n_edges", "wpr_check"),
        marker="## Weighted PageRank scaling — blocked store",
        text=lambda c: f"""## Weighted PageRank scaling — blocked store ({c.round}, same protocol)

Same cluster, pinning, and level shape as the PageRank/CC/LP gates; the
workload is the weighted scatter-ADD kernel's scale path
(`linkgraph.wpagerank_csr.wpagerank_blocked` + `native.scatter_addw32`,
bit-matched to the flat pagerank_weighted by tests/test_wpagerank_csr.py
and the `graph_wpagerank2_blocked` oracle row): {c.first['wpr_n_steps']} fixed weighted
supersteps — contrib = scaled_rank(src) * w fused in one C loop — over
the SUM-collapsed weight sidecar of the DIRECTED blocked store
({c.cfg['BENCH_N_VERTICES']} vertices, {c.first['n_edges']:,} weighted edges,
{c.cfg['BENCH_N_BLOCKS']} blocks) — zero shuffle per superstep.
Per-superstep walls from INSIDE one run; per-run throughput = weighted
edges/sec at the median of the last half of the supersteps. Every
repetition's two levels agree on a raw-bits checksum of the final rank
vectors (per-block vectors are pure functions of step inputs, so they
are bit-identical across cluster sizes; validated before the rep is
persisted to BENCH/wprblk_runs.jsonl). With this gate every kernel
family in the engine carries a directly measured number: scatter-add
1.06, scatter-min 0.93, modal-vote 0.94, sorted-merge 0.98,
weighted-min 0.93, weighted-add below.

{c.gate}

{c.per_run}

{c.reproduce}""",
    ),
    # louvain_vote sorts (label, tot) pairs per dst segment — several x
    # LP's modal vote per edge — and adds the per-round Σtot stripe
    # reduction, so the graph is sized below the LP gate's to keep a
    # 3-rep session ~1h; SUPERSTEPS is the local-move round count
    "louvblk": Op(
        run_mode="run-louvblk", prep_mode="prep-louvblk",
        knobs=knobs(6_000_000, 36, 6, 3, "/tmp/linkgraph-cluster-store-louvblk",
                    "round 5"),
        metrics=(Metric("lv_edges_per_sec", "lv_sec_per_superstep",
                        "Louvain local-move round (blocked)",
                        "Louvain sec/round N -> 4N"),),
        agree=("n_edges", "lv_check", "lv_changed"),
        marker="## Louvain scaling — blocked store",
        text=lambda c: f"""## Louvain scaling — blocked store ({c.round}, same protocol)

Same cluster, pinning, and level shape as the PageRank/CC/LP gates; the
workload is Louvain's scale path
(`linkgraph.community_csr.louvain_blocked`, bit-identical to the flat
join+agg rounds by tests/test_community_csr.py and the
`graph_louvain_blocked` oracle row): per round, a stripe-summed Σtot
sidecar job plus the `native.louvain_vote` counting-sort kernel over a
blocked-CSR store built ONCE at full width from the DISTINCT symmetric
closure ({c.cfg['BENCH_N_VERTICES']} vertices, {c.first['n_edges']:,} stored
undirected edges, {c.cfg['BENCH_N_BLOCKS']} blocks) — zero shuffle
per round. This closes round-4 verdict item #1: the flat Louvain round
is the same per-superstep |2E|-exchange shape that measured 0.40 as flat
LP; the blocked port removes the exchange entirely. Per-run throughput =
stored edges/sec at the median of the last half of {c.first['lv_n_steps']} rounds,
recorded INSIDE one run. Every repetition's two levels agree on the
final-label checksum AND the per-round changed-label counts (validated
before the rep is persisted to BENCH/louvblk_runs.jsonl).

{c.gate}

{c.per_run}

{c.reproduce}""",
    ),
}


def spark_class(*args, cpus: str | None = None):
    cmd = [str(SPARK_HOME / "bin" / "spark-class"), *args]
    if cpus:
        cmd = ["taskset", "-c", cpus, *cmd]
    return subprocess.Popen(
        cmd, env=ENV, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        preexec_fn=os.setsid,
    )


def start_worker(cores: int, mem: str, port: int, cpus: str | None):
    return spark_class(
        "org.apache.spark.deploy.worker.Worker", MASTER,
        "--cores", str(cores), "--memory", mem,
        "--webui-port", str(port),
        cpus=cpus,
    )


def submit(
    cfg: dict[str, str],
    cores_max: int,
    mode: str,
    timeout: int = 5400,
    exec_cores: int | None = None,
    exec_mem: str | None = None,
) -> dict:
    exec_cores = exec_cores or EXECUTOR_CORES
    exec_mem = exec_mem or EXECUTOR_MEM
    cmd = [
        "taskset", "-c", CONTROL_CPUS,
        str(SPARK_HOME / "bin" / "spark-submit"),
        "--master", MASTER,
        "--deploy-mode", "client",
        "--py-files", str(REPO / "dist" / "linkgraph.zip"),
        "--conf", f"spark.cores.max={cores_max}",
        "--conf", f"spark.executor.cores={exec_cores}",
        "--conf", f"spark.executor.memory={exec_mem}",
        # every executor JVM must size its GC/thread pools for ITS core
        # slice, not the whole machine
        "--conf", "spark.executor.extraJavaOptions="
                  f"-XX:ActiveProcessorCount={max(exec_cores, 1)} "
                  f"-XX:ParallelGCThreads={max(exec_cores, 1)} -XX:ConcGCThreads=2",
        "--conf", "spark.driver.memory=8g",
        "--conf", "spark.sql.shuffle.partitions=128",
        "--conf", "spark.sql.adaptive.enabled=true",
        "--conf", "spark.sql.execution.arrow.pyspark.enabled=true",
        "--conf", "spark.python.worker.reuse=true",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.executorEnv.LINKGRAPH_NPY_DIR={NPY_DIR}",
        "--conf", f"spark.executorEnv.LINKGRAPH_RANKS_DIR={RANKS_DIR}",
        str(REPO / "scripts" / "cluster_job.py"),
        *(cfg[k] for k in ("BENCH_N_VERTICES", "BENCH_AVG_DEG",
                           "BENCH_SUPERSTEPS", "BENCH_N_PAGES",
                           "BENCH_N_BLOCKS", "BENCH_STORE")),
        mode, cfg["BENCH_INTRA_HOST"],
    ]
    proc = subprocess.run(cmd, env=ENV, capture_output=True, text=True,
                          cwd=str(REPO), timeout=timeout)
    for line in proc.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    print(proc.stdout[-2000:], file=sys.stderr)
    print(proc.stderr[-4000:], file=sys.stderr)
    raise SystemExit(f"submit cores.max={cores_max} produced no RESULT")


def _kill(p):
    try:
        os.killpg(os.getpgid(p.pid), signal.SIGTERM)
    except Exception:
        pass


@contextmanager
def cluster(cfg: dict[str, str], prep_mode: str | None):
    """A fresh package and master; the prep run (when given) through a
    temporary unpinned full-width worker; then one pinned 1-core worker
    per measurement core. Everything started is killed on exit."""
    subprocess.run(  # always repackage: a stale zip ships stale engine code
        [sys.executable, str(REPO / "scripts" / "make_package.py")], check=True
    )
    os.makedirs(ENV["SPARK_LOG_DIR"], exist_ok=True)
    procs = [spark_class(
        "org.apache.spark.deploy.master.Master",
        "--host", "127.0.0.1", "--port", "7077", "--webui-port", "8090",
        cpus=CONTROL_CPUS,
    )]
    try:
        time.sleep(6)
        if prep_mode:
            procs.append(start_worker(32, "80g", 8099, cpus=None))
            time.sleep(6)
            print(f"prep: {prep_mode} (builds/validates the store) ...",
                  file=sys.stderr)
            print(submit(cfg, 32, prep_mode, timeout=7200, exec_cores=4,
                         exec_mem="6g"), file=sys.stderr)
            _kill(procs.pop())
            time.sleep(4)
        procs += [
            start_worker(EXECUTOR_CORES, "8g", 8091 + i, cpus=cpus)
            for i, cpus in enumerate(WORKER_CPU_SETS)
        ]
        time.sleep(6)
        yield
    finally:
        for p in reversed(procs):
            _kill(p)


def load_runs(runs_file: Path) -> list[dict]:
    if not runs_file.exists():
        return []
    return [json.loads(line) for line in runs_file.read_text().splitlines()
            if line.strip()]


def validate(op: Op, runs: list[dict]) -> None:
    """Both levels of every repetition report the same agreement fields.
    Run before a repetition is appended: a divergent one raises here
    instead of being persisted and re-failing every resume."""
    for field in op.agree:
        seen = {json.dumps(r[lvl][field]) for r in runs for lvl in (LO, HI)}
        if len(seen) > 1:
            raise ValueError(f"levels disagree on {field}: {sorted(seen)}")


def measure(op: Op, cfg: dict[str, str], runs: list[dict],
            runs_file: Path) -> None:
    """Run the repetitions missing from ``runs``, appending each one to
    ``runs`` and ``runs_file`` once it validates."""
    with cluster(cfg, op.prep_mode):
        for rep in range(len(runs), int(cfg["BENCH_REPS"])):
            run = {"rep": rep}
            for cores_max, shape in LEVELS.items():
                print(f"rep {rep}: cores.max={cores_max} ({shape}) ...",
                      file=sys.stderr)
                run[str(cores_max)] = submit(cfg, cores_max, op.run_mode,
                                             exec_mem=op.run_mem)
                print(run[str(cores_max)], file=sys.stderr)
                # purge this run's rank-file checkpoints (tmpfs)
                shutil.rmtree(RANKS_DIR, ignore_errors=True)
            validate(op, runs + [run])
            with open(runs_file, "a") as f:
                f.write(json.dumps(run) + "\n")
            runs.append(run)


def render(name: str, op: Op, cfg: dict[str, str], runs: list[dict]) -> str:
    """The operator's BASELINE.md section from its recorded repetitions."""
    effs = [[r[HI][m.rate] / r[LO][m.rate] / 4 for r in runs]
            for m in op.metrics]
    gate = [
        "| workload | median N->4N efficiency | per-run values |",
        "|---|---|---|",
        *(f"| {m.label} | **{statistics.median(e):.2f}** | "
          f"{[round(x, 2) for x in e]} |" for m, e in zip(op.metrics, effs)),
    ]
    per_run = [
        "| run |" + "".join(f" {m.secs_col} | {m.eff_col} |"
                            for m in op.metrics),
        "|---|" + "---|---|" * len(op.metrics),
        *(f"| {r['rep'] + 1}{'*' if r.get('note') else ''} |"
          + "".join(f" {r[LO][m.secs]} -> {r[HI][m.secs]} | {e[i]:.2f} |"
                    for m, e in zip(op.metrics, effs))
          for i, r in enumerate(runs)),
        # provenance notes carried in the runs file surface as footnotes
        *(f"\\* rep {r['rep'] + 1}: {r['note']}" for r in runs
          if r.get("note")),
    ]
    reproduce = (
        f"Reproduce: `python scripts/bench_scaling.py {name}` "
        f"(BENCH/{name}_runs.jsonl checkpoints completed reps — delete it "
        "or raise BENCH_REPS to measure fresh ones; keep the machine "
        "otherwise idle)."
    )
    return op.text(SimpleNamespace(
        cfg=cfg, round=cfg["BENCH_ROUND"], runs=runs, first=runs[0][LO],
        gate="\n".join(gate), per_run="\n".join(per_run),
        reproduce=reproduce,
    ))


def section_span(text: str, marker: str,
                 last_line: str | None = None) -> tuple[int, int]:
    """``(start, end)`` of the section whose first line is ``marker``: up
    to the next '## ' header (or EOF), or through the line starting with
    ``last_line`` when given. ``(len(text), len(text))`` when absent."""
    if text.startswith(marker):
        start = 0
    else:
        start = text.find("\n" + marker) + 1
        if start == 0:
            return len(text), len(text)
    if last_line:
        end = text.find("\n", text.index("\n" + last_line, start) + 1)
    else:
        end = text.find("\n## ", start + len(marker))
    return start, len(text) if end == -1 else end


def replace_section(baseline: Path, marker: str, section: str,
                    last_line: str | None = None) -> None:
    """Replace the ``marker`` section of ``baseline`` (``section_span``)
    with ``section``, leaving every other byte in place apart from the
    blank lines around it; append it when the marker is new."""
    text = baseline.read_text() if baseline.exists() else ""
    start, end = section_span(text, marker, last_line)
    parts = (text[:start], section, text[end:])
    baseline.write_text(
        "\n\n".join(p.strip("\n") for p in parts if p.strip("\n")) + "\n"
    )


def main(name: str, bench: Path = REPO / "BENCH") -> str:
    op = OPS[name]
    cfg = settings(op)
    runs_file = bench / f"{name}_runs.jsonl"
    runs = load_runs(runs_file)
    validate(op, runs)
    if runs:
        print(f"resuming: {len(runs)} completed rep(s) in {runs_file}",
              file=sys.stderr)
    if len(runs) < int(cfg["BENCH_REPS"]):  # only touch a cluster to measure
        measure(op, cfg, runs, runs_file)
    section = render(name, op, cfg, runs)
    replace_section(bench / "BASELINE.md", op.marker, section, op.last_line)
    return section


if __name__ == "__main__":
    if len(sys.argv) != 2 or sys.argv[1] not in OPS:
        raise SystemExit(f"usage: bench_scaling.py {{{','.join(OPS)}}}")
    print(main(sys.argv[1]))
