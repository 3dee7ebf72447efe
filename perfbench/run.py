"""Run one benchmark workload for one seed and print one JSON result line.

    python3 perfbench/run.py --workload crawl_ingest --seed 1 --seconds 5 --trace 0

Run from the repository root. Set-up starts a ``local[nproc]`` Spark session,
generates the inputs from ``--seed`` and builds what the workload needs; the
job then runs in whole rounds (one client, closed loop) until ``--seconds``
have passed, at least once. Every round's outputs are checked.

``--trace 0`` reports the end-to-end metrics: ``setup_s`` (process start to
the end of set-up) and the medians over rounds of ``cpu_s`` (CPU seconds of
this process, the JVM and the Python workers during the round),
``spark_jobs`` and ``spark_tasks`` (Spark jobs the round's calls started,
read through a job group of the round's own, and the tasks their stages
completed). Each round's wall time ``job_s`` and every call's wall time go
to standard error.

``--trace 1`` runs the same job with spans and Spark job groups around the
round and every public call in it, and reports the per-layer metrics; the
spans are written to ``.perfbench/traces/``.

Everything the run writes goes under ``.perfbench/`` in the working
directory; the run removes its own part of it, stops Spark and the JVM, and
fails if a process it started is left or ``/dev/shm/linkgraph-*`` changed.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _since_process_start() -> float:
    with open("/proc/self/stat") as f:
        raw = f.read()
    start = int(raw[raw.rindex(")") + 2:].split()[19]) / os.sysconf("SC_CLK_TCK")
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start


def _shm_bytes() -> int:
    total = 0
    for top in glob.glob("/dev/shm/linkgraph-*"):
        for d, _, fs in os.walk(top):
            for f in fs:
                try:
                    total += os.path.getsize(os.path.join(d, f))
                except OSError:
                    pass
    return total


def _isolate(work: str) -> None:
    """Point every scratch location the program and Spark use into ``work``."""
    for sub in ("tmp", "spark-local", "npy"):
        os.makedirs(f"{work}/{sub}", exist_ok=True)
    os.environ["TMPDIR"] = f"{work}/tmp"
    tempfile.tempdir = None   # re-read TMPDIR
    os.environ["LINKGRAPH_LOCAL_DIR"] = f"{work}/spark-local"
    os.environ["LINKGRAPH_NPY_DIR"] = f"{work}/npy"
    os.environ["LINKGRAPH_NATIVE_DIR"] = f"{ROOT}/.perfbench/native"
    java = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{java} -Djava.io.tmpdir={work}/tmp -XX:-UsePerfData".strip()


class Ctx:
    """What a workload needs from the run: the session, the traced flag,
    fresh store paths, and ``call``, which counts each public call and times
    it (to standard error, or as a span and per-layer metrics when traced)."""

    def __init__(self, spark, traced: bool, work: str):
        from perfbench.tracing import Tracer

        self.spark = spark
        self.traced = traced
        self.work = work
        self.tracer = Tracer(spark.sparkContext) if traced else None
        self.layer: dict[str, list[float]] = {}
        self.attempted = 0
        self._paths = 0

    def fresh_path(self) -> str:
        self._paths += 1
        return f"{self.work}/stores/{self._paths}"

    def record(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(float(value))

    def call(self, name: str, fn, *args, **kw):
        self.attempted += 1
        if not self.traced:
            t = time.perf_counter()
            out = fn(*args, **kw)
            print(f"call {name}: {time.perf_counter() - t:.3f} s", file=sys.stderr)
            return out
        with self.tracer.span(name) as rec:
            out = fn(*args, **kw)
        self.record(f"{name}.s", rec["end"] - rec["start"])
        self.record(f"{name}.jobs", rec["jobs"])
        self.record(f"{name}.shuffle_mb", rec["shuffle_bytes"] / 1e6)
        return out

    def superstep_metrics(self, name: str, res) -> None:
        """supersteps, their median seconds, and the call's wall time
        outside supersteps, for a PageRank result traced as ``name``."""
        secs = [s.seconds for s in res.supersteps]
        wall = self.layer[f"{name}.s"][-1]
        self.record(f"{name}.supersteps", len(secs))
        self.record(f"{name}.superstep_median_s", statistics.median(secs))
        self.record(f"{name}.overhead_s", wall - sum(secs))


def _stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()   # the gateway JVM exits at end of stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _reap(tree) -> list[int]:
    """Wait for every process the run started to end; kill stragglers.
    -> pids that were still alive after 20 s."""
    deadline = time.monotonic() + 20.0
    while tree.leftovers() and time.monotonic() < deadline:
        time.sleep(0.2)
    left = tree.leftovers()
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    return left


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from linkgraph import native
    from linkgraph.session import get_spark
    from perfbench.checks import CheckError
    from perfbench.tracing import ProcTree, group_counts, job_group
    from perfbench.workloads import WORKLOADS, per_layer_metrics

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    work = f"{ROOT}/.perfbench/work-{os.getpid()}"
    shm_before = _shm_bytes()
    _isolate(work)
    traced = bool(args.trace)
    tree = ProcTree()
    nproc = len(os.sched_getaffinity(0))
    spark = get_spark("perfbench", cores=nproc)
    spark.sparkContext.setLogLevel("ERROR")
    correct, failed = True, 0
    job_s, cpu_s, counts = [], [], []
    try:
        if native.get_lib() is None:
            raise RuntimeError("native kernels did not load: the run would measure the numpy fallback")
        ctx = Ctx(spark, traced, work)
        wl = WORKLOADS[args.workload](ctx, args.seed)
        setup_s = _since_process_start()
        t_end = time.perf_counter() + args.seconds
        while not job_s or time.perf_counter() < t_end:
            done = ctx.attempted
            group = f"perfbench-round-{len(job_s)}"
            cpu0 = tree.cpu_s()
            t0 = time.perf_counter()
            try:
                with ctx.tracer.span("round") if traced else job_group(spark.sparkContext, group):
                    out = wl.round()
            except Exception as exc:  # noqa: BLE001 - count the round as failed and stop
                print(f"round failed: {exc!r}", file=sys.stderr)
                ran = ctx.attempted - done
                ctx.attempted = done + len(wl.calls)
                failed += len(wl.calls) - ran + 1
                break
            job_s.append(time.perf_counter() - t0)
            cpu_s.append(tree.cpu_s() - cpu0)
            ctx.record("traced.job_s", job_s[-1])
            if not traced:
                counts.append(group_counts(spark.sparkContext, group))
            print(f"round {len(job_s)}: job_s {job_s[-1]:.3f} cpu_s {cpu_s[-1]:.2f} "
                  f"jobs, tasks {counts[-1] if counts else '-'}", file=sys.stderr)
            wl.release()
            try:
                wl.check(out)
            except CheckError as exc:
                correct = False
                print(f"check failed: {exc}", file=sys.stderr)
        if traced and hasattr(wl, "traced_extras"):
            wl.traced_extras()
            ctx.tracer.dump(f"{ROOT}/.perfbench/traces/{args.workload}-seed{args.seed}.jsonl")
        wl.close()
    finally:
        tree.pids()   # note every live process before stopping
        _stop_spark(spark)
        left = _reap(tree)
        shutil.rmtree(work, ignore_errors=True)
    if left:
        raise RuntimeError(f"processes left after the run: {left}")
    if _shm_bytes() != shm_before:
        raise RuntimeError("/dev/shm/linkgraph-* changed size during the run")
    if not job_s:
        raise RuntimeError("no round completed")

    if traced:
        unknown = set(ctx.layer) - set(per_layer_metrics())
        if unknown:
            raise RuntimeError(f"unlisted per-layer metrics: {sorted(unknown)}")
        # a layer the workload does not call reads 0
        metrics = {k: {"value": statistics.median(ctx.layer.get(k, [0.0])), "unit": unit_of(k)}
                   for k in per_layer_metrics()}
    else:
        metrics = {
            "cpu_s": {"value": statistics.median(cpu_s), "unit": "s"},
            "spark_jobs": {"value": statistics.median(c[0] for c in counts), "unit": "count"},
            "spark_tasks": {"value": statistics.median(c[1] for c in counts), "unit": "count"},
            "setup_s": {"value": setup_s, "unit": "s"},
        }
    print(json.dumps({"correct": correct, "attempted": ctx.attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def unit_of(name: str) -> str:
    measure = name.rsplit(".", 1)[-1]
    return {
        "s": "s", "job_s": "s", "superstep_median_s": "s", "overhead_s": "s",
        "jobs": "count", "supersteps": "count",
        "broadcast_joins": "count", "shuffle_mb": "MB", "pages_per_s": "1/s",
        "edges_per_s": "1/s", "verified_per_candidate": "ratio",
        "store_bytes_per_edge": "B", "bytes_rewritten_per_delta_edge": "B",
    }[measure]


if __name__ == "__main__":
    sys.exit(main())
