"""The shared blocked superstep runtime: the step loop's marker, cleanup
and stop contract, block-order sums, and per-superstep Spark job and task
budgets."""

import os
import time
import uuid
from types import SimpleNamespace

import pytest

from linkgraph.graph import undirected_edges
from linkgraph.labelprop_csr import label_propagation_blocked
from linkgraph.pagerank_csr import build_blocked, pagerank_blocked
from linkgraph.supersteps import (
    block_sums, completed_steps, core_grant, run_steps, work_index,
)

# Spark jobs of ONE jobs-transport superstep: the map-only stage whose
# per-block scalar rows are collected and summed on the driver
STEP_JOBS = 1


def test_run_steps_markers_cleanup_and_stop(tmp_path):
    rdir = str(tmp_path)
    os.makedirs(f"{rdir}/part")
    os.makedirs(f"{rdir}/step0")

    def step(k, cur, nxt):
        assert os.path.isdir(cur)
        os.makedirs(nxt)
        return float(k), 10.0 * k

    done = run_steps(
        rdir, step, 0, 10, keep_steps=2, stop=lambda s: s[0] >= 3,
        marker=True,
    )
    assert [s for s, _ in done] == [(0.0, 0.0), (1.0, 10.0), (2.0, 20.0),
                                    (3.0, 30.0)]
    assert [list(r) for r in completed_steps(rdir)] == [
        [0.0, 0.0], [1.0, 10.0], [2.0, 20.0], [3.0, 30.0]
    ]
    assert sorted(os.listdir(rdir)) == ["part", "step3", "step4"]
    # resume from the marker prefix: the next call starts at step 4
    more = run_steps(rdir, step, len(completed_steps(rdir)), 6, marker=True)
    assert [s for s, _ in more] == [(4.0, 40.0), (5.0, 50.0)]
    assert len(completed_steps(rdir)) == 6


def test_block_sums_follow_block_order():
    rows = [(2, 1.0, 3), (0, 1e16, 1), (1, -1e16, 2)]
    # block order: (1e16 + -1e16) + 1.0 == 1.0; in arrival order the 1.0
    # would be absorbed by 1e16 first and the sum would be 0.0
    assert block_sums(rows) == block_sums(rows[::-1]) == (1.0, 6)
    assert block_sums([]) == ()


def _group_stages(spark, fn) -> tuple[int, list[int]]:
    """-> (Spark jobs, completed tasks per stage) that ``fn`` ran, read
    through a job group of its own once every job reports its end."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"budget-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = tracker.getJobIdsForGroup(group)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(
        tracker.getJobInfo(j).status == "RUNNING" for j in jobs
    ):
        time.sleep(0.05)  # the status store trails the listener bus
    stages = [
        tracker.getStageInfo(s)
        for j in jobs for s in tracker.getJobInfo(j).stageIds
    ]
    return len(jobs), [st.numCompletedTasks for st in stages if st]


def _count_jobs(spark, fn) -> int:
    return _group_stages(spark, fn)[0]


@pytest.fixture(scope="module")
def stores(spark, tiny):
    ids = tiny.vertices.select("id")
    g = build_blocked(spark, tiny.edges, ids, n_blocks=4)
    g_und = build_blocked(spark, undirected_edges(tiny.edges), ids, n_blocks=4)
    yield g, g_und
    g.delete()
    g_und.delete()


def test_pagerank_superstep_job_budget(spark, stores):
    g, _ = stores
    pagerank_blocked(spark, g, tol=0.0, max_iter=1)  # warm-up
    jobs = [
        _count_jobs(
            spark, lambda k=k: pagerank_blocked(spark, g, tol=0.0, max_iter=k)
        )
        for k in (2, 3)
    ]
    assert jobs[1] - jobs[0] == STEP_JOBS, jobs


def test_label_propagation_superstep_job_budget(spark, stores):
    _, g_und = stores
    label_propagation_blocked(spark, g_und, 1)  # warm-up
    jobs = [
        _count_jobs(
            spark, lambda k=k: label_propagation_blocked(spark, g_und, k)
        )
        for k in (2, 3)
    ]
    assert jobs[1] - jobs[0] == STEP_JOBS, jobs


def test_superstep_runs_one_task_per_core(spark, small):
    """More blocks than cores: one superstep runs exactly one task per
    core (fewer would run kernels serially, more pays the per-task cost
    again), and task k runs the blocks with db % cores == k."""
    cores = spark.sparkContext.defaultParallelism
    g = build_blocked(
        spark, small.edges, small.vertices.select("id"), n_blocks=3 * cores
    )
    try:
        layout = (
            work_index(g).rdd.glom()
            .map(lambda rows: sorted(r.db for r in rows)).collect()
        )
        pagerank_blocked(spark, g, tol=0.0, max_iter=1)  # warm-up
        runs = [
            _group_stages(
                spark,
                lambda k=k: pagerank_blocked(spark, g, tol=0.0, max_iter=k),
            )
            for k in (2, 3)
        ]
    finally:
        g.delete()
    assert layout == [
        [k, k + cores, k + 2 * cores] for k in range(cores)
    ], layout
    (jobs2, tasks2), (jobs3, tasks3) = runs
    assert jobs3 - jobs2 == STEP_JOBS, runs
    assert sum(tasks3) - sum(tasks2) == cores, runs


def test_core_grant_prefers_cores_max():
    def context(conf):
        return SimpleNamespace(defaultParallelism=2, getConf=lambda: conf)

    assert core_grant(context({"spark.cores.max": "4"})) == 4
    assert core_grant(context({})) == 2


def test_build_blocked_lists_store_on_driver(spark, small, tmp_path):
    """A named store with more db= directories than Spark's parallel
    listing threshold (32): its read-backs list the directories on the
    driver, not in a job with one task per directory."""
    built = []
    try:
        _, tasks = _group_stages(spark, lambda: built.append(build_blocked(
            spark, small.edges, small.vertices.select("id"),
            n_blocks=37, store_path=str(tmp_path / "store"),
        )))
        edges_dir = tmp_path / "store" / "edges"
        n_dirs = sum(d.startswith("db=") for d in os.listdir(edges_dir))
    finally:
        for g in built:
            g.delete()
    assert n_dirs > 32, n_dirs
    assert max(tasks) < n_dirs, tasks
