"""The shared blocked superstep runtime: the step loop's marker, cleanup
and stop contract, and per-superstep Spark job budgets."""

import os
import uuid

import pytest

from linkgraph.graph import undirected_edges
from linkgraph.labelprop_csr import label_propagation_blocked
from linkgraph.pagerank_csr import build_blocked, pagerank_blocked
from linkgraph.supersteps import completed_steps, run_steps

# Spark jobs of ONE jobs-transport superstep: the map stage with its
# partial aggregate, then the final aggregate (AQE runs each query stage
# as a job of its own)
STEP_JOBS = 2


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


def _count_jobs(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


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
