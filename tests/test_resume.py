"""Resumability: kill after superstep k, resume from checkpoint, final
state identical to an uninterrupted run (BASELINE.json:6,14)."""

import math

from linkgraph.checkpoint import CheckpointManager, run_id_from_env
from linkgraph.labelprop import label_propagation
from linkgraph.pagerank import pagerank

from conftest import collect_map


def test_pagerank_resume_bitwise_equivalent(spark, tiny, tmp_path):
    full_cp = CheckpointManager(spark, str(tmp_path / "full"), "run-full")
    full = pagerank(spark, tiny.edges, tiny.vertices, max_iter=12, tol=0.0,
                    checkpoint=full_cp)

    part_cp = CheckpointManager(spark, str(tmp_path / "part"), "run-part")
    pagerank(spark, tiny.edges, tiny.vertices, max_iter=5, tol=0.0,
             checkpoint=part_cp)  # "killed" after superstep 4
    assert part_cp.latest_complete("pagerank") == 4

    resumed = pagerank(spark, tiny.edges, tiny.vertices, max_iter=7, tol=0.0,
                       checkpoint=part_cp, resume=True)
    assert resumed.iterations == 12

    a = collect_map(full.ranks, "id", "rank")
    b = collect_map(resumed.ranks, "id", "rank")
    assert set(a) == set(b)
    for k in a:
        # float state round-trips parquet doubles exactly; sum-order noise only
        assert math.isclose(a[k], b[k], rel_tol=1e-12, abs_tol=1e-15), k


def test_manifest_lineage(spark, tiny, tmp_path):
    cp = CheckpointManager(spark, str(tmp_path / "m"), "run-m")
    pagerank(spark, tiny.edges, tiny.vertices, max_iter=3, tol=0.0, checkpoint=cp)
    m = cp.manifest().toPandas()
    assert set(m["superstep"]) == {0, 1, 2}
    assert (m["completed"]).all()
    assert (m.groupby("superstep")["rows"].sum() == tiny.vertices.count()).all()
    assert (m["l1_delta"].dropna() >= 0).all()


def test_labelprop_resume_exact(spark, tiny, tmp_path):
    full = collect_map(
        label_propagation(spark, tiny.edges, tiny.vertices, iterations=4),
        "id", "label",
    )
    cp = CheckpointManager(spark, str(tmp_path / "lp"), "run-lp")
    label_propagation(spark, tiny.edges, tiny.vertices, iterations=2, checkpoint=cp)
    resumed = collect_map(
        label_propagation(spark, tiny.edges, tiny.vertices, iterations=4,
                          checkpoint=cp, resume=True),
        "id", "label",
    )
    assert resumed == full


def test_run_id_from_env_default_and_set(monkeypatch):
    monkeypatch.delenv("LINKGRAPH_RUN_ID", raising=False)
    assert run_id_from_env() == "run-0"
    assert run_id_from_env("nightly") == "nightly"
    monkeypatch.setenv("LINKGRAPH_RUN_ID", "crawl-42")
    assert run_id_from_env() == "crawl-42"
    assert run_id_from_env("nightly") == "crawl-42"
