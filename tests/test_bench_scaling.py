"""Offline checks of the N->4N scaling driver (scripts/bench_scaling.py).

Every operator with recorded repetitions regenerates its section of a
copy of BENCH/BASELINE.md from its runs file; a new repetition is
checked for cross-level agreement before it is appended. Pure Python:
no Spark session and no cluster starts (``cluster`` and ``submit`` are
replaced).
"""

from __future__ import annotations

import os
import shutil
import sys
from contextlib import nullcontext
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "scripts"))
import bench_scaling as bs  # noqa: E402

RECORDED = [
    name for name in bs.OPS
    if bs.load_runs(REPO / "BENCH" / f"{name}_runs.jsonl")
]


@pytest.fixture
def bench(tmp_path, monkeypatch):
    """A copy of BENCH/ (BASELINE.md + runs files) with default knobs."""
    for k in list(os.environ):
        if k.startswith("BENCH_"):
            monkeypatch.delenv(k)
    shutil.copy(REPO / "BENCH" / "BASELINE.md", tmp_path)
    for f in (REPO / "BENCH").glob("*_runs.jsonl"):
        shutil.copy(f, tmp_path)
    monkeypatch.setattr(bs, "RANKS_DIR", str(tmp_path / "ranks"))

    def no_cluster(*args, **kwargs):
        raise AssertionError("a recorded operator started a cluster")

    monkeypatch.setattr(bs, "cluster", no_cluster)
    return tmp_path


def test_every_operator_but_cc_is_recorded():
    assert set(RECORDED) == set(bs.OPS) - {"cc"}
    assert (REPO / "BENCH" / "cc_runs.jsonl").exists()


@pytest.mark.parametrize("name", RECORDED)
def test_regenerates_own_section_and_keeps_the_others(bench, name):
    op = bs.OPS[name]
    path = bench / "BASELINE.md"
    committed = path.read_text()
    start, end = bs.section_span(committed, op.marker, op.last_line)
    assert start < end, f"{name}: no section in BASELINE.md"
    stale = f"{op.marker} (stale)\n\n{op.last_line or ''}stale\n"
    path.write_text(committed[:start] + stale + committed[end:])

    bs.main(name, bench)

    text = path.read_text()
    s, e = bs.section_span(text, op.marker, op.last_line)
    assert text[:s] + text[e:] == committed[:start] + committed[end:]
    # the committed section is what the runs file regenerates
    assert text[s:e] == committed[start:end]


@pytest.mark.parametrize("name", RECORDED)
def test_second_run_changes_nothing(bench, name):
    bs.main(name, bench)
    once = {p.name: p.read_bytes() for p in bench.iterdir()}
    bs.main(name, bench)
    assert {p.name: p.read_bytes() for p in bench.iterdir()} == once


def _fake_cluster(monkeypatch, rep: dict, corrupt: str | None):
    """Levels that replay ``rep``'s results; the 4N level reports a
    different ``corrupt`` field when given."""
    monkeypatch.setattr(bs, "cluster", lambda cfg, prep_mode: nullcontext())

    def submit(cfg, cores_max, mode, **kwargs):
        res = dict(rep[str(cores_max)])
        if corrupt and cores_max == 4 * bs.EXECUTOR_CORES:
            res[corrupt] = "diverged"
        return res

    monkeypatch.setattr(bs, "submit", submit)


@pytest.mark.parametrize("name", RECORDED)
def test_divergent_repetition_raises_before_checkpoint(bench, monkeypatch,
                                                       name):
    op = bs.OPS[name]
    runs_file = bench / f"{name}_runs.jsonl"
    recorded = runs_file.read_text()
    runs = bs.load_runs(runs_file)
    monkeypatch.setenv("BENCH_REPS", str(len(runs) + 1))
    for field in op.agree:
        _fake_cluster(monkeypatch, runs[0], corrupt=field)
        with pytest.raises(ValueError, match=field):
            bs.main(name, bench)
        assert runs_file.read_text() == recorded


def test_agreeing_repetition_is_checkpointed(bench, monkeypatch):
    runs_file = bench / "lpblk_runs.jsonl"
    runs = bs.load_runs(runs_file)
    monkeypatch.setenv("BENCH_REPS", str(len(runs) + 1))
    _fake_cluster(monkeypatch, runs[0], corrupt=None)

    section = bs.main("lpblk", bench)

    new = bs.load_runs(runs_file)
    assert new[:-1] == runs
    assert new[-1] == {**runs[0], "rep": len(runs)}
    assert f"| {len(runs) + 1} | " in section
    assert section in (bench / "BASELINE.md").read_text()


def test_new_section_is_appended(tmp_path):
    path = tmp_path / "BASELINE.md"
    path.write_text("# title\n\nbody\n\n## other\n\nkept\n")
    bs.replace_section(path, "## fresh", "## fresh\n\nnew\n")
    assert path.read_text() == (
        "# title\n\nbody\n\n## other\n\nkept\n\n## fresh\n\nnew\n"
    )
    bs.replace_section(path, "## other", "## other\n\nreplaced")
    assert path.read_text() == (
        "# title\n\nbody\n\n## other\n\nreplaced\n\n## fresh\n\nnew\n"
    )

