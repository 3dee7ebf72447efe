"""Per-process ``spark.local.dir`` under /dev/shm (linkgraph.session):
a dead driver's shuffle directories are removed by the next session, and
an explicit $LINKGRAPH_LOCAL_DIR is used as is. No Spark session starts."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from linkgraph import session


def _dead_pid() -> int:
    proc = subprocess.Popen([sys.executable, "-c", "pass"])
    proc.wait()
    return proc.pid


def test_process_local_dir_removes_only_dead_siblings(tmp_path):
    dead = tmp_path / f"pid-{_dead_pid()}"
    (dead / "blockmgr-0").mkdir(parents=True)
    (dead / "blockmgr-0" / "shuffle_0_0_0.data").write_bytes(b"x" * 64)
    live = tmp_path / f"pid-{os.getppid()}"
    live.mkdir()
    other = tmp_path / "blockmgr-legacy"
    other.mkdir()

    own = session.process_local_dir(str(tmp_path))

    assert own == str(tmp_path / f"pid-{os.getpid()}")
    assert os.path.isdir(own)
    assert not dead.exists()
    assert live.is_dir() and other.is_dir()
    assert session.process_local_dir(str(tmp_path)) == own


@pytest.mark.skipif(not os.path.isdir("/dev/shm"), reason="no /dev/shm")
def test_default_local_dir_is_per_process(tmp_path, monkeypatch):
    monkeypatch.delenv("LINKGRAPH_LOCAL_DIR", raising=False)
    monkeypatch.setenv("LINKGRAPH_SHM_MIN_FREE_BYTES", "0")
    monkeypatch.setattr(session, "SHM_LOCAL_ROOT", str(tmp_path))
    dead = tmp_path / f"pid-{_dead_pid()}"
    dead.mkdir()

    assert session._local_dir() == str(tmp_path / f"pid-{os.getpid()}")
    assert not dead.exists()


def test_explicit_local_dir_touches_nothing(tmp_path, monkeypatch):
    root = tmp_path / "shm"
    dead = root / f"pid-{_dead_pid()}"
    dead.mkdir(parents=True)
    monkeypatch.setattr(session, "SHM_LOCAL_ROOT", str(root))
    monkeypatch.setenv("LINKGRAPH_LOCAL_DIR", str(tmp_path / "mine"))

    assert session._local_dir() == str(tmp_path / "mine")
    assert dead.is_dir()
    assert sorted(os.listdir(root)) == [dead.name]
