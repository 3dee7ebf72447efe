"""Measurement plumbing: the process tree's CPU time, Spark job and task
counts of a job group, and spans around public calls with their Spark job
and shuffle counters.

Spans and counters stay in memory; ``Tracer.dump`` writes them once, when
the run ends.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces: split after its closing paren
    return raw[raw.rindex(")") + 2:].split()


class ProcTree:
    """The benchmark process and every process it starts (the JVM, the
    Python daemon and its workers). Every (pid, start time) ever seen is
    remembered, so ``leftovers`` also finds processes that were re-parented
    after their parent exited."""

    def __init__(self):
        self.root = os.getpid()
        self.seen: dict[int, str] = {}

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    children.setdefault(int(st[1]), []).append(int(name))
        out, todo = [], [self.root]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(children.get(p, ()))
        for p in out:
            if p != self.root and p not in self.seen:
                st = _stat(p)
                if st is not None:
                    self.seen[p] = st[19]
        return out

    def cpu_s(self) -> float:
        """CPU seconds used so far by the tree: utime + stime of each
        process plus that of its reaped children."""
        total = 0
        for p in self.pids():
            st = _stat(p)
            if st is not None:
                total += int(st[11]) + int(st[12]) + int(st[13]) + int(st[14])
        return total / _TICK

    def leftovers(self) -> list[int]:
        """Processes this run started that still exist."""
        left = []
        for p, start in self.seen.items():
            st = _stat(p)
            if st is not None and st[19] == start:
                left.append(p)
        return left


@contextmanager
def job_group(sc, group: str):
    """Run the block's Spark jobs under job group ``group``."""
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _stage_ids(tracker, job_ids):
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        yield from (list(info.stageIds) if info else ())


def group_counts(sc, group: str) -> tuple[int, int]:
    """-> (Spark jobs, tasks completed by their stages) of job group ``group``.

    Spark keeps only the last ``spark.ui.retainedJobs`` jobs and
    ``spark.ui.retainedStages`` stages; a group that reaches either limit
    may have lost some, so it is refused rather than undercounted."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = list(_stage_ids(tracker, jobs))
    conf = sc.getConf()
    if (len(jobs) >= int(conf.get("spark.ui.retainedJobs", "1000"))
            or len(stage_ids) >= int(conf.get("spark.ui.retainedStages", "1000"))):
        raise RuntimeError(f"job group {group!r} reached Spark's retained jobs or stages")
    stages = (tracker.getStageInfo(sid) for sid in stage_ids)
    return len(jobs), sum(st.numCompletedTasks for st in stages if st)


class Tracer:
    """Spans (name, start, end, parent) around public calls. Each span runs
    under its own job group, and records the Spark jobs the call started and
    the shuffle bytes their stages wrote."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _shuffle_bytes(self, job_ids) -> int:
        store = self.sc._jsc.sc().statusStore()
        total = 0
        for sid in _stage_ids(self.sc.statusTracker(), job_ids):
            try:
                total += int(store.lastStageAttempt(int(sid)).shuffleWriteBytes())
            except Py4JJavaError:  # a skipped stage has no attempt
                pass
        return total

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        group = f"perfbench-{rec['id']}"
        self.sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            jobs = list(self.sc.statusTracker().getJobIdsForGroup(group))
            rec["jobs"] = len(jobs)
            rec["shuffle_bytes"] = self._shuffle_bytes(jobs)
            outer = f"perfbench-{self._stack[-1]}" if self._stack else None
            self.sc.setLocalProperty("spark.jobGroup.id", outer)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
