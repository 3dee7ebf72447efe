"""One-off per-superstep kernel-vs-coordination split at N and 4N.

Round-3 verdict #8: the PageRank gate's 1.06 median efficiency needs the
single-slot serialization overhead at the N level quantified, so >1.0
can't be read as a soft-baseline artifact. This runs the SAME pinned
cluster protocol as the gates on the (already-built) blocked LP store —
the same store + superstep shape as PageRank's — for a few supersteps at
cores.max=1 and 4, with the in-task per-block kernel seconds recorded by
linkgraph.labelprop_csr (load + gather + modal-vote + write, summed
across tasks). The split per superstep:

    coordination_wall = superstep_wall - kernel_core_secs / slots

i.e. everything that is NOT per-block work: task dispatch, arrow
round-trips, the changed-count reduce, scheduler latency — the part that
the single-slot level serializes and the 4-slot level overlaps.

Prints a small JSON per level; paste-ready rows for the BASELINE.md
hygiene note. Does NOT touch lpblk_runs.jsonl.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import bench_scaling as bs  # noqa: E402


def main() -> None:
    # the lpblk gate's graph and store, run for a few supersteps only
    cfg = {
        **bs.settings(bs.OPS["lpblk"]),
        "BENCH_SUPERSTEPS": os.environ.get("DIAG_SUPERSTEPS", "3"),
    }
    out = {}
    with bs.cluster(cfg, prep_mode=None):  # the store is already built
        for cores_max in bs.LEVELS:
            print(f"diag: cores.max={cores_max} ...", file=sys.stderr)
            r = bs.submit(cfg, cores_max, "run-lpblk")
            walls = r["lp_steps"]
            kerns = r["lp_kernel_secs"]
            coords = [
                round(w - k / cores_max, 3) for w, k in zip(walls, kerns)
            ]
            out[cores_max] = {
                "walls": walls,
                "kernel_core_secs": kerns,
                "coordination_walls": coords,
            }
            print(json.dumps({str(cores_max): out[cores_max]}))
    print("DIAG " + json.dumps(out))


if __name__ == "__main__":
    main()
