"""Per-superstep checkpointing with lineage + metrics (FIXTURES.md §4).

Iterative DataFrame algorithms grow their logical plans superstep by
superstep (lineage explosion — SURVEY.md §4.2). Writing vertex state to a
table and reading it back both truncates the plan and makes every run
resumable mid-iteration (BASELINE.json:6,14). The manifest table carries
per-partition row counts and skew/delta metrics per superstep.

Storage is pluggable (linkgraph.storage): the default backend is a
directory of Parquet tables; ``iceberg://catalog.namespace`` routes the
same layout onto Iceberg tables (``vertex_state`` partitioned by
(run_id, algo, superstep), overwritePartitions per superstep; ``manifest``
append-only) — a config, not a code change. This sandbox has no Iceberg
runtime jar, so Parquet is the transparent offline default (SURVEY.md §7
step 0).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import storage as storage_mod

MANIFEST_SCHEMA = (
    "run_id string, algo string, superstep int, partition_id int, rows long, "
    "l1_delta double, max_key_freq long, input_snapshot string, completed boolean, "
    "extra string"
)


class CheckpointManager:
    """Writes vertex-state DataFrames + manifest rows per superstep."""

    def __init__(self, spark: SparkSession, root: str, run_id: str, store=None):
        """``root`` is a parquet directory or an ``iceberg://catalog.ns``
        URL (linkgraph.storage.for_url); ``store`` overrides it with any
        object implementing the StateStore interface."""
        self.spark = spark
        self.root = root.rstrip("/") if root else root
        self.run_id = run_id
        self.store = store if store is not None else storage_mod.for_url(spark, root)

    # -- paths (parquet backend only; kept for tests/tooling) -----------
    def state_path(self, algo: str, superstep: int) -> str:
        return self.store.state_path(self.run_id, algo, superstep)

    @property
    def manifest_path(self) -> str:
        return f"{self.root}/manifest"

    # -- write ---------------------------------------------------------
    def write_state(
        self,
        state: DataFrame,
        algo: str,
        superstep: int,
        l1_delta: float | None = None,
        input_snapshot: str = "",
        extra: dict | None = None,
    ) -> DataFrame:
        """Persist one superstep's vertex state; returns the re-read frame
        (plan truncation). The manifest row is written only after the state
        write succeeds, so `completed=true` in the manifest IS the commit
        mark — a killed run leaves at most an orphan state directory that
        resume ignores."""
        reread = self.store.write_state(state, self.run_id, algo, superstep)

        per_part = (
            reread.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count("*").alias("rows"))
            .collect()
        )
        rows = [
            (
                self.run_id,
                algo,
                superstep,
                int(p["partition_id"]),
                int(p["rows"]),
                float(l1_delta) if l1_delta is not None else None,
                int((extra or {}).get("max_key_freq", 0)),
                input_snapshot,
                True,
                json.dumps(extra or {}, sort_keys=True),
            )
            for p in per_part
        ]
        self.store.append_manifest(self.spark.createDataFrame(rows, MANIFEST_SCHEMA))
        return reread

    # -- read / resume ---------------------------------------------------
    def manifest(self) -> DataFrame:
        return self.store.read_manifest(self.spark)

    def latest_complete(self, algo: str) -> int | None:
        """Highest superstep with a completed manifest entry for this run."""
        try:
            m = self.manifest()
        except Exception:
            return None
        rows = (
            m.where(
                (F.col("run_id") == self.run_id)
                & (F.col("algo") == algo)
                & F.col("completed")
            )
            .agg(F.max("superstep").alias("s"))
            .collect()
        )
        s = rows[0]["s"]
        return int(s) if s is not None else None

    def read_state(self, algo: str, superstep: int) -> DataFrame:
        return self.store.read_state(self.spark, self.run_id, algo, superstep)


def run_id_from_env(default: str = "run-0") -> str:
    """Run ids are passed in, never derived from the clock (determinism)."""
    return os.environ.get("LINKGRAPH_RUN_ID", default)


class StepTimer:
    def __enter__(self):
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.seconds = time.perf_counter() - self.t0
