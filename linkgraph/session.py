"""SparkSession factory tuned for the link-graph engine.

Arrow is always on (the extractor and CSR compactor are pandas UDFs);
AQE is on (runtime skew-join handling + partition coalescing); shuffle
partition count is explicit so small fixtures don't pay the 200-partition
default and big runs can size partitions to executor memory.

Two confs size Spark work to the data rather than to the configured
partition counts (this factory only builds ``local[...]`` sessions):

- ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true`` lets
  AQE coalesce persisted and checkpointed frames the way it coalesces
  uncached ones. Spark's default (false) keeps every cached frame at its
  ``spark.sql.shuffle.partitions`` layout, so each later scan of a small
  cached frame runs that many tasks.
- ``spark.sql.sources.parallelPartitionDiscovery.threshold`` is raised so
  file listing stays on the driver. Above the default 32 child paths,
  ``InMemoryFileIndex`` lists in a Spark job with one task per directory
  (a read of a 64-block store's ``db=`` partitions is a 64-task job); in
  local mode that job runs on the same cores the driver would list with
  and only adds scheduling cost.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession

SHM_LOCAL_ROOT = "/dev/shm/linkgraph-spark-local"


def process_local_dir(root: str) -> str:
    """This process's own ``spark.local.dir`` under ``root``
    (``root/pid-<pid>``), after removing the ``pid-*`` siblings whose
    process is gone.

    A JVM that dies without its shutdown hook leaves its ``blockmgr-*`` /
    ``spark-*`` shuffle directories behind, and on tmpfs they hold RAM
    until someone deletes them. Keyed by the owning driver process, a
    later session can tell a dead run's directories from a live one's."""
    os.makedirs(root, exist_ok=True)
    for name in os.listdir(root):
        pid = name[len("pid-"):]
        if name.startswith("pid-") and pid.isdigit() and not _alive(int(pid)):
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)
    own = os.path.join(root, f"pid-{os.getpid()}")
    os.makedirs(own, exist_ok=True)
    return own


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # exists, owned by another user
        pass
    return True


def _local_dir() -> str | None:
    """``spark.local.dir`` of a new session: $LINKGRAPH_LOCAL_DIR as is,
    else this process's directory under ``SHM_LOCAL_ROOT`` when /dev/shm
    has room, else None (Spark's default)."""
    # Shuffle files on tmpfs when available: this factory only ever builds
    # local[...] sessions (a cluster gets its local dirs from the resource
    # manager), and local shuffles are otherwise bottlenecked on one disk.
    # Gated on actual free space (tmpfs is typically capped at 50% of RAM;
    # spilling a big run into a nearly-full /dev/shm fails where plain disk
    # would succeed — ADVICE round 1).
    if "LINKGRAPH_LOCAL_DIR" in os.environ:
        return os.environ["LINKGRAPH_LOCAL_DIR"]
    if not os.path.isdir("/dev/shm"):
        return None
    try:
        st = os.statvfs("/dev/shm")
        free_bytes = st.f_bavail * st.f_frsize
    except OSError:
        free_bytes = 0
    min_free = int(os.environ.get("LINKGRAPH_SHM_MIN_FREE_BYTES", str(8 << 30)))
    return process_local_dir(SHM_LOCAL_ROOT) if free_bytes >= min_free else None


def get_spark(
    app_name: str = "linkgraph",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` sets ``local[cores]``; default comes from $SPARK_GRAFT_CPUS
    (driver contract) falling back to ``local[*]``. In a real deployment the
    master comes from spark-submit and this factory only applies confs.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    # Python workers must be able to import this package (the pandas UDFs are
    # module functions, pickled by reference). On a real cluster this is the
    # job of spark-submit --py-files (see main.py); in local mode the repo
    # root on PYTHONPATH does the same.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if repo_root not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{repo_root}{os.pathsep}{pypath}" if pypath else repo_root
        )
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("LINKGRAPH_SHUFFLE_PARTITIONS", "32"))

    local_dir = _local_dir()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
        )
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            "2147483647",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory or os.environ.get("LINKGRAPH_DRIVER_MEMORY", "8g"))
        # local mode: keep Python worker reuse on so pandas UDF startup
        # amortizes across supersteps
        .config("spark.python.worker.reuse", "true")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
