"""Phase timing INSIDE build_blocked / pagerank prep (guide §1).

Replays build_blocked's exact steps inline with timers, twice (cold+warm),
so the expensive job is identified before any code changes.
"""

from __future__ import annotations

import math
import os
import sys
import time
import uuid
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import Window, functions as F  # noqa: E402

from linkgraph import tpcgraph  # noqa: E402
from linkgraph.lineage import truncate_plan  # noqa: E402
from linkgraph.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("linkgraph-diag-build", cores=cpus,
                      shuffle_partitions=int(cpus) * 2)
    spark.sparkContext.setLogLevel("ERROR")

    edges = tpcgraph.order_edges(spark, SF_DIR).persist()
    edges.count()
    verts = tpcgraph.vertices_of(edges).persist()
    n = verts.count()
    n_blocks = 8

    for rep in range(2):
        print(f"--- rep {rep}", flush=True)
        t0 = [time.perf_counter()]

        def mark(label):
            now = time.perf_counter()
            print(f"  {label:36s} {now - t0[0]:7.3f}s", flush=True)
            t0[0] = now

        vertices = verts.select("id")
        build_token = uuid.uuid4().hex
        store_path = f"/dev/shm/linkgraph-blocks/{build_token}"

        block_expr = F.pmod(F.col("id"), F.lit(n_blocks)).cast("int")
        w = Window.partitionBy("block").orderBy("id")
        vmap = (
            vertices.select("id", block_expr.alias("block"))
            .withColumn("local", (F.row_number().over(w) - 1).cast("long"))
            .persist()
        )
        vmap.count()
        mark("vmap persist+count")

        out_deg = edges.groupBy("src").agg(F.count("*").alias("od"))
        block_meta = (
            vmap.join(out_deg, vmap["id"] == out_deg["src"], "left")
            .groupBy("block")
            .agg(
                F.count("*").cast("int").alias("size"),
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.struct(
                                F.col("local").cast("int").alias("l"),
                                F.coalesce(F.col("od"), F.lit(0)).cast("int").alias("v"),
                            )
                        )
                    ),
                    lambda s: s["v"],
                ).alias("od"),
            )
        )
        block_meta = truncate_plan(block_meta, eager=False)
        n_dangling = int(
            block_meta.agg(
                F.sum(F.size(F.filter("od", lambda x: x == 0)))
            ).collect()[0][0]
            or 0
        )
        mark("block_meta + n_dangling agg")

        src_map = vmap.select(
            F.col("id").alias("src"), F.col("block").alias("sb"),
            F.col("local").alias("sl"))
        dst_map = vmap.select(
            F.col("id").alias("dst"), F.col("block").alias("db"),
            F.col("local").alias("dl"))
        e2 = (
            edges.join(src_map, "src")
            .join(dst_map, "dst")
            .select(
                F.col("sb").cast("int").alias("sb"),
                "db",
                F.col("sl").cast("int").alias("sl"),
                F.col("dl").cast("int").alias("dl"),
            )
        )
        (
            e2.repartition("db")
            .sortWithinPartitions("db", "sb", "sl")
            .write.mode("overwrite")
            .partitionBy("db")
            .parquet(f"{store_path}/edges")
        )
        mark("e2 join+repartition+sort+write")

        vmap.unpersist()
        import shutil
        shutil.rmtree(store_path, ignore_errors=True)
        print(f"  (n_dangling={n_dangling})")


if __name__ == "__main__":
    main()
