"""Bench job submitted to the standalone cluster via spark-submit --py-files.

Runs the engine's SCALE PageRank path — blocked CSR (linkgraph.pagerank_csr):
one-time compaction of the edge table into per-(src_block, dst_block)
triplet arrays, then supersteps that ship O(B * rank-block) vectors instead
of shuffling |E| rows (the round-1 flat-path bench measured 0.22 N->4N
efficiency; the row shuffle saturates shared bandwidth long before CPU).

The block store is static input (like the graph itself): a prep run builds
it once on shared storage; the measured runs at both cluster sizes LOAD the
same store, so the N and 4N levels see byte-identical input and the timing
isolates superstep throughput.

argv: n_vertices avg_deg supersteps n_pages [n_blocks] [store_path] [mode]
      [intra_host]
mode: "prep" = synth+build store only; "run" (default) = load/build, then
measure PageRank supersteps + extraction. Prints one RESULT JSON line.

The measured PageRank path: host-local synthetic graph (intra_host links
stay in their range block — the Common-Crawl layout), native scatter-add
kernel, barrier transport (all supersteps in ONE Spark job, slots =
cluster cores, zero per-superstep scheduling overhead).
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import SparkSession, functions as F

from linkgraph.extract import extract_links_udf
from linkgraph.pagerank_csr import build_blocked, load_blocked, pagerank_blocked
from linkgraph.supersteps import core_grant
from linkgraph.synthgraph import synth_edges, synth_vertices


def ensure_store(spark, n_vertices, avg_deg, n_blocks, store_path, intra_host,
                 sym: bool = False, und: bool = False):
    # the FULL synth parameter set is the staleness check — a store built
    # with a different avg_deg/intra_host/blocking must never be silently
    # reused, or the scaling levels would measure a different graph than
    # the invocation requests (round-2 ADVICE, low)
    fp = {
        "n_vertices": n_vertices,
        "avg_deg": avg_deg,
        "n_blocks": n_blocks,
        "intra_host": intra_host,
        "blocking": "range",
        "seed": 42,
        "sym": sym,
    }
    if und:  # key present only when set, so pre-existing stores stay valid
        fp["und"] = True
    if store_path and os.path.exists(f"{store_path}/_info.json"):
        try:
            g = load_blocked(spark, store_path)
            if g.fingerprint == fp:
                return g, None
            g.unpersist()  # stale store from different params: rebuild
        except ValueError:
            pass  # old store format: rebuild
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges = synth_edges(
        spark, n_vertices, avg_deg, num_partitions=parts,
        intra_host=intra_host,
    )
    if sym:  # undirected reachability input for connected components
        from linkgraph.components_csr import symmetrize

        edges = symmetrize(edges)
    if und:  # DISTINCT symmetric closure: modal-vote counts are wrong
        from linkgraph.graph import undirected_edges  # under duplicate edges

        edges = undirected_edges(edges)
    edges = edges.persist()
    n_edges = edges.count()
    t0 = time.perf_counter()
    g = build_blocked(
        spark, edges, synth_vertices(spark, n_vertices, num_partitions=parts),
        n_blocks=n_blocks, store_path=store_path, blocking="range",
        fingerprint=fp,
    )
    build_sec = time.perf_counter() - t0
    edges.unpersist()
    return g, {"n_edges": n_edges, "build_sec": round(build_sec, 3)}


def main() -> None:
    n_vertices, avg_deg, supersteps, n_pages = (int(x) for x in sys.argv[1:5])
    n_blocks = int(sys.argv[5]) if len(sys.argv) > 5 else 384
    store_path = sys.argv[6] if len(sys.argv) > 6 else None
    mode = sys.argv[7] if len(sys.argv) > 7 else "run"
    intra_host = float(sys.argv[8]) if len(sys.argv) > 8 else 0.85
    spark = SparkSession.builder.appName("linkgraph-cluster-bench").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))

    if mode in ("prep-cc", "run-cc"):
        # connected components needs the SYMMETRIZED store (undirected
        # reachability); kept at its own path so the PR store stays valid
        from linkgraph.components_csr import connected_components_blocked

        g, build_info = ensure_store(
            spark, n_vertices, avg_deg, n_blocks, store_path, intra_host,
            sym=True,
        )
        stats: dict = {}
        labels = connected_components_blocked(
            spark, g, max_iter=supersteps, stats=stats
        )
        if mode == "prep-cc":
            # the run itself decode-warms the npy sidecars at full width
            print("RESULT " + json.dumps({
                "mode": "prep-cc", "cc_steps": stats["steps"],
                **(build_info or {}),
            }))
            spark.stop()
            return
        n_edges = spark.read.parquet(f"{g.store_path}/edges").count()
        tail = sorted(stats["step_secs"][len(stats["step_secs"]) // 2:])
        cc_sec = tail[len(tail) // 2]
        n_components = labels.select("component").distinct().count()
        print("RESULT " + json.dumps({
            "n_edges": n_edges,
            "n_blocks": g.n_blocks,
            **(build_info or {}),
            "cc_steps": stats["step_secs"],
            "cc_n_steps": stats["steps"],
            "cc_sec_per_superstep": round(cc_sec, 3),
            "cc_edges_per_sec": round(n_edges / cc_sec, 1),
            "n_components": n_components,
        }))
        spark.stop()
        return

    if mode in ("prep-lpblk", "run-lpblk"):
        # label propagation on the blocked-CSR store (the scale path that
        # replaced the flat join+agg gate workload after its 0.40 round-3
        # result). Store input is the DISTINCT symmetric closure; per-
        # superstep walls come from INSIDE one run (stats["step_secs"]) —
        # the round-3 estimator differenced two runs whose base wall swung
        # 404->634s, drowning the per-superstep delta in noise.
        import numpy as np

        from linkgraph.caching import release_caches
        from linkgraph.labelprop_csr import label_propagation_blocked

        g, build_info = ensure_store(
            spark, n_vertices, avg_deg, n_blocks, store_path, intra_host,
            und=True,
        )
        stats: dict = {}
        iters = 1 if mode == "prep-lpblk" else supersteps
        label_propagation_blocked(spark, g, iterations=iters, stats=stats)
        release_caches()
        if mode == "prep-lpblk":
            # one superstep at full width decode-warms the npy sidecars
            print("RESULT " + json.dumps({
                "mode": "prep-lpblk", **(build_info or {}),
            }))
            spark.stop()
            return
        n_edges = spark.read.parquet(f"{g.store_path}/edges").count()
        tail = sorted(stats["step_secs"][len(stats["step_secs"]) // 2:])
        lp_sec = tail[len(tail) // 2]
        # cross-level agreement: labels live in dense-rank space (identical
        # at both levels); checksum the final label files directly — the
        # transport dir is host-shared, so no O(V) decode job is needed
        tot, cnt, p = 0, 0, (1 << 31) - 1
        fdir = stats["final_dir"]
        for fn in sorted(os.listdir(fdir)):
            arr = np.load(f"{fdir}/{fn}")
            tot += int(np.sum(arr.astype(np.int64) % p))
            cnt += len(arr)
        import shutil

        shutil.rmtree(stats["run_dir"], ignore_errors=True)
        print("RESULT " + json.dumps({
            "n_edges": n_edges,
            "n_blocks": g.n_blocks,
            **(build_info or {}),
            "lp_steps": stats["step_secs"],
            "lp_kernel_secs": stats.get("kernel_secs"),
            "lp_n_steps": stats["steps"],
            "lp_changed": stats["changed"],
            "lp_sec_per_superstep": round(lp_sec, 3),
            "lp_edges_per_sec": round(n_edges / lp_sec, 1),
            "lp_check": [tot, cnt],
        }))
        spark.stop()
        return

    if mode in ("prep-louvblk", "run-louvblk"):
        # synchronous Louvain local moves on the blocked-CSR store (the
        # scale path that replaced the flat join+agg round — the same
        # exchange shape that measured 0.40 as flat LP). Same DISTINCT-
        # symmetric-closure store as the lpblk gate (identical
        # fingerprint, so the prebuilt store is shared); per-round walls
        # (tot job + move job) come from INSIDE one run.
        import numpy as np

        from linkgraph.caching import release_caches
        from linkgraph.community_csr import louvain_blocked

        g, build_info = ensure_store(
            spark, n_vertices, avg_deg, n_blocks, store_path, intra_host,
            und=True,
        )
        stats: dict = {}
        iters = 1 if mode == "prep-louvblk" else supersteps
        louvain_blocked(spark, g, rounds=iters, stats=stats)
        release_caches()
        if mode == "prep-louvblk":
            # one round at full width decode-warms the npy sidecars
            print("RESULT " + json.dumps({
                "mode": "prep-louvblk", **(build_info or {}),
            }))
            spark.stop()
            return
        n_edges = spark.read.parquet(f"{g.store_path}/edges").count()
        tail = sorted(stats["step_secs"][len(stats["step_secs"]) // 2:])
        lv_sec = tail[len(tail) // 2]
        # cross-level agreement: labels live in dense-rank space
        # (identical at both levels); checksum the final label files
        tot, cnt, p = 0, 0, (1 << 31) - 1
        fdir = stats["final_dir"]
        for fn in sorted(os.listdir(fdir)):
            arr = np.load(f"{fdir}/{fn}")
            tot += int(np.sum(arr.astype(np.int64) % p))
            cnt += len(arr)
        import shutil

        shutil.rmtree(stats["run_dir"], ignore_errors=True)
        print("RESULT " + json.dumps({
            "n_edges": n_edges,
            "n_blocks": g.n_blocks,
            **(build_info or {}),
            "lv_steps": stats["step_secs"],
            "lv_kernel_secs": stats.get("kernel_secs"),
            "lv_n_steps": stats["steps"],
            "lv_changed": stats["changed"],
            "lv_sec_per_superstep": round(lv_sec, 3),
            "lv_edges_per_sec": round(n_edges / lv_sec, 1),
            "lv_check": [tot, cnt],
        }))
        spark.stop()
        return

    if mode in ("prep-sspblk", "run-sspblk"):
        # weighted SSSP on the blocked store: native scatter_minw32
        # supersteps over the weight-aligned sidecar. The graph store is
        # DIRECTED (the relaxation follows edge direction); weights are
        # the deterministic (src%97 + dst%89 + 1)/10 fixture, built ONCE
        # at full width next to the store. supersteps = bounded hop count
        # (every superstep scatters ALL stored edges, so per-step wall IS
        # throughput); seeds = ids % 1009 == 0.
        import numpy as np

        from linkgraph.sssp import build_weight_store, sssp_blocked

        g, build_info = ensure_store(
            spark, n_vertices, avg_deg, n_blocks, store_path, intra_host,
        )
        edges = synth_edges(
            spark, n_vertices, avg_deg, num_partitions=parts,
            intra_host=intra_host,
        ).select(
            "src", "dst",
            (
                (F.col("src") % 97 + F.col("dst") % 89 + 1).cast("double")
                / 10.0
            ).alias("w"),
        )
        wpath = build_weight_store(
            spark, g, edges, wpath=f"{g.store_path}/wedges-bench"
        )
        seeds = synth_vertices(spark, n_vertices).select("id").where(
            F.col("id") % 1009 == 0
        )
        stats: dict = {}
        hops = 1 if mode == "prep-sspblk" else supersteps
        sssp_blocked(spark, g, wpath, seeds, max_hops=hops, stats=stats)
        if mode == "prep-sspblk":
            import shutil

            shutil.rmtree(stats["run_dir"], ignore_errors=True)
            # the 1-hop run decode-warms the weight-store npy sidecars
            print("RESULT " + json.dumps({
                "mode": "prep-sspblk", **(build_info or {}),
            }))
            spark.stop()
            return
        n_edges = spark.read.schema("sb int, sl int, dl int, w double, db int") \
            .parquet(wpath).count()
        tail = sorted(stats["step_secs"][len(stats["step_secs"]) // 2:])
        ssp_sec = tail[len(tail) // 2]
        # cross-level agreement: reached counts per step + a distance
        # checksum over the final vectors (sum of micro-unit dists mod p)
        tot, cnt, p = 0, 0, (1 << 31) - 1
        fdir = stats["final_dir"]
        for fn in sorted(os.listdir(fdir)):
            arr = np.load(f"{fdir}/{fn}")
            fin = arr[np.isfinite(arr)]
            tot += int(np.sum(np.rint(fin * 10.0).astype(np.int64) % p))
            cnt += int(len(fin))
        import shutil

        shutil.rmtree(stats["run_dir"], ignore_errors=True)
        print("RESULT " + json.dumps({
            "n_edges": n_edges,
            "n_blocks": g.n_blocks,
            **(build_info or {}),
            "ssp_steps": stats["step_secs"],
            "ssp_n_steps": stats["steps"],
            "ssp_reached": stats["reached"],
            "ssp_sec_per_superstep": round(ssp_sec, 3),
            "ssp_edges_per_sec": round(n_edges / ssp_sec, 1),
            "ssp_check": [tot % p, cnt],
        }))
        spark.stop()
        return

    if mode in ("prep-wprblk", "run-wprblk"):
        # weighted PageRank on the blocked store: native scatter_addw32
        # (fused gather-multiply-scatter-add) over the SUM-collapsed
        # weight sidecar; strengths from the same deterministic weight
        # fixture. supersteps = fixed count (throughput, not convergence).
        import numpy as np

        from linkgraph.sssp import build_weight_store
        from linkgraph.wpagerank_csr import wpagerank_blocked

        g, build_info = ensure_store(
            spark, n_vertices, avg_deg, n_blocks, store_path, intra_host,
        )
        wedges = synth_edges(
            spark, n_vertices, avg_deg, num_partitions=parts,
            intra_host=intra_host,
        ).select(
            "src", "dst",
            (
                (F.col("src") % 97 + F.col("dst") % 89 + 1).cast("double")
                / 10.0
            ).alias("w"),
        )
        wpath = build_weight_store(
            spark, g, wedges, agg="sum", keep_self=True,
            wpath=f"{g.store_path}/wedges-bench-sum",
        )
        stats: dict = {}
        iters = 1 if mode == "prep-wprblk" else supersteps
        wpagerank_blocked(
            spark, g, wpath, wedges, max_iter=iters, stats=stats
        )
        import shutil

        if mode == "prep-wprblk":
            shutil.rmtree(stats["run_dir"], ignore_errors=True)
            print("RESULT " + json.dumps({
                "mode": "prep-wprblk", **(build_info or {}),
            }))
            spark.stop()
            return
        n_edges = spark.read.schema("sb int, sl int, dl int, w double, db int") \
            .parquet(wpath).count()
        tail = sorted(stats["step_secs"][len(stats["step_secs"]) // 2:])
        wpr_sec = tail[len(tail) // 2]
        # cross-level agreement: per-block rank vectors are pure functions
        # of step inputs -> bit-identical across levels; checksum raw bits
        tot, cnt, p = 0, 0, (1 << 31) - 1
        fdir = stats["final_dir"]
        for fn in sorted(os.listdir(fdir)):
            if not fn.startswith("b"):
                continue  # skip the pre-scaled s*.npy twins
            arr = np.load(f"{fdir}/{fn}")
            tot = (tot + int(np.sum(arr.view(np.int64) % p))) % p
            cnt += len(arr)
        shutil.rmtree(stats["run_dir"], ignore_errors=True)
        print("RESULT " + json.dumps({
            "n_edges": n_edges,
            "n_blocks": g.n_blocks,
            **(build_info or {}),
            "wpr_steps": stats["step_secs"],
            "wpr_n_steps": stats["steps"],
            "wpr_sec_per_superstep": round(wpr_sec, 3),
            "wpr_edges_per_sec": round(n_edges / wpr_sec, 1),
            "wpr_check": [tot, cnt],
        }))
        spark.stop()
        return

    if mode in ("prep-triblk", "run-triblk"):
        # triangle counting on the blocked oriented-CSR store
        # (linkgraph.triangles_csr): ONE map-only stage of native
        # sorted-merge intersections — the zero-shuffle replacement for
        # the flat wedge-join gate workload (round-3 reps passed at 0.90
        # median but with 0.83-1.11 variance and 8-13 min walls at only
        # 45.7M edges). One-pass workload: the estimator is simply the
        # count-job wall, two passes per level, min (additive noise).
        from linkgraph.triangles_csr import (
            build_tri_store, load_tri_store, triangle_total_blocked,
        )

        fp = {
            "n_vertices": n_vertices, "avg_deg": avg_deg,
            "n_blocks": n_blocks, "intra_host": intra_host,
            "seed": 42, "kind": "tri",
        }
        ts, build_info = None, None
        if store_path and os.path.exists(f"{store_path}/_info.json"):
            try:
                cand = load_tri_store(spark, store_path)
                if cand.fingerprint == fp:
                    ts = cand
                else:
                    cand.unpersist()
            except ValueError:
                pass
        if ts is None:
            from linkgraph.synthgraph import synth_edges as _se

            edges = _se(
                spark, n_vertices, avg_deg, num_partitions=parts,
                intra_host=intra_host,
            ).persist()
            n_dir_edges = edges.count()
            t0 = time.perf_counter()
            ts = build_tri_store(
                spark, edges, n_blocks=n_blocks, store_path=store_path,
                fingerprint=fp,
            )
            build_info = {
                "n_dir_edges": n_dir_edges,
                "build_sec": round(time.perf_counter() - t0, 3),
            }
            edges.unpersist()
        if mode == "prep-triblk":
            # full-width pass decode-warms the adjacency sidecars (the
            # measured — possibly 1-core — runs then only mmap)
            t0 = time.perf_counter()
            n_tri = triangle_total_blocked(spark, ts)
            print("RESULT " + json.dumps({
                "mode": "prep-triblk", "n_triangles": n_tri,
                "warm_sec": round(time.perf_counter() - t0, 3),
                **(build_info or {}),
            }))
            spark.stop()
            return
        n_pairs = spark.read.parquet(f"{ts.store_path}/edges").count()
        walls, kernel_sums, n_tri = [], [], None
        for _ in range(2):
            stats: dict = {}
            t0 = time.perf_counter()
            n_tri = triangle_total_blocked(spark, ts, stats=stats)
            walls.append(time.perf_counter() - t0)
            kernel_sums.append(stats["kernel_sec_sum"])
        tri_sec = min(walls)
        print("RESULT " + json.dumps({
            "n_pairs": n_pairs,
            "n_blocks": ts.n_blocks,
            **(build_info or {}),
            "tri_walls": [round(w, 3) for w in walls],
            "tri_sec": round(tri_sec, 3),
            "tri_kernel_sec_sums": [round(k, 3) for k in kernel_sums],
            "tri_pairs_per_sec": round(n_pairs / tri_sec, 1),
            "n_triangles": n_tri,
        }))
        spark.stop()
        return

    if mode == "run-lptri":
        # label propagation + triangle counting: flat shuffle-on-key
        # DataFrame jobs (no blocked store) over a synthesized graph both
        # levels regenerate deterministically (seed 42) and persist before
        # any timing. LP's supersteps are a lazy fused chain (no per-round
        # driver action), so per-superstep cost is measured as the
        # MARGINAL wall between a k_lo- and a k_hi-iteration run —
        # Δwall/Δiters cancels every fixed cost (synth, the one-time
        # edge-side repartition+persist, JIT/codegen warmup). Two passes
        # per point, min (additive contention noise, BENCH/BASELINE.md).
        from linkgraph.caching import release_caches
        from linkgraph.labelprop import label_propagation
        from linkgraph.triangles import triangle_total

        edges = synth_edges(
            spark, n_vertices, avg_deg, num_partitions=parts,
            intra_host=intra_host,
        ).persist()
        n_edges = edges.count()
        verts = synth_vertices(spark, n_vertices, num_partitions=parts).persist()
        verts.count()

        def lp_wall(iters: int) -> tuple[float, list[int]]:
            t0 = time.perf_counter()
            row = label_propagation(
                spark, edges, verts, iterations=iters
            ).agg(F.sum("label").alias("s"), F.count("*").alias("c")).collect()[0]
            wall = time.perf_counter() - t0
            release_caches()  # each call registers its own edge-side cache
            return wall, [int(row["s"]), int(row["c"])]

        k_lo, k_hi = 1, max(2, supersteps)
        lo_walls, hi_walls = [], []
        for _ in range(2):
            w, lp_check = lp_wall(k_lo)
            lo_walls.append(w)
        for _ in range(2):
            w, lp_check = lp_wall(k_hi)
            hi_walls.append(w)
        lp_sec = (min(hi_walls) - min(lo_walls)) / (k_hi - k_lo)
        traversals = 2 * n_edges  # each superstep streams the symmetrized set

        tri_walls, n_tri = [], None
        for _ in range(2):
            t0 = time.perf_counter()
            n_tri = triangle_total(spark, edges)
            tri_walls.append(time.perf_counter() - t0)
            release_caches()
        tri_sec = min(tri_walls)

        print("RESULT " + json.dumps({
            "n_edges": n_edges,
            "lp_iters": [k_lo, k_hi],
            "lp_walls_lo": [round(w, 3) for w in lo_walls],
            "lp_walls_hi": [round(w, 3) for w in hi_walls],
            "lp_sec_per_superstep": round(lp_sec, 3),
            "lp_edges_per_sec": round(traversals / lp_sec, 1),
            "lp_check": lp_check,  # label sum+count at k_hi: levels must agree
            "tri_walls": [round(w, 3) for w in tri_walls],
            "tri_sec": round(tri_sec, 3),
            "tri_edges_per_sec": round(n_edges / tri_sec, 1),
            "n_triangles": n_tri,
        }))
        spark.stop()
        return

    g, build_info = ensure_store(
        spark, n_vertices, avg_deg, n_blocks, store_path, intra_host
    )
    if mode == "prep":
        # warm the per-host npy sidecar cache at full width: the first
        # touch of each block converts parquet -> packed npy (one-time,
        # CPU-heavy); doing it here keeps that cost out of the measured
        # (and possibly 1-core) runs, which then only mmap
        import shutil
        import uuid

        from linkgraph.pagerank_csr import _ranks_root

        warm_dir = f"{_ranks_root(g)}/prep-warm-{uuid.uuid4().hex[:8]}"
        t0 = time.perf_counter()
        pagerank_blocked(spark, g, tol=0.0, max_iter=1, run_dir=warm_dir)
        warm_sec = time.perf_counter() - t0
        shutil.rmtree(warm_dir, ignore_errors=True)
        print("RESULT " + json.dumps({
            "mode": "prep", "decode_warm_sec": round(warm_sec, 3),
            **(build_info or {}),
        }))
        spark.stop()
        return

    n_edges = spark.read.parquet(f"{g.store_path}/edges").count()

    # barrier slots must equal the cluster's ACTUAL core grant:
    # defaultParallelism is clamped to >=2, which on a 1-core cluster asks
    # the barrier stage for more simultaneous slots than exist and hangs
    # the scheduler until the barrier-check timeout
    slots = core_grant(spark.sparkContext)
    res = pagerank_blocked(
        spark, g, tol=0.0, max_iter=supersteps, transport="barrier",
        barrier_slots=slots,
    )
    step_secs = [round(s.seconds, 3) for s in res.supersteps]
    # steady state: median of the last half (edge-block cache fill, JIT and
    # python-worker warmup dominate the first supersteps)
    tail = sorted(step_secs[len(step_secs) // 2:])
    pr_sec = tail[len(tail) // 2]

    # ~10k pages per task: a fixed 128-way split of a small page set puts
    # ~250ms of per-task dispatch overhead on every 500-page task, which
    # swamps the 1-core level; both levels share the same partitioning
    pages_parts = max(16, min(parts, n_pages // 10_000))
    pages = spark.range(0, n_pages, numPartitions=pages_parts).select(
        F.concat(F.lit("https://bench.example/p"), F.col("id")).alias("url"),
        F.encode(
            F.concat(
                F.lit("<html><body><p>bench page body text</p>"),
                F.aggregate(
                    F.transform(
                        F.sequence(F.lit(0), F.pmod(F.col("id"), F.lit(12))),
                        lambda j: F.concat(
                            F.lit('<a href="https://bench.example/p'),
                            F.pmod(F.col("id") * 31 + j * 7, F.lit(n_pages)),
                            F.lit('#s">x</a>'),
                        ),
                    ),
                    F.lit(""),
                    lambda acc, x: F.concat(acc, x),
                ),
                F.lit("</body></html>"),
            ),
            "UTF-8",
        ).alias("html"),
    ).persist()
    pages.count()

    def run_extract():
        return pages.select(
            F.explode(extract_links_udf(F.col("html"), F.col("url")))
        ).count()

    # warm python workers on a 1/16 slice that keeps the full partitioning
    # (limit() would collapse to one partition and leave workers cold); a
    # full warm pass would double the N-level wall clock for no signal
    pages.where(F.col("url").substr(-1, 1).isin("0", "8")).select(
        F.explode(extract_links_udf(F.col("html"), F.col("url")))
    ).count()
    # two timed passes, keep the best: per-pass noise on a shared
    # virtualized host is strictly additive (contention only slows a pass)
    ex_secs = []
    for _ in range(2):
        t0 = time.perf_counter()
        n_links = run_extract()
        ex_secs.append(time.perf_counter() - t0)
    ex_sec = min(ex_secs)

    print(
        "RESULT "
        + json.dumps(
            {
                "n_edges": n_edges,
                "n_blocks": g.n_blocks,
                **(build_info or {}),
                "pagerank_steps": step_secs,
                "pagerank_sec_per_superstep": round(pr_sec, 3),
                "pagerank_edges_per_sec": round(n_edges / pr_sec, 1),
                "extract_sec": round(ex_sec, 3),
                "extract_secs_all": [round(s, 3) for s in ex_secs],
                "extract_pages_per_sec": round(n_pages / ex_sec, 1),
                "n_links": n_links,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
