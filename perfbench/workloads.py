"""The workloads. Each calls ``linkgraph``'s public functions as a user
would, materializes every column of every output (``toPandas``), and checks
the outputs against ``gen`` ground truth and ``ref`` computations.

A workload object is built in set-up (inputs generated, input frames
cached), then ``round()`` runs the job once and returns what it produced,
``release()`` frees what the round built, ``check()`` verifies the outputs
and ``close()`` releases the set-up; a traced run also calls
``traced_extras()``, where a workload has it, once after the rounds. Only
``round()`` is timed. The
arguments passed to the program are the ones that define the job (superstep,
iteration and round counts, the delta); strategy knobs (transport, block
count, blocking, slots) stay at the program's defaults.
"""

from __future__ import annotations

import os
import time
from functools import cached_property

import numpy as np
import pandas as pd

from linkgraph import native
from linkgraph.caching import release_caches
from linkgraph.community import louvain_communities
from linkgraph.complexity import component_complexity
from linkgraph.components import connected_components
from linkgraph.dedup import minhash_dedup_pairs
from linkgraph.extract import build_links, links_series
from linkgraph.graph import build_edges, build_vertices
from linkgraph.labelprop import label_propagation
from linkgraph.mis import maximal_independent_set
from linkgraph.pagerank_csr import build_blocked, pagerank_blocked, update_blocked
from linkgraph.triangles import triangle_counts

from . import checks, gen, ref

# job-defining arguments
PR_STEPS = 1           # PageRank supersteps (tol=0.0: a fixed count)
DEDUP_THRESHOLD = 0.5  # the program's default verify threshold, checked against
LP_ITERS = 2
LOUVAIN_ROUNDS = 1

# input sizes
CRAWL_PAGES = 3000
FLAT_VERTICES = 6000


def collect(df):
    """Cache ``df`` and materialize every column -> (cached frame, pandas)."""
    df = df.persist()
    return df, df.toPandas()


def _listing(path: str) -> dict[str, tuple[int, int, int]]:
    """relative path -> (size, mtime_ns, inode) of every store file outside
    rank runs and decoded sidecars."""
    out = {}
    for d, dirs, fs in os.walk(path):
        dirs[:] = [x for x in dirs if x not in ("ranks", "npy")]
        for f in fs:
            st = os.stat(os.path.join(d, f))
            out[os.path.relpath(os.path.join(d, f), path)] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return out


def broadcast_joins(df) -> int:
    """Broadcast joins in ``df``'s physical plan (the final adaptive plan
    once the frame has been executed)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    return plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin")


# ---------------------------------------------------------------------------
# crawl_ingest — the write path
# ---------------------------------------------------------------------------

class CrawlIngest:
    """A crawl batch becomes a ranked store: links, edge and vertex tables,
    near-duplicate pairs, a blocked store, the recrawl delta applied to it,
    and PageRank over the updated store."""

    calls = ("extract.build_links", "graph.build_edges", "graph.build_vertices",
             "dedup.minhash_dedup_pairs", "pagerank_csr.build_blocked",
             "pagerank_csr.update_blocked", "pagerank_csr.pagerank_blocked")
    extra_metrics = (
        "extract.links_series.pages_per_s",
        "dedup.minhash_dedup_pairs.verified_per_candidate",
        "pagerank_csr.build_blocked.store_bytes_per_edge",
        "pagerank_csr.update_blocked.bytes_rewritten_per_delta_edge",
        "pagerank_csr.pagerank_blocked.supersteps",
        "pagerank_csr.pagerank_blocked.superstep_median_s",
        "pagerank_csr.pagerank_blocked.overhead_s",
        "native.scatter_add_pack16.edges_per_s",
    )

    def __init__(self, ctx, seed: int):
        self.ctx, self.spark, self.seed = ctx, ctx.spark, seed
        c = self.crawl = gen.crawl(seed, CRAWL_PAGES)
        pdf = pd.DataFrame({
            "doc_id": np.arange(len(c.urls), dtype=np.int64),
            "url": c.urls, "html": c.html, "text": c.text,
        })
        self.pages = self.spark.createDataFrame(pdf).persist()
        self.pages.count()
        # the recrawl delta, in the program's id space
        delta = self.spark.createDataFrame(
            [(s, d, 0, True) for s, d in c.added] + [(s, d, 0, False) for s, d in c.removed],
            "src_url string, dst_url string, pos int, add boolean",
        )
        self.added = build_edges(delta.where("add")).persist()
        self.removed = build_edges(delta.where("not add")).persist()
        self.added.count()
        self.removed.count()
        self._held = []

    def round(self) -> dict:
        spark, call, traced = self.spark, self.ctx.call, self.ctx.traced
        links, links_pd = call("extract.build_links", lambda: collect(build_links(self.pages)))
        edges, edges_pd = call("graph.build_edges", lambda: collect(build_edges(links)))
        verts, verts_pd = call("graph.build_vertices",
                               lambda: collect(build_vertices(self.pages, links)))

        def dedup():
            out = minhash_dedup_pairs(self.pages).toPandas()
            release_caches()
            return out

        pairs_pd = call("dedup.minhash_dedup_pairs", dedup)
        path = self.ctx.fresh_path()
        g = call("pagerank_csr.build_blocked", build_blocked, spark, edges, verts.select("id"),
                 store_path=path)
        built = (g.n, g.sum_od)
        if traced:
            before = _listing(path)
            self.ctx.record("pagerank_csr.build_blocked.store_bytes_per_edge",
                            sum(v[0] for v in before.values()) / max(1, g.sum_od))
        g2 = call("pagerank_csr.update_blocked", update_blocked, spark, g,
                  added=self.added, removed=self.removed)
        if traced:
            after = _listing(path)
            rewritten = sum(v[0] for k, v in after.items() if before.get(k) != v)
            n_delta = len(self.crawl.added) + len(self.crawl.removed)
            self.ctx.record("pagerank_csr.update_blocked.bytes_rewritten_per_delta_edge",
                            rewritten / n_delta)

        def pr():
            res = pagerank_blocked(spark, g2, tol=0.0, max_iter=PR_STEPS)
            return res, res.ranks.toPandas()

        res, ranks_pd = call("pagerank_csr.pagerank_blocked", pr)
        if traced:
            self.ctx.superstep_metrics("pagerank_csr.pagerank_blocked", res)
            self._kernel(g2)
        self._held = [links, edges, verts, g, g2]
        return dict(links=links_pd, edges=edges_pd, vertices=verts_pd, pairs=pairs_pd,
                    ranks=ranks_pd, store=built, store2=(g2.n, g2.sum_od))

    def release(self) -> None:
        links, edges, verts, g, g2 = self._held
        g2.delete()
        g.delete()
        for df in (links, edges, verts):
            df.unpersist()
        self._held = []

    @cached_property
    def refs(self) -> dict:
        c = self.crawl
        vurls = sorted(set(c.urls) | {d for _, _, d in c.links})
        vidx = {u: k for k, u in enumerate(vurls)}
        e = {(vidx[s], vidx[d]) for s, _, d in c.links}
        post = sorted((e - {(vidx[s], vidx[d]) for s, d in c.removed})
                      | {(vidx[s], vidx[d]) for s, d in c.added})
        src = np.array([s for s, _ in post], dtype=np.int64)
        dst = np.array([d for _, d in post], dtype=np.int64)
        pr, _ = ref.pagerank(len(vurls), src, dst, tol=0.0, max_iter=PR_STEPS)
        return dict(vidx=vidx, m=len(e), m2=len(post), pr=pr)

    def check(self, out: dict) -> None:
        c, r = self.crawl, self.refs
        checks.links(out["links"], c.links)
        checks.graph_tables(out["edges"], out["vertices"], c.urls, c.links)
        checks.dedup(out["pairs"], c.dup_pairs, c.text, DEDUP_THRESHOLD)
        n = len(r["vidx"])
        if out["store"] != (n, r["m"]) or out["store2"] != (n, r["m2"]):
            raise checks.CheckError(
                f"store (n, sum_od) {out['store']} -> {out['store2']}, "
                f"expected {(n, r['m'])} -> {(n, r['m2'])}")
        v = out["vertices"]
        row = dict(zip(v["id"], v["url"].map(r["vidx"])))
        ranks = pd.DataFrame({"id": out["ranks"]["id"].map(row), "rank": out["ranks"]["rank"]})
        checks.pagerank(checks.by_id(ranks, "rank", n), r["pr"])

    def _kernel(self, g) -> None:
        """The native scatter kernel on arrays shaped like one destination
        block of ``g``: its share of the edges, block-sized vectors."""
        rng = np.random.default_rng(self.seed)
        bsize = -(-g.n // g.n_blocks)
        m = max(1, g.sum_od // g.n_blocks)
        e = ((rng.integers(0, bsize, m, dtype=np.uint32) << np.uint32(16))
             | rng.integers(0, bsize, m, dtype=np.uint32))
        rs, acc = rng.random(bsize), np.zeros(bsize)
        reps, t = 0, time.perf_counter()
        while reps < 10 or time.perf_counter() - t < 0.2:
            native.scatter_add_pack16(e, rs, acc)
            reps += 1
        self.ctx.record("native.scatter_add_pack16.edges_per_s",
                        reps * m / (time.perf_counter() - t))

    def traced_extras(self) -> None:
        c = self.crawl
        t = time.perf_counter()
        links_series(pd.Series(c.html), pd.Series(c.urls))
        self.ctx.record("extract.links_series.pages_per_s", len(c.html) / (time.perf_counter() - t))
        cand = minhash_dedup_pairs(self.pages, verify_threshold=None).toPandas()
        verified = minhash_dedup_pairs(self.pages).toPandas()
        release_caches()
        self.ctx.record("dedup.minhash_dedup_pairs.verified_per_candidate",
                        len(verified) / max(1, len(cand)))

    def close(self) -> None:
        for df in (self.pages, self.added, self.removed):
            df.unpersist()


# ---------------------------------------------------------------------------
# flat_analytics — DataFrame operators, no store
# ---------------------------------------------------------------------------

class FlatAnalytics:
    """Components and their complexity, label propagation, Louvain, a
    maximal independent set and triangle counts over edge/vertex frames."""

    calls = ("components.connected_components", "complexity.component_complexity",
             "labelprop.label_propagation", "community.louvain_communities",
             "mis.maximal_independent_set", "triangles.triangle_counts")
    extra_metrics = tuple(f"{c}.broadcast_joins" for c in calls)

    def __init__(self, ctx, seed: int):
        self.ctx, self.spark, self.seed = ctx, ctx.spark, seed
        self.n, self.src, self.dst = gen.graph(seed, FLAT_VERTICES)
        self.edges = self.spark.createDataFrame(
            pd.DataFrame({"src": self.src, "dst": self.dst})).persist()
        self.verts = self.spark.createDataFrame(
            pd.DataFrame({"id": np.arange(self.n, dtype=np.int64)})).persist()
        self.edges.count()
        self.verts.count()

    def _op(self, name: str, make):
        def run():
            df = make()
            pdf = df.toPandas()
            if self.ctx.traced:
                self.ctx.record(f"{name}.broadcast_joins", broadcast_joins(df))
            return df, pdf

        return self.ctx.call(name, run)

    def round(self) -> dict:
        spark, e, v, op = self.spark, self.edges, self.verts, self._op
        comps, cc = op("components.connected_components",
                       lambda: connected_components(spark, e, v).persist())
        _, cx = op("complexity.component_complexity",
                   lambda: component_complexity(spark, e, comps))
        comps.unpersist()
        _, lp = op("labelprop.label_propagation",
                   lambda: label_propagation(spark, e, v, iterations=LP_ITERS))
        _, lv = op("community.louvain_communities",
                   lambda: louvain_communities(spark, e, v, rounds=LOUVAIN_ROUNDS))
        _, mis = op("mis.maximal_independent_set", lambda: maximal_independent_set(spark, e, v))
        _, tri = op("triangles.triangle_counts", lambda: triangle_counts(spark, e, v))
        return dict(cc=cc, cx=cx, lp=lp, lv=lv, mis=mis, tri=tri)

    def release(self) -> None:
        release_caches()

    @cached_property
    def refs(self) -> dict:
        s, d = ref.symmetric(self.src, self.dst)
        cc = ref.components(self.n, s, d)
        return dict(cc=cc, cx=ref.complexity(self.n, self.src, self.dst, cc),
                    lp=ref.label_propagation(self.n, self.src, self.dst, LP_ITERS),
                    tri=ref.triangles(self.n, self.src, self.dst))

    def check(self, out: dict) -> None:
        n, r = self.n, self.refs
        checks.exact("components", checks.by_id(out["cc"], "component", n), r["cc"])
        checks.complexity(out["cx"], r["cx"], n, len(self.src))
        checks.exact("labelprop", checks.by_id(out["lp"], "label", n), r["lp"])
        checks.louvain(n, self.src, self.dst, checks.by_id(out["lv"], "label", n))
        checks.mis(n, self.src, self.dst, checks.by_id(out["mis"], "state", n))
        checks.triangles(checks.by_id(out["tri"], "triangles", n), *r["tri"])

    def close(self) -> None:
        self.edges.unpersist()
        self.verts.unpersist()


WORKLOADS = {"crawl_ingest": CrawlIngest, "flat_analytics": FlatAnalytics}


def per_layer_metrics() -> list[str]:
    """Every per-layer metric a traced run reports, for any workload: the
    base measures of each public call, the extra ones, and the traced
    round's wall time (traced minus untraced ``job_s`` is the tracing
    overhead)."""
    names = {"traced.job_s"}
    for w in WORKLOADS.values():
        names.update(f"{c}.{m}" for c in w.calls for m in ("s", "jobs", "shuffle_mb"))
        names.update(w.extra_metrics)
    return sorted(names)
