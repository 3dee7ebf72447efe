"""Output checks: each compares a program output, collected to pandas, with
the generator's ground truth or a ``ref`` computation, and raises
``CheckError`` on the first difference."""

from __future__ import annotations

import numpy as np
import pandas as pd

from . import ref


class CheckError(AssertionError):
    pass


def _fail(what: str, detail) -> None:
    raise CheckError(f"{what}: {detail}")


def by_id(df: pd.DataFrame, col: str, n: int) -> np.ndarray:
    """``df[col]`` as an array indexed by vertex id; every id 0..n-1 exactly once."""
    ids = df["id"].to_numpy()
    if len(ids) != n or len(np.unique(ids)) != n or ids.min(initial=0) < 0 or ids.max(initial=-1) >= n:
        _fail(col, f"expected one row per vertex id 0..{n - 1}, got {len(ids)} rows")
    out = np.empty(n, dtype=df[col].dtype)
    out[ids] = df[col].to_numpy()
    return out


def links(got: pd.DataFrame, truth: list[tuple[str, int, str]]) -> None:
    """Extracted (src_url, pos, dst_url) rows equal the ground truth exactly."""
    g = sorted(zip(got["src_url"], got["pos"].astype(int), got["dst_url"]))
    if g != sorted(truth):
        t = set(truth)
        extra = [r for r in g if r not in t][:3]
        _fail("links", f"{len(g)} rows vs {len(truth)} expected; e.g. unexpected {extra}")


def graph_tables(edges: pd.DataFrame, vertices: pd.DataFrame, urls: list[str],
                 truth: list[tuple[str, int, str]]) -> None:
    """Vertices are page urls plus link targets; edges are the distinct
    links; sum(out_deg) == sum(in_deg) == |E|."""
    want_urls = set(urls) | {d for _, _, d in truth}
    if len(vertices) != len(want_urls) or set(vertices["url"]) != want_urls:
        _fail("vertices", f"{len(vertices)} rows vs {len(want_urls)} urls")
    url_of = dict(zip(vertices["id"], vertices["url"]))
    if len(url_of) != len(vertices):
        _fail("vertices", "duplicate ids")
    got = {(url_of.get(s), url_of.get(d)) for s, d in zip(edges["src"], edges["dst"])}
    want = {(s, d) for s, _, d in truth}
    if len(edges) != len(want) or got != want:
        _fail("edges", f"{len(edges)} rows vs {len(want)} distinct links")
    m = len(edges)
    so, si = int(vertices["out_deg"].sum()), int(vertices["in_deg"].sum())
    if not so == si == m:
        _fail("degrees", f"sum out_deg {so}, sum in_deg {si}, |E| {m}")


def dedup(pairs: pd.DataFrame, planted: list[tuple[int, int]], texts: list[str],
          threshold: float) -> None:
    """Every planted pair is reported; every reported pair's exact shingle
    Jaccard is at least the threshold and matches the reported value."""
    got = {(int(a), int(b)): float(j) for a, b, j in zip(pairs["a"], pairs["b"], pairs["jaccard"])}
    missing = [p for p in planted if p not in got]
    if missing:
        _fail("dedup", f"{len(missing)} planted pairs not reported, e.g. {missing[:3]}")
    for (a, b), j in got.items():
        exact = ref.jaccard(texts[a], texts[b])
        if exact < threshold or abs(exact - j) > 1e-6:
            _fail("dedup", f"pair {(a, b)} reported {j}, exact Jaccard {exact}")


PAGERANK_ATOL = 1e-6


def pagerank(got: np.ndarray, want: np.ndarray) -> None:
    """Per-vertex ranks within ``PAGERANK_ATOL`` of the reference; ranks sum to 1."""
    err = float(np.abs(got - want).max(initial=0.0))
    if not err <= PAGERANK_ATOL:
        _fail("pagerank", f"max per-vertex error {err:.3g} > {PAGERANK_ATOL}")
    s = float(got.sum())
    if not abs(s - 1.0) <= 1e-9:
        _fail("pagerank", f"ranks sum to {s!r}")


def exact(what: str, got: np.ndarray, want: np.ndarray) -> None:
    """Per-vertex values equal the reference exactly."""
    bad = np.flatnonzero(got != want)
    if len(bad):
        v = int(bad[0])
        _fail(what, f"{len(bad)} vertices differ, e.g. vertex {v}: {got[v]} vs {want[v]}")


def louvain(n: int, src: np.ndarray, dst: np.ndarray, labels: np.ndarray) -> None:
    """Modularity of the returned partition is at least the singleton one."""
    q = ref.modularity(n, src, dst, labels)
    q0 = ref.modularity(n, src, dst, np.arange(n))
    if not q >= q0:
        _fail("louvain", f"modularity {q:.6f} below singleton {q0:.6f}")


def mis(n: int, src: np.ndarray, dst: np.ndarray, state: np.ndarray) -> None:
    """States are 'in'/'out' only; no two 'in' vertices are adjacent and
    every 'out' vertex has an 'in' neighbour."""
    if not np.isin(state, ["in", "out"]).all():
        _fail("mis", f"states other than in/out: {sorted(set(state) - {'in', 'out'})}")
    u, v = ref.undirected(src, dst)
    member = state == "in"
    both = member[u] & member[v]
    if both.any():
        k = int(np.flatnonzero(both)[0])
        _fail("mis", f"adjacent members {int(u[k])}, {int(v[k])}")
    covered = np.zeros(n, dtype=bool)
    covered[v[member[u]]] = True
    covered[u[member[v]]] = True
    lonely = np.flatnonzero(~member & ~covered)
    if len(lonely):
        _fail("mis", f"{len(lonely)} 'out' vertices without an 'in' neighbour, e.g. {int(lonely[0])}")


def triangles(got: np.ndarray, want: np.ndarray, total: int) -> None:
    exact("triangles", got, want)
    if int(got.sum()) != 3 * total:
        _fail("triangles", f"sum {int(got.sum())} != 3 x total {total}")


def complexity(got: pd.DataFrame, want: pd.DataFrame, n: int, m: int) -> None:
    """Per-component N and E equal the reference, sum to |V| and |E|, and
    mccabe_generalised == E - N + 2."""
    g = got.set_index("component").sort_index()
    w = want.set_index("component").sort_index()
    if not g.index.equals(w.index):
        _fail("complexity", f"{len(g)} components vs {len(w)} expected")
    for col in ("N", "E", "D", "X"):
        exact(f"complexity.{col}", g[col].to_numpy(), w[col].to_numpy())
    if int(g["N"].sum()) != n or int(g["E"].sum()) != m:
        _fail("complexity", f"sum N {int(g['N'].sum())} / sum E {int(g['E'].sum())} vs {n} / {m}")
    exact("complexity.mccabe_generalised", g["mccabe_generalised"].to_numpy(),
          (g["E"] - g["N"] + 2).to_numpy())
