"""Reference computations, written apart from the program.

Plain numpy / pandas / Python over index arrays ``src``, ``dst`` (vertices
0..n-1). None of this imports ``linkgraph``; the semantics are the ones the
program documents:

* PageRank: damping ``DAMPING``, uniform teleport, the rank held by dangling
  vertices (out-degree 0) spread uniformly, stop after the first superstep
  whose L1 change is below ``tol``.
* components, label propagation, triangles, modularity: over the undirected
  simple graph (each directed edge both ways, duplicates and self-loops
  dropped).
* label propagation: synchronous; each vertex takes the most frequent label
  among its neighbours' previous labels, ties to the smallest label; a
  vertex without neighbours keeps its label.
* complexity: per weak component, N vertices, E directed edges, D vertices
  with out-degree >= 2, X vertices with out-degree 0.
* shingles: word ``SHINGLE``-grams of ``lower(text)`` with runs of non ``[a-z0-9]``
  as separators.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd


DAMPING = 0.85   # the program's default
SHINGLE = 3      # words per shingle, as the program's dedup uses


def pagerank(n: int, src: np.ndarray, dst: np.ndarray, tol: float = 1e-9,
             max_iter: int = 100) -> tuple[np.ndarray, int]:
    """-> (ranks, supersteps run)."""
    od = np.bincount(src, minlength=n).astype(np.float64)
    inv = np.divide(1.0, od, out=np.zeros(n), where=od > 0)
    dangling = od == 0
    r = np.full(n, 1.0 / n)
    steps = 0
    for _ in range(max_iter):
        acc = np.bincount(dst, weights=(r * inv)[src], minlength=n)
        new = (1.0 - DAMPING) / n + DAMPING * (acc + r[dangling].sum() / n)
        l1 = float(np.abs(new - r).sum())
        r = new
        steps += 1
        if l1 < tol:
            break
    return r, steps


def undirected(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Distinct canonical pairs (u < v) of the undirected simple graph."""
    keep = src != dst
    u = np.minimum(src[keep], dst[keep])
    v = np.maximum(src[keep], dst[keep])
    pairs = np.unique(np.stack([u, v], axis=1), axis=0)
    return pairs[:, 0], pairs[:, 1]


def symmetric(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Both directions of every undirected simple edge."""
    u, v = undirected(src, dst)
    return np.concatenate([u, v]), np.concatenate([v, u])


def components(n: int, src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Weak components by union-find; label = smallest vertex of the component."""
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(src.tolist(), dst.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            # keep the smaller root: every root is its component's minimum
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    return np.fromiter((find(x) for x in range(n)), dtype=np.int64, count=n)


def label_propagation(
    n: int, src: np.ndarray, dst: np.ndarray, iterations: int,
    labels: np.ndarray | None = None,
) -> np.ndarray:
    """Synchronous modal-label propagation; ``labels`` default to 0..n-1."""
    s, d = symmetric(src, dst)
    lab = np.arange(n, dtype=np.int64) if labels is None else labels.copy()
    has_nbr = np.bincount(d, minlength=n) > 0
    for _ in range(iterations):
        votes = pd.DataFrame({"v": d, "lab": lab[s]})
        cnt = votes.groupby(["v", "lab"]).size().reset_index(name="c")
        cnt = cnt.sort_values(["v", "c", "lab"], ascending=[True, False, True])
        best = cnt.drop_duplicates("v")
        new = lab.copy()
        new[best["v"].to_numpy()] = best["lab"].to_numpy()
        new[~has_nbr] = lab[~has_nbr]
        lab = new
    return lab


def triangles(n: int, src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, int]:
    """-> (per-vertex triangle counts, total) with pandas joins over edges
    oriented from lower to higher (degree, id)."""
    u, v = undirected(src, dst)
    deg = np.bincount(u, minlength=n) + np.bincount(v, minlength=n)
    flip = (deg[u] > deg[v]) | ((deg[u] == deg[v]) & (u > v))
    a = np.where(flip, v, u)
    b = np.where(flip, u, v)
    o = pd.DataFrame({"a": a, "b": b})
    wedges = o.merge(o.rename(columns={"b": "c"}), on="a")
    wedges = wedges[wedges["b"] != wedges["c"]]
    closed = wedges.merge(o.rename(columns={"a": "b", "b": "c"}), on=["b", "c"])
    per = np.zeros(n, dtype=np.int64)
    for col in ("a", "b", "c"):
        per += np.bincount(closed[col].to_numpy(), minlength=n)
    return per, len(closed)


def complexity(n: int, src: np.ndarray, dst: np.ndarray, comp: np.ndarray) -> pd.DataFrame:
    """-> (component, N, E, D, X) per weak component."""
    od = np.bincount(src, minlength=n)
    v = pd.DataFrame({"component": comp, "D": (od >= 2).astype(np.int64), "X": (od == 0).astype(np.int64)})
    out = v.groupby("component").agg(N=("D", "size"), D=("D", "sum"), X=("X", "sum"))
    e = pd.Series(comp[src]).value_counts()
    out["E"] = e.reindex(out.index, fill_value=0).astype(np.int64)
    return out.reset_index()[["component", "N", "E", "D", "X"]]


def modularity(n: int, src: np.ndarray, dst: np.ndarray, labels: np.ndarray) -> float:
    """Newman-Girvan modularity of ``labels`` on the undirected simple graph."""
    u, v = undirected(src, dst)
    m = len(u)
    if m == 0:
        return 0.0
    k = np.bincount(u, minlength=n) + np.bincount(v, minlength=n)
    inside = float((labels[u] == labels[v]).sum())
    _, inv = np.unique(labels, return_inverse=True)
    tot = np.bincount(inv, weights=k.astype(np.float64))
    return inside / m - float((tot ** 2).sum()) / (4.0 * m * m)


_NON_ALNUM = re.compile(r"[^a-z0-9]+")


def shingles(text: str) -> set[str]:
    toks = _NON_ALNUM.sub(" ", text.lower()).strip().split()
    return {" ".join(toks[i:i + SHINGLE]) for i in range(len(toks) - SHINGLE + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    if not sa and not sb:
        return 0.0
    return len(sa & sb) / len(sa | sb)
