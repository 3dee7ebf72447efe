"""Tests of the benchmark's own parts: the generators are deterministic, each
reference gives hand-known answers on small graphs, and each check rejects a
perturbed output. No Spark is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from perfbench import checks, gen, ref

# 3-cycle with a pendant {0..3}, 2-cycle {4,5}, isolated self-loop {6},
# isolated vertex {7}, a page linking to a dangling page {8,9}
FIX_N = 10
FIX_SRC = np.array([0, 1, 2, 2, 4, 5, 6, 8])
FIX_DST = np.array([1, 2, 0, 3, 5, 4, 6, 9])
FIX_CC = np.array([0, 0, 0, 0, 4, 4, 6, 7, 8, 8])


def _google_fixpoint(n, src, dst):
    """Stationary vector of the dense Google matrix (eigenvector, not iteration)."""
    d = ref.DAMPING
    od = np.bincount(src, minlength=n)
    g = np.zeros((n, n))
    for s, t in zip(src, dst):
        g[t, s] += d / od[s]
    g[:, od == 0] += d / n
    g += (1 - d) / n
    w, v = np.linalg.eig(g)
    r = np.real(v[:, np.argmin(np.abs(w - 1))])
    return r / r.sum()


# ---------------------------------------------------------------------------
# generators
# ---------------------------------------------------------------------------

def test_crawl_is_deterministic_per_seed():
    a, b, c = gen.crawl(5, 200), gen.crawl(5, 200), gen.crawl(6, 200)
    assert a == b
    assert a.html != c.html
    assert len(a.dup_pairs) == 40 and all(x < y for x, y in a.dup_pairs)
    assert all(ref.jaccard(a.text[x], a.text[y]) > 0.95 for x, y in a.dup_pairs)
    assert not set(a.added) & {(s, d) for s, _, d in a.links}
    assert set(a.removed) <= {(s, d) for s, _, d in a.links}


def test_graph_is_deterministic_and_ends_with_fixtures():
    n, s, d = gen.graph(5, 500)
    n2, s2, d2 = gen.graph(5, 500)
    assert n == n2 and (s == s2).all() and (d == d2).all()
    assert n == 500 + sum(size for _, size in gen.FIXTURES)
    assert len(set(zip(s.tolist(), d.tolist()))) == len(s)   # distinct edges
    cc = ref.components(n, *ref.symmetric(s, d))
    assert (cc[500:] == np.array([500, 501, 502, 502, 504, 504, 504, 504, 508, 508])).all()


# ---------------------------------------------------------------------------
# references on hand-known graphs
# ---------------------------------------------------------------------------

def test_pagerank_hand_values():
    r, _ = ref.pagerank(2, np.array([0, 1]), np.array([1, 0]), tol=1e-15)
    assert np.allclose(r, [0.5, 0.5], atol=1e-12)               # 2-cycle
    r, _ = ref.pagerank(1, np.array([0]), np.array([0]), tol=1e-15)
    assert np.allclose(r, [1.0])                                # isolated self-loop
    r, _ = ref.pagerank(2, np.array([0]), np.array([1]), tol=1e-15, max_iter=1000)
    r0 = 0.5 / 1.425                                            # dangling page
    assert np.allclose(r, [r0, 1 - r0], atol=1e-12)


def test_pagerank_matches_the_google_matrix_fixpoint():
    r, steps = ref.pagerank(FIX_N, FIX_SRC, FIX_DST, tol=1e-15, max_iter=1000)
    assert steps < 1000
    assert np.allclose(r, _google_fixpoint(FIX_N, FIX_SRC, FIX_DST), atol=1e-12)
    assert abs(r.sum() - 1.0) < 1e-12


def test_pagerank_fixed_steps():
    _, steps = ref.pagerank(FIX_N, FIX_SRC, FIX_DST, tol=0.0, max_iter=3)
    assert steps == 3


def test_components_union_find():
    assert (ref.components(FIX_N, FIX_SRC, FIX_DST) == FIX_CC).all()


def test_label_propagation_hand_values():
    s, d = np.array([0, 1, 2, 2]), np.array([1, 2, 0, 3])       # 3-cycle + pendant
    assert ref.label_propagation(4, s, d, 1).tolist() == [1, 0, 0, 2]
    assert ref.label_propagation(4, s, d, 2).tolist() == [0, 0, 0, 0]
    # vertices without neighbours keep their label (self-loops do not count)
    lab = ref.label_propagation(FIX_N, FIX_SRC, FIX_DST, 1)
    assert lab[6] == 6 and lab[7] == 7
    assert lab[4] == 5 and lab[5] == 4                         # 2-cycle swaps


def test_triangles_hand_values():
    per, total = ref.triangles(FIX_N, FIX_SRC, FIX_DST)
    assert per.tolist() == [1, 1, 1, 0, 0, 0, 0, 0, 0, 0] and total == 1
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    per, total = ref.triangles(4, np.array([a for a, _ in k4]), np.array([b for _, b in k4]))
    assert per.tolist() == [3, 3, 3, 3] and total == 4


def test_complexity_hand_values():
    got = ref.complexity(FIX_N, FIX_SRC, FIX_DST, FIX_CC).set_index("component")
    assert got.loc[0].tolist() == [4, 4, 1, 1]      # N, E, D, X
    assert got.loc[4].tolist() == [2, 2, 0, 0]
    assert got.loc[6].tolist() == [1, 1, 0, 0]
    assert got.loc[7].tolist() == [1, 0, 0, 1]
    assert got.loc[8].tolist() == [2, 1, 0, 1]


def test_modularity_hand_values():
    s, d = np.array([0, 1, 2, 3, 4, 5]), np.array([1, 2, 0, 4, 5, 3])   # two triangles
    assert ref.modularity(6, s, d, np.array([0, 0, 0, 3, 3, 3])) == pytest.approx(0.5)
    assert ref.modularity(6, s, d, np.arange(6)) == pytest.approx(-1 / 6)


def test_jaccard_hand_values():
    assert ref.shingles("A, b! c") == {"a b c"}
    assert ref.jaccard("a b c d", "a b c e") == pytest.approx(1 / 3)
    assert ref.jaccard("a b", "a b") == 0.0       # no shingles at all


# ---------------------------------------------------------------------------
# each check accepts the right output and rejects a perturbed one
# ---------------------------------------------------------------------------

def _rejects(fn, *args):
    with pytest.raises(checks.CheckError):
        fn(*args)


def test_by_id_rejects_missing_or_duplicate_vertices():
    df = pd.DataFrame({"id": [0, 1, 2], "x": [5, 6, 7]})
    assert checks.by_id(df, "x", 3).tolist() == [5, 6, 7]
    _rejects(checks.by_id, df.iloc[:2], "x", 3)
    _rejects(checks.by_id, pd.DataFrame({"id": [0, 0, 2], "x": [1, 2, 3]}), "x", 3)


def test_links_check():
    truth = [("http://a/x", 0, "http://a/y"), ("http://a/x", 1, "http://b/z")]
    got = pd.DataFrame(truth, columns=["src_url", "pos", "dst_url"])
    checks.links(got, truth)
    bad = got.copy()
    bad.loc[1, "dst_url"] = "http://B/z"
    _rejects(checks.links, bad, truth)
    _rejects(checks.links, got.iloc[:1], truth)


def test_graph_tables_check():
    truth = [("u0", 0, "u1"), ("u0", 1, "u1"), ("u1", 0, "u2")]
    verts = pd.DataFrame({"id": [10, 11, 12], "url": ["u0", "u1", "u2"],
                          "out_deg": [1, 1, 0], "in_deg": [0, 1, 1]})
    edges = pd.DataFrame({"src": [10, 11], "dst": [11, 12]})
    checks.graph_tables(edges, verts, ["u0", "u1"], truth)
    _rejects(checks.graph_tables, edges.iloc[:1], verts, ["u0", "u1"], truth)
    bad = verts.copy()
    bad.loc[2, "in_deg"] = 2
    _rejects(checks.graph_tables, edges, bad, ["u0", "u1"], truth)


def test_dedup_check():
    texts = ["a b c d", "a b c d", "a b c e", "x y z w"]
    pairs = pd.DataFrame({"a": [0], "b": [1], "jaccard": [1.0]})
    checks.dedup(pairs, [(0, 1)], texts, 0.5)
    _rejects(checks.dedup, pairs.iloc[:0], [(0, 1)], texts, 0.5)        # planted pair missing
    low = pd.DataFrame({"a": [0, 0], "b": [1, 2], "jaccard": [1.0, 0.333333]})
    _rejects(checks.dedup, low, [(0, 1)], texts, 0.5)                   # below threshold
    wrong = pd.DataFrame({"a": [0], "b": [1], "jaccard": [0.9]})
    _rejects(checks.dedup, wrong, [(0, 1)], texts, 0.5)                 # misreported value


def test_pagerank_check():
    want, _ = ref.pagerank(FIX_N, FIX_SRC, FIX_DST, tol=0.0, max_iter=2)
    checks.pagerank(want.copy(), want)
    bad = want.copy()
    bad[3] += 5e-6
    bad[4] -= 5e-6
    _rejects(checks.pagerank, bad, want)                    # off by more than 1e-6
    _rejects(checks.pagerank, want * (1 + 1e-8), want * (1 + 1e-8))  # does not sum to 1


def test_exact_check():
    checks.exact("components", FIX_CC.copy(), FIX_CC)
    bad = FIX_CC.copy()
    bad[9] = 9
    _rejects(checks.exact, "components", bad, FIX_CC)


def test_louvain_check():
    s, d = np.array([0, 1, 2, 3, 4, 5]), np.array([1, 2, 0, 4, 5, 3])
    checks.louvain(6, s, d, np.array([0, 0, 0, 3, 3, 3]))
    _rejects(checks.louvain, 6, s, d, np.array([0, 1, 2, 0, 1, 2]))   # below singleton


def test_mis_check():
    s, d = np.array([0, 1, 2, 2]), np.array([1, 2, 0, 3])   # 3-cycle + pendant, plus isolated 4
    good = np.array(["in", "out", "out", "in", "in"])
    checks.mis(5, s, d, good)
    _rejects(checks.mis, 5, s, d, np.array(["in", "in", "out", "in", "in"]))    # adjacent members
    _rejects(checks.mis, 5, s, d, np.array(["in", "out", "out", "in", "out"]))  # not maximal
    _rejects(checks.mis, 5, s, d, np.array(["in", "out", "out", "und", "in"]))  # undecided


def test_triangles_check():
    per, total = ref.triangles(FIX_N, FIX_SRC, FIX_DST)
    checks.triangles(per.copy(), per, total)
    bad = per.copy()
    bad[3] = 1
    _rejects(checks.triangles, bad, per, total)
    _rejects(checks.triangles, per.copy(), per, total + 1)


def test_complexity_check():
    want = ref.complexity(FIX_N, FIX_SRC, FIX_DST, FIX_CC)
    got = want.assign(mccabe_generalised=want["E"] - want["N"] + 2)
    checks.complexity(got, want, FIX_N, len(FIX_SRC))
    bad = got.copy()
    bad.loc[0, "N"] += 1
    _rejects(checks.complexity, bad, want, FIX_N, len(FIX_SRC))
    bad = got.copy()
    bad.loc[0, "mccabe_generalised"] += 1
    _rejects(checks.complexity, bad, want, FIX_N, len(FIX_SRC))
    _rejects(checks.complexity, got.iloc[1:], want, FIX_N, len(FIX_SRC))
