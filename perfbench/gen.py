"""Seeded input generators for the benchmark.

Everything here is plain numpy/Python driven by one ``numpy.random.Generator``
built from the run's seed, so the same seed gives byte-identical inputs, and
nothing is taken from ``linkgraph`` (a change to the program cannot change
what it is measured on).

Two kinds of input:

* ``crawl(seed, n_pages)`` — a crawl batch: HTML pages whose anchors are written
  in varied spellings, with the ground-truth normalized link list of every
  page, planted near-duplicate text pairs and a recrawl delta.
* ``graph(seed, n)`` — a power-law, host-clustered directed edge list over
  dense vertex ids, with a fixed set of hand-built small components.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np


def power_law_degrees(rng, n: int, kmin: int, kmax: int, alpha: float) -> np.ndarray:
    """Discrete Pareto out-degrees in [kmin, kmax] (tail exponent ``alpha``)."""
    u = rng.random(n)
    k = np.floor(kmin * (1.0 - u) ** (-1.0 / (alpha - 1.0))).astype(np.int64)
    return np.minimum(k, kmax)


def host_sizes(rng, n: int, mean: int) -> np.ndarray:
    """Split ``n`` pages into hosts of geometric sizes (>= 1) with the given mean."""
    sizes = []
    left = n
    while left > 0:
        s = int(min(left, rng.geometric(1.0 / mean)))
        sizes.append(s)
        left -= s
    return np.asarray(sizes, dtype=np.int64)


# ---------------------------------------------------------------------------
# crawl batch
# ---------------------------------------------------------------------------

@dataclass
class Crawl:
    urls: list[str]            # page urls, doc_id = position
    html: list[bytes]
    text: list[str]
    links: list[tuple[str, int, str]]   # ground truth (src_url, pos, dst_url)
    dup_pairs: list[tuple[int, int]]    # planted (doc_id a < b) pairs
    added: list[tuple[str, str]]        # recrawl delta: new (src_url, dst_url)
    removed: list[tuple[str, str]]      # recrawl delta: dropped existing links


def _page_url(host: int, page: int) -> str:
    return f"http://h{host}.example.com/d{page % 3}/p{page}.html"


def _href(rng, src_host: int, src_page: int, dst_host: int, dst_page: int) -> str:
    """One spelling of a link from page (src_host, src_page) to an in-crawl
    page; the extractor must normalize every spelling to ``_page_url``."""
    path = f"/d{dst_page % 3}/p{dst_page}.html"
    frag = f"#s{int(rng.integers(9))}" if rng.random() < 0.2 else ""
    r = rng.random()
    if dst_host == src_host:
        if dst_page % 3 == src_page % 3 and r < 0.4:
            return f"p{dst_page}.html{frag}"           # directory-relative
        if r < 0.7:
            return f"{path}{frag}"                      # root-relative
    if r > 0.85:
        return f"HTTP://H{dst_host}.EXAMPLE.COM{path}{frag}"  # upper-case scheme + host
    return f"http://h{dst_host}.example.com{path}{frag}"


# crawl make-up: words per page text and vocabulary size; mean pages per
# host; out-degree range and Pareto exponent; shares of anchors inside the
# host and to uncrawled external pages; planted duplicate pairs; links
# removed and added by the recrawl delta
WORDS, VOCAB = 60, 4000
CRAWL_MEAN_HOST = 24
CRAWL_KMIN, CRAWL_KMAX, CRAWL_ALPHA = 3, 120, 2.1
CRAWL_INTRA_HOST, EXTERNAL = 0.8, 0.05
DUP_PAIRS = 40
DELTA_EDGES = 200


def crawl(seed: int, n_pages: int) -> Crawl:
    rng = np.random.default_rng(seed)
    sizes = host_sizes(rng, n_pages, CRAWL_MEAN_HOST)
    host_of = np.repeat(np.arange(len(sizes)), sizes)
    first = np.concatenate([[0], np.cumsum(sizes)[:-1]])
    local = np.arange(n_pages) - first[host_of]
    urls = [_page_url(int(h), int(p)) for h, p in zip(host_of, local)]

    # popularity for cross-host targets: Zipf over a random page order
    pop = 1.0 / np.arange(1, n_pages + 1) ** 0.9
    pop = pop[rng.permutation(n_pages)]
    cdf = np.cumsum(pop) / pop.sum()

    deg = power_law_degrees(rng, n_pages, CRAWL_KMIN, CRAWL_KMAX, CRAWL_ALPHA)
    vocab_words = [f"w{i}" for i in range(VOCAB)]
    text = [
        " ".join(vocab_words[j] for j in rng.integers(0, VOCAB, WORDS))
        for _ in range(n_pages)
    ]
    # planted near-duplicates on disjoint page pairs: half exact mirrors,
    # half with one appended word (shingle Jaccard = m/(m+1) ~ 0.98)
    order = rng.permutation(n_pages)[: 2 * DUP_PAIRS]
    pairs = []
    for k in range(DUP_PAIRS):
        a, b = int(order[2 * k]), int(order[2 * k + 1])
        text[b] = text[a] if k % 2 == 0 else f"{text[a]} {vocab_words[int(rng.integers(VOCAB))]}"
        pairs.append((min(a, b), max(a, b)))

    html, links = [], []
    for i in range(n_pages):
        h, p = int(host_of[i]), int(local[i])
        parts = [f"<html><head><title>page {i}</title></head><body><p>{text[i]}</p>"]
        pos = 0
        for _ in range(int(deg[i])):
            r = rng.random()
            if r < EXTERNAL:
                dst = f"http://x{int(rng.integers(n_pages // 4 + 1))}.example.org/a.html"
                href = dst.upper().replace("/A.HTML", "/a.html") if rng.random() < 0.3 else dst
            else:
                if r < EXTERNAL + CRAWL_INTRA_HOST:
                    j = int(first[h] + rng.integers(sizes[h]))
                else:
                    j = min(int(np.searchsorted(cdf, rng.random())), n_pages - 1)
                dst = urls[j]
                href = _href(rng, h, p, int(host_of[j]), int(local[j]))
            parts.append(f'<a href="{href}">link {pos}</a>')
            links.append((urls[i], pos, dst))
            pos += 1
        if rng.random() < 0.3:   # in-page anchor: not a link
            parts.append('<a href="#top">top</a>')
        parts.append("</body></html>")
        html.append(" ".join(parts).encode("utf-8"))

    # recrawl delta: drop some existing links, add links between pages
    edges = sorted({(s, d) for s, _, d in links})
    drop = rng.choice(len(edges), size=min(DELTA_EDGES, len(edges)), replace=False)
    removed = [edges[int(k)] for k in sorted(drop)]
    present = set(edges)
    added: list[tuple[str, str]] = []
    while len(added) < DELTA_EDGES:
        s, d = (int(x) for x in rng.integers(0, n_pages, 2))
        e = (urls[s], urls[d])
        if e not in present:
            present.add(e)
            added.append(e)
    return Crawl(urls, html, text, links, pairs, added, removed)


# ---------------------------------------------------------------------------
# analytics graph
# ---------------------------------------------------------------------------

# hand-built small components appended after the generated vertices, with
# answers known by hand: (local edges, vertex count)
FIXTURES = [
    ([], 1),                          # isolated vertex
    ([(0, 0)], 1),                    # isolated self-loop
    ([(0, 1), (1, 0)], 2),            # 2-cycle
    ([(0, 1), (1, 2), (2, 0), (2, 3)], 4),  # 3-cycle with a pendant
    ([(0, 1)], 2),                    # a page linking to a dangling page
]


# analytics graph make-up: mean pages per host; out-degree range and Pareto
# exponent; share of links inside the host; share of hosts that link only
# inside themselves
GRAPH_MEAN_HOST = 40
GRAPH_KMIN, GRAPH_KMAX, GRAPH_ALPHA = 2, 400, 2.2
GRAPH_INTRA_HOST = 0.75
ISLAND_HOSTS = 0.1


def graph(seed: int, n: int) -> tuple[int, np.ndarray, np.ndarray]:
    """-> (n_vertices, src, dst): distinct directed edges over ids 0..n-1.

    Ids are dense and host-clustered (a host's pages are a contiguous id
    range). Each page links ``GRAPH_INTRA_HOST`` of its out-links inside its host
    and the rest to pages drawn by global popularity; ``ISLAND_HOSTS`` of
    the hosts link only inside themselves, which makes many small
    components. ``FIXTURES`` follow the generated vertices.
    """
    rng = np.random.default_rng(seed)
    sizes = host_sizes(rng, n, GRAPH_MEAN_HOST)
    host_of = np.repeat(np.arange(len(sizes)), sizes)
    first = np.concatenate([[0], np.cumsum(sizes)[:-1]])
    island = rng.random(len(sizes)) < ISLAND_HOSTS

    deg = power_law_degrees(rng, n, GRAPH_KMIN, GRAPH_KMAX, GRAPH_ALPHA)
    src = np.repeat(np.arange(n), deg)
    m = len(src)
    h = host_of[src]
    intra = (rng.random(m) < GRAPH_INTRA_HOST) | island[h]
    dst = np.empty(m, dtype=np.int64)
    dst[intra] = first[h[intra]] + (rng.random(int(intra.sum())) * sizes[h[intra]]).astype(np.int64)
    pop = 1.0 / np.arange(1, n + 1) ** 0.9
    pop = pop[rng.permutation(n)]
    reach = ~island[host_of]
    pop = np.where(reach, pop, 0.0)
    pop /= pop.sum()
    n_cross = int((~intra).sum())
    dst[~intra] = rng.choice(n, size=n_cross, p=pop)

    base = n
    fs, fd = [src], [dst]
    for edges, size in FIXTURES:
        if edges:
            e = np.asarray(edges, dtype=np.int64) + base
            fs.append(e[:, 0])
            fd.append(e[:, 1])
        base += size
    src = np.concatenate(fs)
    dst = np.concatenate(fd)
    key = np.unique(src * base + dst)
    return base, key // base, key % base
