"""Seeded inputs for the benchmark workloads.

Everything here is plain numpy/pyarrow: the program under test only ever
sees the files and arrays these functions return. The same seed always
yields byte-identical inputs.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: hub vertices that receive a tenth of all edges (the graphscale shape)
N_HUBS = 64
HUB_SHARE = 0.10
ZIPF_A = 1.4
DEGREE_CAP = 10_000


def zipf_edges(rng: np.random.Generator, n: int, m: int) -> np.ndarray:
    """Exactly ``m`` distinct directed edges (no self-loops) over ``n``
    vertices, as an (m, 2) int64 array sorted by (src, dst).

    Out-degrees follow a capped Zipf(1.4) draw scaled to the wanted mean
    and a tenth of the targets land on the first 64 vertices (the hub
    set), the shape of ``scripts/bench_graphscale.py:gen_graph``. The raw
    draw is oversized and then sampled down to exactly ``m`` edges, so
    every seed yields the same edge count and therefore the same amount
    of work per superstep.
    """
    for boost in (1.3, 1.6, 2.0, 3.0):
        raw = np.minimum(rng.zipf(ZIPF_A, size=n).astype(np.float64), DEGREE_CAP)
        deg = (raw * (boost * m / n / raw.mean())).astype(np.int64)
        src = np.repeat(np.arange(n, dtype=np.int64), deg)
        dst = rng.integers(0, n, size=len(src), dtype=np.int64)
        hub = rng.random(len(src)) < HUB_SHARE
        dst[hub] = rng.integers(0, min(N_HUBS, n), size=int(hub.sum()), dtype=np.int64)
        keep = src != dst
        pairs = np.unique(src[keep] * n + dst[keep])
        if len(pairs) >= m:
            pairs = np.sort(rng.choice(pairs, size=m, replace=False))
            return np.stack([pairs // n, pairs % n], axis=1)
    raise ValueError(f"cannot draw {m} distinct edges over {n} vertices")


def symmetrize(edges: np.ndarray, n: int) -> np.ndarray:
    """Both directions of every edge, deduplicated and sorted."""
    both = np.concatenate([edges, edges[:, ::-1]])
    keys = np.unique(both[:, 0] * n + both[:, 1])
    return np.stack([keys // n, keys % n], axis=1)


def write_edges(path: str, edges: np.ndarray, val: float | None = None) -> None:
    cols = {"src": edges[:, 0], "dst": edges[:, 1]}
    if val is not None:
        cols["val"] = np.full(len(edges), val, dtype=np.float64)
    pq.write_table(pa.table(cols), path)


def write_vector(path: str, val: np.ndarray) -> None:
    """Dense (id, val) vector over ids 0..len-1."""
    pq.write_table(pa.table({"id": np.arange(len(val), dtype=np.int64), "val": val}), path)


@dataclass
class Graph:
    n: int
    edges: np.ndarray  # directed, (m, 2)
    sym: np.ndarray  # symmetric closure, (m_sym, 2)


def graph(seed: int, n: int, m: int, trail: int = 0) -> Graph:
    """Zipf digraph with exactly ``m`` edges over ``n`` vertices.

    With ``trail`` > 0 the last ``trail`` vertices form a separate path
    (a pagination trail) instead. FastSV's round count on the Zipf part
    alone is 3 or 4 depending on the seed; an 8-vertex trail needs 4 on
    every seed tried, so the work per pass no longer depends on the seed.
    """
    rng = np.random.default_rng([seed, n, m])
    e = zipf_edges(rng, n - trail, m - max(trail - 1, 0))
    if trail:
        ids = np.arange(n - trail, n, dtype=np.int64)
        e = np.concatenate([e, np.stack([ids[:-1], ids[1:]], axis=1)])
    return Graph(n=n, edges=e, sym=symmetrize(e, n))


def seed_labels(seed: int, n: int) -> np.ndarray:
    """Initial label-propagation vector: random {0,1} on every vertex
    (the first ``l`` of them are the clamped seeds)."""
    return np.random.default_rng([seed, n, 7]).integers(0, 2, size=n).astype(np.float64)


# --- crawled pages ------------------------------------------------------------

_WORDS = (
    "graph link rank crawl page web index node edge spark data scale query "
    "join shuffle batch vector matrix iterate converge partition anchor "
    "hub frontier semiring superstep über año naïve"
).split()

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def page_url(i: int) -> str:
    return f"https://host{i % 97:02d}.example/{'abcdefgh'[i % 8]}/{i:06d}.html"


def external_url(i: int) -> str:
    return f"https://elsewhere{i % 13}.example/x/{i}"


@dataclass
class Pages:
    n: int
    path: str  # parquet file with (url, warc_ts, html, text, lang)
    text: dict  # url -> golden extracted text
    edges: set  # golden (src, dst) ids; ids = url-sorted rank
    n_links: int  # anchors rendered (including external and duplicate ones)


def pages(seed: int, n: int, path: str, out_links: int = 16) -> Pages:
    """Render ``n`` Common-Crawl-style pages with about ``out_links``
    anchors each and write them to ``path``.

    Link targets follow the hub shape (a tenth go to the first 64 pages).
    Each page also carries one link to an uncrawled url, and some pages
    repeat a link or link to themselves, so the closed-world join,
    self-loop drop and dedup of ``build_edge_table`` all have work to do.
    One page in twenty is an exact mirror of an earlier page (same text,
    same links, another url), so ``exact_dedup`` finds real groups.
    """
    rng = np.random.default_rng([seed, n, 11])
    deg = rng.integers(out_links - 4, out_links + 5, size=n)
    targets = rng.integers(0, n, size=int(deg.sum()))
    hub = rng.random(len(targets)) < HUB_SHARE
    targets[hub] = rng.integers(0, min(N_HUBS, n), size=int(hub.sum()))
    offs = np.concatenate([[0], np.cumsum(deg)])
    mirror_of = np.where(
        (rng.random(n) < 0.05) & (np.arange(n) > 0),
        rng.integers(0, np.maximum(np.arange(n), 1)),
        -1,
    )
    words = rng.integers(0, len(_WORDS), size=(n, 2, 8))

    urls = [page_url(i) for i in range(n)]
    rank = {u: r for r, u in enumerate(sorted(urls))}
    html_col, text_col, golden_text, golden_edges = [], [], {}, set()
    n_links = 0
    body = {}  # page -> (text segments, link list), for mirrors
    for i in range(n):
        src = mirror_of[i] if mirror_of[i] >= 0 else i
        if src in body:
            segs, links = body[src]
        else:
            links = [int(t) for t in targets[offs[src] : offs[src + 1]]]
            if src % 7 == 0 and links:
                links.append(links[0])  # duplicate anchor
            if src % 11 == 0:
                links.append(int(src))  # self link
            segs = [f"Page {src}"] + [
                " ".join(_WORDS[w] for w in words[src, k]) for k in range(2)
            ]
            body[src] = (segs, links)
        anchors = [(page_url(t), f"link to {t}") for t in links]
        anchors.append((external_url(src), f"external {src}"))
        html = (
            f"<html><head><title>{segs[0]}</title></head><body>"
            + "".join(f"<p>{p}</p>" for p in segs[1:])
            + "".join(f'<a href="{u}">{t}</a>' for u, t in anchors)
            + "</body></html>"
        )
        text = "\n".join(segs + [t for _, t in anchors])
        html_col.append(html.encode("utf-8"))
        text_col.append(text)
        golden_text[urls[i]] = text
        n_links += len(anchors)
        for t in links:
            if t != i:
                golden_edges.add((rank[urls[i]], rank[urls[t]]))

    ts = np.datetime64("2025-01-01T00:00:00", "us") + np.arange(n).astype(
        "timedelta64[s]"
    )
    table = pa.table(
        {
            "url": urls,
            "warc_ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
            "html": pa.array(html_col, type=pa.binary()),
            "text": text_col,
            "lang": ["de" if i % 10 == 3 else "en" for i in range(n)],
        },
        schema=PAGES_SCHEMA,
    )
    pq.write_table(table, path)
    return Pages(n=n, path=path, text=golden_text, edges=golden_edges, n_links=n_links)
