"""Reference answers and the output checker.

The references are written independently of ``alp_spark``: numpy power
iterations, a union-find, DuckDB for the triangle total and hashlib for
the dedup hashes. They run once per seed, outside every timed span.
"""

from __future__ import annotations

import hashlib

import numpy as np

# --- graph references -----------------------------------------------------------


def pagerank(edges: np.ndarray, n: int, alpha: float, conv: float, max_iter: int):
    """Power iteration with the uniform dangling-mass correction.

    Returns (ranks, iterations). Stops when the L1 change is at most
    ``conv`` (``conv == 0`` disables the test) or after ``max_iter``.
    """
    src, dst = edges[:, 0], edges[:, 1]
    outdeg = np.bincount(src, minlength=n).astype(np.float64)
    dangling = outdeg == 0
    inv = np.where(dangling, 0.0, alpha / np.where(dangling, 1.0, outdeg))
    pr = np.full(n, 1.0 / n)
    it = 0
    while True:
        add = (alpha * pr[dangling].sum() + 1.0 - alpha) / n
        nxt = np.bincount(dst, weights=(pr * inv)[src], minlength=n) + add
        residual = np.abs(nxt - pr).sum()
        pr = nxt
        it += 1
        if (conv != 0.0 and residual <= conv) or it >= max_iter:
            return pr, it


def hits(edges: np.ndarray, n: int, iters: int):
    """Kleinberg HITS from h = 1, 2-norm normalised each half step.
    Returns (authorities, hubs)."""
    src, dst = edges[:, 0], edges[:, 1]

    def unit(x):
        nrm = np.sqrt((x * x).sum())
        return x * (1.0 / nrm) if nrm > 0 else x * 0.0

    h = np.ones(n)
    a = h
    for _ in range(iters):
        a = unit(np.bincount(dst, weights=h[src], minlength=n))
        h = unit(np.bincount(src, weights=a[dst], minlength=n))
    return a, h


def label_propagation(sym: np.ndarray, n: int, y: np.ndarray, l: int, max_iterations: int):
    """Thresholded random-walk propagation over unit weights with the
    first ``l`` labels clamped. A vertex without neighbours gets label 1
    (its threshold test has no degree to divide by). Returns
    (labels, iterations)."""
    src, dst = sym[:, 0], sym[:, 1]
    deg = np.bincount(src, minlength=n).astype(np.float64)
    has = deg > 0
    dinv = np.where(has, 1.0 / np.where(has, deg, 1.0), 0.0)
    f = y.copy()
    it = 1
    while it < max_iterations:
        wx = np.bincount(src, weights=f[dst], minlength=n)
        nxt = np.where(has & (wx * dinv < 0.5), 0.0, 1.0)
        nxt[:l] = y[:l]
        flips = bool((nxt != f).any())
        f = nxt
        if not flips:
            break
        it += 1
    return f, it


def components(sym: np.ndarray, n: int) -> np.ndarray:
    """Component label per vertex (the minimum vertex id of its
    component): min-label flooding with pointer jumping to a fixpoint."""
    src, dst = sym[:, 0], sym[:, 1]
    lab = np.arange(n)
    while True:
        nxt = lab.copy()
        np.minimum.at(nxt, src, lab[dst])
        nxt = nxt[nxt]
        if np.array_equal(nxt, lab):
            return lab
        lab = nxt


def triangles(sym: np.ndarray) -> int:
    """Exact triangle total of a symmetric edge list (DuckDB)."""
    import duckdb
    import pyarrow as pa

    con = duckdb.connect()
    try:
        con.execute("SET threads = 2")
        s = pa.table({"src": sym[:, 0], "dst": sym[:, 1]})  # noqa: F841 (duckdb scans it)
        return int(
            con.execute(
                """
                WITH deg AS (SELECT src, count(*) AS d FROM s GROUP BY src),
                o AS (
                  SELECT s.src, s.dst FROM s
                  JOIN deg a ON s.src = a.src JOIN deg b ON s.dst = b.src
                  WHERE a.d < b.d OR (a.d = b.d AND s.src < s.dst))
                SELECT count(*) FROM o x JOIN o y ON x.dst = y.src
                JOIN o z ON z.src = x.src AND z.dst = y.dst
                """
            ).fetchone()[0]
        )
    finally:
        con.close()


# --- text references ------------------------------------------------------------

MINHASH_P = 2_147_483_647


def exact_dedup(doc_ids: np.ndarray, texts: list[str]) -> dict:
    """md5 hex of text -> (min doc id, group size)."""
    out: dict = {}
    for d, t in zip(doc_ids.tolist(), texts):
        h = hashlib.md5(t.encode("utf-8")).hexdigest()
        keep, cnt = out.get(h, (d, 0))
        out[h] = (min(keep, d), cnt + 1)
    return out


def minhash(texts: list[str], num_hashes: int, shingle_k: int = 2) -> np.ndarray:
    """(docs, num_hashes) MinHash signatures over distinct word k-shingles:
    r = first 56 bits of md5(shingle) mod p, sig_j = min (a_j r + b_j) mod p
    with (a_j, b_j) drawn from RandomState(13)."""
    rng = np.random.RandomState(13)
    params = [
        (int(rng.randint(1, MINHASH_P)), int(rng.randint(0, MINHASH_P)))
        for _ in range(num_hashes)
    ]
    rs, starts = [], []
    for t in texts:
        toks = [w for w in t.split(" ") if w != ""]
        starts.append(len(rs))
        for i in range(max(len(toks) - shingle_k + 1, 1)):
            s = " ".join(toks[i : i + shingle_k])
            rs.append(int(hashlib.md5(s.encode("utf-8")).hexdigest()[:14], 16) % MINHASH_P)
    r = np.array(rs, dtype=np.int64)
    idx = np.array(starts, dtype=np.int64)
    return np.stack(
        [np.minimum.reduceat((a * r + b) % MINHASH_P, idx) for a, b in params], axis=1
    )


# --- checker ------------------------------------------------------------------------


def same_partition(labels: np.ndarray, ref: np.ndarray) -> bool:
    """True when two label vectors group the vertices identically."""
    labels, ref = np.asarray(labels), np.asarray(ref)
    if labels.shape != ref.shape:
        return False

    def canon(x):
        _, first, inverse = np.unique(x, return_index=True, return_inverse=True)
        return first[inverse]

    return bool(np.array_equal(canon(labels), canon(ref)))


def close(x: np.ndarray, ref: np.ndarray, atol: float) -> bool:
    x, ref = np.asarray(x, dtype=np.float64), np.asarray(ref, dtype=np.float64)
    return x.shape == ref.shape and bool(np.all(np.abs(x - ref) <= atol))


class Tally:
    """Operations attempted and operations checked correct."""

    def __init__(self) -> None:
        self.attempted = 0
        self.ok = 0
        self.failures: list[str] = []

    def record(self, name: str, ok: bool, why: str = "") -> bool:
        self.attempted += 1
        if ok:
            self.ok += 1
        else:
            self.failures.append(f"{name}: {why or 'output differs from reference'}")
        return ok

    @property
    def ratio(self) -> float:
        return self.ok / self.attempted if self.attempted else 0.0
