"""Independent numpy references for the output checks.

Each takes the canonical graph as arrays ``(s, d, w)``: symmetrized rows,
unique (src, dst) pairs, self-loops once, the engine's edge-table contract.
None of them calls the engine.
"""

from __future__ import annotations

import numpy as np


def components(s: np.ndarray, d: np.ndarray, ids: np.ndarray) -> np.ndarray:
    """Min-id component label per vertex of ``ids`` (sorted), by min-label
    propagation with pointer jumping over the row index space."""
    si, di = np.searchsorted(ids, s), np.searchsorted(ids, d)
    label = np.arange(len(ids))
    while True:
        nxt = label.copy()
        np.minimum.at(nxt, si, label[di])
        np.minimum.at(nxt, di, label[si])
        while True:
            jumped = nxt[nxt]
            if np.array_equal(jumped, nxt):
                break
            nxt = jumped
        if np.array_equal(nxt, label):
            return ids[label]
        label = nxt


def pagerank(s, d, w, ids, alpha: float = 0.85, iters: int = 10) -> np.ndarray:
    """Power iteration with the engine's semantics: rank_0 = 1/N,
    contribution ``rank * w / wout``, dangling mass spread uniformly."""
    n = len(ids)
    si, di = np.searchsorted(ids, s), np.searchsorted(ids, d)
    wout = np.bincount(si, weights=w, minlength=n)
    rank = np.full(n, 1.0 / n)
    safe = np.where(wout > 0, wout, 1.0)
    for _ in range(iters):
        contrib = np.bincount(di, weights=rank[si] * w / safe[si], minlength=n)
        dangling = rank[wout == 0].sum()
        rank = (1.0 - alpha) / n + alpha * (contrib + dangling / n)
    return rank


def label_propagation(s, d, w, ids, iters: int) -> np.ndarray:
    """Synchronous LPA, every iteration run: each vertex with a non-self
    neighbour takes the label of largest summed edge weight, ties to the
    smallest label; the others keep their own."""
    import pandas as pd

    off = s != d
    si, di, w = np.searchsorted(ids, s[off]), np.searchsorted(ids, d[off]), w[off]
    label = ids.copy()
    for _ in range(iters):
        votes = (
            pd.DataFrame({"v": si, "label": label[di], "w": w})
            .groupby(["v", "label"], sort=False)["w"].sum().reset_index()
            .sort_values(["v", "w", "label"], ascending=[True, False, True])
            .drop_duplicates("v")
        )
        label = label.copy()
        label[votes["v"].to_numpy()] = votes["label"].to_numpy()
    return label


def triangles(s: np.ndarray, d: np.ndarray) -> int:
    """Triangle count: orient each undirected edge from lower to higher
    (degree, id) rank, join oriented wedges a->b->c and look the closing
    edge a->c up in the sorted oriented-edge keys."""
    off = s != d
    s, d = s[off], d[off]
    ids, inv = np.unique(np.concatenate([s, d]), return_inverse=True)
    si, di = inv[: len(s)], inv[len(s):]
    deg = np.bincount(si, minlength=len(ids))
    order = np.lexsort((np.arange(len(ids)), deg))
    rank = np.empty(len(ids), dtype=np.int64)
    rank[order] = np.arange(len(ids))
    fwd = rank[si] < rank[di]
    a, b = rank[si[fwd]], rank[di[fwd]]
    n = len(ids)
    keys = np.sort(a * n + b)
    srt = np.argsort(a, kind="stable")
    a, b = a[srt], b[srt]
    starts = np.searchsorted(a, np.arange(n + 1))
    total = 0
    # wedges (x -> y -> z) grouped by the middle vertex y, chunked so the
    # wedge arrays stay small
    out_deg = np.diff(starts)
    for lo in range(0, len(a), 1 << 18):
        x, y = a[lo:lo + (1 << 18)], b[lo:lo + (1 << 18)]
        cnt = out_deg[y]
        if cnt.sum() == 0:
            continue
        xs = np.repeat(x, cnt)
        first = np.repeat(starts[y], cnt)
        step = np.arange(cnt.sum()) - np.repeat(np.cumsum(cnt) - cnt, cnt)
        zs = b[first + step]
        q = xs * n + zs
        pos = np.searchsorted(keys, q)
        pos[pos == len(keys)] = 0
        total += int((keys[pos] == q).sum())
    return total


def modularity(s, d, w, ids, comm_of_ids) -> float:
    """Q of a partition over the canonical rows, the engine's accounting:
    e_xx / 2m - sum_c deg_c^2 / (2m)^2 with deg from rows grouped by src."""
    si, di = np.searchsorted(ids, s), np.searchsorted(ids, d)
    two_m = w.sum()
    c = comm_of_ids
    e_xx = w[c[si] == c[di]].sum()
    deg = np.bincount(si, weights=w, minlength=len(ids))
    _, ci = np.unique(c, return_inverse=True)
    cdeg = np.bincount(ci, weights=deg)
    return float(e_xx / two_m - (cdeg * cdeg).sum() / (two_m * two_m))
