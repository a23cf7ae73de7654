"""Seeded, vectorized input generator for the link-graph benchmark.

Every workload's inputs come from here, drawn from one
``numpy.random.default_rng(seed)``: the same seed gives byte-identical
parquet files (``content_hash`` proves it in every result). The engine only
ever sees the written parquet; the generator also returns the planted facts
(expected edge set, duplicate pairs) the output checks compare against.

Random choices are numpy array draws (no per-file peer scans); the only
per-file Python is formatting each file's text, which is linear in files.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Python imports of modules no corpus file defines (a realistic share of
# unresolvable references: they lower sources.corpus.resolved_ratio)
_EXTERNAL_PY = ["os", "sys", "re", "json", "numpy", "typing", "logging"]


@dataclass
class Corpus:
    path: str  # parquet: doc_id, repo, path, commit, lang, content
    files: int
    refs: int  # extracted import references (resolved or not)
    resolved: int  # references that name a corpus file
    # canonical undirected pairs (i < j) over file indices, sorted
    pairs: np.ndarray
    ext_ids: list  # file index -> "repo::path", the front door's vertex key
    dup_pairs: set  # planted (doc_id_a, doc_id_b) exact duplicates, a < b


@dataclass
class EdgeTable:
    path: str  # parquet dir: src long, dst long, weight double
    raw_rows: int  # rows written, duplicates and both orientations included
    src: np.ndarray  # canonical graph (symmetrized rows, unique pairs)
    dst: np.ndarray
    weight: np.ndarray


def _write(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def content_hash(paths: list[str]) -> str:
    """sha256 over every generated file's bytes, in sorted path order."""
    h = hashlib.sha256()
    files = []
    for p in paths:
        if os.path.isdir(p):
            files += [os.path.join(p, f) for f in os.listdir(p)]
        else:
            files.append(p)
    for f in sorted(files):
        h.update(os.path.basename(f).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _pick_distinct(rng, rows: int, pool: int, k: int) -> np.ndarray:
    """``rows`` x ``k`` distinct indices in [0, pool), excluding each row's
    own position ``row % pool`` (argsort of uniform keys = random subset)."""
    keys = rng.random((rows, pool))
    keys[np.arange(rows), np.arange(rows) % pool] = np.inf
    return np.argsort(keys, axis=1)[:, :k]


# corpus shape: imports of own-module peers per file, chances of a
# cross-module, a cross-repo, a hub and an unresolvable import, shared hub
# headers, share of vendored copies, comment words per file
INTRA_K = 5
CROSS_MODULE_P = 0.5
CROSS_REPO_P = 0.05
HUB_P = 0.15
EXTERNAL_P = 0.6
HUBS = 12
VENDORED_FRAC = 0.03
BODY_WORDS = 6
VOCAB = 4096


def corpus(rng, out_path: str, repos: int, modules: int, files_per_module: int) -> Corpus:
    """Source-code corpus with planted repo/module communities.

    Files import ``INTRA_K`` peers of their own module, sometimes a file of
    another module of the repo, rarely a file of another repo, and with
    probability ``HUB_P`` one of ``HUBS`` shared headers (Zipf-weighted, so
    hub degree is heavy-tailed). ``VENDORED_FRAC`` of the files are copied
    byte-for-byte into another repo's ``vendor`` module: the planted
    near-duplicate pairs for MinHash dedup, whose imports resolve
    cross-repo. Module directories carry the repo index, so every module
    path names exactly one file and a cross-repo reference resolves to one
    target.
    """
    per_repo = modules * files_per_module
    n = repos * per_repo
    idx = np.arange(n)
    repo = idx // per_repo
    module = (idx % per_repo) // files_per_module
    pos = idx % files_per_module
    base = idx - pos

    # targets are file indices; hubs are indices n .. n+HUBS-1
    peers = base[:, None] + _pick_distinct(rng, n, files_per_module, INTRA_K)
    other_mod = (module + 1 + rng.integers(0, modules - 1, n)) % modules
    xmod = repo * per_repo + other_mod * files_per_module + rng.integers(
        0, files_per_module, n
    )
    xmod_on = rng.random(n) < CROSS_MODULE_P
    other_repo = (repo + 1 + rng.integers(0, repos - 1, n)) % repos
    xrepo = other_repo * per_repo + rng.integers(0, per_repo, n)
    xrepo_on = rng.random(n) < CROSS_REPO_P
    zipf = 1.0 / np.arange(1, HUBS + 1)
    hub = n + rng.choice(HUBS, size=n, p=zipf / zipf.sum())
    hub_on = rng.random(n) < HUB_P
    ext_on = rng.random(n) < EXTERNAL_P
    ext = rng.integers(0, len(_EXTERNAL_PY), n)
    is_py = rng.random(n) < 0.7
    words = rng.integers(0, VOCAB, (n + HUBS, BODY_WORDS))

    def module_of(t: int) -> str:
        if t >= n:
            return f"common_hub/h{t - n:02d}"
        r, m, f = divmod(t, per_repo)[0], *divmod(t % per_repo, files_per_module)
        return f"r{r:04d}_m{m:02d}/f{f:03d}"

    def body(i: int, comment: str) -> list[str]:
        w = words[i]
        half = BODY_WORDS // 2
        return [
            comment + " " + " ".join(f"w{x:04d}" for x in w[:half]),
            comment + " " + " ".join(f"w{x:04d}" for x in w[half:]),
        ]

    rows = []
    src_file, dst_file = [], []
    refs = 0
    for i in range(n):
        targets = list(peers[i])
        if xmod_on[i]:
            targets.append(xmod[i])
        if xrepo_on[i]:
            targets.append(xrepo[i])
        if hub_on[i]:
            targets.append(hub[i])
        if is_py[i]:
            lines = [f"import {module_of(int(t)).replace('/', '.')}" for t in targets]
            if ext_on[i]:
                lines.append(f"import {_EXTERNAL_PY[ext[i]]}")
            lines += body(i, "#") + ["def main(): pass"]
            lang, suffix = "python", "py"
        else:
            lines = [f'#include "{module_of(int(t))}.h"' for t in targets]
            if ext_on[i]:
                lines.append('#include "config.h"')
            lines += body(i, "//") + ["int main() { return 0; }"]
            lang, suffix = "c", "c"
        refs += len(lines) - 3
        src_file += [i] * len(targets)
        dst_file += [int(t) for t in targets]
        r = int(repo[i])
        rows.append(
            (f"org/repo-{r:04d}", f"src/{module_of(i)}.{suffix}", lang, "\n".join(lines) + "\n")
        )
    for h in range(HUBS):
        lines = body(n + h, "//") + ["int hub(void);"]
        rows.append(("org/common", f"src/common_hub/h{h:02d}.h", "c", "\n".join(lines) + "\n"))

    # vendored exact copies: original i -> new file in another repo
    n_vend = int(round(VENDORED_FRAC * n))
    orig = np.sort(rng.choice(n, size=n_vend, replace=False))
    vend_repo = (repo[orig] + 1 + rng.integers(0, repos - 1, n_vend)) % repos
    first_vend = len(rows)
    dup_pairs = {(int(o), first_vend + k) for k, o in enumerate(orig)}
    for k, (o, r) in enumerate(zip(orig, vend_repo)):
        _, opath, lang, content = rows[o]
        suffix = opath.rsplit(".", 1)[1]
        rows.append((f"org/repo-{int(r):04d}", f"src/r{int(r):04d}_vendor/v{k:04d}.{suffix}", lang, content))
        refs += content.count("\n") - 3

    total = len(rows)
    df = pd.DataFrame(rows, columns=["repo", "path", "lang", "content"])
    df.insert(0, "doc_id", np.arange(total, dtype=np.int64))
    df.insert(3, "commit", df["repo"].map(lambda r: hashlib.sha1(r.encode()).hexdigest()))
    _write(df, out_path)

    # expected canonical undirected pairs over row indices (hub t >= n
    # lives at row t; vendored rows follow the hubs). A copy's imports
    # name modules of the original's repo, so they resolve cross-repo to
    # exactly the original's targets.
    s = np.asarray(src_file, dtype=np.int64)
    d = np.asarray(dst_file, dtype=np.int64)
    copy_of = np.full(n, -1, dtype=np.int64)
    copy_of[orig] = first_vend + np.arange(n_vend)
    vm = copy_of[s] >= 0
    s = np.concatenate([s, copy_of[s[vm]]])
    d = np.concatenate([d, d[vm]])
    lo, hi = np.minimum(s, d), np.maximum(s, d)
    pairs = np.unique(np.stack([lo, hi], axis=1), axis=0)
    ext_ids = (df["repo"] + "::" + df["path"]).tolist()
    return Corpus(out_path, total, refs, len(s), pairs, ext_ids, dup_pairs)


def _canonical(s, d, w):
    """Engine semantics of ``canonical_edges``: (min,max) pairs, max weight
    per pair, then both directions (self-loops once)."""
    lo, hi = np.minimum(s, d), np.maximum(s, d)
    key = lo * (1 << 32) + hi
    order = np.lexsort((-w, key))
    key, w = key[order], w[order]
    first = np.r_[True, key[1:] != key[:-1]]
    key, w = key[first], w[first]
    lo, hi = key >> 32, key & ((1 << 32) - 1)
    off = lo != hi
    return (
        np.concatenate([lo, hi[off]]),
        np.concatenate([hi, lo[off]]),
        np.concatenate([w, w[off]]),
    )


# edge-table shape: community size, intra-community picks per vertex,
# chance of a cross-community pick, hub vertices, largest hub reach. One
# cross-community edge per vertex and light hubs keep Q within +-0.3% across
# seeds.
COMMUNITY = 40
EDGE_INTRA_K = 6
CROSS_P = 1.0
EDGE_HUBS = 8
HUB_REACH = 0.05


def community_edges(rng, vertices: int):
    """Raw (src, dst, weight) rows with planted communities of
    ``COMMUNITY`` vertices, ``EDGE_INTRA_K`` intra-community picks per
    vertex, one cross-community pick with probability ``CROSS_P``, and
    ``EDGE_HUBS`` hub vertices each linked to a Zipf-shrinking share (at
    most ``HUB_REACH``) of all vertices. Rows come in either orientation and
    may repeat, as a raw dependency dump would; weights are integers 1-3."""
    community, intra_k = COMMUNITY, EDGE_INTRA_K
    if vertices % community:
        raise ValueError(f"vertices must be a multiple of {community}")
    v = np.arange(vertices)
    base = v - v % community
    off = rng.integers(1, community, (vertices, intra_k))
    s = [np.repeat(v, intra_k)]
    d = [(base[:, None] + (v[:, None] % community + off) % community).ravel()]
    x_on = rng.random(vertices) < CROSS_P
    s.append(v[x_on])
    d.append(rng.integers(0, vertices, int(x_on.sum())))
    for h in range(EDGE_HUBS):
        reach = rng.random(vertices) < HUB_REACH / (h + 1)
        s.append(np.full(int(reach.sum()), h, dtype=np.int64))
        d.append(v[reach])
    s = np.concatenate(s).astype(np.int64)
    d = np.concatenate(d).astype(np.int64)
    keep = s != d
    s, d = s[keep], d[keep]
    flip = rng.random(len(s)) < 0.5
    s, d = np.where(flip, d, s), np.where(flip, s, d)
    return s, d, rng.integers(1, 4, len(s)).astype(np.float64)


def edge_table(rng, out_dir: str, files: int, vertices: int) -> EdgeTable:
    """Write a raw weighted dependency edge table as ``files`` parquet
    files."""
    s, d, w = community_edges(rng, vertices)
    os.makedirs(out_dir, exist_ok=True)
    df = pd.DataFrame({"src": s, "dst": d, "weight": w})
    for i, part in enumerate(np.array_split(np.arange(len(df)), files)):
        _write(df.iloc[part], os.path.join(out_dir, f"part-{i:05d}.parquet"))
    cs, cd, cw = _canonical(s, d, w)
    return EdgeTable(out_dir, len(s), cs, cd, cw)
