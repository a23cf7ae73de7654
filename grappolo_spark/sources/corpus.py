"""Corpus front door: source-code table → dependency edge table.

The north_rule's primary input is an Iceberg/parquet table of source files
``(repo:string, path:string, commit:string, lang:string, content:string)``.
This module:

1. synthesizes a deterministic corpus at small scale (planted community
   structure: files import mostly within their repo/module, sparse cross-repo
   imports) — seeded, no external data;
2. extracts import/include links with a **vectorized Arrow pandas UDF**
   (no per-row Python in the driver path) that checks the per-row
   invariant ``sha256(content)`` == the JVM's ``sha2(content, 256)`` for
   every file (BASELINE.json input_hint) and emits the file table with the
   links;
3. resolves module references to file paths and densifies to the canonical
   ``edges(src,dst,weight)`` via the SNAP-style renumbering
   (`InputsOutput/loadSNAP.cpp:74-108` semantics — see graph.densify_ids).

The front door runs the extractor exactly once: its output is cut to
parquet by one write job, which also observes the link rows and the hash
mismatches. At or below ``tiers.LOCAL_EDGE_ROWS`` link rows the driver
reads the cut with pyarrow and resolves, numbers and symmetrizes in
pandas/numpy (the ``local`` tier); the graph's edges are one
``createDataFrame`` and its probe facts are memoized, so no operator
collects them again. Above it the distributed resolve reads the cut.

At 100 TB the corpus scan is the dominant cost: the extraction UDF is a
single mapInPandas pass over the 4 columns it needs (plus the JVM hash),
the module->path resolution is a broadcast-or-shuffle equi-join on
(repo, module), and everything downstream operates on the much smaller edge
table.
"""

from __future__ import annotations

import hashlib
import random
import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from grappolo_spark.graph import EDGE_SCHEMA, Graph, densify_ids
from grappolo_spark.plans import tiers
from grappolo_spark.plans.iteration import (
    cut_lineage,
    read_cut,
    read_observation,
)
from grappolo_spark.plans.tiers import Facts, Tier

CORPUS_SCHEMA = "repo string, path string, commit string, lang string, content string"
# the extractor's output: one row per file (``ref`` null, ``bad`` set when
# its hashes differ), then one row per import/include ref (``bad`` null)
_SCAN_SCHEMA = "repo string, path string, ref string, bad boolean"
# a path's module, as Spark computes it: regexp_extract of this pattern's
# group ("" when it does not match), then "." -> "/"
_MODULE_RE = r"^src/(.+)\.[a-z]+$"
# the same pattern in Python's dialect: Java's "." excludes every line
# terminator and its "$" also matches before one final terminator
_NOT_EOL = "[^\n\r\u0085\u2028\u2029]"
_MODULE_PY = re.compile(
    rf"^src/({_NOT_EOL}+)\.[a-z]+(?=(?:\r\n|[\n\r\u0085\u2028\u2029])?\Z)"
)

_PY_IMPORT = re.compile(
    r"^\s*(?:from\s+([A-Za-z_][\w.]*)\s+import|import\s+([A-Za-z_][\w.]*))",
    re.MULTILINE,
)
_C_INCLUDE = re.compile(r'^\s*#\s*include\s+"([^"]+)"', re.MULTILINE)


def synthesize_corpus(
    spark: SparkSession,
    num_repos: int = 3,
    modules_per_repo: int = 4,
    files_per_module: int = 5,
    cross_repo_p: float = 0.05,
    seed: int = 42,
) -> DataFrame:
    """Deterministic synthetic corpus with planted community structure."""
    rng = random.Random(seed)
    rows = []
    repos = [f"org/repo-{i:04d}" for i in range(num_repos)]
    commits = {
        r: hashlib.sha1(r.encode()).hexdigest() for r in repos
    }  # fixed per repo
    all_files: list[tuple[str, str, str]] = []  # (repo, module, name)
    for r in repos:
        for m in range(modules_per_repo):
            for f in range(files_per_module):
                all_files.append((r, f"pkg_{m}", f"mod_{f:02d}"))
    for repo, module, name in all_files:
        lang = "python" if rng.random() < 0.7 else rng.choice(["c", "cpp"])
        lines = [f"# {repo}/{module}/{name}" if lang == "python" else f"// {name}"]
        # intra-module imports (dense — planted community)
        peers = [x for x in all_files if x[0] == repo and x[1] == module and x != (repo, module, name)]
        for p in rng.sample(peers, min(2, len(peers))):
            lines.append(_import_line(lang, p[1], p[2]))
        # intra-repo cross-module (sparser)
        others = [x for x in all_files if x[0] == repo and x[1] != module]
        if others and rng.random() < 0.5:
            p = rng.choice(others)
            lines.append(_import_line(lang, p[1], p[2]))
        # cross-repo (rare; module path encodes the target repo index)
        if rng.random() < cross_repo_p:
            p = rng.choice([x for x in all_files if x[0] != repo])
            lines.append(_import_line(lang, p[1], p[2]))
        lines.append("def main(): pass" if lang == "python" else "int main() { return 0; }")
        ext = {"python": "py", "c": "c", "cpp": "cc"}[lang]
        rows.append(
            (
                repo,
                f"src/{module}/{name}.{ext}",
                commits[repo],
                lang,
                "\n".join(lines) + "\n",
            )
        )
    return spark.createDataFrame(rows, CORPUS_SCHEMA)


def _import_line(lang: str, module: str, name: str) -> str:
    if lang == "python":
        return f"import {module}.{name}"
    return f'#include "{module}/{name}.h"'


def _extract_batch(batch: pd.DataFrame) -> pd.DataFrame:
    """Vectorized link extraction for one Arrow batch of ``(repo, path,
    lang, content, sha256)``, ``sha256`` being the JVM's hash of
    ``content``. Emits one row per file, with ``bad`` true when its
    hashlib sha256 differs from the JVM's, then one row per ref."""
    bad = [
        hashlib.sha256(c.encode("utf-8")).hexdigest() != jvm
        for c, jvm in zip(batch["content"], batch["sha256"])
    ]
    out_repo, out_path, out_ref = [], [], []
    for repo, path, lang, content in zip(
        batch["repo"], batch["path"], batch["lang"], batch["content"]
    ):
        if lang == "python":
            refs = [a or b for a, b in _PY_IMPORT.findall(content)]
            refs = [r.replace(".", "/") for r in refs]
        else:
            refs = [r[:-2] if r.endswith(".h") else r for r in _C_INCLUDE.findall(content)]
        out_repo += [repo] * len(refs)
        out_path += [path] * len(refs)
        out_ref += refs
    files = pd.DataFrame(
        {"repo": batch["repo"], "path": batch["path"], "ref": None, "bad": bad}
    )
    links = pd.DataFrame(
        {"repo": out_repo, "path": out_path, "ref": out_ref, "bad": None}
    )
    return pd.concat([files, links], ignore_index=True)


def _scan(corpus: DataFrame) -> DataFrame:
    """corpus → the extractor's rows (``_SCAN_SCHEMA``) via mapInPandas."""
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield _extract_batch(b)

    return corpus.select(
        "repo", "path", "lang", "content",
        F.sha2(F.col("content"), 256).alias("sha256"),
    ).mapInPandas(gen, schema=_SCAN_SCHEMA)


def extract_links(corpus: DataFrame) -> DataFrame:
    """corpus → raw link table ``(repo, path, ref)``, one row per ref."""
    return _scan(corpus).filter(F.col("ref").isNotNull()).drop("bad")


def verify_sha256(corpus: DataFrame) -> int:
    """Per-row invariant: the extractor's sha256 of each file must equal
    the JVM-side ``sha2(content, 256)``. Returns #mismatched files (0 = ok)."""
    return _scan(corpus).filter(F.col("bad")).count()


def _extract_once(corpus: DataFrame) -> tuple[DataFrame, int]:
    """Run the extractor ONCE: cut its rows to parquet in one write job
    that observes the link rows and the hash mismatches. Returns (the
    cut, #link rows); a mismatch raises ``ValueError``."""
    obs = Observation()
    cut = cut_lineage(
        _scan(corpus).observe(
            obs,
            F.count("ref").alias("links"),
            F.count_if(F.col("bad")).alias("bad"),
        ),
        tag="corpus",
    )
    # None when the metrics are unavailable (a runtime-empty plan can
    # prune them): count the cut instead
    m = read_observation(obs) or cut.agg(
        F.count("ref").alias("links"), F.count_if(F.col("bad")).alias("bad")
    ).collect()[0].asDict()
    if m["bad"]:
        raise ValueError(f"sha256 invariant violated for {m['bad']} rows")
    return cut, m["links"]


def _ext_id(repo: pd.Series, path: pd.Series) -> pd.Series:
    """``concat_ws("::", repo, path)``: a null part is skipped."""
    both = repo.str.cat(path, sep="::")
    return both.fillna(repo).fillna(path).fillna("")


def _module(path: pd.Series) -> pd.Series:
    """A path's module, as :func:`_resolve_spark` computes it."""
    return path.map(
        lambda p: p if p is None else (
            m.group(1).replace(".", "/") if (m := _MODULE_PY.match(p)) else ""
        )
    )


def _resolve_local(spark: SparkSession, rows: pd.DataFrame) -> tuple[DataFrame, Graph]:
    """The local tier of :func:`_resolve_spark`, on the driver: the same
    resolution (a null key joins nothing), numbering by sorted
    ``repo::path`` (code-point order is Spark's UTF-8 binary order) and
    canonical lo/hi dedup + symmetrize. The graph's probe facts are
    memoized from its arrays."""
    is_file = rows["ref"].isna()
    files = rows.loc[is_file]
    files = pd.DataFrame({
        "frepo": files["repo"], "module": _module(files["path"]),
        "dst_id": _ext_id(files["repo"], files["path"]),
    })
    links = rows.loc[~is_file]
    links = pd.DataFrame({
        "repo": links["repo"], "ref": links["ref"],
        "src_id": _ext_id(links["repo"], links["path"]),
        "link": np.arange(len(links)),
    })
    same = links.dropna(subset=["repo"]).merge(
        files.dropna(subset=["frepo", "module"]),
        left_on=["repo", "ref"], right_on=["frepo", "module"],
    )
    unresolved = links.loc[~links["link"].isin(same["link"])]
    cross = unresolved.merge(
        files.dropna(subset=["module"]), left_on="ref", right_on="module"
    )
    pairs = pd.concat([same[["src_id", "dst_id"]], cross[["src_id", "dst_id"]]])
    pairs = pairs.loc[pairs["src_id"] != pairs["dst_id"]]
    ext, inv = np.unique(
        np.concatenate([pairs["src_id"].to_numpy(object), pairs["dst_id"].to_numpy(object)]),
        return_inverse=True,
    )
    n, half = len(ext), len(pairs)
    a, b = inv[:half].astype(np.int64), inv[half:].astype(np.int64)
    lo, hi = np.divmod(np.unique(np.minimum(a, b) * n + np.maximum(a, b)), max(n, 1))
    src, dst = np.concatenate([lo, hi]), np.concatenate([hi, lo])
    w = np.ones(len(src))
    vertex_map = spark.createDataFrame(
        pd.DataFrame({"ext_id": ext, "v": np.arange(n, dtype=np.int64)}),
        "ext_id string, v long",
    )
    edges = spark.createDataFrame(
        pd.DataFrame({"src": src, "dst": dst, "weight": w}), EDGE_SCHEMA
    )
    g = Graph(edges=edges, unweighted=True, deduped=True)
    tiers.remember_facts(g, tiers.from_arrays(g, src, dst, w))
    return vertex_map, g


def _resolve_spark(rows: DataFrame) -> tuple[DataFrame, Graph]:
    """Resolve module refs to file paths and build the canonical graph,
    from the extractor's rows.

    A ref ``pkg_m/mod_f`` resolves within the SAME repo first; unresolved
    refs are matched cross-repo by module path (rare). Unresolvable refs are
    dropped. Returns (vertex_map, Graph).
    """
    files = rows.filter(F.col("ref").isNull()).select(
        F.col("repo").alias("frepo"),
        F.regexp_replace(F.regexp_extract("path", _MODULE_RE, 1), r"\.", "/").alias(
            "module"
        ),
        F.concat_ws("::", "repo", "path").alias("dst_id"),
    )
    links = rows.filter(F.col("ref").isNotNull()).select(
        "repo", "ref", F.concat_ws("::", "repo", "path").alias("src_id")
    )
    in_repo = (F.col("repo") == F.col("frepo")) & (F.col("ref") == F.col("module"))
    # same-repo resolution
    same = links.join(files, in_repo).select("src_id", "dst_id")
    # cross-repo fallback for refs that did not resolve in-repo
    cross = (
        links.join(files, in_repo, "left_anti")
        .join(files, F.col("ref") == F.col("module"))
        .select("src_id", "dst_id")
    )
    pairs = same.unionByName(cross).filter(F.col("src_id") != F.col("dst_id"))
    vertex_map, dense = densify_ids(pairs, "src_id", "dst_id")
    g = Graph.from_edgelist(dense.withColumnRenamed("src_id", "src").withColumnRenamed("dst_id", "dst"))
    return vertex_map, g


def build_graph_from_corpus(
    corpus: DataFrame, tier: Tier | str | None = None
) -> tuple[DataFrame, Graph]:
    """Full front door: extract links once (verifying sha256) → canonical
    Graph, resolved on the driver at or below ``tiers.LOCAL_EDGE_ROWS``
    link rows, else in Spark; ``tier="local"``/``"shuffle"`` forces one.
    Returns (vertex_map(ext_id, v), Graph) either way, with the same rows."""
    if tier is not None:
        tiers.plan(Facts(), "corpus", tier=tier)  # vet it before the scan
    cut, links = _extract_once(corpus)
    if tiers.plan(Facts(edge_rows=links), "corpus", tier=tier) is Tier.LOCAL:
        rows = read_cut(cut, ["repo", "path", "ref"])
        return _resolve_local(corpus.sparkSession, rows)
    return _resolve_spark(cut)
