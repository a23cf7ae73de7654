"""The benchmark's workloads: seeded inputs, one pass of engine calls, and
the output checks.

Each workload is one closed-loop client: a pass issues its engine calls one
after another, each starting when the previous returned, the way one
analyst or scheduler submits batch jobs. Every call runs inside a span
named after the package module it enters (see ``spans.py``) and consumes
its result inside the span (``toPandas``/``collect``/a file write), so the
span covers the work and the check afterwards reads what the call returned.
Checks run after the pass, outside every span.

Only public entry points are called, with default or algorithm-defining
arguments (``max_iters``, ``stop_on_converge``, ``coloring``, ``min_graph_size``,
``coloring_algo``, ``run_dir``); no regime-forcing knob such as
``local_threshold`` is ever passed.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
from pyspark.sql import functions as F

import gen
import oracles

# the engine's execution-tier gates the workloads are sized against
GATE_EDGE_ROWS = 2_000_000
GATE_VERTICES = 100_000

PAGERANK_ITERS = 10
LPA_ITERS = 3
# Louvain runs with its defaults, to convergence. Two variants return a
# modularity that differs from the Q of their own assignment, which the
# modularity check flags: a max_phases cap that binds (the reported Q lags
# the assignment by one phase) and smart_init on a weighted graph (the
# last phase's merge lowers Q but is kept).
LOUVAIN: dict = {}
# coloring phases run while the graph has more than min_graph_size vertices
# (the reference's -m option; the default 100k would skip them here), with
# the reference's multi-hash coloring
COLORED = {"coloring": True, "min_graph_size": 500, "coloring_algo": "multihash"}


class Check:
    """Counts engine calls attempted and calls that raised or were wrong."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def __call__(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"{name}: {detail}")


def _frame_ids(pdf, col):
    pdf = pdf.sort_values("v")
    return pdf["v"].to_numpy(np.int64), pdf[col].to_numpy()


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, rec):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.rec = rec
        self.check = Check()
        self.graph = None  # expected canonical graph (s, d, w, ids)
        self.oracle: dict = {}

    def warm_up(self) -> None:
        """One pass over the small input of the same shape, unchecked."""
        self.run_pass("warm", self.warm)

    def regime(self) -> dict:
        s, _, _, ids = self.graph
        below = len(s) <= GATE_EDGE_ROWS and len(ids) <= GATE_VERTICES
        return {
            "graph.vertices": int(len(ids)),
            "graph.edge_rows": int(len(s)),
            "side": "below both gates" if below else "above a gate",
            "gates": {"edge_rows": GATE_EDGE_ROWS, "vertices": GATE_VERTICES},
            "ok": below,
        }

    def compute_oracles(self) -> None:
        s, d, w, ids = self.graph
        self.oracle = {
            "cc": oracles.components(s, d, ids),
            "pagerank": oracles.pagerank(s, d, w, ids, iters=PAGERANK_ITERS),
            "lpa": oracles.label_propagation(s, d, w, ids, LPA_ITERS),
            "triangles": oracles.triangles(s, d),
        }

    def check_graph(self, name, edges_pdf) -> None:
        s, d, _, _ = self.graph
        got = np.sort(edges_pdf["src"].to_numpy(np.int64) * (1 << 32) + edges_pdf["dst"].to_numpy(np.int64))
        want = np.sort(s * (1 << 32) + d)
        self(name, np.array_equal(got, want), f"{len(got)} edge rows, expected {len(want)}")

    def __call__(self, name, ok, detail=""):
        self.check(name, bool(ok), detail)

    def check_operators(self, out: dict) -> None:
        _, _, _, ids = self.graph
        o = self.oracle
        v, pr = _frame_ids(out["pagerank"], "rank")
        self("pagerank", np.array_equal(v, ids) and np.allclose(pr, o["pagerank"], rtol=1e-6, atol=0),
             "ranks differ from the power iteration")
        v, cc = _frame_ids(out["cc"], "component")
        self("cc", np.array_equal(v, ids) and np.array_equal(cc, o["cc"]), "labels differ from union-find")
        v, lp = _frame_ids(out["lpa"], "label")
        self("lpa", np.array_equal(v, ids) and np.array_equal(lp, o["lpa"]), "labels differ from numpy LPA")
        self("triangles", out["triangles"] == o["triangles"],
             f"{out['triangles']} triangles, expected {o['triangles']}")
        self.check_louvain("louvain", out["louvain"], out["louvain_q"])
        self.check_louvain("louvain_colored", out["colored"], out["colored_q"])

    def check_louvain(self, name, assign, q_reported) -> None:
        s, d, w, ids = self.graph
        v, comm = _frame_ids(assign, "comm")
        if not np.array_equal(v, ids):
            self(name, False, f"{len(v)} assigned rows for {len(ids)} vertices")
            return
        q = oracles.modularity(s, d, w, ids, comm)
        self(name, abs(q - q_reported) <= 1e-9, f"reported Q {q_reported} but recomputed {q}")

    # -- the engine calls shared by both workloads ----------------------
    def run_operators(self, g, out: dict, run_dir=None, warm=False) -> None:
        """PageRank and LPA (durable per superstep when ``run_dir`` is
        set), CC, triangles, Louvain and colored Louvain on the built graph.
        The warm-up runs the same code paths with fewer supersteps."""
        from grappolo_spark.operators import (
            connected_components,
            label_propagation,
            pagerank,
            triangle_count,
        )
        from grappolo_spark.operators.multiphase import louvain

        durable = run_dir is not None

        def rd(op):
            return {"run_dir": os.path.join(run_dir, op)} if durable else {}

        call = self.rec.call
        pr_iters, lpa_iters = (2, 1) if warm else (PAGERANK_ITERS, LPA_ITERS)
        # a run_dir call resumes from its own commits, so it is never re-run
        out["pagerank"] = call(
            "operators.pagerank",
            lambda: pagerank(g, max_iters=pr_iters, **rd("pagerank")).toPandas(),
            repeat=not durable,
        )
        out["cc"] = call("operators.components", lambda: connected_components(g).toPandas())
        out["lpa"] = call(
            "operators.labelprop",
            lambda: label_propagation(
                g, max_iters=lpa_iters, stop_on_converge=False, **rd("lpa")
            ).toPandas(),
            repeat=not durable,
        )
        out["triangles"] = call(
            "operators.triangles", lambda: int(triangle_count(g).collect()[0][0])
        )

        def clustering(kw):
            res = louvain(g, **kw)
            return res, res.assignment.toPandas()

        res, out["louvain"] = call("operators.multiphase", lambda: clustering(LOUVAIN))
        out.update(louvain_q=res.modularity, louvain_result=res)
        res, out["colored"] = call("operators.coloring", lambda: clustering(COLORED))
        out.update(colored_q=res.modularity, colored_result=res)


class Build:
    """The graph-build call: hash-partition and persist the canonical edge
    table, materialized by a count. ``undo`` drops the persisted copy so a
    re-run builds it again."""

    def __init__(self, g):
        self.g0, self.g = g, None

    def __call__(self) -> int:
        self.g = self.g0.partition_by_src()
        return self.g.edges.count()

    def undo(self) -> None:
        self.g.unpersist()


class LinkgraphLocal(Workload):
    """Source-code corpus -> dedup -> front door -> graph -> operators, every
    iterative operator below the gates (driver-local numpy paths)."""

    name = "linkgraph_local"
    SIZE = {"repos": 16, "modules": 10, "files_per_module": 40}
    # above COLORED's min_graph_size, so the warm-up runs a colored phase
    WARM = {"repos": 4, "modules": 3, "files_per_module": 50}

    def generate(self) -> list[str]:
        rng = np.random.default_rng(self.seed)
        os.makedirs(os.path.join(self.work, "inputs"), exist_ok=True)
        self.corpus = gen.corpus(rng, os.path.join(self.work, "inputs", "corpus.parquet"), **self.SIZE)
        self.warm = gen.corpus(
            np.random.default_rng([self.seed, 1]),
            os.path.join(self.work, "inputs", "warm_corpus.parquet"),
            **self.WARM,
        )
        c = self.corpus
        # the front door numbers vertices by sorted "repo::path"
        used = np.unique(c.pairs)
        ext = np.asarray(c.ext_ids, dtype=object)[used]
        order = np.argsort(ext)
        dense = np.empty(len(c.ext_ids), dtype=np.int64)
        dense[used[order]] = np.arange(len(used))
        lo, hi = dense[c.pairs[:, 0]], dense[c.pairs[:, 1]]
        ids = np.arange(len(used), dtype=np.int64)
        self.graph = (np.r_[lo, hi], np.r_[hi, lo], np.ones(2 * len(lo)), ids)
        return [c.path]

    def facts(self) -> dict:
        c = self.corpus
        return {
            "files": c.files,
            "refs": c.refs,
            "resolved_refs": c.resolved,
            "planted_duplicate_pairs": len(c.dup_pairs),
        }

    def run_pass(self, k, corpus=None) -> None:
        from grappolo_spark.functions.dedup import minhash_lsh_pairs
        from grappolo_spark.sources.corpus import build_graph_from_corpus

        warm = corpus is not None
        corpus = corpus or self.corpus
        call = self.rec.call
        out: dict = {}
        docs = self.spark.read.parquet(corpus.path)
        # MinHash persists its signatures, so a re-run would read a cache
        dups = call(
            "functions.dedup",
            lambda: minhash_lsh_pairs(docs.select("doc_id", F.col("content").alias("text"))).toPandas(),
            repeat=False,
        )
        # raises when the sha256 invariant finds a mismatched row
        _, g0 = call("sources.corpus", lambda: build_graph_from_corpus(docs), repeat=False)
        build = Build(g0)
        call("graph", build, undo=build.undo)
        g = build.g
        out.update(dedup_pairs=len(dups), resolved_ratio=corpus.resolved / corpus.refs)
        self.run_operators(g, out, warm=warm)
        if not warm:
            found = set(zip(dups["id_a"].astype(int), dups["id_b"].astype(int)))
            self("dedup", found == corpus.dup_pairs,
                 f"{len(found)} pairs, {len(found & corpus.dup_pairs)} of {len(corpus.dup_pairs)} planted")
            self.check_graph("graph", g.edges.select("src", "dst").toPandas())
            self.check_operators(out)
        g.unpersist()
        self.last = out


class DurableUpdate(Workload):
    """Delta edge batches landed as files -> streamed -> compacted -> graph
    written and re-read -> PageRank and LPA with durable per-superstep
    state (``run_dir``) -> the other operators -> assignment written."""

    name = "durable_update"
    VERTICES = 8_000
    # above COLORED's min_graph_size, so the warm-up runs a colored phase
    WARM_VERTICES = 1_200
    BATCH_FILES = 24

    def generate(self) -> list[str]:
        inputs = os.path.join(self.work, "inputs")
        self.delta = gen.edge_table(
            np.random.default_rng(self.seed), os.path.join(inputs, "delta"),
            self.BATCH_FILES, self.VERTICES,
        )
        self.warm = gen.edge_table(
            np.random.default_rng([self.seed, 1]), os.path.join(inputs, "warm_delta"),
            self.BATCH_FILES, self.WARM_VERTICES,
        )
        t = self.delta
        self.graph = (t.src, t.dst, t.weight, np.unique(t.src))
        return [t.path]

    def facts(self) -> dict:
        return {"delta_files": self.BATCH_FILES, "delta_rows": int(self.delta.raw_rows)}

    def pass_dir(self, k) -> str:
        """Fresh run_dir / checkpoint / sink root for pass ``k``."""
        d = os.path.join(self.work, f"pass-{k}")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d

    def run_pass(self, k, delta=None) -> None:
        from grappolo_spark import Graph
        from grappolo_spark.sources.readers import read_parquet_graph
        from grappolo_spark.sources.writers import (
            write_cluster_assignment_distributed,
            write_parquet_graph,
        )
        from grappolo_spark.streaming import (
            compact_parquet_dir,
            stream_edge_batches,
            stream_to_compactable_parquet,
        )

        warm = delta is not None
        delta = delta or self.delta
        call = self.rec.call
        root = self.pass_dir(k)
        landing, sink = os.path.join(root, "landing"), os.path.join(root, "sink")
        graph_dir = os.path.join(root, "graph")
        # land the delta: the files appear in the watched directory
        shutil.copytree(delta.path, landing)
        out: dict = {}

        def ingest():
            q = stream_to_compactable_parquet(
                stream_edge_batches(self.spark, landing), sink, os.path.join(root, "checkpoint")
            )
            q.awaitTermination()

        # the stream checkpoint and the compaction consume their input once
        call("streaming.incremental", ingest, repeat=False)
        out["compaction"] = call(
            "streaming.compaction", lambda: compact_parquet_dir(self.spark, sink), repeat=False
        )
        build = Build(Graph.from_edgelist(self.spark.read.parquet(sink)))
        call("graph", build, undo=build.undo)
        call("sources.writers", lambda: write_parquet_graph(build.g, graph_dir))
        build.undo()

        def reread():
            g = read_parquet_graph(self.spark, graph_dir)
            return g, g.edges.count()

        g, out["reread_rows"] = call("sources.readers", reread)
        self.run_operators(g, out, run_dir=os.path.join(root, "runs"), warm=warm)
        call(
            "sources.writers",
            lambda: write_cluster_assignment_distributed(
                out["louvain_result"].assignment, os.path.join(root, "assignment")
            ),
        )
        out["supersteps"] = {
            op: len(os.listdir(os.path.join(root, "runs", op)))
            for op in ("pagerank", "lpa")
        }
        if not warm:
            info = out["compaction"]
            self("streaming", info["rows"] == delta.raw_rows and info["files_after"] >= 1,
                 f"compaction saw {info}")
            self("readers", out["reread_rows"] == len(delta.src), f"re-read {out['reread_rows']} rows")
            self.check_graph("graph", g.edges.select("src", "dst").toPandas())
            self.check_operators(out)
            self.check_assignment(os.path.join(root, "assignment"), out["louvain"])
        shutil.rmtree(root, ignore_errors=True)
        self.last = out

    def check_assignment(self, path, assign) -> None:
        """The text sink holds one community per line in vertex order."""
        parts = sorted(f for f in os.listdir(path) if f.startswith("part-"))
        lines = []
        for f in parts:
            with open(os.path.join(path, f)) as fh:
                lines += fh.read().split()
        want = assign.sort_values("v")["comm"].astype(str).tolist()
        self("assignment", lines == want, f"{len(lines)} lines for {len(want)} vertices")


WORKLOADS = {w.name: w for w in (LinkgraphLocal, DurableUpdate)}
