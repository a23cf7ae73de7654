"""Triangle counting: a driver numpy wedge count below the local bound,
degree-ordered wedge self-joins above it.

Both tiers orient each non-loop edge row low-rank -> high-rank, where
rank = (non-loop degree, id), and count the wedges a -> b -> c closed by
a row a -> c, with row multiplicity (a raw table's duplicate rows count as
Spark's joins count them). This standard orientation bounds each vertex's
out-neighborhood by O(sqrt(m)), which caps the wedge blow-up on power-law
graphs — the difference between a feasible and an infeasible job at
100 TB. Results are identical to any other orientation, so the SQL oracle
can use plain id-ordering.

- ``local`` (<= ``tiers.LOCAL_EDGE_ROWS`` edge rows, no explicit vertex
  table): the graph's probe arrays, shared with the other operators,
  sorted once; the closing rows are looked up in the sorted oriented keys
  (`perfbench/oracles.py:triangles`' algorithm). No Spark job beyond the
  probe, which the graph may already have memoized.
- ``shuffle``: the plan shape mirrors the reference's edge-similarity
  wedge scan (`Utility/utilitySparsificationFunctions.cpp:165-224`): a
  self-join of the oriented edge table with itself, closed by a third
  join on (a, c), a shuffle hash join whose skewed buckets AQE splits. The
  persisted oriented table is released before the call returns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from grappolo_spark.graph import Graph
from grappolo_spark.plans.iteration import cut_lineage
from grappolo_spark.plans.tiers import Tier, graph_facts, local_facts, plan


def _oriented(g: Graph, by_degree: bool = True) -> DataFrame:
    """One direction per undirected edge, low rank -> high rank, no loops."""
    e = g.edges.filter(F.col("src") != F.col("dst")).select("src", "dst")
    if not by_degree:
        return e.filter(F.col("src") < F.col("dst"))
    deg = g.edges.filter(F.col("src") != F.col("dst")).groupBy(
        F.col("src").alias("v")
    ).agg(F.count(F.lit(1)).alias("d"))
    e = (
        e.join(deg.withColumnRenamed("v", "src").withColumnRenamed("d", "ds"), "src")
        .join(deg.withColumnRenamed("v", "dst").withColumnRenamed("d", "dd"), "dst")
    )
    keep = (F.col("ds") < F.col("dd")) | (
        (F.col("ds") == F.col("dd")) & (F.col("src") < F.col("dst"))
    )
    return e.filter(keep).select("src", "dst")


def _local_triangles(arrays, directed: bool, chunk: int = 1 << 22):
    """Local tier over the probe's ``(src, dst, _, ids)`` arrays: the
    vertex ids of :meth:`Graph.vertex_ids` and the triangles at each.
    A triangle counts once at each corner, so the total is a third of the
    per-vertex sum. Rows are oriented as :func:`_oriented` orients them,
    whose inner joins also drop a row whose dst is never a non-loop src.
    At most about ``chunk`` wedges are materialized at once."""
    import numpy as np

    src, dst, _, ids = arrays
    off = src != dst
    si, di = np.searchsorted(ids, src[off]), np.searchsorted(ids, dst[off])
    n = len(ids)
    deg = np.bincount(si, minlength=n)
    rank = np.empty(n, dtype=np.int64)
    order = np.lexsort((np.arange(n), deg))  # by (degree, id)
    rank[order] = np.arange(n)
    fwd = (deg[di] > 0) & (rank[si] < rank[di])
    a, b = rank[si[fwd]], rank[di[fwd]]
    srt = np.lexsort((b, a))
    a, b = a[srt], b[srt]
    keys = a * n + b  # sorted: rows a -> c, duplicates adjacent
    starts = np.searchsorted(a, np.arange(n + 1))
    # wedges x -> y -> z per oriented row (x, y), in chunks of rows whose
    # wedge counts add up to about ``chunk``
    out_deg = np.diff(starts)
    cnt = out_deg[b]
    ends = np.cumsum(cnt)
    corners = np.zeros(n, dtype=np.int64)
    lo = 0
    while lo < len(a):
        hi = max(int(np.searchsorted(ends, ends[lo] - cnt[lo] + chunk, "right")), lo + 1)
        c = cnt[lo:hi]
        total = int(c.sum())
        if total:
            xs = np.repeat(a[lo:hi], c)
            ys = np.repeat(b[lo:hi], c)
            step = np.arange(total) - np.repeat(np.cumsum(c) - c, c)
            zs = b[np.repeat(starts[b[lo:hi]], c) + step]
            q = xs * n + zs
            closing = np.searchsorted(keys, q, "right") - np.searchsorted(keys, q)
            for corner in (xs, ys, zs):
                corners += np.bincount(corner, weights=closing, minlength=n).astype(np.int64)
        lo = hi
    per_vertex = np.empty(n, dtype=np.int64)
    per_vertex[order] = corners  # rank -> vertex index
    # an undirected table lists its vertices as sources (graph.vertex_ids)
    present = np.ones(n, dtype=bool) if directed else np.isin(ids, src)
    return ids[present], per_vertex[present]


def triangle_count(
    g: Graph, per_vertex: bool = False, tier: Tier | str | None = None
) -> DataFrame:
    """Total triangle count, or per-vertex counts with ``per_vertex=True``.

    Returns a 1-row DF ``(triangles)`` or ``(v, triangles)``, ``v`` over
    :meth:`Graph.vertex_ids`. ``tier="local"``/``"shuffle"`` forces a
    tier (see the module doc).
    """
    import pandas as pd

    spark = g.edges.sparkSession

    def total(n):  # a pandas frame becomes a LocalRelation: no job to read
        return spark.createDataFrame(pd.DataFrame({"triangles": [n]}), "triangles long")

    facts = local_facts(g, "triangles", tier=tier)
    if facts is not None:
        vs, counts = _local_triangles(facts.arrays, g.directed)
        if not per_vertex:
            return total(int(counts.sum()) // 3)
        return spark.createDataFrame(
            pd.DataFrame({"v": vs, "triangles": counts}), "v long, triangles long"
        )
    plan(graph_facts(g), "triangles", tier=tier)  # vets a forced tier
    o = _oriented(g).persist()
    try:
        e1 = o.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        e2 = o.select(F.col("src").alias("b"), F.col("dst").alias("c"))
        wedges = e1.join(e2, "b")
        e3 = o.select(F.col("src").alias("a"), F.col("dst").alias("c"))
        tris = wedges.join(e3, ["a", "c"])
        if not per_vertex:
            return total(tris.agg(F.count(F.lit(1))).collect()[0][0])
        corners = (
            tris.select(F.col("a").alias("v"))
            .union(tris.select(F.col("b").alias("v")))
            .union(tris.select(F.col("c").alias("v")))
        )
        counts = corners.groupBy("v").agg(F.count(F.lit(1)).alias("triangles"))
        out = (
            g.vertex_ids()
            .join(counts, "v", "left")
            .select("v", F.coalesce("triangles", F.lit(0)).alias("triangles"))
        )
        return cut_lineage(out, tag="result", keep_last=64)
    finally:
        o.unpersist()
