"""PageRank as iterative join/groupBy supersteps.

Not present in the reference (Grappolo is a Louvain library); required by
the north_rule alongside it. Semantics (fixed so the DuckDB oracle can be
generated mechanically):

- ``rank_0(v) = 1/N`` over the graph's vertex set (isolated vertices incl.)
- contribution of v along edge (v,u): ``alpha * rank(v) * w(v,u) / wout(v)``
  (weighted out-degree; equals uniform split on unweighted graphs)
- dangling vertices (wout = 0) redistribute ``alpha * rank / N`` uniformly
- ``rank_{t+1}(u) = (1-alpha)/N + alpha * (in_contrib + dangling_mass/N)``

Ranks sum to 1 every iteration. With ``tol=None`` runs exactly
``max_iters`` supersteps (deterministic — used by the correctness oracle);
with ``tol`` set stops when L1 delta < tol.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from grappolo_spark.graph import Graph
from grappolo_spark.plans.iteration import (
    SuperstepRunner,
    cut_lineage,
    promote_result,
)
from grappolo_spark.plans.tiers import (
    Tier, degree_table, graph_stats, local_facts, plan,
)


def _slots(vs, ids, what="pagerank: edge endpoints"):
    """Positions of ``ids`` in the sorted vertex array ``vs``. An id that
    ``vs`` does not hold raises ``ValueError`` naming ``what``
    (``searchsorted`` alone would land it silently on a neighbour's
    slot)."""
    import numpy as np

    idx = np.searchsorted(vs, ids)
    held = vs[np.minimum(idx, len(vs) - 1)] == ids
    if not held.all():
        stray = np.unique(ids[~held])
        raise ValueError(
            f"{what} {stray[:10].tolist()} "
            f"({len(stray)} ids) are not in the vertex table"
        )
    return idx


def _check_symmetric(g, facts, op: str, cache=None) -> None:
    """Every tier of ``op`` (PageRank, LPA) relies on
    ``Graph(directed=False)``'s symmetrized edge table (the Spark tiers
    take the vertex set from ``src``): one that fails the symmetry check
    raises (releasing ``cache``) before any tier runs."""
    if not g.directed and facts.symmetric is False:
        if cache is not None:
            cache.unpersist()
        e = g.edges
        stray = e.select("dst").subtract(e.select("src")).orderBy("dst").limit(10)
        raise ValueError(
            f"{op}: Graph(directed=False) needs a symmetrized edge table "
            "(each (u, v) row with its (v, u) twin); edge endpoints "
            f"{[r.dst for r in stray.collect()]} are never a source"
        )


def _local_pagerank(
    spark, arrays, alpha: float, max_iters: int, tol, runner: SuperstepRunner
):
    """Local tier: the whole power iteration in driver numpy over the
    probe's ``(src, dst, weight, ids)`` arrays, one LocalRelation out.

    Every sum runs in one canonical order: the edges are sorted by
    (dst, src, weight) once, and ``wout``, the per-dst contributions
    (``bincount`` adds in input order), the dangling mass and the ``tol``
    delta are computed from that order and the sorted ids. The ranks
    therefore do not depend on the input's row order or partitioning.
    The update is the distributed loop's expression, so they match the
    broadcast/shuffle tiers up to summation order.

    ``runner`` resumes the ranks from its last commit, whichever tier
    wrote it, and commits every superstep in the distributed loop's
    ``(v, rank, wout)`` layout; ``wout`` is recomputed, never resumed."""
    import numpy as np
    import pandas as pd

    src, dst, w, ids = arrays
    n = len(ids)
    if n == 0:
        return spark.createDataFrame([], "v long, rank double")
    order = np.lexsort((w, src, dst))
    s, d, w = _slots(ids, src[order]), _slots(ids, dst[order]), w[order]
    wout = np.bincount(s, weights=w, minlength=n)
    dangling_v = wout == 0.0
    start, rank = runner.resume_array(ids, "rank")
    if rank is None:
        rank = np.full(n, 1.0 / n, dtype=np.float64)
    for step in range(start, max_iters):
        dangling = rank[dangling_v].sum()
        in_c = np.bincount(d, weights=rank[s] * w / wout[s], minlength=n)
        new = (1.0 - alpha) / n + alpha * (in_c + dangling / n)
        done = tol is not None and np.abs(new - rank).sum() < tol
        rank = new
        runner.commit_arrays(
            step, {"v": ids, "rank": rank, "wout": wout},
            {"op": "pagerank", "alpha": alpha},
        )
        if done:
            break
    return spark.createDataFrame(
        pd.DataFrame({"v": ids, "rank": rank}), "v long, rank double"
    )


def pagerank(
    g: Graph,
    alpha: float = 0.85,
    max_iters: int = 20,
    tol: float | None = None,
    tier: Tier | str | None = None,
    run_dir: str | None = None,
) -> DataFrame:
    """Return ``(v, rank)``. Deterministic given (graph, alpha, max_iters).

    The tier (see :mod:`grappolo_spark.plans.tiers`) picks the physical
    strategy:

    - **local** (<= 2M edge rows, no explicit vertex table): the bounded
      probe collects the edge table and the whole power iteration,
      dangling mass and ``tol`` test included, runs in driver numpy in
      one canonical summation order — one Spark action per call, ranks
      independent of row order and partitioning. With ``run_dir`` each
      superstep commits through pyarrow, with no Spark job.
    - **broadcast** (|V| <= 5M): the rank table broadcasts, the edge table
      is hash-partitioned by ``dst`` once, and the contribution
      groupBy(dst) reuses that layout — the superstep moves ZERO edge rows.
    - **shuffle** (beyond — a billion-vertex rank table must not be
      broadcast): the shuffle-join plan, rank state committed bucketed by
      ``v``.

    ``tier`` forces one of these. Distributed loops commit the rank state
    every third superstep (every superstep with ``run_dir`` or ``tol``).
    Every tier commits the same ``(v, rank, wout)`` layout under
    ``run_dir`` (a local or mounted path) and resumes from the last commit
    of any tier; a run_dir that holds another vertex count (in the
    local tier: another vertex set) raises ``ValueError``.
    """
    spark = g.edges.sparkSession
    facts = local_facts(g, "pagerank", run_dir, tier=tier)
    if facts is not None:
        _check_symmetric(g, facts, "pagerank")
        return _local_pagerank(
            spark, facts.arrays, alpha, max_iters, tol,
            SuperstepRunner(spark, run_dir),
        )
    # the degree table is the rank state's (v, wout) base; the graph's
    # stats action, when it runs, also materializes the cache
    degrees = degree_table(g).persist()
    facts = graph_stats(g, degrees)
    _check_symmetric(g, facts, "pagerank", degrees)
    tier = plan(facts, "pagerank", run_dir, tier=tier)
    n = facts.nv
    if n == 0:
        degrees.unpersist()
        return spark.createDataFrame([], "v long, rank double")
    base = degrees.select("v", F.col("deg").alias("wout"))
    # weight ≡ 1.0 invariant (Graph.unweighted): the superstep cache keeps
    # only (src, dst) — one third less cached/scanned width per superstep —
    # and the contribution skips the weight multiply (x·1.0 ≡ x, so the
    # ranks are bit-identical to the weighted plan on the same graph)
    unweighted = facts.unweighted
    e_loop = g.edges.select("src", "dst") if unweighted else g.edges
    contrib_c = (
        (F.col("rank") / F.col("wout"))
        if unweighted
        else (F.col("rank") * F.col("weight") / F.col("wout"))
    )
    if tier is Tier.SHUFFLE:
        # persist as-is: callers co-locate via Graph.partition_by_src (the
        # join key; a projection preserves that partitioning), and an
        # already-partitioned cache is reused shuffle-free
        edges = e_loop.persist()
    else:
        # partition on the AGGREGATION key: with the join side broadcast,
        # groupBy(dst) then needs no exchange at all
        edges = e_loop.repartition("dst").persist()

    # shuffle config (rank table too big to broadcast): commit the rank
    # state BUCKETED by v so the per-superstep edges(src)⋈ranks(v) join
    # reads the O(V) side pre-partitioned — one exchange at the commit
    # write replaces one per superstep (see cut_lineage's bucket_by)
    runner = SuperstepRunner(
        spark, run_dir,
        bucket_by="v" if tier is Tier.SHUFFLE else None,
        n_buckets=int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    start, resumed = runner.resume(n)
    if resumed is not None:
        ranks = resumed
    else:
        ranks = base.select("v", F.lit(1.0 / n).alias("rank"), "wout")
        start = 0
    ranks = cut_lineage(
        ranks, tag="pagerank",
        bucket_by=runner.bucket_by, n_buckets=runner.n_buckets,
    )

    # symmetrized graphs have no dangling vertices: the stats action
    # counted them once, so only dangling graphs pay the per-superstep
    # mass reduction
    has_dangling = facts.dangling

    for step in range(start, max_iters):
        dangling = 0.0
        if has_dangling:
            dangling = (
                ranks.filter(F.col("wout") == 0.0).agg(F.sum("rank")).collect()[0][0]
                or 0.0
            )
        rank_side = ranks if tier is Tier.SHUFFLE else F.broadcast(ranks)
        contribs = (
            edges.join(rank_side, edges.src == ranks.v)
            .select(F.col("dst").alias("v"), contrib_c.alias("c"))
            .groupBy("v")
            .agg(F.sum("c").alias("in_contrib"))
        )
        new = base.join(contribs, "v", "left").select(
            "v",
            (
                F.lit((1.0 - alpha) / n)
                + F.lit(alpha)
                * (F.coalesce("in_contrib", F.lit(0.0)) + F.lit(dangling / n))
            ).alias("rank"),
            "wout",
        )
        if tol is not None:
            delta = (
                new.alias("n")
                .join(ranks.alias("o"), "v")
                .agg(F.sum(F.abs(F.col("n.rank") - F.col("o.rank"))))
                .collect()[0][0]
            )
        # chaining three supersteps before each cut is safe (the plan is a
        # linear chain) and amortizes the per-superstep state write; 3 vs 5
        # measured within noise, so the cadence is fixed
        if (
            run_dir is not None  # per-superstep durable state for resume
            or (step + 1) % 3 == 0
            or step == max_iters - 1
            or tol is not None
        ):
            ranks = runner.commit(step, new, {"op": "pagerank", "alpha": alpha})
        else:
            ranks = new
        if tol is not None and delta < tol:
            break

    # every loop path ends on a committed (rotation-backed) ranks table —
    # the commit condition includes step == max_iters - 1 — so this is a
    # rename, not a re-write; a durable run_dir commit passes through and
    # stays backed by its own run directory. fallback_cut=True matches the
    # other kernels: if a future refactor (or max_iters=0 with an uncut
    # init) hands a derived plan here, it degrades to an explicit result
    # cut instead of a rotation-lifetime FAILED_READ_FILE.
    out = promote_result(ranks, fallback_cut=True).select("v", "rank")
    degrees.unpersist()
    edges.unpersist()
    return out
