"""Synchronous label propagation with Grappolo's min-label tie-break.

Community label of v at t+1 = the label with the largest incident edge
weight among v's neighbors at t; ties broken by the SMALLER label id —
the same deterministic rule as the reference's Louvain target selection
(`Utility/utilityClusteringFunctions.cpp:245-248`). Synchronous (Jacobi)
update, like `parallelLouvainMethod`'s all-at-once sweep. Deterministic
given (graph, max_iters), hence oracle-checkable via unrolled SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from grappolo_spark.graph import Graph
from grappolo_spark.operators.pagerank import _check_symmetric, _slots
from grappolo_spark.plans.iteration import (
    SuperstepRunner,
    cut_lineage,
    promote_result,
)
from grappolo_spark.plans.tiers import (
    LOCAL_EDGE_ROWS,
    Tier,
    degree_table,
    graph_stats,
    local_facts,
    local_tier_allowed,
    plan,
)


def _local_lpa(
    spark, max_iters: int, stop_on_converge: bool, arrays,
    runner: SuperstepRunner,
) -> DataFrame:
    """Local tier: driver-local replay of the identical iteration — same
    gather (sum weight per neighbor label), same (weight desc, label asc)
    argmax, same Jacobi update and convergence stop. Exact for
    integer-valued weights (the engine's count-weighted graphs); real
    weights may differ in the last ulp of summed ties.

    ``arrays`` is the probe's ONE collected edge pass ``(src, dst, weight,
    ids)``, UNFILTERED: self-loop rows are dropped here, but their
    endpoints are in ``ids`` (a vertex with only self-loops has no gather
    rows and keeps its own label) — so the output covers every edge
    endpoint and the caller needs no separate vertex_ids() pass.

    ``runner`` resumes the labels from its last commit, whichever tier
    wrote it, and commits every superstep, the converged one included,
    in the distributed loop's ``(v, label)`` layout."""
    import numpy as np
    import pandas as pd

    src, dst, w, ids = arrays
    if not len(src):
        return spark.createDataFrame([], "v long, label long")
    m = src != dst
    s = np.searchsorted(ids, src[m])
    d = np.searchsorted(ids, dst[m])
    w = w[m]
    nv = len(ids)
    start, labels = runner.resume_array(ids, "label")
    if labels is None:
        labels = np.arange(nv, dtype=np.int64)
    else:
        labels = _slots(ids, labels, f"run_dir {runner.run_dir!r}: labels")
    from grappolo_spark.operators.louvain import _first_group_starts

    for step in range(start, max_iters):
        key = s * nv + labels[d]
        uk, inv = np.unique(key, return_inverse=True)
        wsum = np.bincount(inv, weights=w)
        gv = (uk // nv).astype(np.int64)
        gl = (uk % nv).astype(np.int64)
        order = np.lexsort((gl, -wsum, gv))
        first = _first_group_starts(gv[order])
        new = labels.copy()
        new[gv[order][first]] = gl[order][first]
        changed = bool((new != labels).any())
        labels = new
        runner.commit_arrays(step, {"v": ids, "label": ids[labels]}, {"op": "lpa"})
        if stop_on_converge and not changed:
            break
    return spark.createDataFrame(
        pd.DataFrame({"v": ids, "label": ids[labels]}), "v long, label long"
    )


def label_propagation(
    g: Graph,
    max_iters: int = 10,
    stop_on_converge: bool = True,
    local_threshold: int = LOCAL_EDGE_ROWS,
    tier: Tier | str | None = None,
    run_dir: str | None = None,
) -> DataFrame:
    """Return ``(v, label)``; isolated vertices keep their own id.

    Tiers (:mod:`grappolo_spark.plans.tiers`): **local** — up to 2M edge
    rows the identical iteration replays driver-locally over the probe's
    one Arrow collect (excluded by ``local_threshold=0``, and by an
    explicit vertex table when ``run_dir`` is set);
    **broadcast** (|V| <= 5M) — pairs are hash-partitioned ONCE on ``src``
    (the aggregation key), the O(V) label table broadcasts into the join,
    and the freq→argmax chain runs with zero per-superstep exchanges, with
    32-bit ids through the hot chain when the id bound fits (labels are
    vertex ids, so the label column narrows too; winners are identical);
    **shuffle** — the dst-co-partitioned plan. ``tier`` forces one.

    With ``run_dir`` (a local or mounted path) every tier commits each
    superstep's ``(v, label)`` state in one layout — the local tier
    through pyarrow, with no Spark job — and resumes from the last commit
    of any tier; a run_dir that holds another vertex count (in the
    local tier: another vertex set) raises ``ValueError``.
    """
    spark = g.edges.sparkSession
    variant = set() if local_tier_allowed(local_threshold) else {"no_local"}
    facts = local_facts(g, "labelprop", run_dir, variant, tier)
    if facts is not None:
        _check_symmetric(g, facts, "label_propagation")
        labels = _local_lpa(
            spark, max_iters, stop_on_converge, facts.arrays,
            SuperstepRunner(spark, run_dir),
        )
        if g.vertices is None:
            # every vertex id is an edge endpoint (self-loop-only
            # vertices included — see _local_lpa): the LocalRelation
            # already covers the full vertex set, no join, no cut
            return labels
        out = g.vertex_ids().join(labels, "v", "left").select(
            "v", F.coalesce("label", F.col("v")).alias("label")
        )
        return cut_lineage(out, tag="result", keep_last=64)

    # ONE evaluation of the edge pipeline for the O(V) side: the stats
    # (|V|, id bounds) and the label init read the degree table's cut.
    # Durable runs keep the uncut shape (resume must not read a scratch cut)
    ids_cut = None if run_dir else cut_lineage(degree_table(g), tag="lpa_ids")
    facts = graph_stats(g, ids_cut)
    _check_symmetric(g, facts, "label_propagation")
    tier = plan(facts, "labelprop", run_dir, variant, tier)
    broadcast_labels = tier is Tier.BROADCAST
    # strict lower bound: the tie-break negates the int32 label inside the
    # max_by struct, and -INT32_MIN wraps under non-ANSI Spark — a vertex id
    # of exactly -2^31 must keep the long path
    ids32 = broadcast_labels and facts.fits_int32(strict_low=True)

    # weight ≡ 1.0 invariant (Graph.unweighted): persist only (src, dst)
    # and count rows per label instead of summing doubles — identical
    # winners (integer counts are exact doubles, same tie-break struct)
    unweighted = facts.unweighted
    if ids32:
        pair_cols = [
            F.col("src").cast("int").alias("src"),
            F.col("dst").cast("int").alias("dst"),
        ]
    else:
        pair_cols = [F.col("src"), F.col("dst")]
    if not unweighted:
        pair_cols.append(F.col("weight"))
    pairs = g.edges.filter(F.col("src") != F.col("dst")).select(*pair_cols)
    # broadcast gather: partition once on the AGGREGATION key src so the
    # freq/argmax groupBys reuse the cached layout; shuffle gather:
    # co-partition on the JOIN key dst so the O(E) side never moves
    pairs = pairs.repartition("src" if broadcast_labels else "dst").persist()

    runner = SuperstepRunner(spark, run_dir)
    start, resumed = runner.resume(facts.nv)
    if resumed is not None:
        labels = cut_lineage(resumed, tag="lpa")
    elif ids_cut is not None:
        # projection over the lpa_ids cut parquet: already a truncated
        # leaf, no second O(V) write+read job
        labels = ids_cut.select("v", F.col("v").alias("label"))
    else:
        labels = cut_lineage(
            g.vertex_ids().select("v", F.col("v").alias("label")), tag="lpa"
        )

    for step in range(start, max_iters):
        if ids32:
            # hot join side in the cache's int types (labels ⊆ vertex ids)
            l_hot = labels.select(
                F.col("v").cast("int").alias("v"),
                F.col("label").cast("int").alias("label"),
            )
        else:
            l_hot = labels
        l_side = F.broadcast(l_hot) if broadcast_labels else l_hot
        freq = (
            pairs.join(l_side, pairs.dst == l_side.v)
            .groupBy(F.col("src").alias("vv"), "label")
            .agg(
                F.count(F.lit(1)).cast("double").alias("w")
                if unweighted
                else F.sum("weight").alias("w")
            )
        )
        # argmax by weight, tie -> min label: max_by over struct(w, -label)
        best = freq.groupBy("vv").agg(
            F.max_by("label", F.struct(F.col("w"), -F.col("label"))).alias("new_label")
        )
        if ids32:
            # chain boundary: back to long for the O(V) state update
            best = best.select(
                F.col("vv").cast("long").alias("vv"),
                F.col("new_label").cast("long").alias("new_label"),
            )
        new = labels.join(best, labels.v == best.vv, "left").select(
            "v", F.coalesce("new_label", F.col("label")).alias("label")
        )
        # commit FIRST (single evaluation + write); the convergence count
        # then diffs two parquet-backed tables instead of re-running the
        # whole superstep plan — one pass per iteration, not two
        committed = runner.commit(step, new, {"op": "lpa"})
        if stop_on_converge:
            changed = (
                committed.alias("n")
                .join(labels.alias("o"), "v")
                .filter(F.col("n.label") != F.col("o.label"))
                .count()
            )
        labels = committed
        if stop_on_converge and changed == 0:
            break

    pairs.unpersist()
    # rename the last commit into the long-lived result window instead of
    # re-writing it (no Spark job; falls back to a real cut if the label
    # table is somehow not rotation-backed)
    return promote_result(labels, fallback_cut=True)
