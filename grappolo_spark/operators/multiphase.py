"""Multi-phase Louvain: kernel → renumber → prolong → coarsen → repeat.

DataFrame re-expression of `BasicCommunitiesDetection/runMultiPhaseBasic.cpp:52-170`
and the coloring variant `Coloring/runMultiPhaseColoring.cpp:51-238`:

- each phase runs one Louvain level (`louvain_one_phase`), then the cluster
  ids are renumbered contiguously (first-appearance order ≈ rank of the
  minimum member vertex id — deterministic; reference
  `Utility/buildNextPhase.cpp:48-79` scans vertices 0..NV-1 serially, which
  yields exactly "communities ordered by their minimum member id" for any
  assignment where each community contains its own minimum... see note in
  :func:`renumber_contiguously`),
- the original-vertex assignment is folded through (`C_orig[i] = C[C_orig[i]]`,
  `runMultiPhaseBasic.cpp:105-112`) — a join, not a scatter,
- the graph is coarsened: one vertex per cluster, edge weights summed
  (`buildNextLevelGraphOpt`, `buildNextPhase.cpp:83-255`). Over a symmetrized
  edge table this is literally ``groupBy(C[src], C[dst]).sum(weight)``:
  cross-cluster pairs keep both directions, intra-cluster mass folds into a
  self-loop of weight 2*w_intra + w_self — byte-identical totals to the CSR
  construction,
- loop while the phase's modularity gain exceeds ``threshold`` with caps of
  200 phases / 100000 total iterations (`runMultiPhaseBasic.cpp:116`).

Coarsened graphs shrink fast, so later phases plan cheaper tiers from the
coarse graph's facts (:mod:`grappolo_spark.plans.tiers`): once a phase's
edge table fits the driver, every remaining phase, colored or plain, runs
in one numpy loop (``louvain.louvain_local_tail``) — the Spark analogue of
the reference keeping later phases cheap in cache.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from grappolo_spark.graph import Graph
from grappolo_spark.operators.louvain import louvain_one_phase, renumber_np
from grappolo_spark.plans.iteration import cut_lineage
from grappolo_spark.plans.ranking import dense_rank_ids
from grappolo_spark.plans.tiers import (
    DRIVER_EDGE_ROWS,
    LOCAL_EDGE_ROWS,
    Tier,
    driver_holds,
    graph_facts,
    graph_stats,
    local_tail_facts,
    local_tier_allowed,
    remember,
)


def renumber_contiguously(
    assign: DataFrame, size_hint: int | None = None
) -> tuple[DataFrame, int]:
    """Renumber communities to dense 0..k-1.

    The reference renumbers in first-appearance order of a serial 0..NV-1
    scan (`buildNextPhase.cpp:48-79`); that order equals ranking communities
    by their minimum member vertex id. We reproduce that rank — deterministic
    and distributed (groupBy + a k-row window, k = #communities).
    Sentinel −1 (isolated, dropped by vertex following) stays −1.

    ``size_hint`` (an upper bound on the ROW count of ``assign`` —
    multiphase passes the phase's vertex count) selects a driver-side fast
    path when it fits the driver_state bound: collect the assignment, renumber in
    numpy (``renumber_np``), and return a **LocalRelation** (``createDataFrame``). One
    simple-scan action, and — the real win for the coarse phases, where
    ~2s/job of plan-compile dominates — the result carries its data in
    the plan, so downstream consumers (coarsen's two joins, the end-of-run
    C_orig fold) broadcast it with no lineage cut and no scratch-parquet
    lifetime to manage. Identical values either way; without a hint the
    distributed path runs (a billion-community phase 1 must never collect).
    """
    spark = assign.sparkSession
    if driver_holds(size_hint):
        import numpy as np
        import pandas as pd

        # Arrow both ways: py4j row collect / pickle createDataFrame are
        # ~10x slower than toPandas/pandas at these row counts
        pdf = assign.select("v", "comm").toPandas()
        vs = pdf["v"].to_numpy(dtype=np.int64)
        new_c, k = renumber_np(vs, pdf["comm"].to_numpy(dtype=np.int64))
        out = spark.createDataFrame(
            pd.DataFrame({"v": vs, "comm": new_c}), "v long, comm long"
        )
        return out, k
    firsts = (
        assign.filter(F.col("comm") >= 0)
        .groupBy("comm")
        .agg(F.min("v").alias("first_v"))
    )
    # distributed partition-offset ranking (runs EVERY phase — a global
    # single-partition window here would funnel ~|V|/2 community ids
    # through one task at phase 1); k falls out of the offsets for free
    ranked, k = dense_rank_ids(firsts, "first_v", out="new_comm")
    mapping = ranked.select("comm", "new_comm")
    out = (
        assign.join(mapping, "comm", "left")
        .select("v", F.coalesce("new_comm", F.lit(-1)).cast("long").alias("comm"))
    )
    return out, k


def coarsen(g: Graph, assign: DataFrame) -> Graph:
    """One vertex per cluster; summed edge weights; zero-weight self-loop
    guaranteed per cluster (reference `buildNextPhase.cpp:120-127`).

    Directedness is preserved: a directed graph's edge table is not
    symmetrized, so the grouped fold keeps direction and the coarse graph
    stays directed (`runDirectedMultiPhaseBasic.cpp:121-131` coarsens the
    out-CSR unchanged)."""
    a_src = assign.select(F.col("v").alias("src"), F.col("comm").alias("csrc"))
    a_dst = assign.select(F.col("v").alias("dst"), F.col("comm").alias("cdst"))
    folded = (
        g.edges.join(a_src, "src")
        .join(a_dst, "dst")
        .filter((F.col("csrc") >= 0) & (F.col("cdst") >= 0))
        .select(F.col("csrc").alias("src"), F.col("cdst").alias("dst"), "weight")
    )
    placeholders = (
        assign.filter(F.col("comm") >= 0)
        .select(F.col("comm").alias("src"))
        .distinct()
        .select("src", F.col("src").alias("dst"), F.lit(0.0).alias("weight"))
    )
    coarse = (
        folded.unionByName(placeholders)
        .groupBy("src", "dst")
        .agg(F.sum("weight").alias("weight"))
    )
    # groupBy output: unique (src, dst) by construction
    return Graph(edges=coarse, directed=g.directed, deduped=True)


def coarsen_cut(g: Graph, assign: DataFrame, num_clusters: int) -> Graph:
    """:func:`coarsen` plus the lineage cut the multiphase loop reads the
    next phase from. The rebuilt graph keeps the coarse graph's flags
    (``deduped`` spares coarse colored phases the pair ``distinct``) and
    its stats: ids ``0..k-1``, a self-loop row per cluster (an edge-row
    lower bound), and ``g``'s 2m, integer weights, symmetry and dangling
    flag, which the fold conserves."""
    coarse = coarsen(g, assign)
    edges = coarse.edges
    if driver_holds(num_clusters):
        # small coarse graphs: collapse to a few partitions before the
        # cut. Leaving the parent's partition count (e.g. 32) makes every
        # downstream stage schedule 32 near-empty tasks; at ~1k coarse
        # vertices the task-scheduling overhead, not the data, is the
        # phase cost.
        edges = edges.coalesce(4)
    out = Graph(
        edges=cut_lineage(edges, tag="coarse_edges", keep_last=2),
        directed=coarse.directed,
        unweighted=coarse.unweighted,
        deduped=coarse.deduped,
    )
    fine, k = graph_facts(g), num_clusters
    remember(out, nv=k, edge_rows=k, id_lo=0, id_hi=k - 1, two_m=fine.two_m,
             integer_weights=fine.integer_weights, symmetric=fine.symmetric,
             dangling=fine.dangling, coarse=True)
    return out


@dataclass
class LouvainResult:
    assignment: DataFrame  # (v, comm) over ORIGINAL vertex ids
    modularity: float
    num_clusters: int
    phases: int
    total_iterations: int
    phase_history: list = field(default_factory=list)


def louvain(
    g: Graph,
    threshold: float = 1e-6,
    c_threshold: float = 0.01,
    min_graph_size: int = 100_000,
    max_phases: int = 200,
    max_total_iters: int = 100_000,
    coloring: bool = False,
    num_colors_cap: int = 1024,
    coloring_algo: str = "auto",
    local_threshold: int = LOCAL_EDGE_ROWS,
    vertex_following: bool = False,
    sample_fraction: float | None = None,
    seed: int = 12345,
    early_terminate: bool = False,
    fast_track_resistance: bool = False,
    smart_init: bool = False,
    sample_hash: str = "xxh64",
    tier: Tier | str | None = None,
    run_dir: str | None = None,
) -> LouvainResult:
    """Full multi-phase Louvain (flagship query — reference entry point
    `driverForGraphClustering.cpp:52-247`).

    ``coloring=True`` runs each phase's sweep one color class at a time
    (Gauss-Seidel-like convergence with deterministic parallelism —
    `Coloring/parallelLouvainWithColoring.cpp:158-218`) while the coarse
    graph is larger than ``min_graph_size``, with the coarse threshold
    ``c_threshold``; a final plain phase always runs at ``threshold``
    (`runMultiPhaseColoring.cpp:110-126`).
    ``vertex_following=True`` collapses degree-0/1 vertices first
    (`Utility/vertexFollowing.cpp:46-86`).
    A run stops when a phase gains at most ``threshold`` and reports the
    Q before that phase, as the reference does; a run stopped by
    ``max_phases`` (at most that many phases) or ``max_total_iters``
    reports the Q of the assignment it returns.
    ``smart_init=True`` warm-starts each plain phase with the one-pass
    all-singleton sweep (``initCommAssOpt``,
    `Utility/utilityClusteringFunctions.cpp:108-169`).

    Tiers (:mod:`grappolo_spark.plans.tiers`): once a plain phase's graph
    has at most 2M edge rows, or a colored phase's graph meets the colored
    local gate (at most 4M edge rows, |V| <= 100k, integer weights), the
    **local** tier runs ALL remaining phases, colored and plain,
    driver-locally in one numpy loop (:func:`louvain_local_tail`) over the
    one probe collect — distributed supersteps over a small coarse graph
    are pure fixed job overhead, the Spark analogue of the reference
    keeping later phases in cache. Sampling, early-terminate, FTR,
    ``run_dir``, explicit isolated vertices and ``local_threshold=0``
    exclude it; every other phase plans its own tier from its graph's
    facts (a coarse graph carries them from :func:`coarsen_cut`).
    ``tier`` forces one tier for every phase. ``run_dir`` keeps durable
    superstep state for the plain Spark phases only: colored phases hold
    no durable state yet. Directed graphs
    (``Graph(directed=True)``) run the directed kernel (constant 2/m) and
    coarsen without symmetrizing — the
    `runDirectedMultiPhaseBasic.cpp:52-170` driver.
    """
    from grappolo_spark.operators.coloring import _colored_phase
    from grappolo_spark.operators.louvain import louvain_local_tail
    from grappolo_spark.operators.vertex_following import (
        apply_vertex_following,
        vertex_following_map,
    )

    if g.directed and (coloring or vertex_following):
        raise ValueError(
            "coloring / vertex_following assume a symmetrized edge table; "
            "not supported with directed=True"
        )
    variant = {
        name
        for name, on in (
            ("sampling", sample_fraction is not None),
            ("early_terminate", early_terminate),
            ("ftr", fast_track_resistance),
            ("no_local", not local_tier_allowed(local_threshold)),
        )
        if on
    }

    vf_map = None
    if vertex_following:
        vf_map = vertex_following_map(g)  # (v, rep) with rep=-1 for isolated
        g = apply_vertex_following(g, vf_map)

    # C_orig over the current graph's vertices (identity at phase 1).
    # NOT cut: the identity is consumed exactly once, as the head of the
    # end-of-run fold chain, so the single "result" cut at the bottom
    # materializes it for free — a dedicated cut here was one full O(V)
    # write+read job outside the phases for nothing.
    c_orig = g.vertex_ids().select("v", F.col("v").alias("comm"))

    prev_mod = -1.0
    curr_mod = -1.0
    phase = 1
    tot_itr = 0
    num_clusters = 0
    history = []
    phase_maps = []  # deferred C_orig folds: one composed join at the end
    cur_g = g

    while True:
        phase_t0 = time.time()
        facts = graph_facts(cur_g)
        if coloring and facts.nv is None:
            # phase 1's |V| for the coloring gate rides the bounded probe
            # (whose arrays the colored kernel reuses), else the graph's
            # stats action (which the colored kernel then reads)
            if cur_g.vertices is None:
                facts = graph_facts(cur_g, DRIVER_EDGE_ROWS)
            if facts.nv is None:
                facts = graph_stats(cur_g)
        nv = facts.nv
        use_coloring = coloring and nv is not None and nv > min_graph_size
        facts = local_tail_facts(cur_g, use_coloring, run_dir, variant, tier)
        if facts is not None:
            # all remaining phases, colored or plain, in one driver-local
            # numpy loop: one collect in, one DataFrame out
            (
                tail_assign, prev_mod, num_clusters, phase, tot_itr, tail_hist
            ) = louvain_local_tail(
                cur_g,
                facts.arrays,
                threshold=threshold,
                curr_mod=curr_mod,
                phase_start=phase,
                tot_itr_start=tot_itr,
                max_phases=max_phases,
                max_total_iters=max_total_iters,
                smart_init=smart_init,
                coloring=(
                    c_threshold, min_graph_size, coloring_algo, num_colors_cap
                ) if coloring else None,
            )
            history.extend(tail_hist)
            if not phase_maps and vf_map is None and g.vertices is None:
                # whole run handled by the tail over the ORIGINAL ids, and
                # the edge endpoints ARE the vertex set (no explicit
                # isolated vertices): the C_orig fold is the identity, so
                # return the tail's LocalRelation directly — no vertex_ids
                # scan, no fold join, no result cut job
                return LouvainResult(
                    assignment=tail_assign,
                    modularity=prev_mod,
                    num_clusters=num_clusters,
                    phases=phase,
                    total_iterations=tot_itr,
                    phase_history=history,
                )
            phase_maps.append(
                tail_assign.select(
                    F.col("v").alias("comm"), F.col("comm").alias("next_comm")
                )
            )
            break

        phase_thresh = c_threshold if use_coloring else threshold
        prev_mod = curr_mod
        if use_coloring:
            # the run's variant flags: local_threshold=0 keeps the colored
            # phase off its local tier too
            res = _colored_phase(
                cur_g, phase_thresh, curr_mod, 100, num_colors_cap,
                coloring_algo, None, tier, variant,
            )
        else:
            res = louvain_one_phase(
                cur_g, thresh=phase_thresh, lower=curr_mod,
                smart_init=smart_init,
                sample_fraction=sample_fraction,
                seed=seed,
                sample_hash=sample_hash,
                early_terminate=early_terminate,
                ftr_phase=phase if fast_track_resistance else None,
                tier=tier,
                run_dir=f"{run_dir}/phase{phase}" if run_dir else None,
            )
        curr_mod = res.modularity
        tot_itr += res.iterations
        if nv is None:
            nv = graph_facts(cur_g).nv  # the kernel's stats action

        # nv bounds the assignment's row count, selecting the
        # driver-side renumber for small (coarse) phases
        assign, num_clusters = renumber_contiguously(
            res.assignment, size_hint=nv
        )
        entry = {
            "phase": phase,
            "modularity": curr_mod,
            "clusters": num_clusters,
            "iterations": res.iterations,
            "vertices": nv,
            "colored": use_coloring,
            "tier": res.tier.value if res.tier else None,
            "seconds": round(time.time() - phase_t0, 3),
        }
        if not driver_holds(nv):
            # distributed renumber → parquet-cut the assignment. keep_last
            # must outlive the whole run: the end-of-run fold reads every
            # phase's assignment parquet. (A persist would be cheaper on
            # paper, but interdependent caches + later unpersist trigger
            # recache-recompilation storms on this Spark build — measured
            # 35s slower at sf0.1; parquet cuts keep every phase
            # independent.) The driver path needs no cut at all: its
            # LocalRelation carries the rows in the plan.
            assign = cut_lineage(assign, tag="phase_assign", keep_last=256)

        # defer C_orig[i] = C[C_orig[i]] (`runMultiPhaseBasic.cpp:105-112`):
        # each phase map is a small cut table, so the whole chain composes
        # into ONE join job after the loop instead of a job per phase
        phase_maps.append(
            assign.select(F.col("v").alias("comm"), F.col("comm").alias("next_comm"))
        )
        history.append(entry)

        if phase >= max_phases or tot_itr > max_total_iters:
            # a cap stop returns this phase's assignment: report its Q
            # (the threshold stop keeps the reference's prevMod)
            prev_mod = curr_mod
            break
        if (curr_mod - prev_mod) > threshold:
            cur_g = coarsen_cut(cur_g, assign, num_clusters)
            phase += 1
        else:
            break

    # compose all phase folds in one plan; the single "result" cut below
    # materializes the whole chain (the intermediate cut here would be a
    # second full write of the O(V) assignment — only the vertex-following
    # prolongation needs a materialized intermediate, since it re-joins it)
    for pm in phase_maps:
        c_orig = c_orig.join(pm, "comm", "left").select(
            "v", F.coalesce("next_comm", F.lit(-1)).cast("long").alias("comm")
        )

    if vf_map is not None:
        c_orig = cut_lineage(c_orig, tag="c_orig")
        # prolong through the vertex-following collapse: followed vertex
        # takes its representative's community; isolated stay -1
        rep_comm = c_orig.select(
            F.col("v").alias("rep"), F.col("comm").alias("rep_comm")
        )
        c_orig = (
            vf_map.join(rep_comm, "rep", "left")
            .select(
                "v",
                F.when(F.col("rep") < 0, F.lit(-1))
                .otherwise(F.coalesce("rep_comm", F.lit(-1)))
                .cast("long")
                .alias("comm"),
            )
        )

    c_orig = cut_lineage(c_orig, tag="result", keep_last=64)
    return LouvainResult(
        assignment=c_orig,
        modularity=prev_mod,
        num_clusters=num_clusters,
        phases=phase,
        total_iterations=tot_itr,
        phase_history=history,
    )
