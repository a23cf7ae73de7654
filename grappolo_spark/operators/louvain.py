"""One Louvain level (phase) as iterative DataFrame supersteps.

Faithful re-expression of the reference kernel
`BasicCommunitiesDetection/parallelLouvainMethod.cpp:65-326` — same math,
same tie-breaking, same termination — but bulk-synchronous over DataFrames
instead of OpenMP over CSR. The reference's default sweep is already
Jacobi-style (all vertices move against the *previous* iteration's
assignment), which is exactly Spark's BSP model, so semantics line up
without emulation.

Per-iteration plan (3 shuffles, every aggregation partial+final so the
exchange carries one row per (group, partition): the gather groupBy, the
community agg, and the single-pass argmax/w_own aggregate — plus ONE
action, the state commit, which carries the modularity stats as observed
metrics. The argmax is a ``min_by`` aggregation; its struct payload makes
Spark pick SortAggregate, but the sort is per-partition (distributed) and
the partial step still reduces the shuffle to O(V)):

1. gather   : edges ⋈ assign(dst) → groupBy(src, comm_dst).sum(weight)
              (= ``buildLocalMapCounter``, `utilityClusteringFunctions.cpp:172-194`);
              the assignment broadcasts below a vertex threshold so the
              partitioned edge table is only scanned, never exchanged
2. cinfo    : assign ⋈ degrees → groupBy(comm).agg(sum deg, count)
              (= ``cInfo`` maintenance, `parallelLouvainMethod.cpp:274-278`)
3. gain     : for candidate y≠curr:
              ``2*(eiy − eix) − 2*deg_v*(ay − ax)/2m`` with
              ``eix = w(v→curr) − selfLoop``, ``ax = a_curr − deg_v``,
              ``ay = a_y``  (`utilityClusteringFunctions.cpp:226-259`)
4. argmax   : positive gains only, ties → smaller community id
              (`:245-248`) via ``min_by`` over (−gain, cand) — a hash
              aggregation, not a window sort; singleton-swap protection
              (`:254-256`)
5. modularity: ``Q = e_xx/2m − Σa_C²/(2m)²`` with e_xx measured on the
              *pre-move* assignment (`parallelLouvainMethod.cpp:244-255`),
              collected as CollectMetrics observations during the commit
6. stop when ``currMod − prevMod < thresh``; return the assignment from the
              *previous* iteration (`:266-268, 302-307`)

Isolated vertices never move (reference sets target −1, `:219-221`); here
they simply have no gather rows, so they keep their own singleton label.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Observation

from grappolo_spark.graph import Graph
from grappolo_spark.plans.iteration import (
    SuperstepRunner,
    cut_lineage,
    promote_result,
    read_observation,
)
from grappolo_spark.plans.tiers import (
    Tier,
    degree_table,
    driver_holds,
    graph_stats,
    plan,
)


def modularity(
    edges: DataFrame,
    assign: DataFrame,
    degrees: DataFrame,
    directed: bool = False,
) -> float:
    """Q of a (v, comm) partition over a canonical edge table.

    Implements the formula the reference leaves stubbed in
    `utilityClusterComparisonMetrics.cpp:409-411` using the kernel's own
    accounting (`parallelLouvainMethod.cpp:244-255`). With ``directed``
    the edge table is taken as arcs and the constant doubles to 2/m
    (`parallelDirectedLouvainMethod.cpp:103-105`); ``degrees`` must then
    be out-degrees.
    """
    two_m = edges.agg(F.sum("weight")).collect()[0][0] or 0.0
    if two_m == 0:
        return 0.0
    if directed:
        two_m /= 2.0  # const = 2/m expressed through the shared 1/two_m path
    a_src = assign.withColumnRenamed("v", "src").withColumnRenamed("comm", "comm_src")
    a_dst = assign.withColumnRenamed("v", "dst").withColumnRenamed("comm", "comm_dst")
    e_xx = (
        edges.join(a_src, "src")
        .join(a_dst, "dst")
        .filter(F.col("comm_src") == F.col("comm_dst"))
        .agg(F.sum("weight"))
        .collect()[0][0]
        or 0.0
    )
    a2_x = (
        assign.join(degrees, "v")
        .groupBy("comm")
        .agg(F.sum("deg").alias("cdeg"))
        .agg(F.sum(F.col("cdeg") * F.col("cdeg")))
        .collect()[0][0]
        or 0.0
    )
    return e_xx / two_m - a2_x / (two_m * two_m)


def _ftr_terms(curr_mod: float, nv: float, n_c2: float, w_2: float):
    """Fast-Track-Resistance terms — the ONE implementation of the
    Granell/Gomez/Arenas resolution-limit exit used by the FTR kernel and
    :func:`ftr_metrics` (`parallelLouvainMethodFastTrackResistance.cpp:193-239`):
    ``r_min = (−2m/nd)·Q`` with ``nd = n − Σ|C|²/n``, and
    ``Q_AFG = (2m·Q + r_min·nd) / (2m − n·r_min)``; optimal when Q_AFG == 0.
    """
    nd = nv - n_c2 / nv if nv else 0.0
    r_min = (-w_2 / nd) * curr_mod if nd else 0.0
    denom = w_2 - nv * r_min
    q_afg = (w_2 * curr_mod + r_min * nd) / denom if denom else 0.0
    return r_min, q_afg


def ftr_metrics(
    edges: DataFrame, assign: DataFrame, degrees: DataFrame
) -> dict:
    """FTR diagnostics of a fixed (v, comm) partition: modularity Q plus
    the resolution terms r_min and Q_AFG. Pure column arithmetic over the
    same accounting as :func:`modularity` — every term is ANSI-SQL
    expressible, so the driver value-oracles the FTR math itself (the
    kernel's Q_AFG exit is the same ``_ftr_terms`` call)."""
    q = modularity(edges, assign, degrees)
    w_2 = edges.agg(F.sum("weight")).collect()[0][0] or 0.0
    row = (
        assign.groupBy("comm")
        .agg(F.count(F.lit(1)).alias("csize"))
        .agg(
            F.sum(F.col("csize") * F.col("csize")).alias("n_c2"),
            F.sum("csize").alias("nv"),
        )
        .collect()[0]
    )
    nv = float(row["nv"] or 0)
    n_c2 = float(row["n_c2"] or 0)
    r_min, q_afg = _ftr_terms(q, nv, n_c2, w_2)
    return {"modularity": q, "r_min": r_min, "q_afg": q_afg, "nv": nv, "n_c2": n_c2}


@dataclass
class LouvainPhaseResult:
    assignment: DataFrame  # (v, comm)
    modularity: float  # prevMod, as returned by the reference kernel
    iterations: int
    tier: Tier | None = None  # the tier the phase ran in


def _singleton_sweep_best(edges: DataFrame, vdeg: DataFrame, const: float) -> DataFrame:
    """(v, cand): each vertex's best move under the all-singleton
    assumption — the ONE implementation of the ``initCommAssOpt`` gain
    (`Utility/utilityClusteringFunctions.cpp:108-169`), shared by
    :func:`smart_init_assignment` and the kernel's fused warm start so the
    gain formula exists exactly once.

    eix = 0, ax = 0, ay = deg(neighbor), so the gain collapses to
    ``2*w_uv − 2*deg_u*deg_v*const``. Strictly-positive gain required;
    ties break to the smaller neighbor id (min_by over (−gain, dst));
    swap protection (all sizes 1) blocks moves to a larger id, which with
    singleton community ids == vertex ids reduces to ``cand < v``.
    The argmax is a hash aggregation (map-side partial), not a window sort.
    """
    d_src = vdeg.select(F.col("v").alias("src"), F.col("deg").alias("deg_u"))
    d_dst = vdeg.select(F.col("v").alias("dst"), F.col("deg").alias("deg_v"))
    cand = (
        edges.filter(F.col("src") != F.col("dst"))
        .join(d_src, "src")
        .join(d_dst, "dst")
        .withColumn(
            "gain",
            2.0 * F.col("weight")
            - 2.0 * F.col("deg_u") * F.col("deg_v") * F.lit(const),
        )
        .filter(F.col("gain") > 0)
    )
    return (
        cand.groupBy("src")
        .agg(
            F.min_by(
                "dst", F.struct((-F.col("gain")).alias("ng"), F.col("dst"))
            ).alias("cand")
        )
        .filter(F.col("cand") < F.col("src"))
        .select(F.col("src").alias("v"), "cand")
    )


def smart_init_assignment(g: Graph) -> DataFrame:
    """One-pass warm start — reference ``initCommAssOpt``
    (`Utility/utilityClusteringFunctions.cpp:108-169`).

    Each vertex evaluates its neighbors assuming the all-singleton
    assignment (see :func:`_singleton_sweep_best` for the gain/tie-break) —
    one edge-table pass with a per-vertex argmax, no community-info join
    and no modularity action. Equivalent to the kernel's first Jacobi
    iteration, at a fraction of its cost.
    """
    vdeg = g.degrees().select("v", "deg")
    two_m = graph_stats(g).two_m
    if two_m == 0.0:
        return g.vertex_ids().select("v", F.col("v").alias("comm"))
    const = (2.0 if g.directed else 1.0) / two_m
    best = _singleton_sweep_best(g.edges, vdeg, const)
    return (
        g.vertex_ids()
        .join(best, "v", "left")
        .select("v", F.coalesce("cand", F.col("v")).cast("long").alias("comm"))
    )


def renumber_np(members, comm):
    """``(labels, k)``: ``comm`` (one entry per vertex id in ``members``)
    renumbered to ``0..k-1`` by each community's minimum member id — the
    reference's first-appearance order (`buildNextPhase.cpp:48-79`); the
    sentinel −1 stays −1."""
    import numpy as np

    held = comm >= 0
    cu, inv = np.unique(comm[held], return_inverse=True)
    first = np.full(len(cu), np.iinfo(np.int64).max)
    np.minimum.at(first, inv, members[held])
    labels = np.full(len(comm), -1, dtype=np.int64)
    labels[held] = np.argsort(np.argsort(first))[inv]
    return labels, len(cu)


def _first_group_starts(sorted_arr):
    """Indices of the first element of each run in a SORTED array — what
    ``np.unique(..., return_index=True)[1]`` computes, without re-sorting
    (two passes instead of an O(n log n) sort; this box's throttled
    memory bus makes every full-width pass count)."""
    import numpy as np

    if len(sorted_arr) == 0:
        return np.empty(0, dtype=np.int64)
    mask = np.empty(len(sorted_arr), dtype=bool)
    mask[0] = True
    np.not_equal(sorted_arr[1:], sorted_arr[:-1], out=mask[1:])
    return np.flatnonzero(mask)


def _smart_init_np(s, d, w, vdeg, const, nv):
    """Numpy mirror of :func:`_singleton_sweep_best` — the initCommAssOpt
    one-pass warm start in index space: gain ``2*w − 2*deg_u*deg_v*const``
    over non-self edges, strictly positive, argmax per vertex with
    (gain desc, neighbor asc) tie-break, then the all-singleton swap rule
    (keep only moves to a smaller id). Exact for integer-valued weights."""
    import numpy as np

    m = s != d
    ss, dd, ww = s[m], d[m], w[m]
    gain = 2.0 * ww - 2.0 * vdeg[ss] * vdeg[dd] * const
    pos = gain > 0
    ss, dd, gain = ss[pos], dd[pos], gain[pos]
    comm = np.arange(nv, dtype=np.int64)
    if len(ss):
        # (gain desc, neighbor asc) argmax per src WITHOUT the 3-key
        # lexsort (the float key made it the dominant cost): one int sort
        # by src, segment-max the gains, then segment-min the neighbor
        # among the rows that hit their segment's max. Gains are strictly
        # positive floats compared bitwise, so the winner set is identical
        # to the lexsort pick.
        order = np.argsort(ss, kind="stable")
        so, do_, go = ss[order], dd[order], gain[order]
        starts = _first_group_starts(so)
        seg_max = np.maximum.reduceat(go, starts)
        counts = np.diff(np.append(starts, len(so)))
        at_max = go == np.repeat(seg_max, counts)
        so2, do2 = so[at_max], do_[at_max]
        starts2 = _first_group_starts(so2)
        pick_v = so2[starts2]
        pick_c = np.minimum.reduceat(do2, starts2)
        keep = pick_c < pick_v
        comm[pick_v[keep]] = pick_c[keep]
    return comm


def _decide_moves(picks, comm, deg, selfloop, cdeg, csize, const):
    """The ONE move decision of every driver-held sweep: ``(v, c)`` of the
    winners that move. ``picks`` is a gather's ``(pick_v, pick_c, pick_w,
    w_own)``: each vertex's best candidate community other than its own,
    the weight it sends there, and every vertex's weight into its own
    community. The gain ``2*(eiy − eix) − 2*deg_v*(ay − ax)*const``
    (`utilityClusteringFunctions.cpp:226-259`) runs only on the winners,
    which must gain strictly; singleton-swap protection compares the
    target with the CURRENT COMMUNITY id (maxIndex > sc, `:254-256`).
    ``cdeg``/``csize`` are indexed by community label."""
    pick_v, pick_c, pick_w, w_own = picks
    cur = comm[pick_v]
    eix = w_own[pick_v] - selfloop[pick_v]
    ax = cdeg[cur] - deg[pick_v]
    ay = cdeg[pick_c]
    gain = 2.0 * (pick_w - eix) - 2.0 * deg[pick_v] * (ay - ax) * const
    blocked = (csize[pick_c] == 1) & (csize[cur] == 1) & (pick_c > cur)
    keep = (gain > 0) & ~blocked
    return pick_v[keep], pick_c[keep]


def _np_gather(s, d, w, nv, deg, const):
    """``gather(comm, cdeg) -> (pick_v, pick_c, pick_w, w_own)`` over the
    edge rows ``(s, d, w)`` in numpy (vertex ids and community labels are
    indices ``0..nv-1``, in the order of the ids they stand for): the sum
    of weight per (src, comm[dst]) (``buildLocalMapCounter``,
    `utilityClusteringFunctions.cpp:172-194`), then each vertex's best
    candidate other than its own community."""
    import numpy as np

    # when nv^2 fits int32 the packed key sorts at half the memory-bus
    # width — the per-iteration np.unique sort is this kernel's dominant
    # cost on a bandwidth-bound box. Same keys, same sort order, same
    # inverse: bit-identical results either way. s is loop-invariant:
    # its key contribution is computed once, at the key's width.
    key32 = nv * nv < (1 << 31)
    s_base = (s * nv).astype(np.int32) if key32 else s * nv

    def gather(comm, cdeg):
        key = s_base + (comm.astype(np.int32) if key32 else comm)[d]
        uk, inv = np.unique(key, return_inverse=True)
        wsum = np.bincount(inv, weights=w)
        gv = uk // nv
        gc = uk % nv
        own = gc == comm[gv]
        w_own = np.zeros(nv)
        w_own[gv[own]] = wsum[own]
        # reduced-score argmax (same trick as the distributed kernel):
        # eix/ax shift every candidate's gain by the same per-vertex
        # constant, so ordering by ``cw − deg·a_y·const`` picks the same
        # winner with the same (score desc, cand asc) tie-break, and the
        # full gain formula runs only on the O(V) winners
        cand = ~own
        cv, cc, cw = gv[cand], gc[cand], wsum[cand]
        if len(cv):
            score = cw - deg[cv] * cdeg[cc] * const
            order = np.lexsort((cc, -score, cv))
            win = order[_first_group_starts(cv[order])]
            cv, cc, cw = cv[win], cc[win], cw[win]
        return cv, cc, cw, w_own

    return gather


def _spark_gather(spark, edges, vs, deg, const, ids32=False, unweighted=False,
                  movers=None):
    """:func:`_np_gather`'s ``gather`` as ONE Spark job over the persisted
    src-partitioned edge cache ``edges`` (the driver_state tier): the O(E)
    side never moves, the O(V) state goes in as two broadcast
    LocalRelations typed to the cache's id columns (``ids32`` keeps the
    exchange-free chain) and the O(V) winners come out. ``vs`` are the
    sorted vertex ids the indices stand for; ``unweighted`` counts rows
    instead of summing weights; ``movers`` (a mask over ``vs``) restricts
    the sources to one color class."""
    import numpy as np
    import pandas as pd

    id_t, id_sql = (np.int32, "int") if ids32 else (np.int64, "long")
    sel = slice(None) if movers is None else movers
    src, src_deg, dst = vs[sel].astype(id_t), deg[sel], vs.astype(id_t)
    wsum_agg = (
        F.count(F.lit(1)).cast("double") if unweighted else F.sum("weight")
    ).alias("wsum")

    def gather(comm, cdeg):
        state_src = spark.createDataFrame(
            pd.DataFrame(
                {"src": src, "comm": comm[sel].astype(id_t), "deg": src_deg}
            ),
            f"src {id_sql}, comm {id_sql}, deg double",
        )
        dst_enr = spark.createDataFrame(
            pd.DataFrame({"dst": dst, "cand": comm.astype(id_t), "ay": cdeg[comm]}),
            f"dst {id_sql}, cand {id_sql}, ay double",
        )
        counter = (
            edges.join(F.broadcast(state_src), "src")
            .join(F.broadcast(dst_enr), "dst")
            .groupBy(F.col("src").alias("v"), F.col("cand"))
            .agg(
                wsum_agg,
                F.first("ay").alias("ay"),
                F.first("deg").alias("deg"),
                F.first("comm").alias("comm"),
            )
        )
        is_own = F.col("cand") == F.col("comm")
        score = F.col("wsum") - F.col("deg") * F.col("ay") * F.lit(const)
        rows = (
            counter.groupBy("v")
            .agg(
                F.min_by(
                    F.struct("cand", "wsum"),
                    F.struct(
                        F.when(is_own, F.lit(float("inf")))
                        .otherwise(-score)
                        .alias("ns"),
                        F.col("cand"),
                    ),
                ).alias("b"),
                F.sum(F.when(is_own, F.col("wsum")).otherwise(F.lit(0.0))).alias(
                    "w_own"
                ),
            )
            .select(
                "v", F.col("b.cand").alias("cand"), F.col("b.wsum").alias("wsum"),
                "w_own",
            )
            .toPandas()
        )
        rv = np.searchsorted(vs, rows["v"].to_numpy(np.int64))
        w_own = np.zeros(len(vs))
        w_own[rv] = rows["w_own"].to_numpy(np.float64)
        rc = rows["cand"].to_numpy(np.int64)
        moves = rc != comm[rv]
        return rv[moves], rc[moves], rows["wsum"].to_numpy(np.float64)[moves], w_own

    return gather


def _jacobi_sweeps(gather, comm, deg, selfloop, const, thresh, lower,
                   max_iters):
    """The driver-held Jacobi loop of one plain phase (the local and
    driver_state tiers): every vertex moves against the previous
    iteration's assignment, with the community aggregates, the pre-move
    modularity and the move decision (:func:`_decide_moves`) in numpy and
    the O(E) gather wherever ``gather`` runs it. ``comm`` holds community
    labels ``0..nv-1``. Returns (prev_comm, prev_mod, iterations) with
    the distributed loop's lag structure."""
    import numpy as np

    nv = len(deg)
    prev_comm = comm
    prev_mod = -1.0
    num_itrs = 0
    for _ in range(max_iters):
        num_itrs += 1
        cdeg = np.bincount(comm, weights=deg, minlength=nv)
        csize = np.bincount(comm, minlength=nv)
        picks = gather(comm, cdeg)
        e_xx = float(picks[3].sum())
        a2_x = float((cdeg * cdeg).sum())
        curr_mod = e_xx * const - a2_x * const * const
        if (curr_mod - prev_mod) < thresh:
            break
        mv, mc = _decide_moves(picks, comm, deg, selfloop, cdeg, csize, const)
        prev_mod = curr_mod if curr_mod > lower else lower
        prev_comm = comm
        comm = comm.copy()
        comm[mv] = mc
    return prev_comm, prev_mod, num_itrs


def _gauss_seidel_sweeps(gathers, exx, deg, selfloop, const, thresh, lower,
                         max_iters):
    """The driver-held Gauss-Seidel loop of one colored phase (the local
    and driver_state tiers): one ``gathers`` entry per color class in
    sweep order, each a ``gather`` restricted to its class's sources; the
    community aggregates are refreshed before each class and the moves
    applied after it (:func:`_decide_moves`). ``exx(comm)`` is the
    post-sweep e_xx scan (`parallelLouvainWithColoring.cpp:230-246`).
    Starts from singletons; same return as :func:`_jacobi_sweeps`."""
    import numpy as np

    nv = len(deg)
    comm = np.arange(nv, dtype=np.int64)
    prev_mod = -1.0
    prev_comm = comm.copy()
    num_itrs = 0
    for it in range(max_iters):
        num_itrs = it + 1
        for gather in gathers:
            cdeg = np.bincount(comm, weights=deg, minlength=nv)
            csize = np.bincount(comm, minlength=nv)
            picks = gather(comm, cdeg)
            mv, mc = _decide_moves(picks, comm, deg, selfloop, cdeg, csize, const)
            comm[mv] = mc
        e_xx = exx(comm)
        _, inv = np.unique(comm, return_inverse=True)
        cdeg = np.bincount(inv, weights=deg)
        a2_x = float((cdeg * cdeg).sum())
        curr_mod = e_xx * const - a2_x * const * const
        if (curr_mod - prev_mod) < thresh:
            break
        prev_mod = curr_mod if curr_mod > lower else lower
        prev_comm = comm.copy()
    return prev_comm, prev_mod, num_itrs


def _local_kernel(s, d, w, nv, directed, thresh, lower, max_iters,
                  smart_init=False):
    """Index-space core of the local kernel (ids must be 0..nv-1).
    Returns (prev_comm array | None when 2m==0, prev_mod, iterations).
    ``smart_init`` seeds from the initCommAssOpt warm start instead of the
    all-singleton assignment — the same flag the distributed kernel honors,
    so the local fast path no longer silently ignores it."""
    import numpy as np

    vdeg = np.bincount(s, weights=w, minlength=nv)
    selfw = np.bincount(s[s == d], weights=w[s == d], minlength=nv)
    two_m = float(w.sum())
    if two_m == 0.0:
        return None, 0.0, 0
    const = (2.0 if directed else 1.0) / two_m
    if smart_init:
        comm = _smart_init_np(s, d, w, vdeg, const, nv)
    else:
        comm = np.arange(nv, dtype=np.int64)
    gather = _np_gather(s, d, w, nv, vdeg, const)
    return _jacobi_sweeps(gather, comm, vdeg, selfw, const, thresh, lower,
                          max_iters)


def _coarsen_np(assign, s, d, w, k):
    """Numpy mirror of ``multiphase.coarsen``: fold edges through
    ``assign`` (k clusters) summing weights, and guarantee a self-loop row
    per cluster (weight 0 placeholders, `buildNextPhase.cpp:120-127`) —
    the same aggregated multiset (integer-exact sums)."""
    import numpy as np

    ns, nd = assign[s], assign[d]
    uk, inv = np.unique(ns * np.int64(k) + nd, return_inverse=True)
    nw = np.bincount(inv, weights=w)
    ns, nd = (uk // k).astype(np.int64), (uk % k).astype(np.int64)
    missing = np.setdiff1d(np.arange(k, dtype=np.int64), ns[ns == nd])
    return (
        np.concatenate([ns, missing]),
        np.concatenate([nd, missing]),
        np.concatenate([nw, np.zeros(len(missing))]),
    )


def louvain_local_tail(
    g: Graph,
    arrays: tuple,
    threshold: float = 1e-6,
    curr_mod: float = -1.0,
    phase_start: int = 1,
    tot_itr_start: int = 0,
    max_phases: int = 200,
    max_total_iters: int = 100_000,
    smart_init: bool = False,
    coloring: tuple | None = None,
):
    """Run ALL remaining multiphase phases driver-locally over the probe's
    collected ``(src, dst, weight, ids)`` arrays: one createDataFrame,
    zero intermediate Spark jobs — the multiphase driver's local tier.

    Exact mirror of the distributed multiphase loop (kernel → min-member
    renumber → C_orig fold → coarsen with zero-weight self-loop
    placeholders → gain check, `runMultiPhaseBasic.cpp:52-170`), in numpy
    index space. ``coloring`` is the run's ``(c_threshold, min_graph_size,
    coloring_algo, num_colors_cap)``: a phase over more than
    ``min_graph_size`` vertices runs the colored kernel at ``c_threshold``
    (`runMultiPhaseColoring.cpp:51-238`). Returns (assignment DF over g's
    vertex ids with dense community labels, prev_mod, num_clusters, phase,
    tot_itr, history).
    """
    import numpy as np
    import pandas as pd

    from grappolo_spark.operators.coloring import _colored_kernel_np, _colors_np

    spark = g.edges.sparkSession
    c_threshold, min_graph_size, algo, num_colors_cap = coloring or (None,) * 4
    src, dst, ww, ids = arrays
    nv0 = len(ids)
    c_orig = np.arange(nv0, dtype=np.int64)
    prev_mod = -1.0
    phase = phase_start
    tot_itr = tot_itr_start
    num_clusters = 0
    history = []
    cur_s, cur_d, cur_w = np.searchsorted(ids, src), np.searchsorted(ids, dst), ww
    cur_ids, cur_n = ids, nv0

    while True:
        prev_mod = curr_mod
        colored = coloring is not None and cur_n > min_graph_size
        if colored:
            colors, classes = _colors_np(algo, cur_ids, cur_s, cur_d, num_colors_cap)
            comm, q, iters = _colored_kernel_np(
                cur_s, cur_d, cur_w, cur_n, colors, classes, c_threshold,
                curr_mod, 100,
            )
        else:
            # smart_init applies per plain phase, mirroring the distributed
            # driver passing the flag into every plain phase's kernel
            comm, q, iters = _local_kernel(
                cur_s, cur_d, cur_w, cur_n, g.directed, threshold, curr_mod,
                1000, smart_init=smart_init,
            )
        if comm is None:
            break
        curr_mod = q
        tot_itr += iters

        assign, num_clusters = renumber_np(np.arange(cur_n), comm)

        c_orig = assign[c_orig]
        history.append(
            {
                "phase": phase,
                "modularity": curr_mod,
                "clusters": num_clusters,
                "iterations": iters,
                "vertices": cur_n,
                "colored": colored,
                "tier": Tier.LOCAL.value,
            }
        )
        if phase >= max_phases or tot_itr > max_total_iters:
            prev_mod = curr_mod  # a cap stop reports the returned Q
            break
        if (curr_mod - prev_mod) > threshold:
            cur_s, cur_d, cur_w = _coarsen_np(
                assign, cur_s, cur_d, cur_w, num_clusters
            )
            cur_n = num_clusters
            cur_ids = np.arange(cur_n, dtype=np.int64)
            phase += 1
        else:
            break

    if nv0:
        out = spark.createDataFrame(
            pd.DataFrame({"v": ids, "comm": c_orig}), "v long, comm long"
        )
    else:
        out = spark.createDataFrame([], "v long, comm long")
    return out, prev_mod, num_clusters, phase, tot_itr, history


def louvain_one_phase(
    g: Graph,
    thresh: float = 1e-6,
    lower: float = -1.0,
    max_iters: int = 1000,
    init_assign: DataFrame | None = None,
    sample_fraction: float | None = None,
    seed: int = 12345,
    sample_hash: str = "xxh64",
    early_terminate: bool = False,
    ftr_phase: int | None = None,
    salt_threshold: int = 1_000_000,
    smart_init: bool = False,
    tier: Tier | str | None = None,
    run_dir: str | None = None,
) -> LouvainPhaseResult:
    """Run one modularity-optimization level to its convergence threshold.

    The tier (:mod:`grappolo_spark.plans.tiers`) picks the physical plan
    (a phase has no local tier of its own: the multiphase driver runs the
    same Jacobi sweeps with a numpy gather, :func:`louvain_local_tail`):

    - **driver_state** (|V| <= 100k, integer-valued weights, plain
      variant, no ``run_dir``): the local kernel's Jacobi sweeps
      (:func:`_jacobi_sweeps`) with the gather in Spark — community state
      in numpy, one fused gather→argmax job per iteration over the
      persisted edge cache (:func:`_spark_gather`).
    - **broadcast** (|V| <= 5M): the assignment broadcasts into the
      ``edges JOIN assign(dst)`` gather, so the src-partitioned edge cache
      is only SCANNED per superstep — no exchange and no per-superstep
      sort of the O(E) side.
    - **shuffle** (beyond — a billion-vertex assignment must not
      broadcast): the plan co-partitioned on ``dst``, state commits
      bucketed by ``v``.

    ``tier`` forces one. It plans from the graph's stats
    (``graph_stats``: |V|, 2m, id bounds, integer weights, max degree),
    learned once per graph.

    ``init_assign`` gives warm starts (reference
    `parallelLouvainMethodInitialized.cpp:106-112`). ``sample_fraction``
    reproduces the Approx kernel's behavior
    (`parallelLouvainMethodApprox.cpp:139-155`): only a seeded random subset
    of vertices may move each iteration. ``early_terminate`` skips vertices
    whose community was unchanged over the last two iterations — the
    delta-iteration form of `parallelLouvianMethodEarlyTerminate.cpp:114,192`
    (the gather, the expensive stage, shrinks to the active set; modularity
    is then computed by a full edge scan so Q stays exact, unlike the
    reference's processed-only accounting — documented divergence).
    ``ftr_phase`` enables the Fast-Track-Resistance exit (Granell/Gomez/
    Arenas resolution-limit fix) for phases > 1: r_min and Q_AFG per
    `parallelLouvainMethodFastTrackResistance.cpp:193-239`, stop when
    Q_AFG == 0, 200-iteration cap (`:263-267`).

    Works unchanged on directed graphs (``Graph(directed=True)``, edges not
    symmetrized): vdeg becomes the out-degree and the constant 1/sum(w) is
    doubled to 1/m as in `parallelDirectedLouvainMethod.cpp:103-105`.

    On the broadcast tier the hot gather chain — the persisted edge cache,
    the gather join/aggregation and the argmax — carries 32-bit ids when
    the id-bound fact fits int32 (1.2-1.3x at 134M edges: the stage is
    width-bound). Community ids are a subset of vertex ids, so the
    candidate column narrows too. The state table, commits, and the
    returned assignment stay ``long``.
    """
    spark = g.edges.sparkSession
    # the graph's stats: one aggregation over the degree table the phase
    # persists anyway, none when the graph knows them (probe, coarse graph)
    vdeg_full = degree_table(g).persist()
    facts = graph_stats(g, vdeg_full)
    vdeg = vdeg_full.select("v", "deg")
    # a coarse graph's unique rows bound its max degree by |V|
    max_degree = facts.nv if facts.max_degree is None else facts.max_degree
    use_salting = max_degree > salt_threshold
    two_m = facts.two_m
    # hub skew (use_salting above): the gather routes through a two-stage
    # salted aggregation when any vertex's neighbor list exceeds the
    # threshold (the DataFrame analogue of the reference's per-thread
    # partial maps, `parallelLouvainMethodScale.cpp:86-90`); below it,
    # Spark's map-side partial agg absorbs the skew for free
    if two_m == 0.0:
        vdeg_full.unpersist()
        empty = spark.createDataFrame([], "v long, comm long")
        return LouvainPhaseResult(empty, 0.0, 0)
    variant = {
        name
        for name, on in (
            ("sampling", sample_fraction is not None),
            ("early_terminate", early_terminate),
            ("ftr", ftr_phase is not None),
            ("salting", use_salting),
        )
        if on
    }
    tier = plan(facts, "louvain_phase", run_dir, variant, tier)
    broadcast_assign = tier is not Tier.SHUFFLE
    ids32 = broadcast_assign and facts.fits_int32()
    unweighted = facts.unweighted
    const = 1.0 / two_m
    if g.directed:
        # directed modularity: constant = 1/m (reference doubles the
        # 1/sum(outDegree) constant, `parallelDirectedLouvainMethod.cpp:103-105`)
        const *= 2.0

    # hash-partition the edge table ONCE on the key the supersteps reuse;
    # every iteration then scans the persisted layout in place. The key
    # depends on the gather strategy:
    #   - broadcast gather (driver_state/broadcast tiers): the join side is
    #     broadcast, so the layout that matters is the AGGREGATION key —
    #     the gather's groupBy(v=src, cand) and the argmax's groupBy(v).
    #     src-partitioned edges satisfy both (partitioning on a subset of
    #     the grouping keys co-locates the groups), so the whole
    #     gather→counter→argmax chain runs with ZERO exchanges per
    #     superstep (plan-asserted; dst layout paid two O(E)-width shuffles
    #     per iteration here).
    #   - shuffle gather: co-partition on the JOIN key dst so the O(E) side
    #     never moves per iteration; the downstream aggs then shuffle on v.
    # Tiny coarse phases pin a narrow partition count — the default
    # spark.sql.shuffle.partitions would fan a ~1k-vertex graph back out to
    # dozens of near-empty tasks per stage, and task scheduling (not data)
    # is the phase cost there.
    gather_key = "src" if broadcast_assign else "dst"
    # hot-cache projection: narrow the persisted layout to exactly what
    # the per-superstep gather reads — int32 ids when the bound allows
    # (ids32) and no weight column on unweighted graphs. The projection
    # happens BEFORE the one-time repartition so the exchange itself
    # moves narrow rows.
    e_base = g.edges
    if ids32 or unweighted:
        cols = (
            [
                F.col("src").cast("int").alias("src"),
                F.col("dst").cast("int").alias("dst"),
            ]
            if ids32
            else [F.col("src"), F.col("dst")]
        )
        if not unweighted:
            cols.append(F.col("weight"))
        e_base = e_base.select(*cols)
    if facts.coarse and driver_holds(facts.nv):
        # a coarse level's parquet cut: follow the input's partitioning,
        # bounded by the session's shuffle parallelism: small |V| does not
        # imply small |E|, and a constant 4 starves the sequential
        # superstep jobs of cores when the edge table is large; a tiny
        # coarse parquet keeps its few splits
        npart = max(
            4,
            min(
                int(spark.conf.get("spark.sql.shuffle.partitions")),
                g.edges.rdd.getNumPartitions(),
            ),
        )
        edges = e_base.repartition(npart, gather_key).persist()
    else:
        edges = e_base.repartition(gather_key).persist()
    # cold-path adapter: the canonical (long src, long dst, weight) view
    # for auxiliary consumers (self-loop weights, smart init, the
    # early-terminate e_xx scan). Casts/literals materialize AFTER the
    # cache scan, so the cache stays narrow and the cold paths keep the
    # canonical schema.
    e_cold = edges
    if ids32:
        e_cold = e_cold.withColumn("src", F.col("src").cast("long")).withColumn(
            "dst", F.col("dst").cast("long")
        )
    if unweighted:
        e_cold = e_cold.withColumn("weight", F.lit(1.0))

    selfw = (
        e_cold.filter(F.col("src") == F.col("dst"))
        .groupBy(F.col("src").alias("v"))
        .agg(F.sum("weight").alias("selfloop"))
    )

    if tier is Tier.DRIVER_STATE:
        # the local kernel's Jacobi sweeps with the gather in Spark: one
        # O(V) collect of (v, deg, selfloop) and of the warm start, then
        # one gather job per iteration; community labels are the ranks
        # of the starting community ids, so every tie-break is unchanged
        import numpy as np
        import pandas as pd

        st = (
            vdeg.join(selfw, "v", "left")
            .select("v", "deg", F.coalesce("selfloop", F.lit(0.0)).alias("selfloop"))
            .toPandas()
            .sort_values("v", kind="mergesort", ignore_index=True)
        )
        vs = st["v"].to_numpy(np.int64)
        deg = st["deg"].to_numpy(np.float64)
        comm = vs.copy()
        init = None
        if init_assign is not None:
            init = init_assign.select("v", "comm").toPandas()
        elif smart_init:
            # the SHARED one-pass initCommAssOpt sweep (cand < v applied)
            init = _singleton_sweep_best(e_cold, vdeg, const).toPandas()
            init.columns = ["v", "comm"]
        if init is not None and len(init) and len(vs):
            iv = init["v"].to_numpy(np.int64)
            at = np.searchsorted(vs, iv).clip(max=len(vs) - 1)
            held = vs[at] == iv
            comm[at[held]] = init["comm"].to_numpy(np.int64)[held]
        labels, comm = np.unique(comm, return_inverse=True)
        gather = _spark_gather(spark, edges, vs, deg, const, ids32, unweighted)
        comm, q, iters = _jacobi_sweeps(
            gather, comm, deg, st["selfloop"].to_numpy(np.float64), const,
            thresh, lower, max_iters,
        )
        edges.unpersist()
        vdeg_full.unpersist()
        out = spark.createDataFrame(
            pd.DataFrame({"v": vs, "comm": labels[comm]}), "v long, comm long"
        )
        return LouvainPhaseResult(out, q, iters, tier=Tier.DRIVER_STATE)

    # with the broadcast gather OFF (billion-vertex assignments) the state
    # table is consumed by several v-keyed joins/aggs per superstep: commit
    # it BUCKETED by v at the loop's shuffle parallelism, so consumers read
    # it pre-partitioned instead of re-shuffling O(V) rows each iteration
    # (plan-asserted by test_bucketed_state_cut_skips_shuffle)
    runner = SuperstepRunner(
        spark, run_dir,
        bucket_by=None if broadcast_assign else "v",
        n_buckets=int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    start, assign = runner.resume(facts.nv)
    if start > 1:
        # a stop at the first resumed step returns the state BEFORE the
        # last commit, as the uninterrupted run would
        prev_assign = runner.state(start - 2)
    else:
        if init_assign is not None:
            prev_assign = init_assign.select("v", "comm")
        elif smart_init:
            # fused initCommAssOpt: the SHARED one-pass sweep builder, fed
            # the partitioned edges and the vdeg/const already computed
            # here (two fewer jobs per phase than smart_init_assignment)
            best0 = _singleton_sweep_best(e_cold, vdeg, const)
            prev_assign = vdeg.join(best0, "v", "left").select(
                "v", F.coalesce("cand", F.col("v")).cast("long").alias("comm")
            )
        else:
            prev_assign = vdeg.select("v", F.col("v").alias("comm"))
        # parquet cut, NOT localCheckpoint: a localCheckpoint materializes
        # through the non-adaptive df.rdd compile path, and at sf0.1 the
        # kernel's iterations measured ~3x slower under it (198.6s vs
        # 72.2s whole-run A/B on an idle box) — the parquet round-trip's
        # fixed cost is the cheaper lineage truncation for multi-consumer
        # state on this build. Coarse phases on the broadcast tier skip
        # the cut ACTION entirely: only iteration 1
        # consumes the init plan (4-6 subplan copies over an
        # already-parquet-backed coarse graph inside ONE job), which costs
        # less than a dedicated write+read job at that size.
        if not (facts.coarse and tier is Tier.BROADCAST):
            prev_assign = cut_lineage(
                prev_assign, tag="louvain_assign",
                bucket_by=runner.bucket_by, n_buckets=runner.n_buckets,
            )
    prev_mod = -1.0
    if assign is None:
        assign = prev_assign
    elif runner.history:
        prev_mod = runner.history[-1].get("prev_mod", -1.0)

    hist1 = hist2 = None  # last two assignments (early-termination filter)
    num_itrs = start
    # per-iteration temporaries whose unpersist must wait until no live
    # plan references them (one-commit lag)
    pending: list = []
    retired: list = []
    # Fused-action mode (the default path): the modularity stats ride the
    # commit job as observed metrics (CollectMetrics nodes on cinfo/cur),
    # so each iteration runs ONE Spark action — the state write — instead
    # of a stats-collect plus a commit-write. The stop decision then lands
    # one commit late: the final (discarded) move is committed to scratch,
    # which is harmless because the kernel returns the PREVIOUS iteration's
    # assignment anyway (`parallelLouvainMethod.cpp:266-268,302-307`).
    # Variants whose stop inputs live outside cinfo/cur (early-terminate's
    # edge-scan e_xx, FTR's Q_AFG exit) and durable runs (run_dir: the
    # _METRICS.json sidecar must hold final numbers at write time) keep
    # the two-action flow. Every iteration commits a parquet cut: chaining
    # iterations through localCheckpoint measured ~3x slower at sf0.1 (the
    # non-adaptive df.rdd compile path), so that option was removed.
    fuse_stats = run_dir is None and not early_terminate and ftr_phase is None
    for step in range(start, max_iters):
        num_itrs = step + 1
        # --- active set (early termination) --------------------------------
        active_src = None
        if early_terminate and hist1 is not None and hist2 is not None:
            stable = (
                assign.join(hist1.withColumnRenamed("comm", "c1"), "v")
                .join(hist2.withColumnRenamed("comm", "c2"), "v")
                .filter((F.col("comm") == F.col("c1")) & (F.col("c1") == F.col("c2")))
                .select("v")
            )
            active_src = assign.join(stable, "v", "left_anti").select(
                F.col("v").alias("src")
            )
        # --- cinfo of the current assignment ------------------------------
        cinfo = (
            assign.join(vdeg, "v")
            .groupBy("comm")
            .agg(F.sum("deg").alias("cdeg"), F.count(F.lit(1)).alias("csize"))
        )
        obs_cinfo = obs_cur = None
        if fuse_stats:
            obs_cinfo = Observation()
            cinfo = cinfo.observe(
                obs_cinfo,
                F.sum(F.col("cdeg") * F.col("cdeg")).alias("a2_x"),
                F.sum(F.col("csize") * F.col("csize")).alias("n_c2"),
                F.sum("csize").alias("nv"),
            )
        cinfo = cinfo.persist()

        # --- gather: weight from each vertex to each neighbor community ---
        # canonical long-id view (cold paths: early-terminate e_xx scan)
        a_dst = assign.select(
            F.col("v").alias("dst"), F.col("comm").alias("comm_dst")
        )
        if ids32:
            # hot join side in the cache's int32 types: join/agg keys stay
            # the cached attributes, preserving the exchange-free chain
            # (comm ids are a subset of vertex ids, so cand fits too)
            a_dst_hot = assign.select(
                F.col("v").cast("int").alias("dst"),
                F.col("comm").cast("int").alias("comm_dst"),
            )
            active_hot = (
                active_src.select(F.col("src").cast("int").alias("src"))
                if active_src is not None
                else None
            )
        else:
            a_dst_hot = a_dst
            active_hot = active_src
        gather_base = edges
        if unweighted and use_salting:
            # rare combo (hub graph with no weights): the salted sum needs
            # a weight column; restore the literal after the cache scan
            gather_base = edges.withColumn("weight", F.lit(1.0))
        gather_edges = (
            gather_base.join(active_hot, "src", "left_semi")
            if active_hot is not None
            else gather_base
        )
        # broadcast the O(V) assignment below the vertex threshold: the
        # persisted O(E) side is scanned in place — no exchange, no sort
        a_dst_side = F.broadcast(a_dst_hot) if broadcast_assign else a_dst_hot
        if unweighted and not use_salting:
            # weight ≡ 1.0 by construction (Graph.unweighted): drop the
            # 8-byte weight column from the hot gather entirely and count
            # rows instead of summing doubles — exact (integer counts are
            # exact doubles) and one column narrower through the fused
            # stage that the round-5 profile showed is width-bound
            gathered = gather_edges.join(a_dst_side, "dst").select(
                F.col("src").alias("v"), F.col("comm_dst").alias("cand")
            )
            counter = gathered.groupBy("v", "cand").agg(
                F.count(F.lit(1)).cast("double").alias("wsum")
            )
        else:
            gathered = gather_edges.join(a_dst_side, "dst").select(
                F.col("src").alias("v"), F.col("comm_dst").alias("cand"), "weight"
            )
            if use_salting:
                from grappolo_spark.plans.salting import salted_sum

                counter = salted_sum(gathered, ["v", "cand"], "weight", out="wsum")
            else:
                counter = gathered.groupBy("v", "cand").agg(
                    F.sum("weight").alias("wsum")
                )

        # --- single-pass best candidate + own-community weight -------------
        # The argmax does NOT need eix/ax: they shift every candidate's gain
        # by the same per-vertex constant, so ordering by the reduced score
        # ``wsum − deg·a_y·const`` picks the identical winner (ties included
        # — equal gains ⇔ equal scores). That lets ONE groupBy(v) produce
        # both the best candidate (min_by over (−score, cand)) AND the
        # own-community weight w_own (conditional sum) — no per-vertex
        # ``cur`` table, no second O(E)-width join, no counter persist.
        # The per-vertex constants (comm, deg, selfloop, cdeg_cur,
        # csize_cur) ride along via first(): identical on every row of a
        # group, since they come from the same O(V) state join.
        state0 = (
            assign.join(vdeg, "v")
            .join(selfw, "v", "left")
            .join(
                cinfo.select(
                    F.col("comm"), F.col("cdeg").alias("cdeg_cur"),
                    F.col("csize").alias("csize_cur"),
                ),
                "comm",
            )
            .select(
                "v", "comm", "deg",
                F.coalesce("selfloop", F.lit(0.0)).alias("selfloop"),
                "cdeg_cur", "csize_cur",
            )
        )
        cinfo_cand = cinfo.select(
            F.col("comm").alias("cand"), F.col("cdeg").alias("ay"),
            F.col("csize").alias("csize_cand"),
        )
        # broadcast the O(V) sides of the enriched join when the
        # assignment is small: without the hint the planner sort-merge
        # joins — i.e. SORTS — the O(E)-width counter every iteration
        # (measured 3.4x slower at sf0.1)
        if ids32:
            # match the counter's int32 key attributes so the join and the
            # following groupBy("v") reuse the cached partitioning — a
            # long/int coercion here would rewrite the grouping key into a
            # derived cast and reintroduce an exchange
            state0 = state0.withColumn("v", F.col("v").cast("int"))
            cinfo_cand = cinfo_cand.withColumn(
                "cand", F.col("cand").cast("int")
            )
        state0_side = F.broadcast(state0) if broadcast_assign else state0
        cc_side = F.broadcast(cinfo_cand) if broadcast_assign else cinfo_cand
        enriched = (
            counter.join(state0_side, "v")
            .join(cc_side, "cand")
            .withColumn("is_own", F.col("cand") == F.col("comm"))
            .withColumn(
                "score",
                F.col("wsum") - F.col("deg") * F.col("ay") * F.lit(const),
            )
        )
        bestinfo = enriched.groupBy("v").agg(
            F.min_by(
                F.struct("cand", "wsum", "ay", "csize_cand"),
                F.struct(
                    # own-community rows are masked out of the argmax
                    F.when(F.col("is_own"), F.lit(float("inf")))
                    .otherwise(-F.col("score"))
                    .alias("ns"),
                    F.col("cand"),
                ),
            ).alias("b"),
            F.sum(
                F.when(F.col("is_own"), F.col("wsum")).otherwise(F.lit(0.0))
            ).alias("w_own"),
            F.first("comm").alias("comm"),
            F.first("deg").alias("deg"),
            F.first("selfloop").alias("selfloop"),
            F.first("cdeg_cur").alias("cdeg_cur"),
            F.first("csize_cur").alias("csize_cur"),
        )
        if ids32:
            # chain boundary: back to canonical long ids for the O(V)
            # state update (b.cand flows through when()-coercion to long)
            bestinfo = bestinfo.withColumn("v", F.col("v").cast("long"))
        if fuse_stats:
            obs_cur = Observation()
            bestinfo = bestinfo.observe(obs_cur, F.sum("w_own").alias("e_xx"))
        bestinfo = bestinfo.persist()

        if not fuse_stats:
            # --- modularity of the pre-move assignment (combined action) ---
            if active_src is not None:
                a_src_m = assign.select(
                    F.col("v").alias("src"), F.col("comm").alias("comm_src")
                )
                exx_df = (
                    e_cold.join(a_src_m, "src")
                    .join(a_dst, "dst")
                    .filter(F.col("comm_src") == F.col("comm_dst"))
                    .agg(F.coalesce(F.sum("weight"), F.lit(0.0)).alias("e_xx"))
                )
            else:
                exx_df = bestinfo.agg(F.sum("w_own").alias("e_xx"))
            stats = (
                exx_df
                .crossJoin(
                    cinfo.agg(
                        F.sum(F.col("cdeg") * F.col("cdeg")).alias("a2_x"),
                        F.sum(F.col("csize") * F.col("csize")).alias("n_c2"),
                        F.sum("csize").alias("nv"),
                    )
                )
                .collect()[0]
            )
            e_xx = stats["e_xx"] or 0.0
            a2_x = stats["a2_x"] or 0.0
            curr_mod = e_xx * const - a2_x * const * const

            if ftr_phase is not None and ftr_phase > 1:
                # Fast-Track-Resistance exit (phase > 1): optimal when Q_AFG == 0
                _r_min, q_afg = _ftr_terms(
                    curr_mod, float(stats["nv"]), stats["n_c2"] or 0.0,
                    1.0 / const,
                )
                stop = (q_afg == 0) or (step + 1 > 200)
            else:
                stop = (curr_mod - prev_mod) < thresh
            metrics = {
                "op": "louvain",
                "e_xx": e_xx,
                "a2_x": a2_x,
                "curr_mod": curr_mod,
                "prev_mod": prev_mod,
                "gain": curr_mod - prev_mod,
            }
            if stop:
                pending.extend([cinfo, bestinfo])
                break

        # --- gain of the single best candidate + move decision -------------
        # gain (`utilityClusteringFunctions.cpp:226-259`) evaluated only on
        # the winner; the >0 filter commutes with the argmax because gain
        # is a strictly monotone transform of the score used to pick it.
        # Singleton-swap protection compares the target to the CURRENT
        # COMMUNITY id (maxIndex > sc, `:254-256`), not the vertex id.
        # The decision is INLINE over bestinfo (one when(), no assign⋈best
        # self-join): every gathered vertex flows straight through to the
        # committed output, so the observed subtree can never be pruned.
        # With the old left join, a runtime-empty move set — EVERY
        # iteration of an instantly-converged coarse phase — made AQE's
        # empty-relation propagation rewrite new_assign to its left side,
        # silently dropping both CollectMetrics observations and costing a
        # fallback stats job per iteration.
        moved = (
            bestinfo.withColumn("cand", F.col("b.cand"))
            .withColumn("eix", F.col("w_own") - F.col("selfloop"))
            .withColumn("ax", F.col("cdeg_cur") - F.col("deg"))
            .withColumn(
                "gain",
                2.0 * (F.col("b.wsum") - F.col("eix"))
                - 2.0 * F.col("deg") * (F.col("b.ay") - F.col("ax")) * F.lit(const),
            )
            .withColumn(
                "blocked",
                (F.col("b.csize_cand") == 1)
                & (F.col("csize_cur") == 1)
                & (F.col("cand") > F.col("comm")),
            )
        )
        # NULL-safe by construction: a masked argmax (cand == comm) or a
        # null gain falls to the otherwise() branch, i.e. "stay"
        move_ok = (
            F.col("cand").isNotNull()
            & (F.col("cand") != F.col("comm"))
            & (F.col("gain") > 0)
            & ~F.col("blocked")
        )
        if sample_fraction is not None and sample_fraction < 1.0:
            # seeded per-iteration sampling: non-sampled vertices keep comm
            # (`parallelLouvainMethodApprox.cpp:139-155` — a coin flip per
            # vertex per iteration). Default stream is xxhash64; the
            # "mult" stream is a Knuth multiplicative hash expressible in
            # ANSI SQL, so the sampled kernel itself is value-oracle-able.
            if sample_hash == "mult":
                sampled = (
                    (F.col("v") * F.lit(2654435761) + F.lit(seed + step)) % 100
                    < int(sample_fraction * 100)
                )
            else:
                sampled = (
                    F.xxhash64(F.col("v"), F.lit(seed + step)) % 100
                    < int(sample_fraction * 100)
                )
            move_ok = move_ok & sampled

        decided = moved.select(
            "v",
            F.when(move_ok, F.col("cand")).otherwise(F.col("comm")).alias("comm"),
        )
        # vertices with no gather rows — isolated, or outside the active
        # set under early termination — keep their community. When this
        # branch is runtime-empty, AQE prunes only the union arm; the
        # decided side (and its observations) always executes.
        new_assign = decided.unionByName(
            assign.join(bestinfo.select("v"), "v", "left_anti")
        )

        if fuse_stats:
            # materialize FIRST — the single action of the iteration; it
            # fires the observed metrics — then read them and decide the
            # stop
            committed = runner.commit(step, new_assign, {"op": "louvain"})
            for df_ in retired:
                df_.unpersist()
            retired = pending + [cinfo, bestinfo]
            pending = []
            m_cur = read_observation(obs_cur)
            m_cinfo = read_observation(obs_cinfo)
            if m_cur is not None and m_cinfo is not None:
                e_xx = m_cur["e_xx"] or 0.0
                a2_x = m_cinfo["a2_x"] or 0.0
            else:
                # Belt-and-braces: since new_assign is derived FROM
                # bestinfo, AQE's empty-relation propagation can no longer
                # prune the CollectMetrics nodes (the old assign⋈best left
                # join lost both observations whenever the move set went
                # runtime-empty). Kept for edge-degenerate plans (e.g. an
                # all-isolated graph whose gather is empty): recompute
                # directly — bestinfo/cinfo are persisted, so this is one
                # cheap agg.
                row = (
                    bestinfo.agg(F.sum("w_own").alias("e_xx"))
                    .crossJoin(
                        cinfo.agg(
                            F.sum(F.col("cdeg") * F.col("cdeg")).alias("a2_x")
                        )
                    )
                    .collect()[0]
                )
                e_xx = row["e_xx"] or 0.0
                a2_x = row["a2_x"] or 0.0
            curr_mod = e_xx * const - a2_x * const * const
            runner.history[-1].update(
                e_xx=e_xx, a2_x=a2_x, curr_mod=curr_mod, prev_mod=prev_mod,
                gain=curr_mod - prev_mod,
            )
            if (curr_mod - prev_mod) < thresh:
                # stats are of the PRE-move assignment: return prev_assign
                # (the previous iteration's result), exactly as the
                # two-action flow would have before making this move
                break
            prev_mod = curr_mod if curr_mod > lower else lower
            prev_assign = assign
            hist2 = hist1
            hist1 = assign
            assign = committed
            continue

        prev_mod = curr_mod if curr_mod > lower else lower
        prev_assign = assign
        hist2 = hist1
        hist1 = assign
        assign = runner.commit(step, new_assign, dict(metrics, prev_mod=prev_mod))
        # one-commit lag: items retired at the PREVIOUS commit are now
        # certainly out of every live plan (assign is parquet-backed)
        for df_ in retired:
            df_.unpersist()
        retired = pending
        pending = [cinfo, bestinfo]

    # NO final result cut: prev_assign is already a truncated leaf — the
    # init cut or an iteration's runner.commit parquet — so re-writing it was a pure extra job per phase
    # (measured ~1s x phases on the forced-distributed multiphase). The
    # only uncut case is a tiny coarse phase's skipped init cut, whose
    # plan is a cheap projection over the coarse-edge parquet.
    # promote_result (a rename, no job) moves a commit-rotation-backed
    # assignment into the long-lived result window — without it, a LATER
    # kernel run's commits rotate this run's file out from under the
    # caller (FAILED_READ_FILE on collect; caught by
    # test_kernel_result_survives_later_runs).
    for df_ in retired + pending:
        df_.unpersist()
    edges.unpersist()
    vdeg_full.unpersist()
    # fallback_cut=True: if a future refactor hands a DERIVED plan (or a
    # localCheckpoint-backed frame) to this point, the rename fast path
    # silently not applying must degrade to an explicit result cut, not
    # to a rotation-lifetime FAILED_READ_FILE (matches coloring/labelprop).
    prev_assign = promote_result(prev_assign, fallback_cut=True)
    return LouvainPhaseResult(
        assignment=prev_assign.select("v", "comm"),
        modularity=prev_mod,
        iterations=num_itrs,
        tier=tier,
    )
