"""Distance-1 graph coloring + colored (Gauss-Seidel) Louvain sweeps.

Three operators from the reference's Coloring/ module, re-expressed as
iterative DataFrame rounds:

1. ``distance_one_coloring`` — speculative greedy coloring
   (Gebremedhin-Manne; reference `Coloring/coloringDistanceOne.cpp:50-233`):
   rounds of {propose first-fit color vs finalized neighbors; detect
   same-color conflicts among this round's proposals; loser requeued}.
   The reference breaks conflicts by thread-random values; we use
   ``xxhash64(v, seed)`` so the whole coloring is deterministic.

2. ``multihash_coloring`` — Jones-Plassmann/Luby adaptation
   (`Coloring/coloringMultiHashMaxMin.cpp:60-228`): per (round, hash) an
   uncolored vertex that is the local max of the hash among uncolored
   neighbors takes color ``2*(round*nhash+ih)``, a local min takes ``+1``;
   leftovers after ``nrounds`` get the max color (incomplete coloring).

3. ``louvain_one_phase_colored`` — one Louvain level processed one color
   class at a time (`Coloring/parallelLouvainWithColoring.cpp:158-218`):
   vertices in a class are pairwise non-adjacent, so within-class moves are
   conflict-free and community state is refreshed between classes —
   Gauss-Seidel convergence with deterministic parallelism, the heuristic
   the north_star names. Modularity is recomputed by a full edge scan after
   each sweep (`:230-246`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from grappolo_spark.functions.xxh64 import xxh64_lit, xxh64_long
from grappolo_spark.graph import Graph
from grappolo_spark.operators.louvain import (
    LouvainPhaseResult,
    _gauss_seidel_sweeps,
    _np_gather,
    _spark_gather,
)
from grappolo_spark.plans.iteration import (
    cut_lineage,
    promote_result,
    read_observation,
)
from grappolo_spark.plans.tiers import (
    DRIVER_EDGE_ROWS,
    Tier,
    degree_table,
    driver_holds,
    graph_facts,
    graph_stats,
    plan,
)

_MEX = """
aggregate(
  sort_array(array_distinct(filter({arr}, x -> x >= 0))),
  0,
  (acc, x) -> CASE WHEN x = acc THEN acc + 1 ELSE acc END
)
"""


def distance_one_coloring(
    g: Graph,
    seed: int = 12345,
    max_rounds: int = 100,
    rand_df: DataFrame | None = None,
) -> DataFrame:
    """Return (v, color) with no two adjacent vertices sharing a color.

    ``rand_df`` (optional ``(v, rand double)``): conflict tie-break values.
    By default the tie-break is a deterministic xxhash64 stream; passing
    ``functions.rngstream.rngstream_fill(spark, nv, n_threads)`` (i→v)
    reproduces the REFERENCE's tie-break ordering bit-for-bit — the
    `randValues[v] < randValues[w] || (== && v < w)` rule of
    `coloringDistanceOne.cpp:370-371` over the exact vector its
    `generateRandomNumbers()` fills at ``n_threads`` OpenMP threads.
    """
    pairs = g.edges.filter(F.col("src") != F.col("dst")).select("src", "dst")
    if not g.deduped:
        # raw Graph(edges=...) may carry duplicate pairs; canonical graphs
        # skip this exchange (rows unique by construction)
        pairs = pairs.distinct()
    pairs = pairs.persist()
    colors = g.vertex_ids().select("v", F.lit(None).cast("int").alias("color"))
    colors = cut_lineage(colors, tag="coloring")
    # optional reference-parity tie-break values, keyed for both edge ends
    k_src = k_dst = None
    if rand_df is not None:
        keys = rand_df.select("v", F.col("rand").alias("tiebreak")).persist()
        # coverage guard: the conflict resolution INNER-joins the tie-break
        # table, so a conflicting vertex missing from rand_df would silently
        # drop its conflict row and let both endpoints keep the same color —
        # an invalid coloring. rngstream_fill keys by dense index 0..size-1,
        # which need not cover sparse vertex ids; fail fast instead.
        missing = (
            g.vertex_ids().join(keys, "v", "left_anti").limit(1).count()
        )
        if missing:
            raise ValueError(
                "rand_df must provide a tie-break value for every vertex id "
                "(vertex ids found with no rand_df row; rngstream_fill is "
                "keyed by dense index 0..size-1 — densify ids first)"
            )
        k_src = keys.select(F.col("v").alias("src"), F.col("tiebreak").alias("t_src"))
        k_dst = keys.select(F.col("v").alias("dst"), F.col("tiebreak").alias("t_dst"))

    # the pending count rides each round's cut-materializing job as an
    # observed metric (one job per round instead of two); only round 1
    # pays a dedicated count against the init cut
    n_pending = None
    for _ in range(max_rounds):
        if n_pending is None:
            n_pending = colors.filter(F.col("color").isNull()).count()
        if n_pending == 0:
            break
        pending = colors.filter(F.col("color").isNull()).select("v")
        # propose: first-fit against finalized neighbor colors
        nbr_colors = (
            pairs.join(
                colors.filter(F.col("color").isNotNull()).select(
                    F.col("v").alias("dst"), F.col("color").alias("ncolor")
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("v"))
            .agg(F.collect_set("ncolor").alias("ncolors"))
        )
        proposals = (
            pending.join(nbr_colors, "v", "left")
            .select(
                "v",
                F.expr(_MEX.format(arr="coalesce(ncolors, array())"))
                .cast("int")
                .alias("proposal"),
            )
        )
        # conflicts among this round's proposals: same color across an edge;
        # loser = smaller (hash, id) — deterministic stand-in for the
        # reference's random tie-break (`coloringUtils.cpp:70-96`)
        p_src = proposals.select(
            F.col("v").alias("src"), F.col("proposal").alias("p_src")
        )
        p_dst = proposals.select(
            F.col("v").alias("dst"), F.col("proposal").alias("p_dst")
        )
        conflicts = (
            pairs.join(p_src, "src")
            .join(p_dst, "dst")
            .filter(F.col("p_src") == F.col("p_dst"))
        )
        if k_src is not None:
            # reference rule (`coloringDistanceOne.cpp:370-371`): the
            # smaller (rand, id) end of a conflicting edge loses
            loser_cond = F.struct(
                F.col("t_src").alias("h"), F.col("src").alias("i")
            ) < F.struct(F.col("t_dst").alias("h"), F.col("dst").alias("i"))
            conflicts = conflicts.join(k_src, "src").join(k_dst, "dst")
        else:
            loser_cond = F.struct(
                F.xxhash64(F.col("src"), F.lit(seed)).alias("h"),
                F.col("src").alias("i"),
            ) < F.struct(
                F.xxhash64(F.col("dst"), F.lit(seed)).alias("h"),
                F.col("dst").alias("i"),
            )
        losers = (
            conflicts.filter(loser_cond)
            .select(F.col("src").alias("v"))
            .distinct()
        )
        winners = proposals.join(losers, "v", "left_anti")
        colors = (
            colors.join(winners, "v", "left")
            .select("v", F.coalesce("color", "proposal").alias("color"))
        )
        obs = Observation()
        colors = colors.observe(
            obs, F.sum(F.col("color").isNull().cast("long")).alias("pending")
        )
        colors = cut_lineage(colors, tag="coloring")
        m = read_observation(obs)
        n_pending = m["pending"] if m is not None else None
    if k_src is not None:
        keys.unpersist()
    return colors


def multihash_coloring(
    g: Graph, nhash: int = 2, nrounds: int = 4, seed: int = 999
) -> DataFrame:
    """Bounded-palette JP coloring; may leave a shared overflow color."""
    pairs = g.edges.filter(F.col("src") != F.col("dst")).select("src", "dst")
    if not g.deduped:
        # raw Graph(edges=...) may carry duplicate pairs; canonical graphs
        # skip this exchange (rows unique by construction)
        pairs = pairs.distinct()
    pairs = pairs.persist()
    colors = g.vertex_ids().select("v", F.lit(None).cast("int").alias("color"))
    colors = cut_lineage(colors, tag="coloring_mh")
    max_color = 2 * nhash * nrounds

    done = False
    for itr in range(nrounds):
        if done:
            break
        for ih in range(nhash):
            unc = colors.filter(F.col("color").isNull()).select("v")
            if unc.count() == 0:
                done = True  # fully colored: stop ALL rounds, not just this one
                break
            h = lambda c: F.xxhash64(c, F.lit(seed + ih))  # noqa: E731
            u_src = unc.select(F.col("v").alias("src"))
            u_dst = unc.select(F.col("v").alias("dst"))
            live = pairs.join(u_src, "src").join(u_dst, "dst")
            ext = (
                live.groupBy("src")
                .agg(
                    F.max(h(F.col("dst"))).alias("nmax"),
                    F.min(h(F.col("dst"))).alias("nmin"),
                )
            )
            newc = (
                unc.join(ext, unc.v == ext.src, "left")
                .select(
                    "v",
                    F.when(
                        F.col("nmax").isNull() | (h(F.col("v")) > F.col("nmax")),
                        F.lit(2 * (itr * nhash + ih)),
                    )
                    .when(
                        h(F.col("v")) < F.col("nmin"),
                        F.lit(2 * (itr * nhash + ih) + 1),
                    )
                    .alias("newcolor"),
                )
            )
            colors = (
                colors.join(newc, "v", "left")
                .select("v", F.coalesce("color", "newcolor").alias("color"))
            )
            colors = cut_lineage(colors, tag="coloring_mh")
    # leftovers share the max color (incomplete — as in the reference)
    return colors.select(
        "v", F.coalesce("color", F.lit(max_color)).cast("int").alias("color")
    )


def verify_coloring(g: Graph, colors: DataFrame) -> int:
    """#conflicting edges (reference self-check `coloringDistanceOne.cpp:206-226`)."""
    c_src = colors.select(F.col("v").alias("src"), F.col("color").alias("c1"))
    c_dst = colors.select(F.col("v").alias("dst"), F.col("color").alias("c2"))
    return (
        g.edges.filter(F.col("src") != F.col("dst"))
        .join(c_src, "src")
        .join(c_dst, "dst")
        .filter(F.col("c1") == F.col("c2"))
        .count()
    )


def color_histogram(colors: DataFrame) -> DataFrame:
    """Color-class sizes (reference ``buildColorSize``,
    `Coloring/equitableColoringDistanceOne.cpp:48-56`)."""
    return colors.groupBy("color").agg(F.count(F.lit(1)).alias("size"))


def select_coloring_algo(g: Graph, num_colors_cap: int = 1024) -> str:
    """Pick the scale-safe coloring for a colored-Louvain sweep.

    A greedy distance-one coloring uses at most ``max_degree + 1`` colors,
    and each color is a sequential driver-coordinated sub-sweep — on a hub
    graph (max degree in the thousands/millions) the exact chromatic sweep
    degenerates into thousands of sequential jobs per iteration. When the
    degree bound says the palette could exceed ``num_colors_cap``, switch
    to the multihash (Jones-Plassmann) coloring whose palette is fixed at
    ``2*nhash*nrounds + 1`` regardless of degree. One cheap max-degree
    aggregate decides — BEFORE paying for a full distance-one coloring.
    """
    maxdeg = (
        g.edges.filter(F.col("src") != F.col("dst"))
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("d"))
        .agg(F.max("d"))
        .collect()[0][0]
        or 0
    )
    return "multihash" if maxdeg + 1 > num_colors_cap else "distance_one"


def _class_best_moves(counter, state0, cinfo_cand, const: float):
    """Winner + gain/swap-protection filter for ONE color class of the
    distributed (broadcast/shuffle) loop — the Spark-column form of
    ``louvain._decide_moves``, which the driver-held tiers call; on
    integer-weight graphs all sums are exact, so the routes are
    bit-identical. Single-pass best candidate + own-community weight,
    same shape as the plain kernel: the argmax orders by the reduced
    score ``wsum − deg·a_y·const`` (eix/ax shift every candidate's gain
    equally), so ONE groupBy(v) yields the winner AND w_own; the gain
    formula and the swap protection (vs the CURRENT COMMUNITY id,
    maxIndex > sc, `utilityClusteringFunctions.cpp:254-256`) run only on
    the O(movers) winners.

    ``state0=None``/``cinfo_cand=None`` means the caller PRE-ENRICHED the
    counter (it already carries comm/deg/selfloop/cdeg_cur/csize_cur and
    ay/csize_cand — the broadcast tier attaches them in the gather, so
    a class job skips the post-aggregation joins entirely); all
    expressions from ``is_own`` on are char-identical on both shapes, and
    test_colored_distributed_broadcast_layout_matches pins the bit parity.
    """
    enriched = counter
    if state0 is not None:
        enriched = enriched.join(state0, "v")
    if cinfo_cand is not None:
        enriched = enriched.join(cinfo_cand, "cand")
    bestinfo = (
        enriched.withColumn("is_own", F.col("cand") == F.col("comm"))
        .withColumn(
            "score",
            F.col("wsum") - F.col("deg") * F.col("ay") * F.lit(const),
        )
        .groupBy("v")
        .agg(
            F.min_by(
                F.struct("cand", "wsum", "ay", "csize_cand"),
                F.struct(
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
    )
    return (
        bestinfo.withColumn("cand", F.col("b.cand"))
        .filter(
            F.col("cand").isNotNull() & (F.col("cand") != F.col("comm"))
        )
        .withColumn("eix", F.col("w_own") - F.col("selfloop"))
        .withColumn("ax", F.col("cdeg_cur") - F.col("deg"))
        .withColumn(
            "gain",
            2.0 * (F.col("b.wsum") - F.col("eix"))
            - 2.0 * F.col("deg") * (F.col("b.ay") - F.col("ax"))
            * F.lit(const),
        )
        .filter(F.col("gain") > 0)
        .select(
            "v",
            "cand",
            (
                (F.col("b.csize_cand") == 1)
                & (F.col("csize_cur") == 1)
                & (F.col("cand") > F.col("comm"))
            ).alias("blocked"),
        )
    )


def _multihash_colors_np(ids, s_idx, d_idx, nhash=2, nrounds=4, seed=999):
    """Numpy replay of :func:`multihash_coloring` for driver-held graphs:
    identical colors (the hash is the bit-exact Spark ``xxhash64`` of the
    vertex id long with the 4-byte ``seed + ih`` literal folded in, and
    the local-max/min rule is evaluated in the same signed order).

    ``ids``: sorted vertex ids (all edge endpoints); ``s_idx``/``d_idx``:
    NON-SELF edge endpoint positions into ids (both directions present,
    duplicates harmless). Returns an int32 color array over ids; vertices
    never claimed by a round keep the shared overflow color, exactly like
    the Spark loop's trailing coalesce."""
    import numpy as np

    from grappolo_spark.operators.louvain import _first_group_starts

    n = len(ids)
    base = xxh64_long(ids)
    hashes = [xxh64_lit(seed + ih, base).view(np.int64) for ih in range(nhash)]
    # sort the edge lists by source ONCE so each sub-round's neighbor
    # max/min reduce with ``reduceat`` over contiguous runs (a masked
    # subset of a sorted array stays sorted) — the unbuffered
    # ``np.maximum.at`` costs ~100-200ms per call at 1M edges, and the
    # loop makes 2*nhash*nrounds of them
    order = np.argsort(s_idx, kind="stable")
    ss = s_idx[order]
    dd = d_idx[order]
    color = np.full(n, -1, dtype=np.int32)
    max_color = 2 * nhash * nrounds
    i64 = np.iinfo(np.int64)
    done = False
    for itr in range(nrounds):
        if done:
            break
        for ih in range(nhash):
            unc = color < 0
            if not unc.any():
                done = True
                break
            h = hashes[ih]
            live = unc[ss] & unc[dd]
            lu, lv = ss[live], dd[live]
            has = np.zeros(n, dtype=bool)
            has[lu] = True
            nmax = np.full(n, i64.min, dtype=np.int64)
            nmin = np.full(n, i64.max, dtype=np.int64)
            if len(lu):
                starts = _first_group_starts(lu)
                srcs = lu[starts]
                hv = h[lv]
                nmax[srcs] = np.maximum.reduceat(hv, starts)
                nmin[srcs] = np.minimum.reduceat(hv, starts)
            even = unc & (~has | (h > nmax))
            odd = unc & has & (h < nmin)
            color[even] = 2 * (itr * nhash + ih)
            color[odd] = 2 * (itr * nhash + ih) + 1
    color[color < 0] = max_color
    return color


def _distance_one_colors_np(ids, s_idx, d_idx, seed=12345, max_rounds=100):
    """Numpy replay of :func:`distance_one_coloring` with its default
    xxhash tie-break: identical colors (first-fit against neighbors
    finalized in earlier rounds; the smaller ``(xxhash64(v, seed), v)``
    ``src`` end of an equal-proposal edge loses). Arguments as in
    :func:`_multihash_colors_np`. A vertex still pending after
    ``max_rounds`` keeps -1 (Spark: null) and is in no color class."""
    import numpy as np

    from grappolo_spark.operators.louvain import _first_group_starts

    n = len(ids)
    h = xxh64_lit(seed, xxh64_long(ids)).view(np.int64)
    color = np.full(n, -1, dtype=np.int64)
    for _ in range(max_rounds):
        pending = color < 0
        if not pending.any():
            break
        # distinct (v, neighbor color) pairs, sorted: in each v's run the
        # colors 0, 1, 2, ... that sit at their own rank form the prefix
        # whose length is the MEX
        m = pending[s_idx] & ~pending[d_idx]
        span = np.int64(max(int(color.max()) + 1, 1))
        vc = np.unique(s_idx[m] * span + color[d_idx[m]])
        v, c = vc // span, vc % span
        starts = _first_group_starts(v)
        rank = np.arange(len(v)) - np.repeat(starts, np.diff(np.append(starts, len(v))))
        prop = np.where(pending, np.bincount(v[c == rank], minlength=n), -1)
        clash = pending[s_idx] & pending[d_idx] & (prop[s_idx] == prop[d_idx])
        cs, cd = s_idx[clash], d_idx[clash]
        lose = (h[cs] < h[cd]) | ((h[cs] == h[cd]) & (ids[cs] < ids[cd]))
        win = pending.copy()
        win[cs[lose]] = False
        color[win] = prop[win]
    return color


def _palette(all_colors, num_colors_cap):
    """(color classes in sweep order, the color every later color merges
    into or ``None``) from the sorted distinct colors. Past the cap (the
    reference bounds colors by MaxDegree, `runMultiPhaseColoring.cpp:68-87`)
    the overflow merges into ONE final class whose sub-sweep is Jacobi, so
    every vertex stays eligible."""
    if len(all_colors) <= num_colors_cap:
        return list(all_colors), None
    overflow_from = all_colors[num_colors_cap - 1]
    return list(all_colors[: num_colors_cap - 1]) + [overflow_from], overflow_from


def _colors_np(coloring_algo, ids, s_idx, d_idx, num_colors_cap):
    """(colors over the sorted ``ids``, color classes) in numpy, identical
    to the Spark route; ``auto`` resolves from the max non-self out-degree
    as :func:`select_coloring_algo` does. ``s_idx``/``d_idx``: every edge
    row's endpoint positions in ``ids``."""
    import numpy as np

    nonself = s_idx != d_idx
    s, d = s_idx[nonself], d_idx[nonself]
    if coloring_algo == "auto":
        maxdeg = int(np.bincount(s).max()) if len(s) else 0
        coloring_algo = "multihash" if maxdeg + 1 > num_colors_cap else "distance_one"
    multihash = coloring_algo == "multihash"
    colors = (_multihash_colors_np if multihash else _distance_one_colors_np)(ids, s, d)
    classes, overflow_from = _palette(
        [int(c) for c in np.unique(colors[colors >= 0])], num_colors_cap
    )
    if overflow_from is not None:
        colors = np.where(colors >= overflow_from, overflow_from, colors)
    return colors, classes


def _colored_kernel_np(s, d, w, nv, colors, classes, thresh, lower, max_iters):
    """The colored phase's local tier (ids 0..nv-1, in the order of the
    vertex ids they stand for): the Gauss-Seidel sweeps
    (``louvain._gauss_seidel_sweeps``) with one numpy gather per color
    class. Returns (prev_comm array | None when 2m==0, prev_mod,
    iterations). Under integer weights (the local tier's gate) every sum is
    exact, so it is bit-identical to the driver_state route's Spark class
    jobs (pinned by test_colored_class_sweep_numpy_matches_spark)."""
    import numpy as np

    two_m = float(w.sum())
    if two_m == 0.0:
        return None, 0.0, 0
    const = 1.0 / two_m
    deg = np.bincount(s, weights=w, minlength=nv)
    sl = s == d
    selfloop = np.bincount(s[sl], weights=w[sl], minlength=nv)

    # partition the edge arrays by the src's color ONCE (colors are static
    # through the sweep): each class gather touches only its own slice; a
    # class with no out-edges gathers nothing and is skipped outright
    csrc = colors[s]
    csort = np.argsort(csrc, kind="stable")
    csrc_sorted = csrc[csort]
    gathers = []
    for cls in classes:
        lo = np.searchsorted(csrc_sorted, cls, side="left")
        hi = np.searchsorted(csrc_sorted, cls, side="right")
        idx = csort[lo:hi]
        if len(idx):
            gathers.append(_np_gather(s[idx], d[idx], w[idx], nv, deg, const))
    return _gauss_seidel_sweeps(
        gathers, lambda comm: float(w[comm[s] == comm[d]].sum()), deg,
        selfloop, const, thresh, lower, max_iters,
    )


def _edge_positions(vs, es, ed):
    """Positions of the endpoints ``es``/``ed`` in the id array ``vs``, or
    ``None`` when one is missing (a vertex an injected coloring missed)."""
    import numpy as np

    if not len(vs):
        return None
    order = np.argsort(vs)
    svs = vs[order]
    is_ = np.searchsorted(svs, es).clip(max=len(svs) - 1)
    id_ = np.searchsorted(svs, ed).clip(max=len(svs) - 1)
    if bool((svs[is_] == es).all()) and bool((svs[id_] == ed).all()):
        return order[is_], order[id_]
    return None


def _class_moves(edges, state_src, dst_enr, const: float):
    """One color class's moves (broadcast tier): the pre-enriched class
    state and dst info join the src-partitioned edge cache as broadcasts,
    so the per-(v, cand) aggregation runs in place and lifts every per-v
    and per-cand constant via first()."""
    counter = (
        edges.join(F.broadcast(state_src), "src")
        .join(F.broadcast(dst_enr), "dst")
        .groupBy(F.col("src").alias("v"), F.col("cand"))
        .agg(
            F.sum("weight").alias("wsum"),
            F.first("ay").alias("ay"),
            F.first("csize_cand").alias("csize_cand"),
            F.first("comm").alias("comm"),
            F.first("deg").alias("deg"),
            F.first("selfloop").alias("selfloop"),
            F.first("cdeg_cur").alias("cdeg_cur"),
            F.first("csize_cur").alias("csize_cur"),
        )
    )
    return _class_best_moves(counter, None, None, const)


def _exx(spark, edges, ids, pos, arrays):
    """``exx(comm)``: the weight inside communities, over the probe's edge
    copy ``arrays`` when ``pos`` (its endpoints' indices in ``ids``) is
    known, else one Spark scan of the edge cache."""
    import pandas as pd

    if pos is not None:
        si, di = pos
        ew = arrays[2]
        return lambda comm: float(ew[comm[si] == comm[di]].sum())

    def scan(comm):
        a_src = spark.createDataFrame(
            pd.DataFrame({"src": ids, "cs": comm}), "src long, cs long"
        )
        a_dst = spark.createDataFrame(
            pd.DataFrame({"dst": ids, "cd": comm}), "dst long, cd long"
        )
        return (
            edges.join(F.broadcast(a_src), "src")
            .join(F.broadcast(a_dst), "dst")
            .filter(F.col("cs") == F.col("cd"))
            .agg(F.coalesce(F.sum("weight"), F.lit(0.0)).alias("e_xx"))
            .collect()[0]["e_xx"]
        )

    return scan


def louvain_one_phase_colored(
    g: Graph,
    thresh: float = 0.01,
    lower: float = -1.0,
    max_iters: int = 100,
    num_colors_cap: int = 1024,
    coloring_algo: str = "auto",
    colors: DataFrame | None = None,
    tier: Tier | str | None = None,
) -> LouvainPhaseResult:
    """One Louvain level, sweeping color classes sequentially.

    Same gain/tie-break/swap math as the plain kernel; community info is
    refreshed after each color class, so vertices in later classes see
    earlier classes' moves within the same iteration (Gauss-Seidel).

    The tier (:mod:`grappolo_spark.plans.tiers`) picks the sweep:

    - **local** (<= 4M edge rows, |V| <= 100k, integer-valued weights):
      the coloring (multihash or distance-one, :func:`_colors_np`) and the
      Gauss-Seidel class sweeps (:func:`_colored_kernel_np`) in numpy over the
      probe's driver edge copy — exact, so bit-identical to the Spark
      colorings and class jobs. With explicit vertices or an injected
      ``colors`` the coloring and the state come from Spark and only the
      sweeps run in numpy. A multiphase run whose phase meets this gate
      runs every remaining phase in its numpy loop instead
      (``louvain.louvain_local_tail``).
    - **driver_state** (|V| <= 100k): the local tier's sweeps with each
      class's gather in Spark (``louvain._spark_gather``): community state
      in numpy, one class job per color class over the src-partitioned
      edge cache.
    - **broadcast** (|V| <= 5M): the distributed loop with both O(V) sides
      broadcast into a src-keyed class gather (zero exchanges per class).
    - **shuffle**: the distributed loop co-partitioned on ``dst``.

    ``tier`` forces one. It plans from the graph's stats (``graph_stats``:
    |V|, 2m, integer weights) and the probe's driver edge copy. The phase
    keeps no durable state (no ``run_dir``).

    ``coloring_algo="multihash"`` bounds the palette a priori (the
    Jones-Plassmann variant emits at most ``2*nhash*nrounds + 1`` colors
    regardless of degree), so an iteration runs a FIXED number of
    driver-coordinated sub-sweeps even on hub graphs — the scale choice
    when the exact chromatic sweep of ``distance_one`` would mean
    thousands of sequential classes. Its shared overflow color may contain
    adjacent vertices; that class's sub-sweep is then Jacobi (simultaneous
    moves against current state — the plain kernel's semantics), exactly
    like the ``num_colors_cap`` overflow merge below. The default
    ``"auto"`` makes that choice from the max degree
    (:func:`select_coloring_algo`) so hub graphs get the bounded palette
    WITHOUT the caller having to know — the cap stops being merely a
    post-hoc merge and becomes the plan choice.
    """
    return _colored_phase(
        g, thresh, lower, max_iters, num_colors_cap, coloring_algo, colors, tier
    )


def _colored_phase(
    g, thresh, lower, max_iters, num_colors_cap, coloring_algo, colors, tier,
    variant=frozenset(),
):
    """:func:`louvain_one_phase_colored` under a multiphase run's variant
    flags (``no_local``: the run's ``local_threshold=0``)."""
    spark = g.edges.sparkSession
    # ``colors`` injects a precomputed (v, color) partition — e.g. the
    # natural 2-coloring of a bipartite graph, or an externally balanced
    # palette. It must be PROPER except possibly in its last class (an
    # improper class's sub-sweep degrades to Jacobi semantics, same as the
    # overflow merge below). With an injected coloring the sweep order is
    # fully deterministic and SQL-expressible, which is how the driver
    # value-oracles one colored Gauss-Seidel iteration.
    facts = graph_facts(g)
    forced = Tier(tier) if tier is not None else None
    # the bounded probe: a driver edge copy feeds the numpy coloring, the
    # state build, the numpy class sweep and the per-iteration e_xx
    # reduction, and over integer weights the graph's stats come from it.
    # Skipped when the graph's |V| or edge-row bound rules it out.
    if (
        facts.arrays is None
        and forced not in (Tier.BROADCAST, Tier.SHUFFLE)
        and (facts.nv is None or driver_holds(facts.nv) or forced is not None)
    ):
        facts = graph_facts(g, DRIVER_EDGE_ROWS)
    # |V|, 2m and integer weights: from the probe's arrays or the memo, or
    # one aggregation over the degree table the sweep persists anyway
    vdeg = degree_table(g).persist()
    facts = graph_stats(g, vdeg)
    tier = plan(facts, "louvain_colored", variant=variant, tier=tier)
    driver_tier = tier in (Tier.LOCAL, Tier.DRIVER_STATE)
    if driver_tier:
        # the class jobs broadcast both O(V) sides, so the layout that
        # matters is the AGGREGATION key ``src`` (zero exchange per class
        # job); the partition count follows the INPUT's layout: small
        # state does not imply small edges (a 16k-vertex phase-1 graph can
        # carry millions of rows — 4 fat partitions left most cores idle in
        # every sequential class job), while a tiny coarse parquet stays at
        # its few file splits
        npart = max(
            4,
            min(
                int(spark.conf.get("spark.sql.shuffle.partitions")),
                g.edges.rdd.getNumPartitions(),
            ),
        )
        edges = g.edges.repartition(npart, "src").persist()
    else:
        edges = g.edges.repartition(
            "dst" if tier is Tier.SHUFFLE else "src"
        ).persist()
    # the gather cache stays LAZY: on the local tier (numpy coloring + exact
    # numpy class sweep) no action ever touches it, so the
    # repartition+persist never runs at all
    two_m = facts.two_m
    if two_m == 0.0:
        edges.unpersist()
        vdeg.unpersist()
        empty = spark.createDataFrame([], "v long, comm long")
        return LouvainPhaseResult(empty, 0.0, 0, tier=tier)
    const = 1.0 / two_m

    import numpy as np
    import pandas as pd

    colors_np = None  # int colors over the probe's ids, when colored in numpy
    if colors is None and driver_tier and facts.arrays is not None and g.vertices is None:
        # numpy coloring: zero Spark jobs for the whole palette — both
        # colorings are bit-exact replays of the Spark ones (pinned by
        # test_multihash_numpy_matches_spark and
        # test_distance_one_numpy_matches_spark), so the colors, the class
        # list and every later move are identical
        es, ed, ew, ids = facts.arrays
        s_idx = np.searchsorted(ids, es)
        d_idx = np.searchsorted(ids, ed)
        colors_np, classes = _colors_np(
            coloring_algo, ids, s_idx, d_idx, num_colors_cap
        )
    else:
        if colors is None:
            if coloring_algo == "auto":
                coloring_algo = select_coloring_algo(g, num_colors_cap)
            if coloring_algo == "multihash":
                colors = multihash_coloring(g)
            else:
                colors = distance_one_coloring(g)
        palette = colors.select("color").distinct().orderBy("color").collect()
        classes, overflow_from = _palette([r.color for r in palette], num_colors_cap)
        if overflow_from is not None:
            colors = colors.select(
                "v",
                F.when(F.col("color") >= overflow_from, F.lit(overflow_from))
                .otherwise(F.col("color"))
                .cast("int")
                .alias("color"),
            )
        selfw = (
            edges.filter(F.col("src") == F.col("dst"))
            .groupBy(F.col("src").alias("v"))
            .agg(F.sum("weight").alias("selfloop"))
        )
        # one combined per-vertex state table: (v, comm, deg, selfloop, color)
        state = (
            vdeg.join(selfw, "v", "left")
            .join(colors, "v")
            .select(
                "v",
                F.col("v").alias("comm"),
                "deg",
                F.coalesce("selfloop", F.lit(0.0)).alias("selfloop"),
                "color",
            )
        )
    if driver_tier:
        # (ids, colors, deg, selfloop) over the sorted vertex ids, whose
        # indices stand for the vertex and community ids (same order, so
        # every tie-break is unchanged), plus the edge endpoints' indices
        # when the probe's edge copy covers them
        pos = deg = None
        if colors_np is not None:
            pos = s_idx, d_idx
        else:
            st = state.toPandas().sort_values("v", ignore_index=True)
            ids = st["v"].to_numpy(np.int64)
            colors_np = st["color"].to_numpy()
            deg = st["deg"].to_numpy(np.float64)
            selfloop = st["selfloop"].to_numpy(np.float64)
            if facts.arrays is not None:
                es, ed, ew = facts.arrays[:3]
                pos = _edge_positions(ids, es, ed)
        vdeg.unpersist()
        if tier is Tier.LOCAL and pos is not None:
            # the whole sweep in numpy over the probe's edge copy
            comm, q, iters = _colored_kernel_np(
                *pos, ew, len(ids), colors_np, classes, thresh, lower, max_iters
            )
        else:
            # the same sweeps with each class's gather in Spark: one class
            # job per non-empty class, O(V) winners collected
            tier = Tier.DRIVER_STATE
            if deg is None:
                # real weights may differ from the Spark sum in the last ulp
                sl = s_idx == d_idx
                deg = np.bincount(s_idx, weights=ew, minlength=len(ids))
                selfloop = np.bincount(s_idx[sl], weights=ew[sl], minlength=len(ids))
            gathers = [
                _spark_gather(spark, edges, ids, deg, const, movers=colors_np == cls)
                for cls in classes
                if (colors_np == cls).any()
            ]
            comm, q, iters = _gauss_seidel_sweeps(
                gathers, _exx(spark, edges, ids, pos, facts.arrays),
                deg, selfloop, const, thresh, lower, max_iters,
            )
        edges.unpersist()
        out = spark.createDataFrame(
            pd.DataFrame({"v": ids, "comm": ids[comm]}), "v long, comm long"
        )
        return LouvainPhaseResult(out, q, iters, tier=tier)
    # distributed tiers: bucket the per-class state
    # cuts by v, so the gather's a_dst join and the winner-application
    # join read the O(V) state pre-partitioned each sub-sweep (same trade
    # as the plain kernel's bucketed commits; one exchange at write time)
    _nb = int(spark.conf.get("spark.sql.shuffle.partitions"))
    state = cut_lineage(state, tag="colored_state", bucket_by="v", n_buckets=_nb)

    prev_mod = -1.0
    prev_assign = state.select("v", "comm")
    num_itrs = 0

    for it in range(max_iters):
        num_itrs = it + 1
        for cls in classes:
            cinfo = state.groupBy("comm").agg(
                F.sum("deg").alias("cdeg"), F.count(F.lit(1)).alias("csize")
            )
            movers = state.filter(F.col("color") == cls)
            if tier is Tier.BROADCAST:
                # src-keyed broadcast gather: both O(V) sides broadcast
                # pre-enriched into the driver_state tier's class job
                # (_class_moves), zero exchanges per class.
                # Measured at 11.7M edges / 160k vertices (adjacent warm
                # pairs): 85.4/87.6 vs 92.7/89.6 shuffle — a consistent
                # but modest win; the per-class floor there is the
                # sequential O(V) state machinery itself. A color-tagged
                # sortWithinPartitions cache (batch-stats scan pruning)
                # measured NEUTRAL at that size and was reverted, as was
                # a per-class localCheckpoint (pathological: chained
                # checkpoints re-materialize through the non-adaptive
                # path — the r2 finding, compounded per class).
                state_src = movers.join(
                    cinfo.select(
                        "comm",
                        F.col("cdeg").alias("cdeg_cur"),
                        F.col("csize").alias("csize_cur"),
                    ),
                    "comm",
                ).select(
                    F.col("v").alias("src"), "comm", "deg", "selfloop",
                    "cdeg_cur", "csize_cur",
                )
                dst_enr = state.join(cinfo, "comm").select(
                    F.col("v").alias("dst"),
                    F.col("comm").alias("cand"),
                    F.col("cdeg").alias("ay"),
                    F.col("csize").alias("csize_cand"),
                )
                best = _class_moves(edges, state_src, dst_enr, const)
            else:
                a_dst = state.select(
                    F.col("v").alias("dst"), F.col("comm").alias("comm_dst")
                )
                counter = (
                    edges.join(
                        movers.select(F.col("v").alias("src")), "src"
                    )
                    .join(a_dst, "dst")
                    .groupBy(
                        F.col("src").alias("v"),
                        F.col("comm_dst").alias("cand"),
                    )
                    .agg(F.sum("weight").alias("wsum"))
                )
                state0 = movers.join(
                    cinfo.select(
                        "comm",
                        F.col("cdeg").alias("cdeg_cur"),
                        F.col("csize").alias("csize_cur"),
                    ),
                    "comm",
                ).select(
                    "v", "comm", "deg", "selfloop", "cdeg_cur", "csize_cur"
                )
                cinfo_cand = cinfo.select(
                    F.col("comm").alias("cand"),
                    F.col("cdeg").alias("ay"),
                    F.col("csize").alias("csize_cand"),
                )
                best = _class_best_moves(counter, state0, cinfo_cand, const)
            state = (
                state.join(best, "v", "left")
                .select(
                    "v",
                    F.when(
                        F.col("cand").isNotNull() & ~F.col("blocked"), F.col("cand")
                    )
                    .otherwise(F.col("comm"))
                    .alias("comm"),
                    "deg", "selfloop", "color",
                )
            )
            state = cut_lineage(
                state, tag="colored_state", bucket_by="v", n_buckets=_nb
            )
        assign = state.select("v", "comm")

        # full-scan modularity after the sweep (`parallelLouvainWithColoring.cpp:230-246`)
        # — one combined action: e_xx and a2_x cross-joined scalar aggs
        a_src = assign.select(F.col("v").alias("src"), F.col("comm").alias("cs"))
        a_dst = assign.select(F.col("v").alias("dst"), F.col("comm").alias("cd"))
        exx_df = (
            edges.join(a_src, "src").join(a_dst, "dst")
            .filter(F.col("cs") == F.col("cd"))
            .agg(F.coalesce(F.sum("weight"), F.lit(0.0)).alias("e_xx"))
        )
        a2_df = (
            assign.join(vdeg, "v").groupBy("comm").agg(F.sum("deg").alias("cdeg"))
            .agg(F.coalesce(F.sum(F.col("cdeg") * F.col("cdeg")), F.lit(0.0)).alias("a2_x"))
        )
        stats = exx_df.crossJoin(a2_df).collect()[0]
        curr_mod = stats["e_xx"] * const - stats["a2_x"] * const * const
        if (curr_mod - prev_mod) < thresh:
            break
        prev_mod = curr_mod if curr_mod > lower else lower
        # re-cut to a dedicated tag: prev_assign must outlive a whole sweep
        # (len(classes) colored_state cuts) without being GC'd
        prev_assign = cut_lineage(assign, tag="colored_prev", keep_last=2)

    edges.unpersist()
    vdeg.unpersist()
    # colored_prev-backed state (keep_last=2!) is renamed into the result
    # window; the zero-iteration projection over colored_state falls back
    # to a real cut — either way the caller's files outlive later runs
    prev_assign = promote_result(prev_assign, fallback_cut=True)
    return LouvainPhaseResult(
        assignment=prev_assign.select("v", "comm"),
        modularity=prev_mod,
        iterations=num_itrs,
        tier=tier,
    )


def equitable_rebalance(
    g: Graph,
    colors: DataFrame,
    num_colors: int,
    strategy: str = "first_fit",
    max_rounds: int = 20,
    seed: int = 321,
) -> DataFrame:
    """Rebalance color classes toward ~NV/num_colors vertices each.

    Reference ``equitableDistanceOneColorBased``
    (`Coloring/equitableColoringDistanceOne.cpp:90-253`) + the vBase
    redistribution variants (`Coloring/vBase.cpp:6-169`): vertices in
    over-full classes move to a permissible (conflict-free) under-full
    class — smallest such color for ``first_fit``, least-populated for
    ``least_used``. Rounds repeat until balanced or no move is possible;
    cross-move conflicts are resolved with the same deterministic hash rule
    as distance_one_coloring.
    """
    import math

    pairs = g.edges.filter(F.col("src") != F.col("dst")).select("src", "dst")
    if not g.deduped:
        # raw Graph(edges=...) may carry duplicate pairs; canonical graphs
        # skip this exchange (rows unique by construction)
        pairs = pairs.distinct()
    pairs = pairs.persist()
    nv = colors.count()
    cap = math.ceil(nv / num_colors)
    colors = cut_lineage(colors, tag="equitable")

    for _ in range(max_rounds):
        spark = colors.sparkSession
        # ONE action per round for the balance decision: the histogram is
        # at most palette-sized, so collect it and split over/under on the
        # driver (was two isEmpty actions re-evaluating the sizes plan)
        counts = {
            r["color"]: r["s"]
            for r in colors.groupBy("color")
            .agg(F.count(F.lit(1)).alias("s"))
            .collect()
        }
        over_rows = [
            (c, counts.get(c, 0))
            for c in range(num_colors)
            if counts.get(c, 0) > cap
        ]
        under_rows = [
            (c, counts.get(c, 0))
            for c in range(num_colors)
            if counts.get(c, 0) < cap
        ]
        if not over_rows or not under_rows:
            break
        over = spark.createDataFrame(over_rows, "color int, size long")
        under = spark.createDataFrame(under_rows, "ucolor int, size long")
        # movable: excess vertices of over-full classes (largest ids move,
        # a deterministic stand-in for the reference's arbitrary thread order)
        ranked = colors.join(over, "color").select(
            "v",
            "color",
            F.row_number()
            .over(Window.partitionBy("color").orderBy(F.desc("v")))
            .alias("rn"),
            (F.col("size") - F.lit(cap)).alias("excess"),
        )
        movable = ranked.filter(F.col("rn") <= F.col("excess")).select("v")
        # forbidden colors per movable vertex = neighbor colors
        nbrc = (
            pairs.join(movable.withColumnRenamed("v", "src"), "src", "left_semi")
            .join(
                colors.select(F.col("v").alias("dst"), F.col("color").alias("nc")),
                "dst",
            )
            .select(F.col("src").alias("v"), "nc")
            .distinct()
        )
        cand = (
            movable.crossJoin(under.select("ucolor", "size"))
            .join(
                nbrc,
                (movable.v == nbrc.v) & (F.col("ucolor") == F.col("nc")),
                "left_anti",
            )
        )
        if strategy == "least_used":
            w = Window.partitionBy("v").orderBy(F.asc("size"), F.asc("ucolor"))
        else:
            w = Window.partitionBy("v").orderBy(F.asc("ucolor"))
        picks = (
            cand.withColumn("rn", F.row_number().over(w))
            .filter("rn = 1")
            .select("v", F.col("ucolor").alias("newcolor"))
        )
        # adjacent movers choosing the same class: loser (smaller hash,id) reverts
        p_src = picks.select(F.col("v").alias("src"), F.col("newcolor").alias("cs"))
        p_dst = picks.select(F.col("v").alias("dst"), F.col("newcolor").alias("cd"))
        losers = (
            pairs.join(p_src, "src")
            .join(p_dst, "dst")
            .filter(F.col("cs") == F.col("cd"))
            .filter(
                F.struct(F.xxhash64("src", F.lit(seed)).alias("h"), F.col("src").alias("i"))
                < F.struct(F.xxhash64("dst", F.lit(seed)).alias("h"), F.col("dst").alias("i"))
            )
            .select(F.col("src").alias("v"))
            .distinct()
        )
        winners = picks.join(losers, "v", "left_anti")
        # the applied-move count rides the cut's materializing job as an
        # observed metric — the old ``picks.isEmpty()`` gate re-evaluated
        # the whole window+cross-join picks plan a second time every
        # round. Breaking on zero APPLIED moves covers the old gate
        # (picks empty => winners empty) plus the all-losers corner, in
        # both of which the colors are unchanged — identical output, one
        # plan evaluation per round instead of two.
        joined = colors.join(winners, "v", "left")
        obs = Observation()
        joined = joined.observe(
            obs,
            F.sum(F.col("newcolor").isNotNull().cast("long")).alias("moved"),
        )
        colors = cut_lineage(
            joined.select(
                "v", F.coalesce("newcolor", "color").cast("int").alias("color")
            ),
            tag="equitable",
        )
        m = read_observation(obs)
        moved = m["moved"] if m is not None else None
        if moved is None:
            moved = winners.count()  # pruned observation: one cheap agg
        if moved == 0:
            break
    pairs.unpersist()
    return colors
