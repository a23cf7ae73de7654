"""Connected components: alternating large-star/small-star, plus min-label.

The reference only has a restricted DFS components routine
(`Utility/buildNextPhase.cpp:392-491`, voltage-constrained `Visit`); the
north_rule asks for the scalable small-star/large-star formulation
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14 —
public algorithm), which converges in O(log n) rounds of pure
join/groupBy supersteps — the right shape for a 100 TB edge table.

Component id = min vertex id in the component (deterministic labels, exact
match against any oracle).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from grappolo_spark.graph import Graph
from grappolo_spark.plans.iteration import (
    SuperstepRunner,
    cut_lineage,
    read_observation,
)
from grappolo_spark.plans.tiers import (
    LOCAL_EDGE_ROWS,
    Tier,
    endpoints_fit_int32,
    graph_facts,
    local_facts,
    local_tier_allowed,
    plan,
)

def _checksum_aggs():
    # built lazily — Column construction needs an active SparkContext
    return (
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
    )


def _checksum(pairs: DataFrame) -> tuple[int, int]:
    row = pairs.agg(*_checksum_aggs()).collect()[0]
    return row["n"], row["h"]


def _large_star(pairs: DataFrame, dedup: bool = True) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u}).

    Operates on the full undirected neighborhood, so symmetrize first.
    ``dedup=False`` skips the trailing distinct — correct whenever the
    consumer dedups anyway (``_small_star`` canonicalizes+distincts its
    input first), saving one full-width shuffle per star round.
    """
    sym = pairs.union(pairs.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    out = (
        sym.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    ).filter(F.col("u") != F.col("v"))
    return out.distinct() if dedup else out


def _small_star(pairs: DataFrame) -> DataFrame:
    """Orient each edge to its larger endpoint; connect all smaller
    neighbors (and the vertex) to the minimum.

    The oriented input is NOT deduplicated: the min-aggregate absorbs
    duplicate rows, and duplicates that flow through the join into
    ``nbr_edges`` are absorbed by the trailing output distinct — the same
    contract ``_large_star(dedup=False)`` exposes in the other direction.
    Dropping the input distinct removes one full-width shuffle per
    large+small-star round (the input arrives straight off large-star's
    un-deduplicated join output).
    """
    oriented = pairs.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    m = oriented.groupBy("u").agg(F.min("v").alias("m"))
    nbr_edges = (
        oriented.join(m, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    self_edges = m.select(F.col("u"), F.col("m").alias("v"))
    return nbr_edges.union(self_edges).filter(F.col("u") != F.col("v")).distinct()


def _leaf_singles(pairs: DataFrame) -> DataFrame:
    """The freezable leaves of a star-round output: sources with exactly
    one outgoing pair that no pair targets — see the freeze note in
    :func:`connected_components`. Deterministic in ``pairs``, so durable
    resume can rederive each batch from its step's committed state."""
    return (
        pairs.groupBy("u")
        .agg(F.count(F.lit(1)).alias("c"), F.min("v").alias("m"))
        .filter(F.col("c") == 1)
        .join(pairs.select(F.col("v").alias("u")), "u", "left_anti")
        .select("u", F.col("m").alias("v"))
    )


def _local_union_find(spark, arrays) -> DataFrame:
    """Local tier: vectorized min-label propagation with pointer jumping
    over the probe's collected ``(src, dst, _, ids)`` arrays (self-loops
    and duplicates are harmless to the min-reduction) — labels = min id per
    component, the same labels the star rounds converge to, without ~6
    rounds of fixed distributed-job overhead. Self-loop-only vertices are
    in ``ids`` and keep their own label, so the output covers every edge
    endpoint.

    Vectorized (sort once, then ``minimum.reduceat`` per round + pointer
    doubling, O(log n) rounds) instead of a per-edge Python union-find
    loop: at the 2M-row bound a Python loop costs tens of seconds on a
    throttled single core; array passes stay milliseconds."""
    import numpy as np
    import pandas as pd

    u, v, _, ids = arrays
    if not len(u):
        return spark.createDataFrame([], "v long, component long")
    ui = np.searchsorted(ids, u)
    vi = np.searchsorted(ids, v)
    n = len(ids)

    # symmetrized endpoint lists, sorted by source once
    a = np.concatenate([ui, vi])
    b = np.concatenate([vi, ui])
    order = np.argsort(a, kind="stable")
    a_s, b_s = a[order], b[order]
    run_mask = np.empty(len(a_s), dtype=bool)
    run_mask[0] = True
    np.not_equal(a_s[1:], a_s[:-1], out=run_mask[1:])
    starts = np.flatnonzero(run_mask)
    srcs = a_s[starts]

    lab = np.arange(n, dtype=np.int64)
    while True:
        nxt = lab.copy()
        # min neighbor label per source (one reduceat over the sorted list;
        # fancy-indexed assignment — an `out=` through fancy indexing would
        # silently write to a copy)
        nxt[srcs] = np.minimum(nxt[srcs], np.minimum.reduceat(lab[b_s], starts))
        # pointer doubling: jump through the current label's label
        np.minimum(nxt, nxt[nxt], out=nxt)
        if np.array_equal(nxt, lab):
            break
        lab = nxt
    return spark.createDataFrame(
        pd.DataFrame({"v": ids, "component": ids[lab]}),
        "v long, component long",
    )


def connected_components(
    g: Graph,
    max_iters: int = 50,
    local_threshold: int = LOCAL_EDGE_ROWS,
    freeze: bool = True,
    tier: Tier | str | None = None,
    run_dir: str | None = None,
) -> DataFrame:
    """Return assignments ``(v, component)``; isolated vertices get their own id.

    Tiers (:mod:`grappolo_spark.plans.tiers`): **local** — up to 2M edge
    rows the labels come from a driver-local union-find over the probe's
    collected arrays (identical min-id labels; the star supersteps on a
    small graph are pure fixed job overhead); **shuffle** — the star
    supersteps, one lineage cut / convergence checksum per round.
    ``run_dir`` (durable superstep state) excludes the local tier, as does
    ``local_threshold=0``; ``tier`` forces one.

    ``freeze`` contracts converged leaves out of each round's input (the
    geometric work reduction — see the in-code note); works on scratch
    AND durable runs: the committed per-step state stays pre-split, and a
    resume rederives every frozen batch deterministically from the step
    parquets the runner already keeps. The durable star state is a pair
    table with no vertex count, so unlike PageRank's and LPA's, its
    resume cannot check that a run_dir belongs to the graph.

    The star rounds carry 32-bit ids whenever the id-bound fact fits int32
    — component ids are min vertex ids, so BOTH columns of every per-round
    pair shuffle narrow; the returned ``(v, component)`` stays long.
    """
    variant = set() if local_tier_allowed(local_threshold) else {"no_local"}
    # the bound is RAW edge rows (>= distinct pairs): graphs between the
    # two counts take the star path, whose labels are identical
    facts = local_facts(g, "components", run_dir, variant, tier)
    spark = g.edges.sparkSession
    if facts is not None:
        labels = _local_union_find(spark, facts.arrays)
        if g.vertices is None:
            # every vertex id is an edge endpoint (self-loop-only
            # included): the LocalRelation already covers the full vertex
            # set — no join, no result cut
            return labels
        out = g.vertex_ids().join(labels, "v", "left").select(
            "v", F.coalesce("component", F.col("v")).alias("component")
        )
        return cut_lineage(out, tag="result", keep_last=64)
    # the star rounds need no size facts; plan() still vets a forced tier
    plan(graph_facts(g), "components", run_dir, variant, tier)

    pairs = g.edges.filter(F.col("src") != F.col("dst")).select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    )
    if not g.deduped:
        # raw Graph(edges=...) construction may carry duplicate pairs;
        # canonical graphs skip this exchange (rows unique by construction)
        pairs = pairs.distinct()
    runner = SuperstepRunner(spark, run_dir)
    pairs_all = None  # the one-evaluation pair cut (see below)
    # the deduped pair table is cut once, KEEPING self-loop rows so it
    # doubles as the vertex universe: the rounds' non-self input and
    # the final vertex attach read the small parquet. Durable runs
    # keep the old shape (resume must not read a scratch-rotation cut).
    pa = g.edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    if run_dir is None:
        if not g.deduped:
            pa = pa.distinct()
        pa = pairs_all = cut_lineage(pa, tag="cc_pairs_all")
        pairs = pairs_all.filter(F.col("u") != F.col("v"))
    # the id bound from the cut (one min/max over its parquet), not a
    # second evaluation of the edge pipeline
    ids32 = endpoints_fit_int32(g, pa)
    start, resumed = runner.resume()
    # Early-freeze: a LEAF — a source with exactly one outgoing pair
    # that no pair targets — can be contracted out of the round input.
    # Pairs always point downward (src > dst after small-star), so a
    # leaf is never its component's min, and with degree 1 in the pair
    # graph its removal can't disconnect anyone else; its label is
    # resolved at the end by one join per freeze batch (latest first,
    # so chains u→m→m' compose). Star outputs are mostly leaves after
    # round 1, so the round input collapses — the shrinkage that makes
    # O(log n) rounds affordable at 100 TB.
    frozen_batches: list[DataFrame] = []
    if resumed is not None:
        pairs = resumed
        if freeze:
            # Durable resume: each frozen batch is a DETERMINISTIC
            # function of its step's committed state (the split runs
            # AFTER the commit), so instead of persisting batches
            # separately — with their own crash windows — rederive
            # them lazily from the per-step state parquets the runner
            # already keeps, and re-split the resumed state itself.
            for s in range(start):
                st_path = os.path.join(run_dir, f"step={s:06d}", "state")
                if os.path.isdir(st_path):
                    frozen_batches.append(
                        _leaf_singles(spark.read.parquet(st_path))
                    )
            if frozen_batches:
                pairs = pairs.join(
                    frozen_batches[-1].select("u"), "u", "left_anti"
                )
    if ids32:
        # one cast at the top of the rounds (covers fresh AND resumed
        # state, which an older run may have written as long); every
        # per-round shuffle then moves 8-byte pairs instead of 16
        pairs = pairs.select(
            F.col("u").cast("int").alias("u"),
            F.col("v").cast("int").alias("v"),
        )
    if pairs_all is None:
        pairs = cut_lineage(pairs, tag="cc_pairs")
    # else: pairs is already a cheap filter+cast projection over the
    # cc_pairs_all cut parquet — a second materializing cut would be a
    # pure extra write+read job
    prev = _checksum(pairs)  # once, against the cut parquet — cheap
    # NOTE (r6): an AQE-off gate for tiny round loops was tried here
    # (as then around the driver_state sweeps) and measured ~2x
    # SLOWER (warm rounds 4.3-4.7s vs 2.2-2.7s at 7k pairs): unlike
    # the exchange-free louvain sweeps, a star round is all exchanges
    # over a shrinking input, and AQE's empty-relation propagation +
    # partition coalescing pay for their re-planning. AQE stays ON.
    for step in range(start, max_iters):
        pairs = _small_star(_large_star(pairs, dedup=False))
        # convergence checksum rides the round's single
        # materializing action as observed metrics (CollectMetrics
        # on the state plan). Scratch rounds localCheckpoint —
        # materialize + plan truncation with no parquet round-trip
        # (a star round references its input several times, so
        # truncation is required either way); durable runs commit
        # through the runner so every superstep is resumable.
        obs = Observation()
        observed = pairs.observe(obs, *_checksum_aggs())
        if run_dir is not None:
            pairs = runner.commit(step, observed, {"op": "cc_star"})
        else:
            pairs = observed.localCheckpoint(eager=True)
            runner.history.append({"op": "cc_star", "step": step})
        m = read_observation(obs)
        if m is not None:
            cur = (m["n"], m["h"])
        else:
            # AQE empty-relation propagation can prune
            # CollectMetrics when the plan goes runtime-empty;
            # re-derive from the committed parquet (one cheap scan)
            cur = _checksum(pairs)
        if cur == prev or cur[0] == 0:
            break
        prev = cur
        if freeze:
            # split off this round's leaves — lazy plans over the
            # MATERIALIZED round output (checkpoint or committed
            # parquet leaf), so the split folds into the next
            # round's single action and each frozen batch re-reads
            # only the leaf at resolution time. The split runs
            # AFTER the commit, so durable state stays pre-split
            # and resume can rederive every batch (see the resume
            # branch above).
            singles = _leaf_singles(pairs)
            frozen_batches.append(singles)
            pairs = pairs.join(singles.select("u"), "u", "left_anti")
    # final pairs form star(s): v -> component root (min id)
    labels = pairs.select(F.col("u").alias("v"), F.col("v").alias("component"))
    roots = pairs.select(F.col("v").alias("v")).distinct().select(
        "v", F.col("v").alias("component")
    )
    labels = labels.union(roots).groupBy("v").agg(
        F.min("component").alias("component")
    )
    # resolve frozen leaves, latest batch first: a leaf's target either
    # already has a final label (later batches resolved before earlier
    # ones) or is itself a root (coalesce to the target id)
    for batch in reversed(frozen_batches):
        b = batch.select(F.col("u").alias("bv"), F.col("v").alias("m"))
        resolved = (
            b.join(labels, b.m == labels.v, "left")
            .select(
                F.col("bv").alias("v"),
                F.coalesce("component", F.col("m")).alias("component"),
            )
        )
        labels = labels.unionByName(resolved)
    if ids32:
        # chain boundary: canonical long schema for the final join
        labels = labels.select(
            F.col("v").cast("long").alias("v"),
            F.col("component").cast("long").alias("component"),
        )

    # attach isolated vertices (their own component)
    if pairs_all is not None:
        # vertex universe from the cut pair parquet (self-loop rows were
        # kept, so every edge endpoint is covered) instead of a fourth
        # evaluation of the heavy edge pipeline
        all_v = (
            pairs_all.select(F.col("u").alias("v"))
            .union(pairs_all.select(F.col("v").alias("v")))
            .distinct()
        )
        if g.vertices is not None:
            all_v = all_v.union(
                g.vertices.select(F.col("v").cast("long"))
            ).distinct()
    else:
        all_v = g.vertex_ids()
    out = all_v.join(labels, "v", "left").select(
        "v", F.coalesce("component", F.col("v")).alias("component")
    )
    return cut_lineage(out, tag="result", keep_last=64)
