"""Round-6 fixes: the three ADVICE r5 correctness items.

1. ``distance_one_coloring(rand_df=...)`` INNER-joined conflicts with the
   tie-break table, so a conflicting vertex missing from ``rand_df``
   silently dropped its conflict row — an invalid coloring instead of an
   error. Now a coverage guard raises up front.
2. The LPA ids32 gate admitted ``min_id == -2^31``, but the tie-break
   negates the int32 label inside the max_by struct; ``-(-2^31)`` wraps
   under non-ANSI Spark and corrupts the tie ordering for that label.
3. On the louvain hints path, ids32 auto-enabled from the UNVERIFIED
   nv_hint dense-renumbering contract; sparse or >int32 ids then wrapped
   through silent non-ANSI casts. Caller-supplied ``facts`` now narrow
   ids only when they state an int32 id bound.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from grappolo_spark.graph import Graph

INT32_MIN = -(1 << 31)


def test_rand_df_coverage_guard_raises(spark):
    from grappolo_spark.operators.coloring import distance_one_coloring

    g = Graph.from_pairs(spark, [(1, 2), (2, 3), (1, 3)])
    # covers only v=1,2 — vertex 3 has no tie-break value
    partial = spark.createDataFrame(
        [(1, 0.25), (2, 0.75)], "v long, rand double"
    )
    with pytest.raises(ValueError, match="rand_df"):
        distance_one_coloring(g, rand_df=partial)


def test_rand_df_full_coverage_still_colors(spark):
    from grappolo_spark.operators.coloring import (
        distance_one_coloring,
        verify_coloring,
    )

    g = Graph.from_pairs(spark, [(1, 2), (2, 3), (1, 3)])
    full = spark.createDataFrame(
        [(1, 0.25), (2, 0.75), (3, 0.5)], "v long, rand double"
    )
    colors = distance_one_coloring(g, rand_df=full)
    assert verify_coloring(g, colors) == 0


def test_lpa_ids32_gate_excludes_int32_min(spark):
    """A label of exactly -2^31 must not enter the int32 tie-break: v=0 sees
    neighbor labels {-2^31, 5} at equal weight and must pick the SMALLER
    (-2^31); the wrapped negation would pick 5."""
    from grappolo_spark.operators.labelprop import label_propagation

    g = Graph.from_pairs(spark, [(0, INT32_MIN), (0, 5)])
    out = label_propagation(
        g, max_iters=1, stop_on_converge=False, tier="broadcast"
    )
    got = {r["v"]: r["label"] for r in out.collect()}
    assert got[0] == INT32_MIN
    # and the forced-distributed path matches the local replay exactly
    local = label_propagation(
        g, max_iters=1, stop_on_converge=False, tier="local"
    )
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, local.collect())
    )


def _louvain_rows(res):
    return sorted((r["v"], r["comm"]) for r in res.assignment.collect())


def test_louvain_hints_do_not_auto_narrow_unverified_ids(spark):
    """A graph whose facts hold |V| and 2m over ids far beyond int32 but
    no id bound skips the stats action, and ids32 must NOT engage — the
    run must match the stats-verified run exactly."""
    from grappolo_spark.operators.louvain import louvain_one_phase
    from grappolo_spark.plans.tiers import graph_facts, remember

    big = 1 << 31  # first id outside int32
    pairs = [(big + 1, big + 2), (big + 2, big + 3), (big + 1, big + 3),
             (big + 10, big + 11)]
    g = Graph.from_pairs(spark, pairs)
    two_m = g.edges.agg(F.sum("weight")).collect()[0][0]
    ref = louvain_one_phase(g, max_iters=2)
    hinted_g = Graph.from_pairs(spark, pairs)
    remember(hinted_g, two_m=two_m, nv=5)
    hinted = louvain_one_phase(hinted_g, max_iters=2)
    assert graph_facts(hinted_g).id_lo is None  # the stats action was skipped
    assert _louvain_rows(hinted) == _louvain_rows(ref)


def _phase_tuple(res):
    return (
        res.modularity,
        res.iterations,
        sorted((r["v"], r["comm"]) for r in res.assignment.collect()),
    )


def test_louvain_small_state_matches_distributed(spark):
    """The driver_state tier must be bit-identical to the distributed
    superstep loop, including smart_init and a weighted graph. It plans
    only on integer-valued weights (every aggregate exact); the
    fractional-weight graph plans to broadcast."""
    from grappolo_spark.operators import louvain as L
    from grappolo_spark.plans.tiers import Tier
    from grappolo_spark.sources.fixtures import grid3d, karate

    weighted = Graph.from_pairs(
        spark,
        [(0, 1, 3.0), (1, 2, 2.0), (2, 0, 1.0), (3, 4, 5.0), (4, 5, 4.0),
         (5, 3, 1.0), (2, 3, 1.0), (6, 6, 2.0), (7, 7, 1.0)],
    )
    fractional = Graph.from_pairs(
        spark,
        [(0, 1, 0.5), (1, 2, 0.3), (2, 0, 1.5), (3, 4, 2.5), (4, 5, 0.7),
         (5, 3, 1.0), (2, 3, 0.1), (6, 6, 0.2)],
    )
    cases = [
        (karate(spark), Tier.DRIVER_STATE),
        (grid3d(spark, 3, 3, 3), Tier.DRIVER_STATE),
        (weighted, Tier.DRIVER_STATE),
        (fractional, Tier.BROADCAST),
    ]
    for g, planned in cases:
        for si in (False, True):
            auto = L.louvain_one_phase(g, max_iters=4, smart_init=si)
            assert auto.tier is planned, (si, g)
            dist = L.louvain_one_phase(
                g, max_iters=4, smart_init=si, tier="broadcast"
            )
            assert _phase_tuple(auto) == _phase_tuple(dist), (si, g)


def test_louvain_small_state_init_assign_matches(spark):
    from grappolo_spark.operators import louvain as L
    from grappolo_spark.sources.fixtures import karate

    g = karate(spark)
    init = g.vertex_ids().select("v", (F.col("v") % 5).alias("comm"))
    small = L.louvain_one_phase(g, max_iters=3, init_assign=init)
    dist = L.louvain_one_phase(
        g, max_iters=3, init_assign=init, tier="broadcast"
    )
    assert _phase_tuple(small) == _phase_tuple(dist)


def test_multiphase_distributed_small_state_matches(spark):
    """End-to-end forced-distributed multiphase (the bench diagnostic
    line) on the driver_state and broadcast phase tiers."""
    from grappolo_spark.operators.multiphase import louvain
    from grappolo_spark.sources.fixtures import karate

    def run(**kw):
        r = louvain(g, max_phases=3, smart_init=True, **kw)
        return (
            r.modularity,
            r.num_clusters,
            r.total_iterations,
            sorted((x["v"], x["comm"]) for x in r.assignment.collect()),
        )

    g = karate(spark)
    assert run(tier="driver_state") == run(tier="broadcast")


def test_multihash_numpy_matches_spark(spark):
    """The numpy multihash coloring must reproduce multihash_coloring's
    colors exactly (bit-exact xxhash64 replay + same local-max/min rule)."""
    import numpy as np

    from grappolo_spark.operators.coloring import (
        _multihash_colors_np,
        multihash_coloring,
    )
    from grappolo_spark.sources.fixtures import grid3d, karate

    for g in (karate(spark), grid3d(spark, 3, 4, 5)):
        want = {r["v"]: r["color"] for r in multihash_coloring(g).collect()}
        pdf = g.edges.select("src", "dst").toPandas()
        es = pdf["src"].to_numpy(np.int64)
        ed = pdf["dst"].to_numpy(np.int64)
        ids = np.unique(np.concatenate([es, ed]))
        s_idx = np.searchsorted(ids, es)
        d_idx = np.searchsorted(ids, ed)
        m = s_idx != d_idx
        got = _multihash_colors_np(ids, s_idx[m], d_idx[m])
        assert {int(v): int(c) for v, c in zip(ids, got)} == want


def _with_explicit_vertices(g):
    """The same graph with its vertex set listed explicitly: the numpy
    coloring and the driver-side state build need the edge endpoints to
    BE the vertex set, so this routes the colored phase through the Spark
    coloring, the |V| count job and the Spark state build."""
    return Graph(
        edges=g.edges, vertices=g.vertex_ids(), unweighted=g.unweighted,
        deduped=g.deduped,
    )


def test_colored_phase_numpy_coloring_matches_spark_route(spark):
    """louvain_one_phase_colored via the numpy coloring + driver state
    build must equal the Spark coloring + Spark state build route, with
    the probe's driver edge copy (explicit vertices) and without one: a
    graph already known to hold more than DRIVER_EDGE_ROWS edge rows (the
    dense phase-1 case) skips the probe, and e_xx is the Spark scan."""
    from grappolo_spark.operators import coloring as C
    from grappolo_spark.plans import tiers as T
    from grappolo_spark.sources.fixtures import karate

    g = karate(spark)
    big = karate(spark)
    T.remember(big, nv=34, edge_rows=T.DRIVER_EDGE_ROWS + 1)
    for cap in (8, 3):
        kw = dict(
            thresh=1e-6, max_iters=4, num_colors_cap=cap,
            coloring_algo="multihash",
        )
        res_np = C.louvain_one_phase_colored(g, **kw)
        res_sp = C.louvain_one_phase_colored(_with_explicit_vertices(g), **kw)
        res_big = C.louvain_one_phase_colored(big, **kw)
        assert res_np.tier is res_sp.tier is T.Tier.LOCAL
        assert res_big.tier is T.Tier.DRIVER_STATE
        assert T.graph_facts(big).arrays is None
        assert _phase_tuple(res_np) == _phase_tuple(res_sp), cap
        assert _phase_tuple(res_np) == _phase_tuple(res_big), cap


def test_colored_class_sweep_numpy_matches_spark(spark):
    """The full-numpy class sweep (local tier: driver edge copy +
    integer-valued weights => exact sums) must be bit-identical to the
    Spark class jobs it replays (driver_state tier), across palettes incl.
    the overflow (Jacobi) class. The fractional-weight graph exercises the
    gate: it plans to driver_state, so both runs take the Spark route."""
    from grappolo_spark.operators import coloring as C
    from grappolo_spark.plans.tiers import Tier
    from grappolo_spark.sources.fixtures import grid3d, karate

    weighted = Graph.from_pairs(
        spark,
        [(0, 1, 3.0), (1, 2, 2.0), (2, 0, 1.0), (3, 4, 5.0), (4, 5, 4.0),
         (5, 3, 1.0), (2, 3, 1.0), (6, 6, 2.0), (7, 7, 1.0)],
    )
    fractional = Graph.from_pairs(
        spark,
        [(0, 1, 0.5), (1, 2, 0.25), (2, 0, 1.5), (3, 4, 2.5), (4, 5, 0.75),
         (5, 3, 1.0), (2, 3, 0.125)],
    )
    cases = [
        (karate(spark), 8, Tier.LOCAL),
        (karate(spark), 3, Tier.LOCAL),
        (grid3d(spark, 3, 3, 3), 8, Tier.LOCAL),
        (weighted, 8, Tier.LOCAL),
        (fractional, 8, Tier.DRIVER_STATE),
    ]
    for g, cap, planned in cases:
        res_np = C.louvain_one_phase_colored(
            g, thresh=1e-6, max_iters=4, num_colors_cap=cap,
            coloring_algo="multihash",
        )
        assert res_np.tier is planned
        res_sp = C.louvain_one_phase_colored(
            g, thresh=1e-6, max_iters=4, num_colors_cap=cap,
            coloring_algo="multihash", tier="driver_state",
        )
        assert _phase_tuple(res_np) == _phase_tuple(res_sp), cap


def _multiphase_tuple(r):
    return (
        r.modularity,
        r.num_clusters,
        r.phases,
        r.total_iterations,
        [
            (h["phase"], h["modularity"], h["clusters"], h["iterations"],
             h.get("vertices"), h["colored"])
            for h in r.phase_history
        ],
        sorted((x["v"], x["comm"]) for x in r.assignment.collect()),
    )


def test_multiphase_colored_np_continuation_matches(spark):
    """The driver-side continuation (numpy renumber/coarsen/tail/fold after
    a local-tier colored phase) must reproduce the Spark-route multiphase
    run exactly: assignment, modularity, clusters, phases, iterations,
    history. min_graph_size=5 exercises the local-tail composition; =1
    keeps coloring on for later phases (the continuation's fallback to the
    normal distributed flow). The fractional-weight graph (dyadic weights,
    so every route's sums are exact and comparable) plans its colored
    phase to driver_state, never continues in numpy, and plans its
    distributed plain phases to broadcast."""
    from grappolo_spark.operators.multiphase import louvain
    from grappolo_spark.sources.fixtures import grid3d, karate

    fractional = Graph.from_pairs(
        spark,
        [(0, 1, 0.5), (1, 2, 0.25), (2, 0, 1.5), (3, 4, 2.5), (4, 5, 0.75),
         (5, 3, 1.0), (2, 3, 0.125), (5, 6, 0.375), (6, 7, 1.25),
         (7, 5, 0.625)],
    )

    def run(g, mgs, **kw):
        return louvain(
            g, max_phases=3, coloring=True, min_graph_size=mgs,
            num_colors_cap=8, coloring_algo="multihash", **kw,
        )

    for g in (karate(spark), grid3d(spark, 3, 3, 3)):
        for mgs in (5, 1):
            auto = run(g, mgs)
            assert auto.phase_history[0]["tier"] == "local"
            forced = run(g, mgs, tier="driver_state")
            assert forced.phase_history[0]["tier"] == "driver_state"
            assert _multiphase_tuple(auto) == _multiphase_tuple(forced), mgs
    auto = run(fractional, 5)
    tiers = [h["tier"] for h in auto.phase_history]
    assert tiers[0] == "driver_state" and set(tiers[1:]) == {"local"}
    distributed = run(fractional, 5, local_threshold=0)
    tiers = [h["tier"] for h in distributed.phase_history]
    assert tiers[0] == "driver_state" and set(tiers[1:]) == {"broadcast"}
    assert _multiphase_tuple(auto) == _multiphase_tuple(distributed)


def test_multiphase_colored_big_edge_fallback_matches(spark, monkeypatch):
    """Without the probe's driver edge copy the multiphase coloring gate
    falls back to the distinct-count job and the kernel to its Spark
    coloring and state build — same results as the driver-held route.
    Two ways in: explicit vertices, and a phase-1 graph above the probe
    bound (simulated: its facts record DRIVER_EDGE_ROWS + 1 rows). Neither
    the driver nor the kernel may then run the probe's collect, so phase 1
    runs driver_state with the Spark e_xx scan."""
    from grappolo_spark.operators import multiphase as M
    from grappolo_spark.plans import tiers as T
    from grappolo_spark.sources.fixtures import karate

    g = karate(spark)
    big = karate(spark)
    T.remember(big, edge_rows=T.DRIVER_EDGE_ROWS + 1)

    def run(graph):
        r = M.louvain(
            graph, max_phases=3, coloring=True, min_graph_size=5,
            num_colors_cap=8, coloring_algo="multihash",
        )
        return r, (
            r.modularity, r.num_clusters, r.phases, r.total_iterations,
            sorted((x["v"], x["comm"]) for x in r.assignment.collect()),
        )

    collects = []
    probe = T.collect_probe

    def counting_probe(graph, bound, facts):
        if graph is big and not (facts.edge_rows or 0) > bound:
            collects.append(bound)
        return probe(graph, bound, facts)

    r_small, want = run(g)
    assert r_small.phase_history[0]["tier"] == "local"
    assert run(_with_explicit_vertices(g))[1] == want
    monkeypatch.setattr(T, "collect_probe", counting_probe)
    r_big, got = run(big)
    assert collects == []
    assert r_big.phase_history[0]["tier"] == "driver_state"
    assert got == want


def test_deduped_graph_skips_pair_distinct(spark):
    """Canonical graphs carry deduped=True (edge rows unique by
    construction) and the pair-table re-dedup exchange is elided; a raw
    Graph(edges=...) stays conservative. Results are identical either
    way — distinct over unique rows is the identity."""
    from grappolo_spark.operators.coloring import (
        distance_one_coloring,
        multihash_coloring,
    )
    from grappolo_spark.operators.components import connected_components
    from grappolo_spark.operators.multiphase import coarsen
    from grappolo_spark.sources.fixtures import karate

    g = karate(spark)
    assert g.deduped and g.partition_by_src().deduped
    g_raw = Graph(edges=g.edges)
    assert not g_raw.deduped
    assign = g.vertex_ids().select("v", (F.col("v") % 4).alias("comm"))
    assert coarsen(g, assign).deduped

    for fn in (
        lambda x: connected_components(x, tier="shuffle"),
        distance_one_coloring,
        multihash_coloring,
    ):
        got = sorted(map(tuple, fn(g).collect()))
        want = sorted(map(tuple, fn(g_raw).collect()))
        assert got == want, fn
