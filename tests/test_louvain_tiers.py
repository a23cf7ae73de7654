"""Louvain's tiers. The driver-held ones run the Jacobi (plain) and
Gauss-Seidel (colored) sweeps in driver numpy with their O(E) gather
either in numpy (``local``) or in Spark (``driver_state``), and every
route makes its moves through the one decision function,
``louvain._decide_moves``; the Spark-state ones (``broadcast``,
``shuffle``) must match them and each other."""

from __future__ import annotations

from grappolo_spark.graph import Graph
from grappolo_spark.operators.multiphase import louvain
from grappolo_spark.sources import fixtures
from grappolo_spark.sources.fixtures import KARATE_EDGES


def _phase_tuple(res):
    return (
        res.modularity,
        res.iterations,
        sorted((r["v"], r["comm"]) for r in res.assignment.collect()),
    )


def test_colored_small_state_matches_distributed(spark):
    # the small-state colored sweep (driver-held comm, per-class winner
    # collects) must be bit-identical to the distributed per-class loop:
    # same gather/argmax expressions, integer-exact community aggregates
    from grappolo_spark.operators import coloring as C
    from grappolo_spark.sources import fixtures

    g = fixtures.karate(spark)
    res_small = C.louvain_one_phase_colored(g, thresh=1e-6, max_iters=5)
    res_dist = C.louvain_one_phase_colored(
        g, thresh=1e-6, max_iters=5, tier="shuffle"
    )
    assert res_small.modularity == res_dist.modularity
    assert res_small.iterations == res_dist.iterations
    a = {r["v"]: r["comm"] for r in res_small.assignment.collect()}
    b = {r["v"]: r["comm"] for r in res_dist.assignment.collect()}
    assert a == b


def test_every_driver_route_decides_through_one_function(spark, monkeypatch):
    """Plain local, plain driver_state, colored local and colored
    driver_state each call ``_decide_moves``."""
    from grappolo_spark.operators import louvain as L
    from grappolo_spark.operators.coloring import louvain_one_phase_colored
    from grappolo_spark.operators.multiphase import louvain
    from grappolo_spark.sources.fixtures import karate

    calls = []
    decide = L._decide_moves

    def counting(*a, **kw):
        calls.append(1)
        return decide(*a, **kw)

    monkeypatch.setattr(L, "_decide_moves", counting)
    colored = dict(num_colors_cap=8, coloring_algo="multihash")
    routes = [
        ("local", lambda g: louvain(g, max_phases=1).phase_history[0]["tier"]),
        ("driver_state", lambda g: L.louvain_one_phase(g).tier.value),
        ("local", lambda g: louvain_one_phase_colored(g, **colored).tier.value),
        (
            "driver_state",
            lambda g: louvain_one_phase_colored(
                g, tier="driver_state", **colored
            ).tier.value,
        ),
    ]
    for want, route in routes:
        before = len(calls)
        assert route(karate(spark)) == want
        assert len(calls) > before, want


def test_colored_driver_state_pinned_on_non_dyadic_weights(spark):
    """Weights 0.1/0.3/0.7 keep the colored phase off its local tier and
    make its sums inexact: the driver_state sweep (numpy gain over the
    Spark gather's doubles) keeps the assignment, Q and iteration count
    recorded before the gain moved out of Spark, with the probe's edge
    copy and with the Spark state and e_xx scan (explicit vertices)."""
    from grappolo_spark.operators.coloring import louvain_one_phase_colored
    from grappolo_spark.plans.tiers import Tier

    weights = (0.1, 0.3, 0.7)
    g = Graph.from_pairs(
        spark, [(u, v, weights[(u + v) % 3]) for u, v in KARATE_EDGES]
    )
    explicit = Graph(
        edges=g.edges, vertices=g.vertex_ids(), unweighted=g.unweighted,
        deduped=g.deduped,
    )
    comm = [0, 1, 2, 2, 4, 5, 5, 1, 8, 2, 4, 0, 2, 1, 14, 8, 5, 0, 8, 1,
            14, 1, 14, 23, 25, 25, 14, 23, 25, 14, 8, 25, 8, 14]
    for graph in (g, explicit):
        res = louvain_one_phase_colored(
            graph, thresh=1e-6, max_iters=6, num_colors_cap=8,
            coloring_algo="multihash",
        )
        assert res.tier is Tier.DRIVER_STATE
        assert res.modularity == 0.4077166666666667
        assert res.iterations == 3
        got = sorted((r["v"], r["comm"]) for r in res.assignment.collect())
        assert got == list(enumerate(comm))


def test_colored_distributed_broadcast_layout_matches(spark):
    """The broadcast tier's src-keyed class gather (state broadcast
    pre-enriched, zero per-class exchanges) must match the shuffle tier's
    dst layout of the distributed colored loop exactly."""
    from grappolo_spark.operators import coloring as C
    from grappolo_spark.sources.fixtures import grid3d, karate

    for g in (karate(spark), grid3d(spark, 3, 3, 3)):
        kw = dict(
            thresh=1e-6, max_iters=3, num_colors_cap=8,
            coloring_algo="multihash",
        )
        res_b = C.louvain_one_phase_colored(g, tier="broadcast", **kw)
        res_s = C.louvain_one_phase_colored(g, tier="shuffle", **kw)
        assert _phase_tuple(res_b) == _phase_tuple(res_s)


def test_louvain_bucketed_shuffle_path_matches_broadcast(spark):
    """The shuffle tier (bucketed state commits) must be bit-identical to
    the broadcast tier."""
    from grappolo_spark.operators.louvain import louvain_one_phase
    from grappolo_spark.sources.fixtures import karate

    g = karate(spark)
    a = louvain_one_phase(g, tier="broadcast")
    b = louvain_one_phase(g, tier="shuffle")
    assert a.modularity == b.modularity
    assert a.iterations == b.iterations
    ra = {(r.v, r.comm) for r in a.assignment.collect()}
    rb = {(r.v, r.comm) for r in b.assignment.collect()}
    assert ra == rb


def test_local_kernel_bit_parity_karate(spark):
    g = fixtures.karate(spark)
    dist = louvain(g, max_phases=1, tier="driver_state")
    loc = louvain(g, max_phases=1, tier="local")
    # integer weights -> exact arithmetic -> bit-identical trajectory
    assert loc.modularity == dist.modularity
    assert loc.total_iterations == dist.total_iterations
    a = {r.v: r.comm for r in dist.assignment.collect()}
    b = {r.v: r.comm for r in loc.assignment.collect()}
    assert a == b


def test_multiphase_local_tail_equivalent(spark):
    for gfn in (
        lambda: fixtures.karate(spark),
        lambda: fixtures.planted_partition(spark, blocks=4, block_size=12)[0],
    ):
        g = gfn()
        dist = louvain(g, tier="driver_state")  # per-phase kernel
        loc = louvain(g, tier="local")           # numpy tail
        assert loc.modularity == dist.modularity
        assert loc.num_clusters == dist.num_clusters
        a = {r.v: r.comm for r in dist.assignment.collect()}
        b = {r.v: r.comm for r in loc.assignment.collect()}
        assert a == b


def test_multiphase_local_tail_directed(spark):
    group_a, group_b = [0, 1, 2], [3, 4, 5]
    pairs = [(u, v) for u in group_a for v in group_a if u != v]
    pairs += [(u, v) for u in group_b for v in group_b if u != v]
    pairs += [(2, 3)]
    e = spark.createDataFrame(
        [(u, v, 1.0) for u, v in pairs], "src long, dst long, weight double"
    )
    g = Graph.from_edgelist(e, directed=True)
    dist = louvain(g, threshold=1e-9, tier="driver_state")
    loc = louvain(g, threshold=1e-9, tier="local")
    assert loc.modularity == dist.modularity
    a = {r.v: r.comm for r in dist.assignment.collect()}
    b = {r.v: r.comm for r in loc.assignment.collect()}
    assert a == b
