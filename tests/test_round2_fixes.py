"""Round-2 semantics + scale fixes, each pinned by an independent oracle.

- swap protection compares the CURRENT COMMUNITY id, not the vertex id
  (`Utility/utilityClusteringFunctions.cpp:254-256`: maxIndex > sc)
- colored Louvain sweeps overflow colors past the palette cap instead of
  freezing them (`Coloring/runMultiPhaseColoring.cpp:68-87` caps colors;
  we merge the tail into one Jacobi sub-sweep)
- dense ranking is partition-offset distributed, same output as a global
  ordered window
- directed graphs: sinks get degree rows; multiphase coarsening preserves
  direction (`BasicCommunitiesDetection/runDirectedMultiPhaseBasic.cpp`)
- initCommAssOpt warm start equals the kernel's first Jacobi iteration
  (`utilityClusteringFunctions.cpp:108-169`)
"""

import pytest
from pyspark.sql import functions as F

from grappolo_spark.graph import Graph
from grappolo_spark.operators.louvain import (
    louvain_one_phase,
    smart_init_assignment,
)
from grappolo_spark.operators.multiphase import coarsen, louvain
from grappolo_spark.plans.ranking import dense_rank_ids
from grappolo_spark.sources import fixtures


def test_swap_protection_uses_community_id(spark):
    # vertices 5 and 7 share an edge but start in singleton communities
    # 2 and 4 (ids != their own). Reference rule: v=5 targeting comm 4 is
    # BLOCKED (4 > sc=2); v=7 targeting comm 2 is allowed (2 < 4).
    # The old vertex-id rule (4 > v=5 is false) would wrongly let v=5 move,
    # producing an endless label swap. Hand-simulated from the reference
    # math: gain(5->4) = 2*1 - 2*1*1*(1/2) = 1 > 0, same for 7->2.
    g = Graph.from_pairs(spark, [(5, 7)])
    init = spark.createDataFrame([(5, 2), (7, 4)], "v long, comm long")
    res = louvain_one_phase(g, init_assign=init, max_iters=3)
    assign = {r.v: r.comm for r in res.assignment.collect()}
    assert assign == {5: 2, 7: 2}


def test_colored_overflow_classes_still_swept(spark):
    # force the palette cap below the chromatic need: a triangle needs 3
    # colors; cap=2 merges colors >= 1 into one Jacobi class. Every vertex
    # must stay eligible to move, so the hub still absorbs its leaves.
    from grappolo_spark.operators.coloring import louvain_one_phase_colored

    g = fixtures.star_hub(spark, leaves=8, chords=3)
    res = louvain_one_phase_colored(g, thresh=1e-6, num_colors_cap=2)
    assign = {r.v: r.comm for r in res.assignment.collect()}
    # modularity improved over all-singletons (Q = -sum(d^2)/(2m)^2 < 0)
    assert res.modularity > 0.0
    # more than one vertex moved into a shared community
    from collections import Counter

    assert max(Counter(assign.values()).values()) >= 3


def test_dense_rank_matches_global_window(spark):
    import random

    rng = random.Random(7)
    vals = rng.sample(range(100000), 500)
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    ranked, n = dense_rank_ids(df, "x", out="r", num_partitions=8)
    assert n == 500
    got = {r.x: r.r for r in ranked.collect()}
    expect = {v: i for i, v in enumerate(sorted(vals))}
    assert got == expect


def test_dense_rank_empty(spark):
    df = spark.createDataFrame([], "x long")
    ranked, n = dense_rank_ids(df, "x", out="r", num_partitions=4)
    assert n == 0
    assert ranked.count() == 0
    assert ranked.columns == ["x", "r"]


def test_directed_degrees_include_sinks(spark):
    # 0 -> 1 -> 2: vertex 2 is a pure sink (no out-edges)
    e = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0)], "src long, dst long, weight double"
    )
    g = Graph.from_edgelist(e, directed=True)
    degs = {r.v: r.deg for r in g.degrees().collect()}
    assert degs == {0: 1.0, 1: 1.0, 2: 0.0}


def py_directed_modularity(edges, assign):
    """Independent directed-Q oracle: the kernel's accounting with
    constant = 2/m (`parallelDirectedLouvainMethod.cpp:103-105`) over
    out-degrees."""
    m = sum(w for _, _, w in edges)
    const = 2.0 / m
    exx = sum(w for u, v, w in edges if assign[u] == assign[v])
    outdeg = {}
    for u, v, w in edges:
        outdeg[u] = outdeg.get(u, 0.0) + w
    ac = {}
    for v, c in assign.items():
        ac[c] = ac.get(c, 0.0) + outdeg.get(v, 0.0)
    return exx * const - sum(a * a for a in ac.values()) * const * const


def test_directed_multiphase_planted_partition(spark):
    # two directed 3-cliques (all ordered pairs) + one cross arc; the
    # planted split is the optimum and must survive coarsening
    group_a, group_b = [0, 1, 2], [3, 4, 5]
    pairs = [(u, v) for u in group_a for v in group_a if u != v]
    pairs += [(u, v) for u in group_b for v in group_b if u != v]
    pairs += [(2, 3)]
    e = spark.createDataFrame(
        [(u, v, 1.0) for u, v in pairs], "src long, dst long, weight double"
    )
    g = Graph.from_edgelist(e, directed=True)
    res = louvain(g, threshold=1e-9)
    assign = {r.v: r.comm for r in res.assignment.collect()}
    assert len({assign[v] for v in group_a}) == 1
    assert len({assign[v] for v in group_b}) == 1
    assert assign[0] != assign[3]
    q = py_directed_modularity([(u, v, 1.0) for u, v in pairs], assign)
    assert abs(q - res.modularity) < 1e-9


def test_directed_coarsen_keeps_direction(spark):
    e = spark.createDataFrame(
        [(0, 1, 1.0), (1, 0, 1.0), (1, 2, 1.0)],
        "src long, dst long, weight double",
    )
    g = Graph.from_edgelist(e, directed=True)
    assign = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 1)], "v long, comm long"
    )
    cg = coarsen(g, assign)
    assert cg.directed
    rows = {(r.src, r.dst): r.weight for r in cg.edges.collect()}
    # intra mass 2.0 folds into the 0->0 self-loop; the 1->2 arc stays
    # one-directional (no symmetrized twin)
    assert rows[(0, 0)] == 2.0
    assert rows[(0, 1)] == 1.0
    assert (1, 0) not in rows


def test_smart_init_matches_first_iteration(spark):
    g = fixtures.karate(spark)
    plain = louvain_one_phase(g)
    warm = louvain_one_phase(g, init_assign=smart_init_assignment(g))
    # initCommAssOpt == the kernel's iteration 1, so the warm run follows
    # the same trajectory one step ahead: same converged Q, one fewer iter
    assert abs(warm.modularity - plain.modularity) < 1e-12
    assert warm.iterations == plain.iterations - 1
    a1 = {r.v: r.comm for r in plain.assignment.collect()}
    a2 = {r.v: r.comm for r in warm.assignment.collect()}
    assert a1 == a2


def test_multiphase_smart_init_karate(spark):
    g = fixtures.karate(spark)
    res = louvain(g, smart_init=True)
    assert 0.38 <= res.modularity <= 0.43


def test_salted_gather_identical_results(spark):
    # hub degree 201 > threshold 50 triggers the two-stage salted gather;
    # results must be bit-identical to the unsalted plan
    g = fixtures.star_hub(spark, leaves=200, chords=20)
    plain = louvain_one_phase(g, salt_threshold=10**9)
    salted = louvain_one_phase(g, salt_threshold=50)
    assert abs(plain.modularity - salted.modularity) < 1e-12
    a = {(r.v, r.comm) for r in plain.assignment.collect()}
    b = {(r.v, r.comm) for r in salted.assignment.collect()}
    assert a == b


def test_colored_louvain_multihash_bounded_palette(spark):
    # multihash coloring bounds the sub-sweep count regardless of degree:
    # on the hub fixture (hub degree 60) the palette stays <= 17 classes
    # and the sweep still finds community structure
    from grappolo_spark.operators.coloring import (
        louvain_one_phase_colored,
        multihash_coloring,
    )

    g = fixtures.star_hub(spark, leaves=60, chords=10)
    ncolors = multihash_coloring(g).select("color").distinct().count()
    assert ncolors <= 2 * 2 * 4 + 1
    res = louvain_one_phase_colored(
        g, thresh=1e-6, coloring_algo="multihash"
    )
    assert res.modularity > 0.0


def test_cc_local_union_find_matches_star(spark):
    from grappolo_spark.operators.components import connected_components

    # multi-component graph with isolated vertex: two paths + isolated 99
    e = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (10, 11, 1.0), (11, 12, 1.0), (12, 10, 1.0)],
        "src long, dst long, weight double",
    )
    verts = spark.createDataFrame([(v,) for v in [1, 2, 3, 10, 11, 12, 99]], "v long")
    g = Graph.from_edgelist(e, vertices=verts)
    star = {
        r.v: r.component
        for r in connected_components(g, tier="shuffle").collect()
    }
    local = {
        r.v: r.component for r in connected_components(g).collect()
    }
    assert local == star
    assert local[99] == 99 and local[3] == 1 and local[12] == 10


def test_lpa_local_matches_distributed(spark):
    from grappolo_spark.operators.labelprop import label_propagation

    g = fixtures.karate(spark)
    for kwargs in (
        {"max_iters": 3, "stop_on_converge": False},
        {"max_iters": 10, "stop_on_converge": True},
    ):
        dist = {
            r.v: r.label
            for r in label_propagation(g, tier="broadcast", **kwargs).collect()
        }
        loc = {
            r.v: r.label for r in label_propagation(g, **kwargs).collect()
        }
        assert loc == dist


def test_kernel_fused_smart_init_equivalent(spark):
    # the fused in-kernel smart_init must match the standalone
    # smart_init_assignment warm start exactly
    g = fixtures.karate(spark)
    a = louvain_one_phase(g, init_assign=smart_init_assignment(g))
    b = louvain_one_phase(g, smart_init=True)
    assert a.modularity == b.modularity
    assert a.iterations == b.iterations
    assert {(r.v, r.comm) for r in a.assignment.collect()} == {
        (r.v, r.comm) for r in b.assignment.collect()
    }
