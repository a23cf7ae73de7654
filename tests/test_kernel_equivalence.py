"""Randomized equivalence: the distributed DataFrame kernels and the
driver-local numpy kernels must produce IDENTICAL results on seeded
random weighted graphs (integer weights — exact arithmetic on both
sides), not just on the fixed fixtures. This pins the r3 rewrites
(single-pass argmax, reduced-score ordering, vectorized CC local path)
against each other and against an independent python oracle."""

import random

import pytest
from pyspark.sql import functions as F

from grappolo_spark.graph import Graph
from tests.conftest import union_find


def _random_graph(spark, seed, n=40, p=0.12, wmax=4):
    rng = random.Random(seed)
    edges = []
    for u in range(n):
        for v in range(u + 1, n):
            if rng.random() < p:
                edges.append((u, v, float(rng.randint(1, wmax))))
    if not edges:
        edges = [(0, 1, 1.0)]
    return Graph.from_pairs(spark, edges), edges


@pytest.mark.parametrize("seed", [11, 23, 37])
def test_cc_star_matches_local_and_oracle_random(spark, seed):
    from grappolo_spark.operators.components import connected_components

    g, edges = _random_graph(spark, seed)
    star = {
        r.v: r.component
        for r in connected_components(g, tier="shuffle").collect()
    }
    local = {
        r.v: r.component for r in connected_components(g).collect()
    }
    oracle = union_find([(u, v) for u, v, _ in edges])
    assert star == local
    for v, c in oracle.items():
        assert star[v] == c


@pytest.mark.parametrize("seed", [11, 23])
def test_louvain_phase_local_matches_distributed_random(spark, seed):
    from grappolo_spark.operators.multiphase import louvain

    g, _ = _random_graph(spark, seed)
    for smart in (False, True):
        dist = louvain(g, max_phases=1, smart_init=smart, tier="broadcast")
        loc = louvain(g, max_phases=1, smart_init=smart, tier="local")
        a = {r.v: r.comm for r in dist.assignment.collect()}
        b = {r.v: r.comm for r in loc.assignment.collect()}
        assert a == b, f"seed={seed} smart={smart}"
        assert dist.total_iterations == loc.total_iterations
        assert dist.modularity == pytest.approx(loc.modularity, abs=1e-12)


@pytest.mark.parametrize("seed", [11, 23])
def test_lpa_local_matches_distributed_random(spark, seed):
    from grappolo_spark.operators.labelprop import label_propagation

    g, _ = _random_graph(spark, seed)
    dist = {
        r.v: r.label
        for r in label_propagation(
            g, max_iters=3, stop_on_converge=False, tier="broadcast"
        ).collect()
    }
    loc = {
        r.v: r.label
        for r in label_propagation(
            g, max_iters=3, stop_on_converge=False
        ).collect()
    }
    assert dist == loc


def test_multiphase_local_matches_distributed_weighted(spark):
    # integer-weighted random graph end-to-end through the multiphase
    # driver: forced-distributed vs local-tail must agree exactly
    from grappolo_spark.operators.multiphase import louvain

    g, _ = _random_graph(spark, seed=101, n=50, p=0.15, wmax=3)
    dist = louvain(g, max_phases=3, smart_init=True, tier="driver_state")
    loc = louvain(g, max_phases=3, smart_init=True)
    a = {r.v: r.comm for r in dist.assignment.collect()}
    b = {r.v: r.comm for r in loc.assignment.collect()}
    assert a == b
    assert dist.num_clusters == loc.num_clusters
    assert dist.modularity == pytest.approx(loc.modularity, abs=1e-9)
