import random

from grappolo_spark.graph import Graph
from grappolo_spark.operators.components import connected_components
from grappolo_spark.sources import fixtures
from tests.conftest import union_find


def test_cc_two_components_and_isolated(spark):
    g = Graph.from_pairs(spark, [(0, 1), (1, 2), (5, 6)])
    g.vertices = spark.createDataFrame([(9,)], "v long")
    out = {r.v: r.component for r in connected_components(g).collect()}
    assert out == {0: 0, 1: 0, 2: 0, 5: 5, 6: 5, 9: 9}


def test_cc_random_vs_union_find(spark):
    rng = random.Random(7)
    edges = set()
    for _ in range(300):
        u, v = rng.randrange(200), rng.randrange(200)
        if u != v:
            edges.add((min(u, v), max(u, v)))
    oracle = union_find(edges)
    g = Graph.from_pairs(spark, sorted(edges))
    out = {r.v: r.component for r in connected_components(g).collect()}
    assert out == oracle


def test_cc_grid_single_component(spark):
    g = fixtures.grid2d(spark, 5, 7)
    out = connected_components(g)
    comps = out.select("component").distinct().collect()
    assert len(comps) == 1 and comps[0].component == 0
