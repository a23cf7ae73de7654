import pytest

from grappolo_spark.graph import Graph
from grappolo_spark.operators.labelprop import label_propagation
from grappolo_spark.operators.triangles import triangle_count
from grappolo_spark.sources import fixtures


def test_lpa_two_cliques(spark):
    # two triangles joined by one bridge edge: labels converge to clique minima
    g = Graph.from_pairs(
        spark, [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12), (10, 12), (2, 10)]
    )
    out = {r.v: r.label for r in label_propagation(g, max_iters=10).collect()}
    assert out[0] == out[1] == out[2] == 0
    assert out[10] == out[11] == out[12]


def test_lpa_min_label_tiebreak(spark):
    # path 0-1-2: vertex 1 sees labels {0,2} equal weight -> picks 0 (min)
    g = Graph.from_pairs(spark, [(0, 1), (1, 2)])
    out = {r.v: r.label for r in label_propagation(g, max_iters=1).collect()}
    assert out[1] == 0


@pytest.mark.parametrize("tier", [None, "local", "broadcast", "shuffle"])
def test_lpa_rejects_unsymmetrized_undirected_graph(spark, tier):
    """Graph(directed=False) promises each (u, v) row with its (v, u)
    twin; every LPA tier raises on a table that breaks it, as PageRank's
    do, instead of labelling a tier-dependent vertex set."""
    df = spark.createDataFrame(
        [(0, 1, 1.0), (1, 3, 1.0), (3, 0, 1.0), (1, 2, 1.0)],
        "src long, dst long, weight double",
    )
    with pytest.raises(ValueError, match=r"label_propagation: .*symmetrized.*endpoints \[2\]"):
        label_propagation(Graph(edges=df), max_iters=2, tier=tier).collect()
    # the same rows as arcs are a valid directed graph on every tier
    labels = label_propagation(Graph(edges=df, directed=True), max_iters=2, tier=tier)
    assert {r.v for r in labels.collect()} == {0, 1, 2, 3}


def test_triangles_karate(spark):
    g = fixtures.karate(spark)
    total = triangle_count(g).collect()[0].triangles
    assert total == 45  # known count for Zachary karate club


def test_triangles_grid_zero_and_clique(spark):
    assert triangle_count(fixtures.grid2d(spark, 4, 5)).collect()[0].triangles == 0
    k4 = Graph.from_pairs(spark, [(i, j) for i in range(4) for j in range(i + 1, 4)])
    assert triangle_count(k4).collect()[0].triangles == 4
    pv = {r.v: r.triangles for r in triangle_count(k4, per_vertex=True).collect()}
    assert pv == {0: 3, 1: 3, 2: 3, 3: 3}
