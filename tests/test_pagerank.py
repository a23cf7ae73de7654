import numpy as np

from grappolo_spark.graph import Graph
from grappolo_spark.operators.pagerank import pagerank
from grappolo_spark.sources import fixtures
from tests.conftest import numpy_pagerank


def _collect_edges(g):
    return [(r.src, r.dst, r.weight) for r in g.edges.collect()]


def test_pagerank_karate_vs_numpy(spark):
    g = fixtures.karate(spark)
    out = {r.v: r.rank for r in pagerank(g, max_iters=20).collect()}
    oracle = numpy_pagerank(_collect_edges(g), out.keys(), iters=20)
    assert np.allclose(
        [out[v] for v in sorted(out)], [oracle[v] for v in sorted(out)], atol=1e-6
    )
    assert abs(sum(out.values()) - 1.0) < 1e-9


def test_pagerank_torus_uniform(spark):
    # 4-regular torus: PageRank must be uniform (allclose 1e-6)
    g = fixtures.torus2d(spark, 6, 6)
    out = [r.rank for r in pagerank(g, max_iters=30).collect()]
    assert np.allclose(out, 1.0 / 36, atol=1e-6)


def test_pagerank_dangling_directed(spark):
    df = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0)], "src long, dst long, weight double"
    )
    g = Graph.from_edgelist(df, directed=True)
    # vertex 2 is dangling
    out = {r.v: r.rank for r in pagerank(g, max_iters=25).collect()}
    oracle = numpy_pagerank([(0, 1, 1.0), (1, 2, 1.0)], [0, 1, 2], iters=25)
    assert np.allclose(
        [out[v] for v in sorted(out)], [oracle[v] for v in sorted(out)], atol=1e-6
    )
    assert abs(sum(out.values()) - 1.0) < 1e-9


def test_pagerank_broadcast_plan_matches_shuffle_plan(spark):
    from grappolo_spark.sources import fixtures

    g = fixtures.karate(spark)
    a = {r.v: r.rank for r in pagerank(g, max_iters=8, tier="broadcast").collect()}
    b = {r.v: r.rank for r in pagerank(g, max_iters=8, tier="shuffle").collect()}
    assert set(a) == set(b)
    for v in a:
        assert abs(a[v] - b[v]) < 1e-12
