import numpy as np
import pytest

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


def _ranks(g, **kw):
    return {r.v: r.rank for r in pagerank(g, **kw).collect()}


def test_pagerank_local_tier_matches_distributed_tiers(spark):
    """The local tier agrees with the broadcast and shuffle tiers within
    1e-12 relative on an unweighted, a fractionally weighted (with a
    self-loop) and a directed dangling graph, and under ``tol``. A
    ``tol`` run that stopped one superstep early or late would differ by
    far more than 1e-12 (checked against the numpy reference)."""
    karate = fixtures.karate(spark)
    weighted = Graph.from_pairs(
        spark,
        [(0, 1, 0.3), (1, 2, 1.7), (2, 0, 2.5), (2, 3, 0.25), (3, 4, 5.0),
         (4, 5, 1.1), (5, 3, 0.6), (6, 6, 2.0), (6, 1, 0.9)],
    )
    dangling = Graph.from_edgelist(
        spark.createDataFrame(
            [(0, 1, 1.0), (1, 2, 2.0), (0, 3, 0.5), (3, 1, 1.5), (4, 0, 1.0),
             (3, 5, 1.0)],
            "src long, dst long, weight double",
        ),
        directed=True,
    )  # 2 and 5 are dangling
    runs = [
        ("karate", karate, {"max_iters": 5}),
        ("weighted_selfloop", weighted, {"max_iters": 5}),
        ("directed_dangling", dangling, {"max_iters": 5}),
        ("karate_tol", karate, {"max_iters": 100, "tol": 1e-3}),
    ]
    for name, g, kw in runs:
        local = _ranks(g, tier="local", **kw)
        assert abs(sum(local.values()) - 1.0) < 1e-12, name
        for tier in ("broadcast", "shuffle"):
            other = _ranks(g, tier=tier, **kw)
            assert other.keys() == local.keys(), (name, tier)
            for v, r in local.items():
                assert abs(r - other[v]) <= 1e-12 * other[v], (name, tier, v)

    # the tol run's superstep count: the numpy reference's stopping step
    edges = _collect_edges(karate)
    vs = sorted({u for u, _, _ in edges})
    tol_ranks = _ranks(karate, tier="local", max_iters=100, tol=1e-3)
    prev = numpy_pagerank(edges, vs, iters=0)
    for k in range(1, 100):
        cur = numpy_pagerank(edges, vs, iters=k)
        if sum(abs(cur[v] - prev[v]) for v in vs) < 1e-3:
            break
        prev = cur
    assert all(abs(tol_ranks[v] - cur[v]) < 1e-12 for v in vs)
    assert max(abs(tol_ranks[v] - prev[v]) for v in vs) > 1e-9


def test_pagerank_local_tier_ignores_row_order(spark):
    """The local tier sums in one canonical order, so the same edge rows
    in shuffled order or repartitioned give bit-identical ranks (real
    weights and duplicate pairs make the summation order visible)."""
    rng = np.random.default_rng(5)
    rows = [
        (int(u), int(v), float(w))
        for u, v, w in zip(
            rng.integers(0, 150, 600), rng.integers(0, 150, 600),
            rng.random(600) * 3.0 + 0.01,
        )
    ]
    rows += [(u, v, w * 0.5) for u, v, w in rows[:40]]  # duplicate pairs
    schema = "src long, dst long, weight double"

    def ranks(rs, parts=None):
        df = spark.createDataFrame(rs, schema)
        if parts:
            df = df.repartition(parts)
        out = pagerank(Graph(edges=df, directed=True), max_iters=15, tier="local")
        return {r.v: r.rank for r in out.collect()}

    base = ranks(rows)
    shuffled = [rows[i] for i in rng.permutation(len(rows))]
    assert ranks(shuffled) == base
    assert ranks(rows, parts=7) == base


@pytest.mark.parametrize(
    "tier", [None, "local", "driver_state", "broadcast", "shuffle"]
)
def test_pagerank_rejects_unsymmetrized_undirected_graph(spark, tier):
    """Graph(directed=False) promises each (u, v) row with its (v, u)
    twin. On a table that breaks it every tier raises the same error
    instead of ranking a tier-dependent vertex set (local: 4 vertices,
    sum 1; broadcast: the 3 sources, sum 0.555)."""
    df = spark.createDataFrame(
        [(0, 1, 1.0), (1, 3, 1.0), (3, 0, 1.0), (1, 2, 1.0)],
        "src long, dst long, weight double",
    )
    with pytest.raises(ValueError, match=r"symmetrized.*endpoints \[2\]"):
        pagerank(Graph(edges=df), max_iters=2, tier=tier).collect()
    # the same rows as arcs are a valid directed graph on every tier
    if tier != "driver_state":  # pagerank has no driver_state tier
        ranks = pagerank(Graph(edges=df, directed=True), max_iters=2, tier=tier)
        assert abs(sum(r.rank for r in ranks.collect()) - 1.0) < 1e-12
