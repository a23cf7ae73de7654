from pyspark.sql import functions as F

from grappolo_spark.graph import Graph
from grappolo_spark.operators.louvain import louvain_one_phase, modularity
from grappolo_spark.operators.multiphase import (
    coarsen,
    louvain,
    renumber_contiguously,
)
from grappolo_spark.sources import fixtures


def py_modularity(edges, assign):
    """Independent python re-derivation of Q = e_xx/2m - sum a_c^2/(2m)^2."""
    two_m = sum(w for _, _, w in edges)
    exx = sum(w for u, v, w in edges if assign[u] == assign[v])
    deg = {}
    for u, v, w in edges:
        deg[u] = deg.get(u, 0) + w
    ac = {}
    for v, c in assign.items():
        ac[c] = ac.get(c, 0) + deg.get(v, 0)
    return exx / two_m - sum(a * a for a in ac.values()) / (two_m * two_m)


def test_one_phase_karate_improves_modularity(spark):
    g = fixtures.karate(spark)
    res = louvain_one_phase(g)
    assert res.iterations >= 2
    edges = [(r.src, r.dst, r.weight) for r in g.edges.collect()]
    assign = {r.v: r.comm for r in res.assignment.collect()}
    q = py_modularity(edges, assign)
    assert abs(q - res.modularity) < 1e-9  # reported Q matches formula
    # exact parity with a pure-python simulation of the reference kernel
    # (parallelLouvainMethod.cpp Jacobi semantics): karate phase-1 converges
    # to prevMod = 0.19123931623931625 after 4 iterations
    assert abs(res.modularity - 0.19123931623931625) < 1e-12
    assert res.iterations == 4


def test_multiphase_karate_modularity(spark):
    g = fixtures.karate(spark)
    res = louvain(g)
    # public knowledge: Louvain on karate converges to Q ~ 0.41-0.42
    assert 0.38 <= res.modularity <= 0.43
    assert 2 <= res.num_clusters <= 6
    # history trajectory is non-decreasing
    mods = [h["modularity"] for h in res.phase_history]
    assert all(b >= a - 1e-12 for a, b in zip(mods, mods[1:]))
    # assignment covers all 34 vertices with the reported cluster count
    assign = {r.v: r.comm for r in res.assignment.collect()}
    assert len(assign) == 34
    assert len(set(assign.values())) == res.num_clusters


def test_renumber_first_appearance(spark):
    df = spark.createDataFrame(
        [(0, 7), (1, 3), (2, 7), (3, -1), (4, 5)], "v long, comm long"
    )
    out, k = renumber_contiguously(df)
    m = {r.v: r.comm for r in out.collect()}
    # communities ordered by min member id: 7 (min member 0) -> 0,
    # 3 (min member 1) -> 1, 5 (min member 4) -> 2; sentinel stays -1
    assert m == {0: 0, 1: 1, 2: 0, 3: -1, 4: 2}
    assert k == 3


def test_coarsen_conserves_weight(spark):
    g = fixtures.karate(spark)
    assign = g.vertex_ids().select("v", (F.col("v") % 3).alias("comm"))
    cg = coarsen(g, assign)
    assert cg.total_weight_2m() == g.total_weight_2m()
    # every cluster has a self-loop row (placeholder rule)
    loops = {r.src for r in cg.edges.filter("src = dst").collect()}
    assert loops == {0, 1, 2}


def test_swap_protection_two_singletons(spark):
    # single edge 0-1: without swap protection both would hop forever;
    # with it, vertex 1 joins 0 (min label) and 0 stays
    g = Graph.from_pairs(spark, [(0, 1)])
    res = louvain(g)
    assign = {r.v: r.comm for r in res.assignment.collect()}
    assert assign[0] == assign[1] == 0


def test_capped_louvain_reports_the_returned_q(spark):
    """A run stopped by ``max_phases`` or ``max_total_iters`` reports the
    Q of the assignment it returns (not the phase before it), and a
    binding ``max_phases=k`` runs k phases — on the local tail, the
    distributed loop and the colored phases of the numpy loop."""
    g = fixtures.karate(spark)
    edges = [(r.src, r.dst, r.weight) for r in g.edges.collect()]
    assert louvain(g).phases >= 3  # so max_phases=2 binds
    routes = (
        {},
        {"tier": "broadcast"},
        {"coloring": True, "min_graph_size": 10, "coloring_algo": "multihash"},
    )
    caps = (({"max_phases": 1}, 1), ({"max_phases": 2}, 2),
            ({"max_total_iters": 1}, 1))
    for route in routes:
        for cap, phases in caps:
            res = louvain(g, **cap, **route)
            assert (res.phases, len(res.phase_history)) == (phases, phases)
            assign = {r.v: r.comm for r in res.assignment.collect()}
            assert abs(res.modularity - py_modularity(edges, assign)) < 1e-12
