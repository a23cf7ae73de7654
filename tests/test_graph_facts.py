"""Facts live on the Graph: one bounded probe per graph, shared by every
operator, and the numpy coarsen the multiphase numpy loop relies on.
"""

from __future__ import annotations

import numpy as np
import pytest

from grappolo_spark.graph import Graph
from grappolo_spark.plans import tiers as T


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _operator_calls():
    """PageRank, CC, LPA, Louvain and colored Louvain, each as one call
    returning comparable values."""
    from grappolo_spark.operators import (
        connected_components,
        label_propagation,
        pagerank,
    )
    from grappolo_spark.operators.multiphase import louvain

    def clustering(**kw):
        def run(g):
            res = louvain(g, **kw)
            return res.modularity, res.phases, _rows(res.assignment, "v", "comm")
        return run

    return [
        lambda g: _rows(pagerank(g, max_iters=5), "v", "rank"),
        lambda g: _rows(connected_components(g), "v", "component"),
        lambda g: _rows(label_propagation(g, max_iters=3), "v", "label"),
        clustering(),
        clustering(coloring=True, min_graph_size=5, num_colors_cap=8,
                   coloring_algo="multihash"),
    ]


def test_one_probe_per_graph(spark, monkeypatch):
    """PageRank, CC, LPA, Louvain and colored Louvain on one Graph run ONE
    bounded collect of its edge table between them, and each output
    equals the same call on a fresh Graph."""
    from grappolo_spark.sources.fixtures import karate

    calls = _operator_calls()
    fresh = [call(karate(spark)) for call in calls]
    g = karate(spark)
    collects = []
    probe = T.collect_probe

    def counting_probe(graph, bound, facts):
        if graph is g and not (facts.edge_rows or 0) > bound:
            collects.append(bound)
        return probe(graph, bound, facts)

    monkeypatch.setattr(T, "collect_probe", counting_probe)
    shared = [call(g) for call in calls]
    assert collects == [T.LOCAL_EDGE_ROWS]
    assert shared == fresh


def test_setting_vertices_drops_vertex_facts(spark):
    from grappolo_spark.sources.fixtures import karate

    g = karate(spark)
    probed = T.graph_facts(g, T.LOCAL_EDGE_ROWS)
    assert probed.nv == 34 and not probed.explicit_vertices
    assert (probed.id_lo, probed.id_hi) == (0, 33)
    g.vertices = spark.createDataFrame([(i,) for i in range(36)], "v long")
    after = T.graph_facts(g)
    assert after.explicit_vertices
    assert after.nv is None and after.id_lo is None and after.id_hi is None
    # the edge table's facts stay: no second collect
    assert after.arrays is probed.arrays and after.edge_rows == probed.edge_rows
    assert T.graph_facts(g, T.LOCAL_EDGE_ROWS).arrays is probed.arrays
    # |V| learned with the new vertex table holds for it
    T.remember(g, nv=36)
    assert T.graph_facts(g).nv == 36


def test_memo_arrays_are_read_only(spark):
    from grappolo_spark.sources.fixtures import karate

    g = karate(spark)
    arrays = T.graph_facts(g, T.LOCAL_EDGE_ROWS).arrays
    assert len(arrays) == 4
    for a in arrays:
        with pytest.raises(ValueError):
            a[0] = a[0]
    g.unpersist()
    assert T.graph_facts(g).arrays is None


def test_coarse_graph_carries_its_facts(spark):
    """coarsen_cut hands the next phase |V|, dense ids, 2m and integer
    weights, so a coarse phase runs no stats action."""
    from grappolo_spark.operators.multiphase import coarsen_cut
    from grappolo_spark.sources.fixtures import karate

    g = karate(spark)
    T.remember(g, two_m=156.0, integer_weights=True)
    assign = spark.createDataFrame(
        [(v, v // 10) for v in range(34)], "v long, comm long"
    )
    coarse = coarsen_cut(g, assign, 4)
    f = T.graph_facts(coarse)
    assert (f.nv, f.id_lo, f.id_hi, f.edge_rows) == (4, 0, 3, 4)
    assert f.two_m == 156.0 and f.integer_weights and f.arrays is None
    two_m = coarse.edges.groupBy().sum("weight").collect()[0][0]
    assert two_m == 156.0


def _coarsen_both(spark, g, comm_of):
    """(numpy coarsen rows, Spark coarsen rows) for one assignment."""
    from grappolo_spark.operators.louvain import _coarsen_np
    from grappolo_spark.operators.multiphase import coarsen

    e = g.edges.toPandas()
    src = e["src"].to_numpy(np.int64)
    dst = e["dst"].to_numpy(np.int64)
    w = e["weight"].to_numpy(np.float64)
    ids = np.unique(np.concatenate([src, dst]))
    assign = np.array([comm_of[int(v)] for v in ids], dtype=np.int64)
    k = int(assign.max()) + 1
    ts, td, tw = _coarsen_np(
        assign, np.searchsorted(ids, src), np.searchsorted(ids, dst), w, k
    )
    got = sorted(zip(ts.tolist(), td.tolist(), tw.tolist()))
    adf = spark.createDataFrame(
        [(int(v), int(c)) for v, c in zip(ids, assign)], "v long, comm long"
    )
    want = _rows(coarsen(g, adf).edges, "src", "dst", "weight")
    return got, want


def test_coarsen_np_matches_spark_coarsen(spark):
    """``_coarsen_np`` emits exactly coarsen()'s row multiset, zero-weight
    placeholders included: a placeholder is added only for a cluster with
    no self-loop row, so its row count equals the Spark coarse count."""
    from grappolo_spark.sources.fixtures import karate

    # karate, partial assignment: vertices 0-11 merged in threes, the rest
    # singletons
    comm_of = {v: v // 3 if v < 12 else v - 8 for v in range(34)}
    got, want = _coarsen_both(spark, karate(spark), comm_of)
    assert got == want

    # clusters {0,1} and {2,3} already hold self-loops (an input self-loop
    # and folded intra edges); {4} and {5} get zero-weight placeholders
    g = Graph.from_pairs(
        spark, [(0, 0, 2.0), (0, 1, 3.0), (1, 2, 1.0), (2, 3, 4.0),
                (3, 3, 5.0), (4, 5, 1.0), (3, 4, 2.0)],
    )
    got, want = _coarsen_both(spark, g, {0: 0, 1: 0, 2: 1, 3: 1, 4: 2, 5: 3})
    assert got == want
    assert (2, 2, 0.0) in got and (3, 3, 0.0) in got
    assert (0, 0, 8.0) in got and (1, 1, 13.0) in got


def test_one_stats_action_per_graph(spark, monkeypatch):
    """PageRank, LPA, CC, louvain_one_phase and louvain_one_phase_colored
    with the local tier out of play run ONE stats aggregation between
    them on one Graph, and each output equals the same call on a fresh
    Graph. An integer-weight graph whose probe came back under the bound
    runs none: the probe's arrays supply the stats."""
    from grappolo_spark.operators import (
        connected_components,
        label_propagation,
        pagerank,
    )
    from grappolo_spark.operators.coloring import louvain_one_phase_colored
    from grappolo_spark.operators.louvain import louvain_one_phase
    from grappolo_spark.sources.fixtures import karate

    def phase(res):
        return res.modularity, res.iterations, _rows(res.assignment, "v", "comm")

    calls = [
        lambda g: _rows(pagerank(g, max_iters=5, tier="broadcast"), "v", "rank"),
        lambda g: _rows(
            label_propagation(g, max_iters=3, local_threshold=0), "v", "label"
        ),
        lambda g: _rows(connected_components(g, local_threshold=0), "v", "component"),
        lambda g: phase(louvain_one_phase(g)),
        lambda g: phase(louvain_one_phase_colored(
            g, tier="driver_state", num_colors_cap=8, coloring_algo="multihash"
        )),
    ]
    fresh = [call(karate(spark)) for call in calls]
    actions = []
    action = T._stats_action

    def counting_action(graph, degrees):
        actions.append(graph)
        return action(graph, degrees)

    monkeypatch.setattr(T, "_stats_action", counting_action)
    g = karate(spark)
    assert [call(g) for call in calls] == fresh
    assert len(actions) == 1 and actions[0] is g

    probed = karate(spark)
    assert T.graph_facts(probed, T.LOCAL_EDGE_ROWS).integer_weights
    assert [call(probed) for call in calls] == fresh
    assert len(actions) == 1
