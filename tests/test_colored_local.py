"""Colored Louvain on the driver: the numpy distance-one coloring replays
the Spark one, and a coloring run whose edge table is in driver arrays
runs every phase, colored or plain, in the one numpy multiphase loop.
"""

from __future__ import annotations

import numpy as np
import pytest

from grappolo_spark.graph import Graph
from grappolo_spark.plans import tiers as T
from tests.test_round6_fixes import _multiphase_tuple


def _self_loop_graph(spark):
    return Graph.from_pairs(
        spark,
        [(0, 1, 2.0), (1, 2, 1.0), (2, 0, 1.0), (2, 3, 3.0), (3, 3, 2.0),
         (4, 4, 1.0), (3, 5, 1.0), (5, 6, 1.0), (6, 3, 1.0), (7, 7, 5.0)],
    )


@pytest.mark.parametrize("seed", [12345, 7])
def test_distance_one_numpy_matches_spark(spark, seed):
    """One Spark coloring per seed covers all four shapes: they are laid
    side by side as the components of one graph (karate at its own ids,
    the others shifted to far-apart id ranges). Proposals and conflicts
    never cross components, so each shape is colored as a graph of its
    own, under the shifted ids' hashes."""
    from pyspark.sql import functions as F

    from grappolo_spark.operators.coloring import (
        _distance_one_colors_np,
        distance_one_coloring,
    )
    from grappolo_spark.sources.fixtures import grid3d, karate, star_hub

    parts = [
        karate(spark),
        grid3d(spark, 3, 4, 5),
        star_hub(spark, leaves=60, chords=30),
        _self_loop_graph(spark),
    ]
    edges = None
    for i, part in enumerate(parts):
        off = F.lit(i * 1_000_003)
        shifted = part.edges.select(
            (F.col("src") + off).alias("src"),
            (F.col("dst") + off).alias("dst"),
            "weight",
        )
        edges = shifted if edges is None else edges.unionByName(shifted)
    g = Graph(edges=edges)
    want = {
        r["v"]: r["color"] for r in distance_one_coloring(g, seed=seed).collect()
    }
    es, ed, _, ids = T.graph_facts(g, T.LOCAL_EDGE_ROWS).arrays
    s_idx = np.searchsorted(ids, es)
    d_idx = np.searchsorted(ids, ed)
    m = s_idx != d_idx
    got = _distance_one_colors_np(ids, s_idx[m], d_idx[m], seed=seed)
    assert {int(v): int(c) for v, c in zip(ids, got)} == want
    assert len(set(want.values())) > 2


def _all_colored(g, **kw):
    from grappolo_spark.operators.multiphase import louvain

    return louvain(g, coloring=True, min_graph_size=1, num_colors_cap=8, **kw)


def test_all_colored_loop_matches_driver_state(spark):
    """Every phase colored: the numpy loop equals the per-phase Spark
    route (driver_state class jobs, coarsen_cut between phases) with the
    distance-one coloring, on karate and grid3d(3,3,3). With cap 8,
    ``auto`` resolves to multihash on karate (max degree 17) and to
    distance_one on grid3d (max degree 6). The all-colored multihash runs
    of both graphs take at most 3 phases, so
    test_round6_fixes.py::test_multiphase_colored_np_continuation_matches
    (min_graph_size=1, max_phases=3) pins them against driver_state."""
    from grappolo_spark.sources.fixtures import grid3d, karate

    cases = (
        (karate(spark), "multihash"),
        (grid3d(spark, 3, 3, 3), "distance_one"),
    )
    for g, auto_is in cases:
        local = {
            algo: _all_colored(g, coloring_algo=algo)
            for algo in ("auto", "distance_one", "multihash")
        }
        assert all(len(r.phase_history) > 1 for r in local.values())
        for r in local.values():
            assert {h["tier"] for h in r.phase_history} == {"local"}
            assert all(h["colored"] for h in r.phase_history)
        assert _multiphase_tuple(local["auto"]) == _multiphase_tuple(
            local[auto_is]
        )
        forced = _all_colored(g, coloring_algo="distance_one", tier="driver_state")
        assert {h["tier"] for h in forced.phase_history} == {"driver_state"}
        assert _multiphase_tuple(local["distance_one"]) == _multiphase_tuple(
            forced
        )


def test_all_colored_loop_one_probe_no_coarsen_cut(spark, monkeypatch):
    """On one Graph the all-colored run collects the edge table once and
    never writes a coarse graph."""
    from grappolo_spark.operators import multiphase as M
    from grappolo_spark.sources.fixtures import karate

    g = karate(spark)
    collects, cuts = [], []
    probe, cut = T.collect_probe, M.coarsen_cut

    def counting_probe(graph, bound, facts):
        if graph is g and not (facts.edge_rows or 0) > bound:
            collects.append(bound)
        return probe(graph, bound, facts)

    def counting_cut(*a, **kw):
        cuts.append(1)
        return cut(*a, **kw)

    monkeypatch.setattr(T, "collect_probe", counting_probe)
    monkeypatch.setattr(M, "coarsen_cut", counting_cut)
    res = _all_colored(g, coloring_algo="multihash")
    assert res.phases > 1 and res.phase_history[1]["colored"]
    assert collects == [T.DRIVER_EDGE_ROWS]
    assert cuts == []
