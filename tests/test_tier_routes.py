"""Tier arguments at the operator surface: the kept ``local_threshold``,
forced tiers the facts cannot support, and the flags the multiphase coarse
rebuild hands to the planner."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from grappolo_spark.operators.components import connected_components
from grappolo_spark.operators.labelprop import label_propagation
from grappolo_spark.operators.multiphase import coarsen_cut, louvain
from grappolo_spark.sources.fixtures import karate


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_local_threshold_zero_excludes_local_tier(spark):
    """``local_threshold=0`` (what the frozen harness passes) means "no
    local tier": the same results as forcing the distributed tiers; any
    other non-default value is rejected."""
    g = karate(spark)
    assert _rows(connected_components(g, local_threshold=0)) == _rows(
        connected_components(g, tier="shuffle")
    )
    lpa = dict(max_iters=3, stop_on_converge=False)
    assert _rows(label_propagation(g, local_threshold=0, **lpa)) == _rows(
        label_propagation(g, tier="broadcast", **lpa)
    )
    r0 = louvain(g, max_phases=3, local_threshold=0)
    assert {h["tier"] for h in r0.phase_history} == {"driver_state"}
    colored = dict(
        max_phases=3, coloring=True, min_graph_size=5, num_colors_cap=8,
        coloring_algo="multihash",
    )
    r0 = louvain(g, local_threshold=0, **colored)
    assert "local" not in {h["tier"] for h in r0.phase_history}
    assert r0.modularity == louvain(g, tier="driver_state", **colored).modularity
    for call in (
        lambda: connected_components(g, local_threshold=10),
        lambda: label_propagation(g, local_threshold=10**9),
        lambda: louvain(g, local_threshold=1),
        lambda: connected_components(g, local_threshold=0, tier="local"),
    ):
        with pytest.raises(ValueError, match="local"):
            call()


def test_forced_tier_the_facts_cannot_support_raises(spark, tmp_path):
    from grappolo_spark.graph import Graph
    from grappolo_spark.operators.louvain import louvain_one_phase
    from grappolo_spark.operators.pagerank import pagerank

    g = karate(spark)
    with_vertices = Graph(
        edges=g.edges, vertices=g.vertex_ids(), unweighted=g.unweighted
    )
    with pytest.raises(ValueError):
        label_propagation(
            with_vertices, tier="local", run_dir=str(tmp_path / "lpa")
        )
    with pytest.raises(ValueError):
        pagerank(g, tier="driver_state", tol=1e-9)
    with pytest.raises(ValueError):
        louvain_one_phase(g, tier="driver_state", sample_fraction=0.5)
    with pytest.raises(ValueError):
        louvain(g, tier="local", sample_fraction=0.5)


def test_coarse_rebuild_keeps_graph_flags(spark):
    """The multiphase coarse rebuild keeps coarsen()'s flags: ``deduped``
    (coarse colored phases then skip the pair distinct) and
    ``unweighted``."""
    from grappolo_spark.operators.multiphase import coarsen

    g = karate(spark)
    assign = g.vertex_ids().select("v", (F.col("v") % 4).alias("comm"))
    want = coarsen(g, assign)
    got = coarsen_cut(g, assign, 4)
    assert got.deduped and want.deduped
    assert got.unweighted == want.unweighted
    assert got.directed == want.directed
    assert got.edges.count() == got.edges.select("src", "dst").distinct().count()
    assert _rows(got.edges) == _rows(want.edges)


def test_cold_star_run_takes_its_id_bound_from_the_cut(spark, monkeypatch):
    """The star path on a cold memo reads the id bound off its pair cut:
    no stats aggregation (a second evaluation of the edge pipeline), the
    bound is remembered, and the labels are unchanged."""
    from grappolo_spark.plans import tiers as T

    want = _rows(connected_components(karate(spark), local_threshold=0))
    actions = []
    monkeypatch.setattr(T, "_stats_action", lambda *a: actions.append(a))
    g = karate(spark)
    assert _rows(connected_components(g, local_threshold=0)) == want
    assert actions == []
    facts = T.graph_facts(g)
    assert (facts.id_lo, facts.id_hi) == (0, 33)
