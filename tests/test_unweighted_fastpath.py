"""Unweighted fast-path equivalence (Graph.unweighted).

When the source table had no weight column, every edge weight is the
literal 1.0 by construction (``canonical_edges``), so the iterative
operators may drop the 8-byte weight column from their per-superstep
gathers and aggregate with count(*) instead of sum(weight). These tests
pin the invariant the optimization rests on: the narrow plans produce
EXACTLY the results of the weighted plans on the same graph — integer
counts ≤ 2^53 are exact doubles, and x·1.0 ≡ x, so no FP drift is
tolerated (louvain/lpa exact; pagerank to 1e-15, the summation-order
allowance).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from grappolo_spark.graph import Graph


def _pair_df(spark, seed: int = 7, n: int = 400, verts: int = 60):
    """Deterministic pseudo-random pair table WITHOUT a weight column."""
    return (
        spark.range(n)
        .select(
            F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(verts)).alias("src"),
            F.pmod(F.xxhash64("id", F.lit(seed + 1)), F.lit(verts)).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )


def _graph_pair(spark):
    """The same graph twice: flag ON (no weight column in the source) and
    flag OFF (explicit weight column of literal 1.0)."""
    pairs = _pair_df(spark)
    g_narrow = Graph.from_edgelist(pairs)
    g_wide = Graph.from_edgelist(pairs.withColumn("weight", F.lit(1.0)))
    assert g_narrow.unweighted is True
    assert g_wide.unweighted is False
    return g_narrow, g_wide


def test_unweighted_flag_construction(spark):
    pairs = _pair_df(spark)
    assert Graph.from_edgelist(pairs).unweighted is True
    assert (
        Graph.from_edgelist(pairs.withColumn("weight", F.lit(2.0))).unweighted
        is False
    )
    # the layout helper must not lose the invariant
    assert Graph.from_edgelist(pairs).partition_by_src(4).unweighted is True
    # from_pairs: 2-tuples -> unweighted, any real weight -> not
    assert Graph.from_pairs(spark, [(0, 1), (1, 2)]).unweighted is True
    assert Graph.from_pairs(spark, [(0, 1, 2.5), (1, 2)]).unweighted is False
    # 3-tuples that are all exactly 1.0 are unweighted by value
    assert Graph.from_pairs(spark, [(0, 1, 1.0), (1, 2, 1.0)]).unweighted is True


def test_louvain_gather_count_path_exact(spark):
    from grappolo_spark.operators.louvain import louvain_one_phase

    g_narrow, g_wide = _graph_pair(spark)
    rn = louvain_one_phase(g_narrow, max_iters=3, thresh=-1e9)
    rw = louvain_one_phase(g_wide, max_iters=3, thresh=-1e9)
    assert rn.iterations == rw.iterations
    assert rn.modularity == rw.modularity  # exact, not approx
    a = {r["v"]: r["comm"] for r in rn.assignment.collect()}
    b = {r["v"]: r["comm"] for r in rw.assignment.collect()}
    assert a == b


def test_pagerank_narrow_cache_exact(spark):
    from grappolo_spark.operators.pagerank import pagerank

    g_narrow, g_wide = _graph_pair(spark)
    a = {r["v"]: r["rank"] for r in pagerank(g_narrow, max_iters=5).collect()}
    b = {r["v"]: r["rank"] for r in pagerank(g_wide, max_iters=5).collect()}
    assert a.keys() == b.keys()
    for v in a:
        assert a[v] == pytest.approx(b[v], abs=1e-15)


def test_lpa_count_path_exact(spark):
    from grappolo_spark.operators.labelprop import label_propagation

    g_narrow, g_wide = _graph_pair(spark)
    a = {
        r["v"]: r["label"]
        for r in label_propagation(
            g_narrow, max_iters=3, stop_on_converge=False, tier="broadcast"
        ).collect()
    }
    b = {
        r["v"]: r["label"]
        for r in label_propagation(
            g_wide, max_iters=3, stop_on_converge=False, tier="broadcast"
        ).collect()
    }
    assert a == b


def test_multiphase_carries_flag_phase1(spark):
    """End-to-end multiphase over an unweighted source equals the weighted
    run (phase 1 takes the narrow gather; coarse phases are weighted by
    construction either way)."""
    from grappolo_spark.operators.multiphase import louvain

    g_narrow, g_wide = _graph_pair(spark)
    rn = louvain(g_narrow, max_phases=2, tier="driver_state")
    rw = louvain(g_wide, max_phases=2, tier="driver_state")
    assert rn.modularity == rw.modularity
    a = {r["v"]: r["comm"] for r in rn.assignment.collect()}
    b = {r["v"]: r["comm"] for r in rw.assignment.collect()}
    assert a == b
