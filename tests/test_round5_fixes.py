"""Round-5 regression tests.

Pins the Louvain broadcast-gather edge layout: when the assignment is
broadcast, the kernel partitions the persisted edge table on ``src`` (the
aggregation key of both the gather's groupBy(v, cand) and the argmax's
groupBy(v)), so the whole gather->counter->argmax chain runs with ZERO
exchanges per superstep. The old ``dst`` layout (correct only for the
shuffle-join gather) paid two O(E)-width shuffles per iteration.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _gather_chain_plan(spark, key: str) -> str:
    """The kernel's gather->counter->argmax expression chain over an edge
    table partitioned on ``key``, with the assignment broadcast — mirrors
    louvain_one_phase's broadcast path (operators/louvain.py)."""
    e = spark.range(2000).select(
        (F.col("id") % 97).alias("src"),
        (F.col("id") % 89).alias("dst"),
        F.lit(1.0).alias("weight"),
    )
    a = spark.range(100).select(
        F.col("id").alias("v"), F.col("id").alias("comm")
    )
    edges = e.repartition(key)
    a_dst = a.select(F.col("v").alias("dst"), F.col("comm").alias("comm_dst"))
    gathered = edges.join(F.broadcast(a_dst), "dst").select(
        F.col("src").alias("v"), F.col("comm_dst").alias("cand"), "weight"
    )
    counter = gathered.groupBy("v", "cand").agg(F.sum("weight").alias("wsum"))
    best = counter.groupBy("v").agg(
        F.min_by(F.struct("cand", "wsum"), F.struct(-F.col("wsum"), F.col("cand"))).alias("b")
    )
    return best._jdf.queryExecution().executedPlan().toString()


def test_src_layout_gather_chain_is_exchange_free(spark):
    plan = _gather_chain_plan(spark, "src")
    # exactly ONE hash exchange: the explicit one-time repartition itself;
    # both groupBys reuse the src layout (subset-of-grouping-keys rule)
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_dst_layout_pays_two_agg_shuffles(spark):
    # the contrast that motivated the fix: dst layout leaves both aggs
    # shuffling (repartition + 2 agg exchanges). If a Spark upgrade ever
    # collapses these, the layout choice should be revisited.
    plan = _gather_chain_plan(spark, "dst")
    assert plan.count("Exchange hashpartitioning") == 3, plan


def test_louvain_forced_distributed_matches_local(spark):
    """End-to-end: src-layout kernel output is identical to the driver-local
    numpy tail on a small deterministic graph (belt over the layout swap)."""
    from grappolo_spark.sources.fixtures import grid3d
    from grappolo_spark.operators.multiphase import louvain

    g = grid3d(spark, 6, 6, 4)
    dist = louvain(g, max_phases=2, smart_init=True, tier="driver_state")
    loc = louvain(g, max_phases=2, smart_init=True)
    assert abs(dist.modularity - loc.modularity) < 1e-9
    a = {r["v"]: r["comm"] for r in dist.assignment.collect()}
    b = {r["v"]: r["comm"] for r in loc.assignment.collect()}
    assert a == b


def test_d1_coloring_histogram_golden(spark):
    """Golden-pin the distance-one coloring's class histogram (VERDICT r4 #4).

    The d1 coloring is fully deterministic given its xxhash64 tie-break
    stream (verified stable across local[4]/local[16] and shuffle
    partition counts), so the histogram is value-checkable: a tie-break
    regression would reshape the color classes while the emptiness oracle
    ``coloring_valid`` stayed green. Two fixtures pin the stream; the
    driver's rows-only ``coloring_histogram`` query (parts graph) keeps
    running beside this.
    """
    from grappolo_spark.operators.coloring import (
        color_histogram,
        distance_one_coloring,
    )
    from grappolo_spark.sources.fixtures import grid3d, karate

    got = sorted(
        (r.color, r.size)
        for r in color_histogram(distance_one_coloring(karate(spark))).collect()
    )
    assert got == [(0, 18), (1, 6), (2, 5), (3, 2), (4, 3)]

    got = sorted(
        (r.color, r.size)
        for r in color_histogram(
            distance_one_coloring(grid3d(spark, 4, 4, 4))
        ).collect()
    )
    assert got == [(0, 24), (1, 24), (2, 12), (3, 4)]


def test_d1_coloring_histogram_golden_parts_sf0001(spark):
    """The exact histogram the driver's rows-only query measures, pinned at
    sf0.001 (same parts graph construction as __spark_entry__)."""
    import os

    import pytest

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip("driver testdata not present")
    import __spark_entry__ as M
    from grappolo_spark.operators.coloring import (
        color_histogram,
        distance_one_coloring,
    )

    g = M.build_parts_graph(spark, sf)
    got = sorted(
        (r.color, r.size)
        for r in color_histogram(distance_one_coloring(g)).collect()
    )
    assert got == [
        (0, 31), (1, 28), (2, 25), (3, 19), (4, 18), (5, 18), (6, 17),
        (7, 10), (8, 12), (9, 9), (10, 5), (11, 5), (12, 3),
    ]


def test_bucketed_state_cut_skips_shuffle(spark):
    """A cut_lineage(bucket_by="v") state table read back through the
    catalog carries hashpartitioning(v, n): a co-partitioned join against
    an edge table repartitioned on the same key plans with exactly ONE
    exchange (the edges' own repartition) — the O(V) state side never
    moves. This is the per-iteration analogue of
    test_bucketed_edge_table_skips_shuffle (round 4, durable edges)."""
    from grappolo_spark.plans.iteration import cut_lineage

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
        state = spark.range(1000).select(
            F.col("id").alias("v"), (F.col("id") % 7).alias("comm")
        )
        cut = cut_lineage(state, tag="t5bucket", bucket_by="v", n_buckets=n)
        edges = spark.range(5000).select(
            (F.col("id") % 97).alias("src"),
            (F.col("id") % 89).alias("dst"),
            F.lit(1.0).alias("weight"),
        ).repartition(n, "dst")
        a_dst = cut.select(
            F.col("v").alias("dst"), F.col("comm").alias("comm_dst")
        )
        plan = (
            edges.join(a_dst, "dst")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert plan.count("Exchange hashpartitioning") == 1, plan
        # and the rows survive the round-trip
        assert cut.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_state_rotation_drops_tables(spark):
    """Rotated-out bucketed cuts must drop their catalog tables, not just
    their files — a leaked external table over a deleted path poisons a
    later identically-named write."""
    from grappolo_spark.plans.iteration import cut_lineage

    names = []
    for i in range(4):
        d = spark.range(10 + i).select(F.col("id").alias("v"))
        cut = cut_lineage(d, tag="t5rot", keep_last=2, bucket_by="v", n_buckets=2)
        # the catalog table backing this cut
        names.append(
            [t.name for t in spark.catalog.listTables() if "t5rot" in t.name]
        )
    live = [t.name for t in spark.catalog.listTables() if "t5rot" in t.name]
    assert len(live) == 2, live  # keep_last=2
