"""Round-3 verdict/advice items: ANN collect guard, smart-init on the
local kernel path, auto palette selection, directed characteristics,
plan-regression guard (no single-partition exchanges / cartesian products
in the hot plans), and the ngram_jaccard exact-by-default contract."""

import io
import contextlib

import pytest
from pyspark.sql import functions as F

from grappolo_spark.graph import Graph
from grappolo_spark.sources import fixtures


# ---------------------------------------------------------------------------
# ANN broadcast-collect guard (VERDICT #5)
# ---------------------------------------------------------------------------


def _emb_df(spark, n=12, dim=4):
    rows = [(i, [float((i * 7 + j * 3) % 5) + 0.5 for j in range(dim)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ann_query_guard_trips(spark):
    from grappolo_spark.functions.similarity_fast import cosine_topk_sharded

    df = _emb_df(spark)
    with pytest.raises(ValueError, match="broadcast-collect bound"):
        cosine_topk_sharded(df, k=3, queries=df, max_collect_rows=5)


def test_ann_guard_allows_small_side_and_exact_guard(spark):
    from grappolo_spark.functions.similarity_fast import (
        cosine_topk_np,
        cosine_topk_sharded,
        embedding_near_dup_pairs,
    )

    df = _emb_df(spark)
    q = df.filter(F.col("vec_id") < 3)
    out = cosine_topk_sharded(df, k=3, queries=q, max_collect_rows=5)
    assert out.count() == 9  # 3 queries x k
    with pytest.raises(ValueError, match="broadcast-collect bound"):
        cosine_topk_np(df, k=3, max_collect_rows=5)
    with pytest.raises(ValueError, match="broadcast-collect bound"):
        embedding_near_dup_pairs(df, method="exact", max_collect_rows=5)


# ---------------------------------------------------------------------------
# smart_init honored on the driver-local kernel path (ADVICE medium)
# ---------------------------------------------------------------------------


def test_smart_init_local_matches_distributed(spark):
    from grappolo_spark.operators.multiphase import louvain

    g = fixtures.karate(spark)
    loc = louvain(g, max_phases=1, smart_init=True, tier="local")
    dist = louvain(g, max_phases=1, smart_init=True, tier="driver_state")
    a = {r.v: r.comm for r in loc.assignment.collect()}
    b = {r.v: r.comm for r in dist.assignment.collect()}
    assert a == b
    assert loc.total_iterations == dist.total_iterations
    assert loc.modularity == pytest.approx(dist.modularity, abs=1e-12)


def test_local_tail_honors_smart_init_trajectory(spark):
    # with the warm start the kernel must need FEWER iterations than the
    # singleton start on karate (the flag used to be silently dropped)
    from grappolo_spark.operators.multiphase import louvain

    g = fixtures.karate(spark)
    cold = louvain(g, max_phases=1, smart_init=False, tier="local")
    warm = louvain(g, max_phases=1, smart_init=True, tier="local")
    assert warm.total_iterations < cold.total_iterations


def test_multiphase_smart_init_local_vs_distributed(spark):
    from grappolo_spark.operators.multiphase import louvain

    g = fixtures.karate(spark)
    # local tail everywhere vs forced-distributed, both with smart_init
    loc = louvain(g, max_phases=3, smart_init=True)
    dist = louvain(g, max_phases=3, smart_init=True, tier="driver_state")
    assert loc.modularity == pytest.approx(dist.modularity, abs=1e-9)
    assert loc.num_clusters == dist.num_clusters
    a = {r.v: r.comm for r in loc.assignment.collect()}
    b = {r.v: r.comm for r in dist.assignment.collect()}
    assert a == b


# ---------------------------------------------------------------------------
# auto palette selection (VERDICT #7)
# ---------------------------------------------------------------------------


def test_auto_palette_picks_multihash_on_hub_graphs(spark):
    from grappolo_spark.operators.coloring import select_coloring_algo

    hub = fixtures.star_hub(spark, leaves=60, chords=5)
    assert select_coloring_algo(hub, num_colors_cap=16) == "multihash"
    assert select_coloring_algo(hub, num_colors_cap=128) == "distance_one"
    assert select_coloring_algo(fixtures.karate(spark), 1024) == "distance_one"


def test_auto_colored_louvain_bounded_on_hub(spark):
    # auto must route the hub graph through the bounded palette and still
    # produce an improving clustering (hub absorbs leaves)
    from grappolo_spark.operators.coloring import louvain_one_phase_colored

    hub = fixtures.star_hub(spark, leaves=40, chords=5)
    res = louvain_one_phase_colored(
        hub, thresh=1e-6, num_colors_cap=8, coloring_algo="auto"
    )
    assert res.modularity > 0.0


# ---------------------------------------------------------------------------
# directed characteristics (ADVICE low)
# ---------------------------------------------------------------------------


def test_characteristics_directed_arc_count(spark):
    arcs = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0), (2, 0, 1.0)], "src long, dst long, weight double"
    )
    g = Graph.from_edgelist(arcs, directed=True)
    assert g.num_edges() == 3
    row = g.characteristics().collect()[0]
    assert row["num_edges"] == 3
    # undirected stays halved
    gu = Graph.from_pairs(spark, [(0, 1), (1, 2), (0, 2)])
    assert gu.num_edges() == 3
    assert gu.characteristics().collect()[0]["num_edges"] == 3


# ---------------------------------------------------------------------------
# exact-by-default ngram jaccard (ADVICE low)
# ---------------------------------------------------------------------------


def test_ngram_jaccard_exact_by_default(spark):
    import inspect

    from grappolo_spark.functions.dedup import ngram_jaccard_pairs

    assert inspect.signature(ngram_jaccard_pairs).parameters["max_shingle_df"].default is None


# ---------------------------------------------------------------------------
# dedup cluster resolution + renumber driver fast path
# ---------------------------------------------------------------------------


def test_dedup_clusters_resolves_pair_graph(spark):
    from grappolo_spark.functions.dedup import dedup_clusters

    # two chains (1-2-3, 10-11) and a singleton pair (20-21)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21)], "id_a long, id_b long"
    )
    got = {r.doc_id: r.keep_id for r in dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_renumber_driver_path_matches_distributed(spark):
    from grappolo_spark.operators.multiphase import renumber_contiguously

    assign = spark.createDataFrame(
        [(i, (i * 7) % 5 + 100) for i in range(40)] + [(40, -1)],
        "v long, comm long",
    )
    a1, k1 = renumber_contiguously(assign)  # distributed ranking
    a2, k2 = renumber_contiguously(assign, size_hint=50)  # driver path
    assert k1 == k2 == 5
    assert sorted(map(tuple, a1.collect())) == sorted(map(tuple, a2.collect()))


# ---------------------------------------------------------------------------
# plan-regression guard (VERDICT #10): the hot O(N)-output plans must not
# contain a single-partition exchange or a cartesian product
# ---------------------------------------------------------------------------


def _plan_str(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _assert_clean(df):
    plan = _plan_str(df)
    assert "Exchange SinglePartition" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_plans_no_single_partition_exchange(spark):
    from grappolo_spark.graph import canonical_edges
    from grappolo_spark.operators.multiphase import renumber_contiguously

    raw = spark.createDataFrame(
        [(i, (i * 3 + 1) % 50) for i in range(200)], "src long, dst long"
    ).filter("src <> dst")

    # 1. graph build: symmetrize + dedup
    edges = canonical_edges(raw)
    _assert_clean(edges)

    g = Graph.from_edgelist(raw)
    assign = g.vertex_ids().select("v", (F.col("v") % 7).alias("comm"))

    # 2. renumber (was the round-1 single-partition window offender;
    #    now partition-offset ranked — the returned plan must stay clean)
    renumbered, k = renumber_contiguously(assign)
    assert k == 7
    _assert_clean(renumbered)

    # 3. pagerank superstep (contrib gather), exactly the operator's shape
    ranks = g.vertex_ids().select("v", F.lit(0.1).alias("rank"), F.lit(2.0).alias("wout"))
    contribs = (
        g.edges.join(F.broadcast(ranks), g.edges.src == ranks.v)
        .select(
            F.col("dst").alias("v"),
            (F.col("rank") * F.col("weight") / F.col("wout")).alias("c"),
        )
        .groupBy("v")
        .agg(F.sum("c").alias("in_contrib"))
    )
    _assert_clean(contribs)

    # 4. louvain gather + hash-agg argmax
    a_dst = assign.select(F.col("v").alias("dst"), F.col("comm").alias("comm_dst"))
    gathered = (
        g.edges.join(F.broadcast(a_dst), "dst")
        .groupBy(F.col("src").alias("v"), F.col("comm_dst").alias("cand"))
        .agg(F.sum("weight").alias("wsum"))
    )
    _assert_clean(gathered)
    best = gathered.groupBy("v").agg(
        F.min_by("cand", F.struct((-F.col("wsum")).alias("nw"), F.col("cand"))).alias("cand")
    )
    _assert_clean(best)
