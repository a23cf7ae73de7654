"""Round-4 regression guards.

1. Reader plans: the text-interop parsers must not contain a
   single-partition exchange (round-3 VERDICT flagged the
   ``row_number() OVER (ORDER BY monotonically_increasing_id())`` line
   numbering in the SNAP ground-truth / MTX / Pajek parsers — now replaced
   by distributed zipWithIndex numbering).
2. Driver-side text sinks raise on oversized graphs instead of silently
   collecting (round-3 VERDICT: "a 100M-edge quick Pajek dump will OOM
   silently"); small graphs still write fine (covered here and by
   test_readers_writers.py).
"""

import contextlib
import io
import os

import pytest
from pyspark.sql import functions as F

from grappolo_spark.sources import fixtures, readers, writers


def _write(path, text):
    with open(path, "w") as f:
        f.write(text)


def _plan_str(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _assert_clean(df):
    plan = _plan_str(df)
    assert "Exchange SinglePartition" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_reader_plans_no_single_partition_exchange(spark, tmp_path):
    # SNAP + ground truth
    p = str(tmp_path / "snap.txt")
    _write(p, "# comment\n100\t7\n7\t250\n250\t100\n")
    vmap, g = readers.read_snap(spark, p)
    _assert_clean(g.edges)
    gt = str(tmp_path / "gt.txt")
    _write(gt, "100\t7\n250\n")
    gtc = readers.read_snap_ground_truth(spark, gt, vmap)
    _assert_clean(gtc)
    assert {(r.v, r.comm) for r in gtc.collect()} == {(0, 0), (2, 0), (1, 1)}

    # METIS
    m = str(tmp_path / "g.graph")
    _write(m, "3 2 0\n2\n1 3\n2\n")
    gm = readers.read_metis(spark, m)
    _assert_clean(gm.edges)
    assert gm.num_edges() == 2

    # MatrixMarket symmetric
    mtx = str(tmp_path / "m.mtx")
    _write(
        mtx,
        "%%MatrixMarket matrix coordinate real symmetric\n3 3 2\n2 1 1.0\n3 2 2.0\n",
    )
    gx = readers.read_matrix_market(spark, mtx)
    _assert_clean(gx.edges)
    assert gx.num_edges() == 2

    # Pajek
    pj = str(tmp_path / "g.net")
    _write(pj, '*Vertices 3\n1 "0"\n2 "1"\n3 "2"\n*Edges\n1 2 1.0\n2 3 1.0\n')
    gp = readers.read_pajek(spark, pj)
    _assert_clean(gp.edges)
    assert gp.num_edges() == 2


def test_text_sinks_guard_oversized_collect(spark, tmp_path):
    g = fixtures.karate(spark)
    assign = g.vertex_ids().select("v", (F.col("v") % 3).alias("comm"))

    # the guard trips with a tiny bound...
    with pytest.raises(ValueError, match="driver-side text-sink bound"):
        writers.write_metis(g, str(tmp_path / "x.graph"), max_driver_rows=10)
    with pytest.raises(ValueError, match="driver-side text-sink bound"):
        writers.write_pajek(g, str(tmp_path / "x.net"), max_driver_rows=10)
    with pytest.raises(ValueError, match="driver-side text-sink bound"):
        writers.write_matrix_market(g, str(tmp_path / "x.mtx"), max_driver_rows=10)
    with pytest.raises(ValueError, match="driver-side text-sink bound"):
        writers.write_cluster_assignment(
            assign, str(tmp_path / "x.clust"), max_driver_rows=10
        )

    # ...and the small-graph path still writes (default bound)
    out = str(tmp_path / "ok.clust")
    writers.write_cluster_assignment(assign, out)
    with open(out) as f:
        lines = f.read().splitlines()
    assert len(lines) == 34 and lines[0] == "0" and lines[4] == "1"


def test_cc_star_freeze_durable_resume(spark, tmp_path):
    """Leaf-freezing on a durable run: interrupting after 2 star rounds and
    resuming the same run_dir must give the exact min-id labels of an
    uninterrupted run (frozen batches are rederived from the per-step
    state parquets, never persisted separately), which in turn must match
    the freeze=False labels and the union-find oracle."""
    from conftest import union_find
    from grappolo_spark.graph import Graph
    from grappolo_spark.operators.components import connected_components

    # two chains + a star + isolated-ish pairs: several freeze batches
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12),
             (20, 21), (20, 22), (20, 23), (30, 31)]
    df = spark.createDataFrame(
        [(a, b, 1.0) for a, b in edges], "src long, dst long, weight double"
    )
    g = Graph.from_edgelist(df)
    oracle = union_find(edges)

    plain = {
        r.v: r.component
        for r in connected_components(g, tier="shuffle", freeze=False).collect()
    }
    assert plain == oracle

    run_dir = str(tmp_path / "cc_run")
    connected_components(
        g, tier="shuffle", freeze=True, max_iters=2, run_dir=run_dir
    )  # "crashes" after 2 committed rounds
    assert os.path.isdir(os.path.join(run_dir, "step=000001"))
    resumed = {
        r.v: r.component
        for r in connected_components(
            g, tier="shuffle", freeze=True, run_dir=run_dir
        ).collect()
    }
    assert resumed == oracle


def test_bucketed_edge_table_skips_shuffle(spark, tmp_path):
    """The bucketed warehouse sink: a src-keyed aggregation over the
    re-read table must carry the bucket layout — NO exchange before the
    aggregate (the build shuffle is skipped on every later run)."""
    g = fixtures.karate(spark)
    spark.sql("DROP TABLE IF EXISTS karate_bucketed")
    writers.write_bucketed_edges(
        g, "karate_bucketed", buckets=4, path=str(tmp_path / "bt")
    )
    g2 = writers.read_bucketed_graph(spark, "karate_bucketed")
    deg = g2.edges.groupBy("src").agg(F.sum("weight").alias("w"))
    plan = _plan_str(deg)
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Bucketed: true" in plan, plan
    # and the values survive the round-trip
    got = {r.src: r.w for r in deg.collect()}
    want = {
        r.src: r.w
        for r in g.edges.groupBy("src").agg(F.sum("weight").alias("w")).collect()
    }
    assert got == want
    spark.sql("DROP TABLE IF EXISTS karate_bucketed")


def test_bipartite_mtx_sink_guard(spark, tmp_path):
    # bipartite graph: S side {0,1}, T side {2,3}
    e = spark.createDataFrame(
        [(0, 2, 1.0), (1, 3, 2.0), (2, 0, 1.0), (3, 1, 2.0)],
        "src long, dst long, weight double",
    )
    from grappolo_spark.graph import Graph

    g = Graph(edges=e)
    with pytest.raises(ValueError, match="driver-side text-sink bound"):
        writers.write_matrix_market_bipartite(
            g, str(tmp_path / "x.mtx"), num_s=2, max_driver_rows=1
        )
    out = str(tmp_path / "ok.mtx")
    writers.write_matrix_market_bipartite(g, out, num_s=2)
    with open(out) as f:
        body = f.read().splitlines()
    assert body[1] == "2 2 2" and body[2] == "1 1 1"


def test_kernel_result_survives_later_runs(spark):
    # the kernel returns its last commit WITHOUT a final re-cut; that file
    # must leave the rotating commit window (promote_result rename) or any
    # later run's commits delete it before the caller collects
    # (FAILED_READ_FILE — originally seen as a cross-test flake when two
    # louvain_one_phase runs shared one session)
    from grappolo_spark.operators.labelprop import label_propagation
    from grappolo_spark.operators.louvain import louvain_one_phase
    from grappolo_spark.operators.pagerank import pagerank
    from grappolo_spark.plans.iteration import cut_lineage
    from grappolo_spark.sources import fixtures

    g = fixtures.karate(spark)
    louv = louvain_one_phase(g)
    lpa = label_propagation(g, max_iters=3, stop_on_converge=False,
                            tier="broadcast")
    pr = pagerank(g, max_iters=3)
    # churn every short rotation well past its keep_last window, exactly
    # what subsequent kernel runs do
    junk = spark.range(3).selectExpr("id as v", "id as comm")
    for tag in ("commit", "louvain_assign", "lpa", "pagerank",
                "colored_prev", "colored_state"):
        for _ in range(8):
            cut_lineage(junk, tag=tag)
    assert len(louv.assignment.collect()) == 34
    assert lpa.count() == 34
    assert pr.count() == 34
