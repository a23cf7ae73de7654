import os

from grappolo_spark.operators.pagerank import pagerank
from grappolo_spark.sources import fixtures


def test_pagerank_resume_matches_uninterrupted(spark, tmp_path):
    """Kill/restart semantics: running 4 supersteps, then resuming the same
    run_dir for the remaining 6, must equal a straight 10-superstep run."""
    g = fixtures.karate(spark)
    full = {r.v: r.rank for r in pagerank(g, max_iters=10).collect()}

    run_dir = str(tmp_path / "pr_run")
    pagerank(g, max_iters=4, run_dir=run_dir)  # "crashes" after 4 supersteps
    assert os.path.isdir(os.path.join(run_dir, "step=000003"))
    resumed = {
        r.v: r.rank for r in pagerank(g, max_iters=10, run_dir=run_dir).collect()
    }
    assert all(abs(full[v] - resumed[v]) < 1e-12 for v in full)


def test_superstep_metrics_sidecar(spark, tmp_path):
    import json

    g = fixtures.karate(spark)
    run_dir = str(tmp_path / "pr_m")
    pagerank(g, max_iters=3, run_dir=run_dir)
    with open(os.path.join(run_dir, "step=000002", "_METRICS.json")) as f:
        payload = json.load(f)
    # per-partition lineage + per-superstep metrics history
    assert payload["partitions"] and all("rows" in p for p in payload["partitions"])
    assert len(payload["history"]) == 3


def test_cc_star_resume_long_state_through_ids32(spark, tmp_path):
    """An OLD run_dir whose committed star state is LONG ids must resume
    correctly through the ids32 star rounds together with frozen-batch
    rederivation (the cast above the lineage cut covers resumed state;
    VERDICT r5 item 3). The old run is simulated by rewriting the
    committed step states as long."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from grappolo_spark.graph import Graph
    from grappolo_spark.operators.components import connected_components

    # a long chain needs several star rounds, so a 2-round prefix is
    # genuinely unconverged state
    pairs = [(i, i + 1) for i in range(200)] + [(500, 501)]
    g = Graph.from_pairs(spark, pairs)
    full = {
        r.v: r.component
        for r in connected_components(g, tier="shuffle").collect()
    }

    run_dir = str(tmp_path / "cc_run")
    connected_components(g, tier="shuffle", max_iters=2, run_dir=run_dir)
    assert os.path.isdir(os.path.join(run_dir, "step=000001"))
    for state in glob.glob(os.path.join(run_dir, "step=*", "state")):
        spark.read.parquet(state).select(
            F.col("u").cast("long").alias("u"), F.col("v").cast("long").alias("v")
        ).write.parquet(state + "_long")
        shutil.rmtree(state)
        os.rename(state + "_long", state)
        assert dict(spark.read.parquet(state).dtypes)["u"] == "bigint"
    resumed = {
        r.v: r.component
        for r in connected_components(g, tier="shuffle", run_dir=run_dir).collect()
    }
    assert resumed == full


def test_pagerank_bucketed_resume_different_partitions(spark, tmp_path):
    """A bucketed-commit (shuffle-config) pagerank run_dir written at one
    spark.sql.shuffle.partitions must resume at a DIFFERENT setting with
    identical ranks (VERDICT r5 item 3)."""
    from grappolo_spark.sources import fixtures

    g = fixtures.karate(spark)
    full = {
        r.v: r.rank
        for r in pagerank(g, max_iters=8, tier="shuffle").collect()
    }

    run_dir = str(tmp_path / "pr_bucketed")
    pagerank(g, max_iters=3, run_dir=run_dir, tier="shuffle")
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(max(2, int(prev) // 2 + 1)))
    try:
        resumed = {
            r.v: r.rank
            for r in pagerank(
                g, max_iters=8, run_dir=run_dir, tier="shuffle"
            ).collect()
        }
    finally:
        spark.conf.set(key, prev)
    assert all(abs(full[v] - resumed[v]) < 1e-12 for v in full)
