import os
import re

import pytest

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


# -- durable local tiers: one commit layout, two writers -----------------


def _ranks(df):
    return {r.v: r.rank for r in df.collect()}


def _labels(df):
    return {r.v: r.label for r in df.collect()}


def _sinks(spark):
    """A directed graph with integer weights, three sink vertices (4, 6, 7:
    in-edges only, so dangling) and a source-only vertex (5)."""
    from grappolo_spark.graph import Graph

    arcs = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (5, 3), (5, 6), (1, 7)]
    df = spark.createDataFrame(
        [(u, v, float(1 + (u + v) % 3)) for u, v in arcs],
        "src long, dst long, weight double",
    )
    return Graph.from_edgelist(df, directed=True)


_GRAPHS = {"karate": fixtures.karate, "sinks": _sinks}


def _numpy_written(run_dir, step):
    """The step's state is the pyarrow writer's one file."""
    state = os.path.join(run_dir, f"step={step:06d}", "state")
    return os.listdir(state) == ["part-00000.parquet"]


def test_local_pagerank_resume_is_bit_identical(spark, tmp_path):
    full = _ranks(pagerank(fixtures.karate(spark), max_iters=10))
    run_dir = str(tmp_path / "pr")
    pagerank(fixtures.karate(spark), max_iters=4, run_dir=run_dir)
    assert sorted(os.listdir(run_dir)) == [f"step={i:06d}" for i in range(4)]
    assert all(_numpy_written(run_dir, i) for i in range(4))
    resumed = pagerank(fixtures.karate(spark), max_iters=10, run_dir=run_dir)
    assert _ranks(resumed) == full
    assert _numpy_written(run_dir, 9)


@pytest.mark.parametrize("stop_on_converge", [False, True])
def test_local_lpa_resume_is_bit_identical(spark, tmp_path, stop_on_converge):
    from grappolo_spark.operators.labelprop import label_propagation

    kw = dict(stop_on_converge=stop_on_converge)
    full = _labels(label_propagation(fixtures.karate(spark), max_iters=10, **kw))
    run_dir = str(tmp_path / "lpa")
    label_propagation(fixtures.karate(spark), max_iters=2, run_dir=run_dir, **kw)
    assert sorted(os.listdir(run_dir)) == ["step=000000", "step=000001"]
    assert _numpy_written(run_dir, 1)
    resumed = label_propagation(
        fixtures.karate(spark), max_iters=10, run_dir=run_dir, **kw
    )
    assert _labels(resumed) == full


@pytest.mark.parametrize("graph", sorted(_GRAPHS))
@pytest.mark.parametrize("first,then", [("broadcast", None), (None, "broadcast")])
def test_pagerank_resumes_across_tiers(spark, tmp_path, graph, first, then):
    """A run killed in one tier resumes in the other: the same layout,
    ranks within summation order of an uninterrupted run."""
    make = _GRAPHS[graph]
    full = _ranks(pagerank(make(spark), max_iters=10))
    run_dir = str(tmp_path / "pr")
    pagerank(make(spark), max_iters=4, run_dir=run_dir, tier=first)
    assert _numpy_written(run_dir, 3) == (first is None)
    got = _ranks(pagerank(make(spark), max_iters=10, run_dir=run_dir, tier=then))
    assert got.keys() == full.keys()
    assert all(abs(got[v] - full[v]) <= 1e-12 * full[v] for v in full)


@pytest.mark.parametrize("graph", sorted(_GRAPHS))
@pytest.mark.parametrize("first,then", [("broadcast", None), (None, "broadcast")])
def test_lpa_resumes_across_tiers(spark, tmp_path, graph, first, then):
    """Integer weights: a cross-tier resume gives the exact labels."""
    from grappolo_spark.operators.labelprop import label_propagation

    make, kw = _GRAPHS[graph], dict(stop_on_converge=False)
    full = _labels(label_propagation(make(spark), max_iters=6, **kw))
    run_dir = str(tmp_path / "lpa")
    label_propagation(make(spark), max_iters=2, run_dir=run_dir, tier=first, **kw)
    assert _numpy_written(run_dir, 1) == (first is None)
    got = label_propagation(
        make(spark), max_iters=6, run_dir=run_dir, tier=then, **kw
    )
    assert _labels(got) == full


def test_both_writers_commit_one_schema(spark, tmp_path):
    from grappolo_spark.operators.labelprop import label_propagation

    g = fixtures.karate(spark)
    calls = {
        "pagerank": lambda **kw: pagerank(g, max_iters=2, **kw),
        "lpa": lambda **kw: label_propagation(g, max_iters=2, **kw),
    }
    want = {
        "pagerank": [("v", "bigint"), ("rank", "double"), ("wout", "double")],
        "lpa": [("v", "bigint"), ("label", "bigint")],
    }
    for op, call in calls.items():
        for tier in ("local", "broadcast"):
            run_dir = str(tmp_path / f"{op}-{tier}")
            call(tier=tier, run_dir=run_dir)
            state = os.path.join(run_dir, "step=000001", "state")
            assert spark.read.parquet(state).dtypes == want[op], (op, tier)


def test_resume_from_another_graphs_run_dir_raises(spark, tmp_path):
    from grappolo_spark.operators.labelprop import label_propagation

    for op, call in (("pr", pagerank), ("lpa", label_propagation)):
        run_dir = str(tmp_path / op)
        call(fixtures.karate(spark), max_iters=2, run_dir=run_dir)
        with pytest.raises(ValueError, match=re.escape(repr(run_dir))):
            call(_sinks(spark), max_iters=4, run_dir=run_dir)


def test_durable_local_pagerank_jobs_do_not_grow_with_supersteps(spark, tmp_path):
    sc = spark.sparkContext
    jobs = []
    for iters in (2, 8):
        group = f"durable-local-pagerank-{iters}"
        sc.setJobGroup(group, group)
        try:
            pagerank(
                fixtures.karate(spark), max_iters=iters,
                run_dir=str(tmp_path / f"pr{iters}"),
            ).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    assert jobs[0] == jobs[1]


@pytest.mark.parametrize("tier", [None, "broadcast"])
def test_killed_commit_is_redone_not_resumed(spark, tmp_path, tier):
    """A step dir with state but no marker (a commit killed before its
    marker landed, leaving a truncated ``.tmp`` and a stale part file) is
    redone: the resumed run equals an uninterrupted one and the marker's
    history is whole."""
    import json
    import shutil

    full = _ranks(pagerank(fixtures.karate(spark), max_iters=6, tier=tier))
    run_dir = str(tmp_path / "pr")
    pagerank(fixtures.karate(spark), max_iters=4, run_dir=run_dir, tier=tier)
    killed = os.path.join(run_dir, "step=000003")
    os.remove(os.path.join(killed, "_METRICS.json"))
    with open(os.path.join(killed, "_METRICS.json.tmp"), "w") as f:
        f.write('{"metrics": {"op": "pager')
    stale = os.path.join(run_dir, "step=000000", "state")
    part = sorted(p for p in os.listdir(stale) if p.startswith("part-"))[0]
    shutil.copy(
        os.path.join(stale, part), os.path.join(killed, "state", "part-99999.parquet")
    )
    got = pagerank(fixtures.karate(spark), max_iters=6, run_dir=run_dir, tier=tier)
    got = _ranks(got)
    if tier is None:
        assert got == full
    else:
        assert all(abs(got[v] - full[v]) <= 1e-12 * full[v] for v in full)
    assert "part-99999.parquet" not in os.listdir(os.path.join(killed, "state"))
    with open(os.path.join(run_dir, "step=000005", "_METRICS.json")) as f:
        assert [h["step"] for h in json.load(f)["history"]] == list(range(6))


def test_spark_commit_lineage_reads_footers(spark, tmp_path):
    """The distributed commit's per-partition lineage (rows per written
    file, from the parquet footers) covers every vertex."""
    import json

    run_dir = str(tmp_path / "pr")
    pagerank(fixtures.karate(spark), max_iters=2, run_dir=run_dir, tier="shuffle")
    with open(os.path.join(run_dir, "step=000001", "_METRICS.json")) as f:
        parts = json.load(f)["partitions"]
    assert sum(p["rows"] for p in parts) == 34
    assert [p["partition"] for p in parts] == list(range(len(parts)))


def test_run_dir_must_be_a_local_path(spark, tmp_path):
    from grappolo_spark.plans.iteration import SuperstepRunner

    with pytest.raises(ValueError, match="not a local path"):
        pagerank(fixtures.karate(spark), max_iters=2, run_dir="s3://bucket/ckpt")
    with pytest.raises(ValueError, match="not a local path"):
        SuperstepRunner(spark, "hdfs://nn/ckpt")
    runner = SuperstepRunner(spark, f"file://{tmp_path}/run")
    assert runner.run_dir == f"{tmp_path}/run" and os.path.isdir(runner.run_dir)


def test_marker_write_killed_midway_leaves_no_marker(spark, tmp_path, monkeypatch):
    """A kill while the marker is being written leaves the step without a
    marker, never with a truncated one: the rerun redoes that step."""
    import json

    class Killed(Exception):
        pass

    def dump(obj, f, *args, **kwargs):
        f.write(json.dumps(obj)[:20])
        raise Killed

    full = _ranks(pagerank(fixtures.karate(spark), max_iters=4))
    run_dir = str(tmp_path / "pr")
    pagerank(fixtures.karate(spark), max_iters=2, run_dir=run_dir)
    with monkeypatch.context() as m:
        m.setattr(json, "dump", dump)
        with pytest.raises(Killed):
            pagerank(fixtures.karate(spark), max_iters=4, run_dir=run_dir)
    assert not os.path.exists(os.path.join(run_dir, "step=000002", "_METRICS.json"))
    got = pagerank(fixtures.karate(spark), max_iters=4, run_dir=run_dir)
    assert _ranks(got) == full


# -- Spark-state tiers: the Louvain phase's resume, the vertex-count check


def _phase(res):
    return (
        sorted((r.v, r.comm) for r in res.assignment.collect()),
        res.modularity,
        res.iterations,
    )


@pytest.mark.parametrize("tier", ["broadcast", "shuffle"])
def test_louvain_phase_resume_returns_the_uninterrupted_step(spark, tmp_path, tier):
    """A re-run of a finished durable phase, and a phase stopped after two
    iterations then resumed, return what an uninterrupted run returns:
    the state before the last move, with its Q and iteration count."""
    from grappolo_spark.operators.louvain import louvain_one_phase

    g = fixtures.karate(spark)
    full = _phase(louvain_one_phase(g, tier=tier))
    assert full[2] > 2
    done = str(tmp_path / "done")
    assert _phase(louvain_one_phase(g, tier=tier, run_dir=done)) == full
    assert _phase(louvain_one_phase(g, tier=tier, run_dir=done)) == full
    cut = str(tmp_path / "cut")
    louvain_one_phase(g, tier=tier, run_dir=cut, max_iters=2)
    assert _phase(louvain_one_phase(g, tier=tier, run_dir=cut)) == full


def test_durable_louvain_rerun_is_unchanged(spark, tmp_path):
    from grappolo_spark.operators.multiphase import louvain

    run_dir = str(tmp_path / "lv")
    runs = [
        louvain(fixtures.karate(spark), tier="broadcast", run_dir=run_dir)
        for _ in range(2)
    ]
    a, b = (
        (
            sorted((r.v, r.comm) for r in res.assignment.collect()),
            res.modularity,
            [(p["tier"], p["iterations"]) for p in res.phase_history],
        )
        for res in runs
    )
    assert a == b


def test_spark_tier_resume_checks_the_vertex_count(spark, tmp_path):
    """A run_dir committed for karate's 34 vertices raises ``ValueError``
    naming it when a triangle's run resumes from it, in every Spark tier
    of PageRank, LPA and the Louvain phase."""
    from grappolo_spark.graph import Graph
    from grappolo_spark.operators.labelprop import label_propagation
    from grappolo_spark.operators.louvain import louvain_one_phase

    ops = {"pr": pagerank, "lpa": label_propagation, "louvain": louvain_one_phase}
    for op, call in ops.items():
        for tier in ("broadcast", "shuffle"):
            run_dir = str(tmp_path / f"{op}-{tier}")
            call(fixtures.karate(spark), max_iters=2, tier=tier, run_dir=run_dir)
            triangle = Graph.from_pairs(spark, [(100, 101), (101, 102), (100, 102)])
            with pytest.raises(ValueError, match=re.escape(repr(run_dir))):
                call(triangle, max_iters=4, tier=tier, run_dir=run_dir)
