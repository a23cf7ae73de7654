"""Link-graph benchmark: one workload per process, one closed-loop client.

    python3 perfbench/run.py --workload linkgraph_local --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The process starts one SparkSession at
``local[<cores>]``, writes the workload's seeded inputs as parquet, warms
up on a small input of the same shape, then runs passes of engine calls
until ``--seconds`` have elapsed (at least one). Every pass's outputs are
checked against numpy references outside the timed calls.

The last stdout line is the result::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics (medians over the
timed passes); with ``--trace 1`` they are the per-layer metrics of one
traced pass, read from Spark's status store, plus the tracing overhead.
The line before it is a JSON object of run facts: box, versions, input
content hash, regime facts, sample counts and check errors.

All state (inputs, Spark local dirs, warehouse, scratch, run dirs) lives
under ``.perfbench_work/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

from spans import SPAN_COUNTERS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

LAYERS = (
    "sources.corpus",
    "functions.dedup",
    "graph",
    "operators.pagerank",
    "operators.components",
    "operators.labelprop",
    "operators.triangles",
    "operators.multiphase",
    "operators.coloring",
    "streaming.incremental",
    "streaming.compaction",
    "sources.writers",
    "sources.readers",
)
COUNTERS = ("wall_s",) + SPAN_COUNTERS
# untraced passes re-run a repeatable call until its runs add up to this
REPEAT_FLOOR_S = 3.0


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def box(spark) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": cores(),
        "mem_gib": round(mem_kb / 2**20, 1),
        "spark": spark.version,
        "python": platform.python_version(),
        "master": spark.sparkContext.master,
    }


def isolate(work: str) -> None:
    """Point every scratch location of Spark and the engine under ``work``."""
    for d in ("tmp", "local", "scratch", "warehouse", "derby"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(work, "scratch")
    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )


def session(work: str, traced: bool):
    from grappolo_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.system.home={os.path.join(work, 'derby')}"
        ),
    }
    if traced:
        # keep every job and stage of a pass in the status store
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    spark = get_spark(app_name="perfbench", master=f"local[{cores()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def by_layer(spans: list[dict]) -> dict:
    """Sum each layer's spans of one pass (a layer may be entered twice)."""
    out: dict = {}
    for sp in spans:
        acc = out.setdefault(sp["layer"], {})
        for k, v in sp.items():
            if k != "layer":
                acc[k] = acc.get(k, 0) + v
    return out


def timed_pass(w, k) -> dict:
    """Run one pass; return its time in engine calls, its layers and its
    modularities."""
    w.rec.take()
    # a pass starts with nothing cached: the engine keeps some inputs
    # persisted after a call (MinHash signatures), and a later pass reading
    # the same parquet would hit that cache instead of doing the work
    w.spark.catalog.clearCache()
    w.run_pass(k)
    layers = by_layer(w.rec.take())
    return {
        "pass_s": sum(v["wall_s"] for v in layers.values()),
        "layers": layers,
        "q": (w.last["louvain_q"], w.last["colored_q"]),
    }


def end_to_end(w, setup_s, samples) -> dict:
    """Set-up time, the median pass time and Louvain's quality. Single
    calls are reported per layer (and per pass in the facts): on a shared
    4-core box their run-to-run spread reached 0.2-0.35 of the median."""
    return {
        "setup_s": (setup_s, "s"),
        "pass_s": (statistics.median([s["pass_s"] for s in samples]), "s"),
        "modularity": (w.last["louvain_q"], "Q"),
        "modularity_colored": (w.last["colored_q"], "Q"),
    }


def per_layer(w, layers: dict, overhead_s: float) -> dict:
    m = {}
    for layer in LAYERS:
        rec = layers.get(layer, {})
        for c in COUNTERS:
            unit = "s" if c.endswith("_s") else ("B" if c.endswith("_bytes") else "count")
            m[f"{layer}.{c}"] = (rec.get(c, 0), unit)
    last = w.last
    lv, lc = last["louvain_result"], last["colored_result"]
    regime = w.regime()
    m.update({
        "operators.multiphase.iterations": (lv.total_iterations, "count"),
        "operators.multiphase.phases": (lv.phases, "count"),
        "operators.coloring.iterations": (lc.total_iterations, "count"),
        "sources.corpus.resolved_ratio": (last.get("resolved_ratio", 0), "ratio"),
        "functions.dedup.pairs": (last.get("dedup_pairs", 0), "count"),
        "streaming.compaction.files_before": (
            last["compaction"]["files_before"] if "compaction" in last else 0, "count"),
        "graph.vertices": (regime["graph.vertices"], "count"),
        "graph.edge_rows": (regime["graph.edge_rows"], "count"),
        "trace.overhead_s": (overhead_s, "s"),
    })
    return m


def run(args, work: str) -> tuple[dict, dict]:
    import gen
    from spans import Recorder, StatusStoreTracer
    from workloads import WORKLOADS

    t0 = time.perf_counter()
    spark = session(work, traced=bool(args.trace))
    try:
        w = WORKLOADS[args.workload](spark, work, args.seed, Recorder(spark))
        inputs = w.generate()
        w.compute_oracles()
        w.warm_up()
        setup_s = time.perf_counter() - t0

        facts = {"workload": w.name, "seed": args.seed, "box": box(spark),
                 "input_sha256": gen.content_hash(inputs), "regime": w.regime(),
                 "inputs": w.facts(), "client": "closed loop, 1 client"}
        w.check("regime", facts["regime"]["ok"], f"graph crossed a gate: {facts['regime']}")
        metrics = {}
        try:
            if args.trace:
                # untraced, traced, untraced: the overhead compares the traced
                # pass with the mean of its neighbours, cancelling warm-up drift
                before = timed_pass(w, 0)["pass_s"]
                untraced_rec, w.rec = w.rec, StatusStoreTracer(spark)
                traced = timed_pass(w, 1)
                w.rec = untraced_rec
                after = timed_pass(w, 2)["pass_s"]
                metrics = per_layer(w, traced["layers"], traced["pass_s"] - (before + after) / 2)
                facts["pass_s"] = {"untraced": [before, after], "traced": traced["pass_s"]}
            else:
                w.rec = Recorder(spark, floor_s=REPEAT_FLOOR_S)
                samples, start = [], time.perf_counter()
                while not samples or time.perf_counter() - start < args.seconds:
                    samples.append(timed_pass(w, len(samples)))
                qs = {s["q"] for s in samples}
                w.check("modularity repeats", len(qs) == 1, f"Q differs across passes: {qs}")
                metrics = end_to_end(w, setup_s, samples)
                facts["samples"] = len(samples)
                if "supersteps" in w.last:
                    facts["supersteps"] = w.last["supersteps"]
                facts["pass_layers_s"] = [
                    {k: round(v["wall_s"], 4) for k, v in s["layers"].items()} for s in samples
                ]
        except Exception as e:  # an engine call raised: report it as failed
            traceback.print_exc()
            w.check("pass", False, f"raised {e!r}")
        facts.update(attempted=w.check.attempted, failed=w.check.failed,
                     fail_frac=w.check.failed / max(1, w.check.attempted),
                     errors=w.check.errors)
        return facts, {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    finally:
        stop(spark)


def stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to
    exit: the gateway JVM ends when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "grappolo_spark", "__init__.py")):
        print(f"perfbench: no grappolo_spark package next to {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    isolate(work)
    try:
        facts, metrics = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    print(json.dumps({"facts": facts}))
    print(json.dumps({
        "correct": facts["failed"] == 0,
        "attempted": facts["attempted"],
        "failed": facts["failed"],
        "metrics": metrics,
    }), flush=True)
    return 0 if facts["failed"] == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
