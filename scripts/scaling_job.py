"""One scaling-measurement job: PageRank supersteps over a large synthetic graph.

Synthesizes a deterministic pseudo-random graph with spark.range + xxhash64
(no external data, no driver-side generation), builds the canonical
symmetrized edge table, then times a fixed number of PageRank supersteps —
the workload behind BASELINE.md's "edges/sec per superstep" metric. The
graph is large enough (default ~2^20 vertices x 16 avg degree -> ~30M edge
rows) that compute, not job-scheduling overhead, dominates; shuffle
partitions are FIXED across core counts so both runs execute identical
plans (strong scaling, only parallelism varies).

Prints one JSON line. Invoked by scripts/scaling_bench.py at two core counts.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, ".")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--vertices", type=int, default=1 << 20)
    ap.add_argument("--avg-degree", type=int, default=16)
    ap.add_argument("--iters", type=int, default=5)
    ap.add_argument("--partitions", type=int, default=64)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument(
        "--workload",
        default="pagerank",
        choices=["pagerank", "louvain", "lpa", "ann", "ann_np"],
    )
    ap.add_argument(
        "--weighted",
        action="store_true",
        help="force the wide sum(weight) kernel path (A/B control for "
        "the Graph.unweighted narrow-gather fast path)",
    )
    ap.add_argument(
        "--tier",
        choices=["local", "driver_state", "broadcast", "shuffle"],
        default=None,
        help="force the execution tier of the pagerank/lpa/louvain "
        "workload (default: planned; e.g. 'shuffle' is the A/B control "
        "for the src-keyed broadcast layout)",
    )
    ap.add_argument("--ann-rows", type=int, default=6000)
    ap.add_argument("--ann-dim", type=int, default=128)
    ap.add_argument(
        "--driver-mem",
        default="8g",
        help="JVM heap for this leg. The north rule compares N vs 4N "
        "EXECUTORS — a 4N cluster brings 4x the memory as well as 4x the "
        "cores — so an executor-faithful pair passes memory proportional "
        "to --cpus (e.g. 2g/core: 16g at 8, 64g at 32). 'auto' = 2g/core. "
        "The fixed-8g default reproduces the round-3/4/early-5 protocol, "
        "where the 4N leg ran 4x the data in the SAME heap (weak pair) — "
        "i.e. with 1/4 the per-core memory a real 4N cluster would have.",
    )
    args = ap.parse_args()
    if args.driver_mem == "auto":
        args.driver_mem = f"{2 * args.cpus}g"
    # the heap must be set before the JVM launches; get_spark reads this env
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = args.driver_mem

    # pin per-task BLAS to one thread BEFORE numpy loads anywhere: a
    # multi-threaded BLAS would let the "2-core" run borrow idle cores
    # inside each task and invalidate the strong-scaling comparison
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"

    from pyspark.sql import functions as F

    from grappolo_spark.graph import Graph
    from grappolo_spark.operators.pagerank import pagerank
    from grappolo_spark.session import get_spark

    spark = get_spark(
        app_name=f"scaling-{args.cpus}",
        master=f"local[{args.cpus}]",
        shuffle_partitions=args.partitions,
        # pin JVM GC parallelism to the core budget: otherwise the "8-core"
        # run borrows the machine's idle cores for GC and the strong-scaling
        # comparison is unfair to the 4N run
        extra_conf={
            "spark.driver.extraJavaOptions": (
                f"-XX:ParallelGCThreads={args.cpus} "
                f"-XX:ConcGCThreads={max(1, args.cpus // 4)}"
            )
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    if args.workload == "ann_np":
        # the scale ANN kernel (broadcast queries, distributed corpus scan,
        # one single-threaded BLAS matmul per Arrow batch): FLOP-dense and
        # cache-blocked, so per-core compute dominates — the workload that
        # shows what the box gives when the shared DRAM bus is NOT the
        # bottleneck
        from grappolo_spark.functions.similarity_fast import cosine_topk_sharded

        dims = [
            (
                F.pmod(F.xxhash64("id", F.lit(args.seed + d)), F.lit(2000)).cast("float")
                / 1000.0
                - 1.0
            ).alias(f"x{d}")
            for d in range(args.ann_dim)
        ]
        emb = (
            spark.range(args.ann_rows)
            .select(F.col("id").alias("vec_id"), *dims)
            .select(
                "vec_id",
                F.array(*[f"x{d}" for d in range(args.ann_dim)]).alias("embedding"),
            )
            .repartition(args.partitions)
            .persist()
        )
        n_rows = emb.count()
        q = emb.filter(F.col("vec_id") % 20 == 0)
        t0 = time.time()
        n_out = cosine_topk_sharded(emb, k=5, queries=q).count()
        dt = time.time() - t0
        n_q = n_rows // 20
        pairs = n_q * (n_rows - 1)
        print(
            json.dumps(
                {
                    "cpus": args.cpus,
                    "workload": "ann_np",
                    "rows": n_rows,
                    "queries": n_q,
                    "pairs_scored": pairs,
                    "topk_rows": n_out,
                    "seconds": round(dt, 3),
                    "pairs_per_sec": round(pairs / dt, 1),
                }
            ),
            flush=True,
        )
        spark.stop()
        os._exit(0)

    if args.workload == "ann":
        # compute-bound kernel: brute-force cosine top-k over synthetic
        # embeddings — FLOP-dense per byte, so per-core compute (not shared
        # memory bandwidth) dominates; complements the bandwidth-bound
        # pagerank workload for the strong-scaling evidence
        from grappolo_spark.functions.similarity import cosine_topk

        dims = [
            (
                F.pmod(F.xxhash64("id", F.lit(args.seed + d)), F.lit(2000)).cast("float")
                / 1000.0
                - 1.0
            ).alias(f"x{d}")
            for d in range(args.ann_dim)
        ]
        emb = (
            spark.range(args.ann_rows)
            .select(F.col("id").alias("vec_id"), *dims)
            .select(
                "vec_id",
                F.array(*[f"x{d}" for d in range(args.ann_dim)]).alias("embedding"),
            )
            .repartition(args.partitions)
            .persist()
        )
        n_rows = emb.count()
        t0 = time.time()
        out = cosine_topk(emb, k=5, queries=emb.filter(F.col("vec_id") % 4 == 0))
        n_out = out.count()
        dt = time.time() - t0
        pairs = (n_rows // 4) * (n_rows - 1)
        print(
            json.dumps(
                {
                    "cpus": args.cpus,
                    "workload": "ann",
                    "rows": n_rows,
                    "pairs_scored": pairs,
                    "topk_rows": n_out,
                    "seconds": round(dt, 3),
                    "pairs_per_sec": round(pairs / dt, 1),
                }
            ),
            flush=True,
        )
        spark.stop()
        os._exit(0)  # JVM/py4j threads linger in this sandbox; exit hard

    n = args.vertices
    raw = (
        spark.range(n * args.avg_degree)
        .select(
            (F.pmod(F.xxhash64("id", F.lit(args.seed)), F.lit(n))).alias("src"),
            (F.pmod(F.xxhash64("id", F.lit(args.seed + 1)), F.lit(n))).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )
    g = Graph.from_edgelist(raw)
    edges = g.edges.repartition(args.partitions, "src").persist()
    n_edges = edges.count()  # materialize the build outside the timed window
    # --weighted forces the wide (sum-weight) kernel path on the same
    # input — the A/B control for the unweighted narrow-gather fast path
    g = Graph(edges=edges, unweighted=g.unweighted and not args.weighted)

    if args.workload == "lpa":
        # label-propagation superstep: the same gather shape as louvain's
        # (edge scan + label join + (src,label) agg + argmax); A/B the
        # src-keyed broadcast layout vs the dst-co-partitioned shuffle
        # plan via --tier shuffle
        from grappolo_spark.operators.labelprop import label_propagation

        t0 = time.time()
        out = label_propagation(
            g,
            max_iters=args.iters,
            stop_on_converge=False,
            local_threshold=0,
            tier=args.tier,
        )
        out.count()
        dt = time.time() - t0
        print(
            json.dumps(
                {
                    "cpus": args.cpus,
                    "workload": "lpa",
                    "edges": n_edges,
                    "vertices": args.vertices,
                    "iters": args.iters,
                    "seconds": round(dt, 3),
                    "edges_per_sec_superstep": round(
                        n_edges * args.iters / dt, 1
                    ),
                }
            ),
            flush=True,
        )
        spark.stop()
        os._exit(0)

    if args.workload == "louvain":
        # the flagship superstep (north rule: "edges/sec per superstep and
        # modularity convergence"): gather + community agg + gain argmax —
        # more compute per edge byte than pagerank, so per-core compute
        # rather than the box's single DRAM bus dominates
        from grappolo_spark.operators.louvain import louvain_one_phase

        t0 = time.time()
        res = louvain_one_phase(
            g,
            max_iters=args.iters,
            thresh=-1e9,
            tier=args.tier,
        )
        res.assignment.count()
        dt = time.time() - t0
        print(
            json.dumps(
                {
                    "cpus": args.cpus,
                    "workload": "louvain",
                    "edges": n_edges,
                    "vertices": args.vertices,
                    "iters": res.iterations,
                    "seconds": round(dt, 3),
                    "edges_per_sec_superstep": round(
                        n_edges * res.iterations / dt, 1
                    ),
                }
            ),
            flush=True,
        )
        spark.stop()
        os._exit(0)

    t0 = time.time()
    pr = pagerank(g, max_iters=args.iters, tier=args.tier)
    n_ranks = pr.count()
    dt = time.time() - t0

    print(
        json.dumps(
            {
                "cpus": args.cpus,
                "edges": n_edges,
                "vertices": n_ranks,
                "iters": args.iters,
                "seconds": round(dt, 3),
                "edges_per_sec_superstep": round(n_edges * args.iters / dt, 1),
            }
        ),
        flush=True,
    )
    spark.stop()
    os._exit(0)  # JVM/py4j threads linger in this sandbox; exit hard


if __name__ == "__main__":
    raise SystemExit(main())
