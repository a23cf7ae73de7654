"""spark-submit entry point for the engine.

Package and launch (north_rule protocol)::

    cd /root/repo && zip -r /tmp/grappolo_spark.zip grappolo_spark
    spark-submit --py-files /tmp/grappolo_spark.zip scripts/run_job.py \
        --algo louvain --input /data/edges.parquet --output /data/communities \
        [--coloring] [--vertex-following] [--run-dir /ckpt/run1] \
        [--threshold 1e-6] [--min-graph-size 100000]

On a cluster, spark-submit supplies master/executors; locally it falls back
to local[*]. ``--input`` is a canonical parquet edge table (or use
``--corpus`` for a (repo,path,commit,lang,content) source table — the
extraction front door builds the graph first). ``--run-dir`` enables
mid-iteration resume: rerun the identical command after a crash and the job
continues from the last completed superstep.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--algo", required=True,
                    choices=["louvain", "pagerank", "cc", "lpa", "triangles"])
    ap.add_argument("--input", help="parquet edge table (src,dst,weight)")
    ap.add_argument("--corpus", help="parquet corpus table (repo,path,commit,lang,content)")
    ap.add_argument("--output", required=True)
    ap.add_argument(
        "--run-dir", default=None,
        help="checkpoint/resume directory: a local or mounted path "
        "(a URI scheme other than file: is rejected)",
    )
    ap.add_argument("--threshold", type=float, default=1e-6)
    ap.add_argument("--c-threshold", type=float, default=0.01)
    ap.add_argument("--min-graph-size", type=int, default=100_000)
    ap.add_argument("--coloring", action="store_true")
    ap.add_argument("--vertex-following", action="store_true")
    ap.add_argument("--smart-init", action="store_true",
                    help="initCommAssOpt warm start per phase")
    ap.add_argument("--directed", action="store_true",
                    help="treat --input as directed arcs (no symmetrize)")
    ap.add_argument("--early-terminate", action="store_true")
    ap.add_argument("--sample-fraction", type=float, default=None)
    ap.add_argument("--max-iters", type=int, default=20)
    ap.add_argument("--partitions", type=int, default=None)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from grappolo_spark.graph import Graph
    from grappolo_spark.session import get_spark

    active = SparkSession.getActiveSession()
    spark = active if active is not None else get_spark(app_name=f"grappolo-{args.algo}")

    if args.corpus:
        from grappolo_spark.sources.corpus import build_graph_from_corpus

        corpus = spark.read.parquet(args.corpus)
        vertex_map, g = build_graph_from_corpus(corpus)
        vertex_map.write.mode("overwrite").parquet(args.output + "_vertex_map")
    elif args.input:
        g = Graph(edges=spark.read.parquet(args.input), directed=args.directed)
    else:
        ap.error("one of --input / --corpus is required")
    if args.partitions:
        g = g.partition_by_src(args.partitions)

    t0 = time.time()
    meta: dict = {"algo": args.algo}
    if args.algo == "louvain":
        from grappolo_spark.operators.multiphase import louvain

        res = louvain(
            g,
            threshold=args.threshold,
            c_threshold=args.c_threshold,
            min_graph_size=args.min_graph_size,
            coloring=args.coloring,
            vertex_following=args.vertex_following,
            early_terminate=args.early_terminate,
            sample_fraction=args.sample_fraction,
            smart_init=args.smart_init,
            run_dir=args.run_dir,
        )
        res.assignment.write.mode("overwrite").parquet(args.output)
        meta.update(
            modularity=res.modularity,
            clusters=res.num_clusters,
            phases=res.phases,
            iterations=res.total_iterations,
            history=res.phase_history,
        )
    elif args.algo == "pagerank":
        from grappolo_spark.operators.pagerank import pagerank

        pagerank(g, max_iters=args.max_iters, run_dir=args.run_dir).write.mode(
            "overwrite"
        ).parquet(args.output)
    elif args.algo == "cc":
        from grappolo_spark.operators.components import connected_components

        connected_components(g, run_dir=args.run_dir).write.mode("overwrite").parquet(
            args.output
        )
    elif args.algo == "lpa":
        from grappolo_spark.operators.labelprop import label_propagation

        label_propagation(g, max_iters=args.max_iters, run_dir=args.run_dir).write.mode(
            "overwrite"
        ).parquet(args.output)
    elif args.algo == "triangles":
        from grappolo_spark.operators.triangles import triangle_count

        triangle_count(g, per_vertex=True).write.mode("overwrite").parquet(args.output)

    meta["seconds"] = round(time.time() - t0, 3)
    print(json.dumps(meta), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
