"""Profile louvain_distributed at sf0.1: warm runs + per-job timing split.

Runs the forced-distributed multiphase Louvain N times in one warmed
session, printing wall time + phase_history per run, then dumps the
Spark REST UI's per-job durations for the LAST run grouped by job group
(one group per phase, set here) so the dominant stage is measured, not
guessed.

Usage: python scripts/profile_louvain.py [runs] [--tier TIER]
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def rest(url):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.load(r)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("runs", type=int, nargs="?", default=3)
    ap.add_argument(
        "--tier",
        choices=["driver_state", "broadcast", "shuffle"],
        default=None,
        help="force every phase's tier (default: planned per phase, with "
        "the local tier excluded as in bench.py's louvain_distributed)",
    )
    args = ap.parse_args()
    runs = args.runs
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from grappolo_spark.session import get_spark
    from grappolo_spark.operators.multiphase import louvain
    import __spark_entry__ as M

    spark = get_spark(
        app_name="profile-louvain",
        master=f"local[{cpus}]",
        shuffle_partitions=max(int(cpus), 8),
        extra_conf={"spark.ui.enabled": os.environ.get("PROFILE_UI", "false")},
    )
    spark.sparkContext.setLogLevel("ERROR")
    cs = M.build_cs_graph(spark, sf_dir).partition_by_src()
    cs.edges.count()  # warm the input cache/readers

    results = []
    for i in range(runs):
        t0 = time.time()
        res = louvain(
            cs, max_phases=3, smart_init=True, local_threshold=0,
            tier=args.tier,
        )
        n = res.assignment.count()
        wall = time.time() - t0
        results.append(
            {"run": i, "wall": round(wall, 2), "rows": n,
             "phases": res.phase_history}
        )
        print(json.dumps(results[-1]), flush=True)

    # job-level split of the LAST run from the REST UI (PROFILE_UI=true)
    ui = spark.sparkContext.uiWebUrl
    if ui is None:
        spark.stop()
        return
    app = rest(f"{ui}/api/v1/applications")[0]["id"]
    jobs = rest(f"{ui}/api/v1/applications/{app}/jobs?status=succeeded")
    # jobs since the last run's first job: approximate by taking jobs whose
    # submissionTime is after t0 of the last run — simpler: report the most
    # recent K jobs with name+duration.
    import datetime

    def dur(j):
        f = datetime.datetime.fromisoformat(j["submissionTime"].replace("GMT", "+00:00"))
        t = datetime.datetime.fromisoformat(j["completionTime"].replace("GMT", "+00:00"))
        return (t - f).total_seconds()

    jobs = sorted(jobs, key=lambda j: j["jobId"])
    recent = jobs[-80:]
    print("\n--- last run's jobs (id, sec, stages, desc) ---")
    tot = 0.0
    for j in recent:
        d = dur(j)
        tot += d
        desc = (j.get("description") or j["name"])[:100]
        print(f"job {j['jobId']:4d}  {d:6.2f}s  nstages={len(j['stageIds'])}  {desc}")
    print(f"sum of listed job durations: {tot:.1f}s")
    spark.stop()


if __name__ == "__main__":
    main()
