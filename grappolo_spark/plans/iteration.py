"""Superstep loop machinery: lineage truncation + resumable checkpoints.

Every iterative operator (Louvain, PageRank, CC, LPA, coloring) runs a
driver-side while-loop over DataFrames. Two scale problems this module owns:

1. **Lineage growth** — each superstep's plan references the previous one;
   after ~20 iterations the plan tree explodes. ``cut_lineage`` truncates via
   ``localCheckpoint`` (fast, executor-local) or reliable ``checkpoint``
   when a checkpoint dir is set (survives executor loss — required at
   100 TB / 1000-executor scale).

2. **Resumability** (north_rule) — ``SuperstepRunner`` persists per-superstep
   state parquet + a metrics JSON sidecar (per-partition row counts =
   "per-partition lineage", plus operator metrics such as modularity gain)
   under a run directory, so a killed job resumes mid-iteration from the
   last completed superstep — the DataFrame analogue of the reference's
   warm-start kernel (`parallelLouvainMethodInitialized.cpp:106-112`).
"""

from __future__ import annotations

import json
import os
import threading
import time

import shutil
import tempfile
from collections import deque

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_observation(obs, timeout: float = 60.0) -> dict | None:
    """Fetch an ``Observation``'s metrics with a bounded wait.

    Returns the metrics dict, or ``None`` when the metrics are unavailable —
    AQE's empty-relation propagation can prune the CollectMetrics node when
    the observed plan goes runtime-empty (exactly the convergence iteration
    of an iterative kernel), leaving ``obs.get`` to raise on a schemaless
    row; and on Spark builds where a pruned observation BLOCKS instead of
    raising, the daemon-thread join bounds the wait so the superstep loop
    can fall back to recomputing the stats from persisted state instead of
    hanging. Callers treat ``None`` as "recompute exactly" — so a swallowed
    unrelated failure costs one cheap aggregation, never a wrong result.
    """
    out: dict = {}

    def _fetch():
        try:
            out["m"] = dict(obs.get)
        except Exception as e:  # pruned CollectMetrics → schemaless row
            out["err"] = e

    t = threading.Thread(target=_fetch, daemon=True)
    t.start()
    t.join(timeout)
    if t.is_alive() or "err" in out or "m" not in out:
        return None
    return out["m"]

# Scratch state for cut_lineage: one root dir per session, a rotating set of
# step files per tag. Paths older than ``keep_last`` steps are deleted.
_SCRATCH: dict = {}


def _scratch_root(spark: SparkSession) -> str:
    key = id(spark.sparkContext)
    if key not in _SCRATCH:
        root = os.environ.get("SPARK_GRAFT_SCRATCH") or tempfile.mkdtemp(
            prefix="grappolo-scratch-"
        )
        _SCRATCH[key] = {"root": root, "n": 0, "tags": {}}
    return key


def _gc_step(spark: SparkSession, st: dict, path: str) -> None:
    """Delete one rotated-out step: drop its catalog table (bucketed cuts
    register one) and remove the files."""
    table = st.get("tables", {}).pop(path, None)
    if table is not None:
        try:
            spark.sql(f"DROP TABLE IF EXISTS {table}")
        except Exception:
            pass  # session shutting down: the rmtree still reclaims disk
    shutil.rmtree(path, ignore_errors=True)


def cut_lineage(
    df: DataFrame,
    tag: str = "step",
    keep_last: int = 6,
    bucket_by: str | None = None,
    n_buckets: int = 32,
) -> DataFrame:
    """Truncate lineage by a parquet round-trip through a scratch dir.

    Why not ``localCheckpoint``: in long superstep loops its execution time
    degrades badly (observed 2s → 50s+ per superstep on this Spark build as
    checkpoint RDDs accumulate), and the blocks die with an executor — wrong
    at 1000-executor scale. A parquet round-trip is flat-cost, survives
    executor loss, and doubles as the durable per-superstep state the
    north_rule's resumability requires. Old step files are GC'd, keeping the
    last ``keep_last`` per tag (callers may hold a reference one or two steps
    back, e.g. Louvain's previous-iteration assignment).

    ``bucket_by`` writes the cut BUCKETED (external table in the scratch
    dir, ``bucketBy(n_buckets, col) + sortBy``, read back via the catalog so
    the scan carries ``hashpartitioning(col, n_buckets)``): the iterative
    kernels' state tables are consumed 4-6 times per superstep by joins and
    aggregations keyed on ``v``, and with the broadcast path off each
    consumer re-shuffled the O(V) state every iteration — bucketing pays
    ONE exchange at write time (the explicit repartition below, which also
    yields exactly one file per bucket) and zero at the consumers, the same
    trade :func:`grappolo_spark.sources.writers.write_bucketed_edges` makes
    durable for edges. Pick ``n_buckets`` = the superstep loop's shuffle
    partition count so co-partitioned joins line up. Bucketed cuts are NOT
    rename-promotable (the catalog entry pins the path) — callers that
    return one go through ``promote_result(fallback_cut=True)``'s re-cut.
    """
    spark = df.sparkSession
    key = _scratch_root(spark)
    st = _SCRATCH[key]
    st["n"] += 1
    path = os.path.join(st["root"], f"{tag}-{st['n']:06d}")
    if bucket_by is not None:
        table = f"grappolo_{tag}_{st['n']:06d}".replace("-", "_")
        (
            df.repartition(n_buckets, bucket_by)
            .write.mode("overwrite")
            .bucketBy(n_buckets, bucket_by)
            .sortBy(bucket_by)
            .option("path", path)
            .format("parquet")
            .saveAsTable(table)
        )
        out = spark.table(table)
        st.setdefault("tables", {})[path] = table
    else:
        df.write.mode("overwrite").parquet(path)
        # supply the known schema: an inferred read pays a footer-read job
        # per cut — pure driver-latency at one cut per superstep (measured
        # ~0.3s wall each on the forced-distributed multiphase profile)
        out = spark.read.schema(df.schema).parquet(path)
        # breadcrumb for promote_result: which rotation owns this DF's files
        out._grappolo_scratch = (key, tag, path)
    q = st["tags"].setdefault(tag, deque())
    q.append(path)
    while len(q) > keep_last:
        _gc_step(spark, st, q.popleft())
    return out


def promote_result(
    df: DataFrame, keep_last: int = 64, fallback_cut: bool = False
) -> DataFrame:
    """Move a rotation-backed DataFrame's files into the long-lived
    ``result`` rotation — an ``os.rename``, NO Spark job.

    A kernel that returns its last ``runner.commit`` / ``cut_lineage``
    output directly hands the caller a DataFrame whose backing parquet
    still sits in a short rotating window (e.g. tag ``commit``,
    ``keep_last=6``). Any LATER kernel run in the same session then rotates
    those files out and deletes them before the caller collects —
    FAILED_READ_FILE on a perfectly good result. Re-cutting at exit fixes
    the lifetime but costs a full extra write+read job per phase; this
    promotes the already-written files instead: pop the path out of its
    rotation, rename it into the shared ``result`` window (``keep_last``
    matches the explicit result cuts elsewhere), and re-read. DataFrames
    that are not directly rotation-backed (LocalRelations, durable run_dir
    commits, chained localCheckpoints, derived plans) pass through
    unchanged — callers returning a DERIVED plan over scratch must still
    use :func:`cut_lineage`, or pass ``fallback_cut=True`` to get an
    explicit ``result`` cut whenever the rename fast path doesn't apply.
    """

    def _fallback(d):
        return (
            cut_lineage(d, tag="result", keep_last=keep_last)
            if fallback_cut
            else d
        )

    info = getattr(df, "_grappolo_scratch", None)
    if info is None:
        return _fallback(df)
    key, tag, path = info
    st = _SCRATCH.get(key)
    if st is None:
        return _fallback(df)
    q = st["tags"].get(tag)
    if q is None or path not in q:
        return _fallback(df)  # already rotated out: only a re-cut can help
    spark = df.sparkSession
    q.remove(path)
    st["n"] += 1
    new_path = os.path.join(st["root"], f"result-{st['n']:06d}")
    os.rename(path, new_path)
    out = spark.read.schema(df.schema).parquet(new_path)
    out._grappolo_scratch = (key, "result", new_path)
    rq = st["tags"].setdefault("result", deque())
    rq.append(new_path)
    while len(rq) > keep_last:
        _gc_step(spark, st, rq.popleft())
    return out


class SuperstepRunner:
    """Checkpointed superstep state store.

    Usage::

        runner = SuperstepRunner(spark, run_dir, every=5)
        start, state = runner.resume(schema_loader)   # (0, None) fresh
        for step in range(start, max_iters):
            state, metrics = advance(state)
            state = runner.commit(step, state, metrics)
    """

    def __init__(
        self,
        spark: SparkSession,
        run_dir: str | None = None,
        every: int = 1,
        reliable: bool = False,
        bucket_by: str | None = None,
        n_buckets: int = 32,
    ):
        self.spark = spark
        self.run_dir = run_dir
        self.every = max(1, every)
        self.reliable = reliable
        # bucketed scratch commits (see cut_lineage): the big-graph kernels
        # set bucket_by="v" when the broadcast gather is off, so every
        # consumer of the committed state reads it pre-partitioned
        self.bucket_by = bucket_by
        self.n_buckets = n_buckets
        self.history: list[dict] = []
        if run_dir:
            os.makedirs(run_dir, exist_ok=True)

    # -- persistence ---------------------------------------------------
    def _step_dir(self, step: int) -> str:
        return os.path.join(self.run_dir, f"step={step:06d}")

    def resume(self) -> tuple[int, DataFrame | None]:
        """Return (next_step, last committed state DF or None)."""
        if not self.run_dir or not os.path.isdir(self.run_dir):
            return 0, None
        done = sorted(
            int(d.split("=")[1])
            for d in os.listdir(self.run_dir)
            if d.startswith("step=")
            and os.path.exists(os.path.join(self.run_dir, d, "_METRICS.json"))
        )
        if not done:
            return 0, None
        last = done[-1]
        state = self.spark.read.parquet(os.path.join(self._step_dir(last), "state"))
        with open(os.path.join(self._step_dir(last), "_METRICS.json")) as f:
            self.history = json.load(f).get("history", [])
        return last + 1, state

    def commit(self, step: int, state: DataFrame, metrics: dict) -> DataFrame:
        """Record a completed superstep; returns the (lineage-cut) state."""
        metrics = dict(metrics, step=step, ts=time.time())
        self.history.append(metrics)
        if self.run_dir and step % self.every == 0:
            sd = self._step_dir(step)
            schema = state.schema
            state.write.mode("overwrite").parquet(os.path.join(sd, "state"))
            state = self.spark.read.schema(schema).parquet(
                os.path.join(sd, "state")
            )
            # per-partition lineage: rows per partition of the committed state
            part_rows = [
                r.asDict()
                for r in state.groupBy(F.spark_partition_id().alias("partition"))
                .agg(F.count(F.lit(1)).alias("rows"))
                .collect()
            ]
            with open(os.path.join(sd, "_METRICS.json"), "w") as f:
                json.dump(
                    {"metrics": metrics, "partitions": part_rows, "history": self.history},
                    f,
                )
            return state
        return cut_lineage(
            state, tag="commit",
            bucket_by=self.bucket_by, n_buckets=self.n_buckets,
        )
