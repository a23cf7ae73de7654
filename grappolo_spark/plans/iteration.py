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


def cut_releasing(
    df: DataFrame, *cached: DataFrame, tag: str = "result", keep_last: int = 64
) -> DataFrame:
    """:func:`cut_lineage` of ``df``, then unpersist the ``cached`` tables
    it read: the cut no longer needs them, and a caller may hold the
    result across many later jobs."""
    out = cut_lineage(df, tag=tag, keep_last=keep_last)
    for c in cached:
        c.unpersist()
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


_MARKER = "_METRICS.json"


def _parquet_files(path: str) -> list[str]:
    """The parquet files Spark reads under a local ``path`` (no ``_``/``.``
    prefix), in file-name order."""
    local = path.removeprefix("file:")
    files = [local] if os.path.isfile(local) else []
    for d, subdirs, names in os.walk(local):
        subdirs[:] = [s for s in subdirs if s[:1] not in "_."]
        files += [os.path.join(d, f) for f in names if f[:1] not in "_."]
    return sorted(files)


def footer_rows(path: str) -> list[int]:
    """Rows per parquet file that Spark reads under a local ``path``, in
    file-name order, from the footers: no Spark job; ``[]`` when there
    are no such files. An unreadable footer raises."""
    import pyarrow.parquet as pq

    return [pq.read_metadata(f).num_rows for f in _parquet_files(path)]


def read_cut(df: DataFrame, columns: list[str]):
    """``columns`` of a (not bucketed) :func:`cut_lineage` output as one
    pandas frame, read from its parquet files by pyarrow on the driver:
    no Spark job."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    _, _, path = df._grappolo_scratch
    tables = [pq.read_table(f, columns=columns) for f in _parquet_files(path)]
    if not tables:
        return pd.DataFrame({c: pd.Series(dtype=object) for c in columns})
    return pa.concat_tables(tables).to_pandas()


def _local_dir(run_dir: str) -> str:
    """``run_dir`` as a local path. Steps are listed and markers written
    through ``os``, so a URI scheme other than ``file:`` raises: Spark
    would write the state there while the markers land in a local
    directory of the same name."""
    from urllib.parse import urlsplit

    url = urlsplit(run_dir)
    if url.scheme == "file":
        return url.path
    if url.scheme:
        raise ValueError(
            f"run_dir {run_dir!r} is not a local path: use a local or "
            "mounted directory"
        )
    return run_dir


class SuperstepRunner:
    """Checkpointed superstep state store.

    Usage::

        runner = SuperstepRunner(spark, run_dir, every=5)
        start, state = runner.resume()   # (0, None) fresh
        for step in range(start, max_iters):
            state, metrics = advance(state)
            state = runner.commit(step, state, metrics)

    With a ``run_dir`` (a local or mounted path; other URI schemes raise)
    each committed superstep is ``step=NNNNNN/state`` parquet plus a
    ``_METRICS.json`` marker written last, through a ``.tmp`` file and
    ``os.replace``, so a killed commit leaves no marker and is redone.
    Two writers share that layout: :meth:`commit` writes a DataFrame with
    Spark, :meth:`commit_arrays` writes driver numpy columns as ONE
    pyarrow file with no Spark job. :meth:`resume` and
    :meth:`resume_array` read the last marked step whichever wrote it.
    The marker's ``partitions`` list the rows per written state file, read
    from the parquet footers (one entry for a numpy commit).
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
        self.run_dir = _local_dir(run_dir) if run_dir else None
        self.every = max(1, every)
        self.reliable = reliable
        # bucketed scratch commits (see cut_lineage): the big-graph kernels
        # set bucket_by="v" when the broadcast gather is off, so every
        # consumer of the committed state reads it pre-partitioned
        self.bucket_by = bucket_by
        self.n_buckets = n_buckets
        self.history: list[dict] = []
        if self.run_dir:
            os.makedirs(self.run_dir, exist_ok=True)

    # -- persistence ---------------------------------------------------
    def _step_dir(self, step: int) -> str:
        return os.path.join(self.run_dir, f"step={step:06d}")

    def _last_step(self) -> tuple[int | None, int]:
        """The last step with a marker, its history loaded, and the rows of
        its state; ``(None, 0)`` when nothing is committed."""
        if not self.run_dir or not os.path.isdir(self.run_dir):
            return None, 0
        done = [
            int(d.split("=")[1])
            for d in os.listdir(self.run_dir)
            if d.startswith("step=")
            and os.path.exists(os.path.join(self.run_dir, d, _MARKER))
        ]
        if not done:
            return None, 0
        last = max(done)
        with open(os.path.join(self._step_dir(last), _MARKER)) as f:
            marker = json.load(f)
        self.history = marker.get("history", [])
        return last, sum(p["rows"] for p in marker.get("partitions", []))

    def _mismatch(self, rows: int, nv: int) -> ValueError:
        return ValueError(
            f"run_dir {self.run_dir!r} holds the state of {rows} "
            f"vertices, not of this graph's {nv}"
        )

    def state(self, step: int) -> DataFrame:
        """The committed state of ``step``."""
        return self.spark.read.parquet(os.path.join(self._step_dir(step), "state"))

    def resume(self, nv: int | None = None) -> tuple[int, DataFrame | None]:
        """Return (next_step, last committed state DF or None). ``nv``, the
        caller's |V| for a state of one row per vertex, must equal the
        last commit's rows (from its marker, no Spark job), else
        ``ValueError``."""
        last, rows = self._last_step()
        if last is None:
            return 0, None
        if nv is not None and rows != nv:
            raise self._mismatch(rows, nv)
        return last + 1, self.state(last)

    def resume_array(self, ids, col: str) -> tuple[int, object]:
        """Return (next_step, the last commit's ``col`` as a numpy array
        aligned to the sorted vertex ids ``ids``, or None). A commit whose
        ``v`` column is not exactly ``ids`` raises ``ValueError``."""
        import numpy as np
        import pyarrow.parquet as pq

        last, _ = self._last_step()
        if last is None:
            return 0, None
        state = pq.read_table(
            os.path.join(self._step_dir(last), "state"), columns=["v", col]
        )
        v = state.column("v").to_numpy()
        order = np.argsort(v, kind="stable")
        if not np.array_equal(v[order], ids):
            raise self._mismatch(len(v), len(ids))
        return last + 1, state.column(col).to_numpy()[order]

    def _record(self, step: int, metrics: dict) -> str | None:
        """Append ``metrics`` to the history; the step's directory when
        this step is durable."""
        metrics = dict(metrics, step=step, ts=time.time())
        self.history.append(metrics)
        if self.run_dir and step % self.every == 0:
            return self._step_dir(step)
        return None

    def _mark(self, sd: str) -> None:
        """Write the step's marker last and atomically."""
        payload = {
            "metrics": self.history[-1],
            "partitions": [
                {"partition": i, "rows": n}
                for i, n in enumerate(footer_rows(os.path.join(sd, "state")))
            ],
            "history": self.history,
        }
        tmp = os.path.join(sd, _MARKER + ".tmp")
        with open(tmp, "w") as f:
            json.dump(payload, f)
        os.replace(tmp, os.path.join(sd, _MARKER))

    def commit(self, step: int, state: DataFrame, metrics: dict) -> DataFrame:
        """Record a completed superstep; returns the (lineage-cut) state."""
        sd = self._record(step, metrics)
        if sd is not None:
            schema = state.schema
            state.write.mode("overwrite").parquet(os.path.join(sd, "state"))
            self._mark(sd)
            return self.spark.read.schema(schema).parquet(os.path.join(sd, "state"))
        return cut_lineage(
            state, tag="commit",
            bucket_by=self.bucket_by, n_buckets=self.n_buckets,
        )

    def commit_arrays(self, step: int, columns: dict, metrics: dict) -> None:
        """Record a completed superstep of driver state: ``columns`` maps
        the Spark state's column names, in its order, to numpy arrays of
        its types. No Spark job."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        sd = self._record(step, metrics)
        if sd is not None:
            # a killed commit's part files must not mix into this one
            shutil.rmtree(sd, ignore_errors=True)
            os.makedirs(os.path.join(sd, "state"))
            pq.write_table(
                pa.table(columns), os.path.join(sd, "state", "part-00000.parquet")
            )
            self._mark(sd)
