"""Distributed order-preserving dense ranking (the zipWithIndex pattern).

``Window.orderBy(...)`` with no ``partitionBy`` funnels the whole table
through ONE task — correct at test scale, dead at 100 TB (billions of vertex
ids through a single partition). This module provides the scalable
equivalent: range-repartition on the order key, stamp the partition id,
collect the tiny per-partition row counts (#partitions rows, not #rows),
turn them into cumulative offsets, and rank within each partition in
parallel:

    rank(row) = offset(partition) + row_number within partition - 1

The output order is identical to the global window (range partitions are
ordered by key), every partition ranks independently, and the only
driver-side data is one row per partition.

Determinism note: the partition-id stamp must be identical in the counts
job and the ranking job, so the stamped table is persisted and the counts
action materializes the cache before the ranking plan reads it (re-executing
the range exchange could re-sample different partition bounds under AQE).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from grappolo_spark.plans.iteration import cut_releasing

_PID = "_rr_pid"
_OFF = "_rr_off"


def dense_rank_ids(
    df: DataFrame,
    order_cols,
    out: str = "rank",
    num_partitions: int | None = None,
) -> tuple[DataFrame, int]:
    """Append a 0..n-1 ``out`` column ranking rows by ``order_cols``.

    Returns ``(ranked_df, n)`` — the total row count falls out of the
    offset computation for free (callers previously paid a separate
    ``count()`` action for it). ``order_cols`` should form a unique key;
    ties at range-partition boundaries would otherwise rank
    nondeterministically (exactly as they would under a global window).
    """
    if isinstance(order_cols, str):
        order_cols = [order_cols]
    spark = df.sparkSession
    n_part = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "200")
    )
    cols = [F.col(c) for c in order_cols]
    d = (
        df.repartitionByRange(n_part, *cols)
        .withColumn(_PID, F.spark_partition_id())
        .persist()
    )
    counts = {
        r[_PID]: r["c"]
        for r in d.groupBy(_PID).agg(F.count(F.lit(1)).alias("c")).collect()
    }
    total = 0
    offsets = []
    for pid in sorted(counts):
        offsets.append((pid, total))
        total += counts[pid]
    if not offsets:
        d.unpersist()
        empty = df.select(*df.columns, F.lit(0).cast("long").alias(out)).limit(0)
        return empty, 0
    off_df = spark.createDataFrame(offsets, schema=f"{_PID} int, {_OFF} long")
    w = Window.partitionBy(_PID).orderBy(*cols)
    ranked = d.join(F.broadcast(off_df), _PID).select(
        *df.columns,
        (F.row_number().over(w) - 1 + F.col(_OFF)).cast("long").alias(out),
    )
    # cut the ranked plan loose from the persisted stamp table
    return cut_releasing(ranked, d, tag="rank", keep_last=6), total
