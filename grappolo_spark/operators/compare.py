"""Cluster-comparison and quality metrics via pair-counting identities.

Reference `Utility/utilityClusterComparisonMetrics.cpp:50-331` enumerates
intra-community vertex pairs with nested sweeps; that is O(Σ|C|²) and dead
at scale. The same quantities follow from binomial identities over the
C1×C2 contingency table (one groupBy):

    TP (SameSame)  = Σ_{ij} C(n_ij, 2)
    FN (SameDiff)  = Σ_i C(n_i., 2) − TP
    FP (DiffSame)  = Σ_j C(n_.j, 2) − TP
    precision = TP/(TP+FP), recall = TP/(TP+FN), F = 2PR/(P+R)

−1 sentinel labels (isolated/dropped vertices) are remapped to fresh
singleton communities first, as the reference does
(`utilityClusterComparisonMetrics.cpp:50-307`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _fix_sentinels(assign: DataFrame, col: str) -> DataFrame:
    """Replace comm = −1 with a fresh unique community per vertex."""
    mx = assign.agg(F.max(col)).collect()[0][0] or 0
    return assign.select(
        "v",
        F.when(F.col(col) < 0, F.col("v") + F.lit(mx + 1))
        .otherwise(F.col(col))
        .alias(col),
    )


def _pairs2(col):
    return F.sum(col * (col - 1) / 2)


def community_comparison(c1: DataFrame, c2: DataFrame) -> dict:
    """Precision/recall/F-score/Mirkin between two (v, comm) clusterings
    (ground truth first). Pure pair-counting — 3 groupBys, no pair blowup."""
    a = _fix_sentinels(c1.select("v", F.col("comm").alias("ca")), "ca")
    b = _fix_sentinels(c2.select("v", F.col("comm").alias("cb")), "cb")
    j = a.join(b, "v")
    n = j.count()
    cont = j.groupBy("ca", "cb").agg(F.count(F.lit(1)).alias("nij")).persist()
    tp = cont.agg(_pairs2(F.col("nij"))).collect()[0][0] or 0.0
    row_pairs = (
        cont.groupBy("ca").agg(F.sum("nij").alias("ni"))
        .agg(_pairs2(F.col("ni"))).collect()[0][0] or 0.0
    )
    col_pairs = (
        cont.groupBy("cb").agg(F.sum("nij").alias("nj"))
        .agg(_pairs2(F.col("nj"))).collect()[0][0] or 0.0
    )
    cont.unpersist()
    fn = row_pairs - tp
    fp = col_pairs - tp
    precision = tp / (tp + fp) if (tp + fp) > 0 else 0.0
    recall = tp / (tp + fn) if (tp + fn) > 0 else 0.0
    fscore = (
        2 * precision * recall / (precision + recall)
        if (precision + recall) > 0
        else 0.0
    )
    # Mirkin distance (Meila 2005): 2·(disagreeing pairs)/n²
    mirkin = 2.0 * (fn + fp) / (n * n) if n else 0.0
    return {
        "n": n,
        "same_same": tp,
        "same_diff": fn,
        "diff_same": fp,
        "precision": precision,
        "recall": recall,
        "fscore": fscore,
        "mirkin": mirkin,
    }


def gini_coefficient(assign: DataFrame) -> float:
    """Gini of community-size distribution — reference
    `utilityClusterComparisonMetrics.cpp:309-331`:
    sizes ascending, G = 2·Σ(i+1)·s_i / (k·Σs) − (k+1)/k."""
    from grappolo_spark.plans.ranking import dense_rank_ids

    sizes = assign.filter(F.col("comm") >= 0).groupBy("comm").agg(
        F.count(F.lit(1)).alias("s")
    )
    # distributed partition-offset ranking (no single-partition window)
    ranked, _ = dense_rank_ids(sizes, ["s", "comm"], out="i0")
    row = (
        ranked.withColumn("i", F.col("i0") + 1)
        .agg(
            F.sum(F.col("i") * F.col("s")).alias("ws"),
            F.sum("s").alias("tot"),
            F.count(F.lit(1)).alias("k"),
        )
        .collect()[0]
    )
    if not row["k"] or not row["tot"]:
        return 0.0
    k, tot = row["k"], row["tot"]
    return 2.0 * row["ws"] / (k * tot) - (k + 1) / k


def consensus_histogram(
    edges: DataFrame, assignments: list[DataFrame], bins: int = 11
) -> DataFrame:
    """Per-edge co-clustering fraction across repeated runs, histogrammed —
    the stability protocol of `driverForGraphClusteringApprox.cpp:125-240`
    / `run1.sh`."""
    e = edges.filter(F.col("src") < F.col("dst")).select("src", "dst")
    agree = None
    for a in assignments:
        s = a.select(F.col("v").alias("src"), F.col("comm").alias("c1"))
        d = a.select(F.col("v").alias("dst"), F.col("comm").alias("c2"))
        m = (
            e.join(s, "src")
            .join(d, "dst")
            .select(
                "src", "dst", (F.col("c1") == F.col("c2")).cast("int").alias("same")
            )
        )
        agree = m if agree is None else agree.unionByName(m)
    frac = agree.groupBy("src", "dst").agg(
        (F.sum("same") / F.count(F.lit(1))).alias("frac")
    )
    return (
        frac.select(
            F.least(
                F.floor(F.col("frac") * (bins - 1) + 0.5), F.lit(bins - 1)
            ).cast("int").alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("edges"))
        .orderBy("bin")
    )

