"""Canonical graph representation: a symmetrized edge DataFrame.

Mirrors the content of Grappolo's CSR ``graph`` struct
(`/root/reference/DefineStructure/defs.h:85-92`) without the CSR: every
undirected edge (u,v) is stored twice as (u,v) and (v,u); self-loops are
stored once (`defs.h:89`, `InputsOutput/loadSNAP.cpp:22-23`). Adjacency is
recovered by ``groupBy(src)`` / joins on ``src`` — Catalyst + shuffle hash
partitioning replace the CSR layout.

At 100 TB scale the edge table is the big fact table: it is hash-partitioned
on ``src`` once (``partition_by_src``) and cached/persisted so every
superstep's ``edges JOIN assignments`` reuses the layout, and AQE handles
hub skew on the build side.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

EDGE_SCHEMA = StructType(
    [
        StructField("src", LongType(), False),
        StructField("dst", LongType(), False),
        StructField("weight", DoubleType(), False),
    ]
)


def canonical_edges(
    df: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = "weight",
    symmetrize: bool = True,
    dedup: bool = True,
) -> DataFrame:
    """Normalize an arbitrary pair table into the canonical edge schema.

    - casts ids to long, weight to double (1.0 when absent — matches
      `loadEdgeList.cpp:194` "Weights will be set to one")
    - drops duplicate (src,dst) pairs keeping max weight (reference
      `removeEdges`, `Utility/utilityFunctions.cpp:416-465`, keeps first;
      weights are equal in practice)
    - symmetrizes: each non-self edge appears in both directions, self-loops
      once (`defs.h:89`)
    """
    cols = [F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")]
    if weight is not None and weight in df.columns:
        cols.append(F.col(weight).cast("double").alias("weight"))
    else:
        cols.append(F.lit(1.0).alias("weight"))
    e = df.select(*cols)
    if symmetrize:
        # canonicalize to (min,max) first so (u,v) and (v,u) inputs dedup
        e = e.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
            "weight",
        )
    if dedup:
        e = e.groupBy("src", "dst").agg(F.max("weight").alias("weight"))
    if symmetrize:
        back = e.filter(F.col("src") != F.col("dst")).select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
        )
        e = e.unionByName(back)
    return e


def densify_ids(
    pairs: DataFrame, src: str = "src", dst: str = "dst"
) -> tuple[DataFrame, DataFrame]:
    """SNAP-style dense renumbering: external ids -> 0..NV-1 longs.

    The reference renumbers ids in insertion (first-appearance) order via a
    driver-side map (`InputsOutput/loadSNAP.cpp:74-108`); a serial scan order
    is meaningless on a distributed table, so we use the deterministic
    sort-order of the external id instead (documented divergence — the graph
    is isomorphic, labels differ by a fixed permutation).

    Returns (vertex_map(ext_id, v), densified pairs).

    Scale notes: the ranking is the distributed partition-offset form
    (``plans.ranking.dense_rank_ids``), not a single-partition global
    window, and the map join is left to AQE (a billions-of-vertices map
    must degrade to a shuffle join, not OOM on a forced broadcast).
    """
    from grappolo_spark.plans.ranking import dense_rank_ids

    ids = (
        pairs.select(F.col(src).alias("ext_id"))
        .union(pairs.select(F.col(dst).alias("ext_id")))
        .distinct()
    )
    vertex_map, _ = dense_rank_ids(ids, "ext_id", out="v")
    sm = vertex_map.withColumnRenamed("ext_id", "_s").withColumnRenamed("v", "_sv")
    dm = vertex_map.withColumnRenamed("ext_id", "_d").withColumnRenamed("v", "_dv")
    dense = (
        pairs.join(sm, pairs[src] == sm["_s"])
        .join(dm, pairs[dst] == dm["_d"])
        .select(
            F.col("_sv").alias(src),
            F.col("_dv").alias(dst),
            *[c for c in pairs.columns if c not in (src, dst)],
        )
    )
    return vertex_map, dense


@dataclass
class Graph:
    """Undirected weighted graph as a canonical edge DataFrame.

    ``edges`` must already be canonical (symmetrized, dedup'd, long ids,
    double weight); use :func:`Graph.from_edgelist` to normalize.
    ``vertices`` optionally carries isolated vertices (degree 0) that have no
    edge rows — the reference keeps them with community sentinel -1
    (`BasicCommunitiesDetection/parallelLouvainMethod.cpp:219-221`).

    Operators memoize the planner's facts on the graph (``_facts``), so
    they share one bounded probe (``plans.tiers.graph_facts``) and one
    stats action (``plans.tiers.graph_stats``: |V|, id bounds, 2m,
    integer weights, max degree, dangling, symmetry), which the probe's
    arrays (integer weights, no vertex table) or ``coarsen_cut`` supply
    instead. Rebuild the Graph if its source changes. The memo keeps up to
    4M rows of read-only driver arrays; :meth:`unpersist` drops it all.
    """

    edges: DataFrame
    vertices: DataFrame | None = None
    directed: bool = False
    # weight ≡ 1.0 on every row BY CONSTRUCTION (the source had no weight
    # column, so canonical_edges filled the literal). Iterative operators
    # use it to drop the 8-byte weight column from their per-superstep
    # gathers and aggregate with count(*) instead of sum(weight) — exact
    # (integer counts ≤ 2^53 are exact doubles), and narrower rows through
    # the hot exchange-free gather stage, which the round-5 stage profile
    # showed is per-row-width bound (73% of kernel CPU, zero shuffle).
    # Conservative default: False whenever weights might be real.
    unweighted: bool = False
    # edge rows are unique on (src, dst) BY CONSTRUCTION (canonical_edges'
    # dedup + symmetrize union cannot emit a pair twice; coarsen-style
    # groupBy outputs are unique by definition). Operators that would
    # otherwise re-deduplicate the pair table (CC, the colorings) skip
    # that exchange when this is set — distinct over already-unique rows
    # is the identity, so results are unchanged (equivalence-tested).
    # Conservative default: False for raw Graph(edges=...) construction.
    deduped: bool = False
    _cached: list = field(default_factory=list, repr=False)
    _facts: dict = field(default_factory=dict, repr=False, compare=False)

    # -- constructors -------------------------------------------------
    @classmethod
    def from_edgelist(
        cls,
        df: DataFrame,
        src: str = "src",
        dst: str = "dst",
        weight: str | None = "weight",
        directed: bool = False,
        vertices: DataFrame | None = None,
    ) -> "Graph":
        e = canonical_edges(df, src, dst, weight, symmetrize=not directed)
        unw = weight is None or weight not in df.columns
        return cls(
            edges=e, vertices=vertices, directed=directed, unweighted=unw,
            deduped=True,
        )

    @classmethod
    def from_pairs(cls, spark: SparkSession, pairs, weights=None) -> "Graph":
        """Tiny-fixture helper: build from a python list of (u, v[, w])."""
        rows = []
        unw = True
        for p in pairs:
            if len(p) == 3:
                rows.append((int(p[0]), int(p[1]), float(p[2])))
                if float(p[2]) != 1.0:
                    unw = False
            else:
                rows.append((int(p[0]), int(p[1]), 1.0))
        df = spark.createDataFrame(rows, schema=EDGE_SCHEMA)
        g = cls.from_edgelist(df)
        g.unweighted = unw
        return g

    # -- basic derived tables -----------------------------------------
    def vertex_ids(self) -> DataFrame:
        """All vertex ids (edge endpoints union explicit vertices).

        A symmetrized table lists every non-isolated vertex as ``src``
        (non-self edges appear in both directions, self-loops once with
        src == dst), so the undirected case distincts ONE endpoint column —
        half the rows into the distinct's exchange and one scan of the
        edge table instead of two. Directed graphs (pure sinks appear only
        as dst) and explicit-vertex graphs keep the full union.
        """
        if not self.directed and self.vertices is None:
            return self.edges.select(F.col("src").alias("v")).distinct()
        vs = self.edges.select(F.col("src").alias("v")).union(
            self.edges.select(F.col("dst").alias("v"))
        )
        if self.vertices is not None:
            vs = vs.union(self.vertices.select(F.col("v").cast("long")))
        return vs.distinct()

    def degrees(self) -> DataFrame:
        """(v, deg) weighted degree incl. self-loop once — reference
        ``sumVertexDegree`` (`Utility/utilityClusteringFunctions.cpp:70-87`).
        Isolated vertices get deg 0."""
        return self._degrees()

    def _degrees(self, **extra) -> DataFrame:
        """:meth:`degrees` plus the named per-src aggregates ``extra``,
        null for vertices with no out-edges."""
        d = self.edges.groupBy(F.col("src").alias("v")).agg(
            F.sum("weight").alias("deg"),
            F.count(F.lit(1)).alias("out_degree"),
            *(agg.alias(name) for name, agg in extra.items()),
        )
        # symmetrized graphs list every non-isolated vertex as src; directed
        # graphs have pure sinks (in-edges only) that groupBy(src) misses —
        # without this they'd silently drop out of Louvain/PageRank state
        if self.vertices is not None or self.directed:
            d = (
                self.vertex_ids()
                .join(d, "v", "left")
                .select(
                    "v",
                    F.coalesce("deg", F.lit(0.0)).alias("deg"),
                    F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
                    *extra,
                )
            )
        return d

    def num_vertices(self) -> int:
        return self.vertex_ids().count()

    def num_edges(self) -> int:
        """Edge count, each counted once (``defs.h:89``): a symmetrized
        table stores non-self edges twice, a directed one stores each arc
        once — only the former halves."""
        if self.directed:
            return self.edges.count()
        both = self.edges.count()
        selfloops = self.edges.filter(F.col("src") == F.col("dst")).count()
        return (both - selfloops) // 2 + selfloops

    def total_weight_2m(self) -> float:
        """Sum of vertex degrees = 2m (reference ``calConstantForSecondTerm``
        denominator, `utilityClusteringFunctions.cpp:89-96`)."""
        return self.edges.agg(F.sum("weight")).collect()[0][0] or 0.0

    def characteristics(self) -> DataFrame:
        """One-row graph profile — the full reference
        ``displayGraphCharacteristics`` stat set
        (`Utility/utilityFunctions.cpp:188-414`): degree extremes/moments,
        isolated and degree-one counts, density. Two scans (degree table +
        edge table) cross-joined into one row; all distributed aggregates.
        ``num_edges``/``density_pct`` halve the non-self row count only for
        symmetrized (undirected) tables; a directed graph stores each arc
        once, so its raw row count IS the arc count."""
        # directed tables store one row per arc — no double-counted rows
        half = F.lit(1) if self.directed else F.lit(2)
        deg_stats = self.degrees().agg(
            F.count(F.lit(1)).alias("num_vertices"),
            F.min("out_degree").cast("long").alias("min_degree"),
            F.max("out_degree").cast("long").alias("max_degree"),
            F.avg("out_degree").alias("_avg"),
            F.avg(F.col("out_degree") * F.col("out_degree")).alias("_avg_sq"),
            F.sum((F.col("out_degree") == 0).cast("long")).alias("isolated"),
            F.sum((F.col("out_degree") == 1).cast("long")).alias("degree_one"),
            F.round(F.sum("deg"), 6).alias("total_weight_2m"),
        )
        edge_stats = self.edges.agg(
            F.count(F.lit(1)).alias("_rows"),
            F.sum((F.col("src") == F.col("dst")).cast("long")).alias("_selfs"),
        )
        return deg_stats.crossJoin(edge_stats).select(
            "num_vertices",
            (
                (F.col("_rows") - F.coalesce("_selfs", F.lit(0))) / half
                + F.coalesce("_selfs", F.lit(0))
            ).cast("long").alias("num_edges"),
            "min_degree",
            "max_degree",
            F.round("_avg", 6).alias("avg_degree"),
            F.round("_avg_sq", 6).alias("avg_sq_degree"),
            F.round(F.col("_avg_sq") - F.col("_avg") * F.col("_avg"), 6).alias(
                "variance"
            ),
            F.round(
                F.sqrt(F.col("_avg_sq") - F.col("_avg") * F.col("_avg")), 6
            ).alias("std_dev"),
            "isolated",
            "degree_one",
            F.round(
                (
                    (F.col("_rows") - F.coalesce("_selfs", F.lit(0))) / half
                    + F.coalesce("_selfs", F.lit(0))
                )
                / (F.col("num_vertices") * F.col("num_vertices"))
                * 100.0,
                6,
            ).alias("density_pct"),
            "total_weight_2m",
        )

    # -- scale / layout helpers ---------------------------------------
    def partition_by_src(self, num_partitions: int | None = None) -> "Graph":
        """Hash-partition + persist the edge table on ``src`` so iterative
        join/groupBy supersteps reuse one layout (replaces the reference's
        CSR counting-sort, `loadEdgeList.cpp:225-249`). The rows and the
        vertex table stay the same, so the new graph starts from a copy of
        this one's facts memo (its :meth:`unpersist` clears the copy)."""
        e = (
            self.edges.repartition(num_partitions, "src")
            if num_partitions
            else self.edges.repartition("src")
        )
        e = e.persist()
        g = Graph(
            edges=e,
            vertices=self.vertices,
            directed=self.directed,
            unweighted=self.unweighted,
            deduped=self.deduped,
            _facts=dict(self._facts),
        )
        g._cached.append(e)
        return g

    def unpersist(self) -> None:
        for df in self._cached:
            try:
                df.unpersist()
            except Exception:
                pass
        self._cached.clear()
        self._facts.clear()
