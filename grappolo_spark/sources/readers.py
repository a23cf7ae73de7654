"""Graph file-format readers → canonical edge DataFrame.

Re-expresses the reference's InputsOutput/ parser family (14 formats,
`SURVEY.md §2.1`) as Spark text/csv scans + column expressions — each loader
streams through executors (no driver-side parsing), so a multi-TB edge list
loads in parallel. Parquet (snappy/zstd) replaces the reference's custom
binary CSR dump (`loadBinary.cpp`) and blosc-HDF5 (`loadHDF5.cc`).

| reader | reference parser |
|---|---|
| read_edge_list            | parse_UndirectedEdgeList(Weighted) `loadEdgeList.cpp:156-421` |
| read_edge_list(directed=) | parse_DirectedEdgeList `loadEdgeList.cpp:6-154` |
| read_snap                 | parse_SNAP `loadSNAP.cpp:20-213` (renumbering incl.) |
| read_snap_ground_truth    | parse_SNAP_GroundTruthCommunities `loadSNAP.cpp:215-323` |
| read_metis                | loadMetisFileFormat `loadMetis.cpp:19-234` |
| read_matrix_market        | parse_MatrixMarket(_Sym_AsGraph) `loadMatrixMarket.cpp` |
| read_pajek                | parse_PajekFormat(Undirected) `loadPajekFormat.cpp` |
| read_dimacs9              | parse_Dimacs9FormatDirectedNewD `loadDimacs.cpp:3-134` |
| read_parquet_graph        | parse_EdgeListBinaryNew / HDF5 `loadBinary.cpp`, `loadHDF5.cc` |
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from grappolo_spark.graph import Graph, densify_ids

_WS = r"\s+"


def _tokens(df: DataFrame) -> DataFrame:
    return df.select(F.split(F.trim("value"), _WS).alias("t"))


def _numbered_lines(spark: SparkSession, path: str, keep=None) -> DataFrame:
    """(idx, line) in file order WITHOUT a single-partition window.

    ``zipWithIndex`` numbers rows per partition and offsets by the partition
    sizes (one lightweight extra pass) — the scan itself stays distributed,
    unlike ``row_number() OVER (ORDER BY monotonically_increasing_id())``,
    which funnels every line through one partition. ``keep`` filters lines
    BEFORE numbering, so indices are contiguous over the kept lines."""
    rdd = spark.sparkContext.textFile(path)
    if keep is not None:
        rdd = rdd.filter(keep)
    return spark.createDataFrame(
        rdd.zipWithIndex().map(lambda kv: (kv[1], kv[0])),
        "idx long, line string",
    )


def read_edge_list(
    spark: SparkSession,
    path: str,
    weighted: bool = False,
    one_based: bool = True,
    directed: bool = False,
) -> Graph:
    """Whitespace ``u v [w]`` lines; 1-based ids decremented, weight := 1
    when absent (reference `loadEdgeList.cpp:194,208-209`)."""
    t = _tokens(
        spark.read.text(path).filter(
            (F.length(F.trim("value")) > 0) & ~F.col("value").startswith("%")
            & ~F.col("value").startswith("#")
        )
    )
    off = 1 if one_based else 0
    cols = [
        (F.col("t")[0].cast("long") - off).alias("src"),
        (F.col("t")[1].cast("long") - off).alias("dst"),
    ]
    if weighted:
        cols.append(F.col("t")[2].cast("double").alias("weight"))
    # unweighted files omit the column: canonical_edges fills weight=1.0
    # and the Graph carries unweighted=True (narrow iterative gathers)
    return Graph.from_edgelist(t.select(*cols), directed=directed)


def read_snap(spark: SparkSession, path: str) -> tuple[DataFrame, Graph]:
    """SNAP tsv with ``#`` comments and arbitrary external ids; renumbers
    densely and returns (vertex_map, graph) — `loadSNAP.cpp:20-213`.
    An optional third column is the weight."""
    t = _tokens(
        spark.read.text(path).filter(
            (F.length(F.trim("value")) > 0) & ~F.col("value").startswith("#")
        )
    )
    pairs = t.select(
        F.col("t")[0].alias("src_ext"),
        F.col("t")[1].alias("dst_ext"),
        F.coalesce(F.col("t")[2].cast("double"), F.lit(1.0)).alias("weight"),
    )
    vertex_map, dense = densify_ids(pairs, "src_ext", "dst_ext")
    g = Graph.from_edgelist(
        dense.withColumnRenamed("src_ext", "src").withColumnRenamed("dst_ext", "dst")
    )
    return vertex_map, g


def read_snap_ground_truth(
    spark: SparkSession, path: str, vertex_map: DataFrame
) -> DataFrame:
    """Ground-truth community file (one community per line, tab-separated
    member ids) mapped through the saved vertex_map → (v, comm)
    (`loadSNAP.cpp:215-323`, `convertSNAPGroundTruthInformation.cpp`).

    Community id = line index over the kept lines (file order), assigned by
    distributed zipWithIndex — no single-partition window."""
    numbered = _numbered_lines(
        spark, path,
        keep=lambda l: len(l.strip()) > 0 and not l.startswith("#"),
    )
    members = numbered.select(
        F.col("idx").alias("comm"),
        F.explode(F.split(F.trim("line"), _WS)).alias("ext_id"),
    )
    return members.join(vertex_map, "ext_id").select("v", "comm")


def read_metis(spark: SparkSession, path: str) -> Graph:
    """METIS/DIMACS#10 adjacency format (`loadMetis.cpp:19-234`): header
    ``NV NE [fmt [ncon]]``; line i (1-based) lists the neighbors of vertex i.

    Faithful to the reference parser plus the standard-format extensions:
    - blank lines are KEPT in the numbering — they are valid isolated
      vertices (`loadMetis.cpp` strRang==0 branch); only '%' comments skip
    - self-edges are dropped ("self-edge removed", `loadMetis.cpp:101-104`)
    - fmt last digit = edge weights (alternating neighbor/weight pairs);
      second-last digit = vertex weights, ``ncon`` per line, parsed and
      ignored exactly as the reference documents ("Will ignore vertex
      weights", `loadMetis.cpp:165-223`)
    - all NV header vertices exist in the graph, edges or not

    Line numbers must be assigned in file order — done with a distributed
    zipWithIndex (METIS files are line-ordered; for huge graphs prefer
    parquet/edge-list inputs)."""
    df = _numbered_lines(spark, path, keep=lambda l: not l.startswith("%"))
    header = df.filter("idx = 0").collect()[0]["line"].split()
    nv = int(header[0])
    fmt = header[2] if len(header) > 2 else "0"
    ncon = int(header[3]) if len(header) > 3 else 1
    has_vweights = len(fmt) >= 2 and fmt[-2] == "1"
    has_eweights = fmt[-1] == "1"
    skip = ncon if has_vweights else 0
    body = df.filter((F.col("idx") > 0) & (F.col("idx") <= nv)).select(
        (F.col("idx") - 1).alias("src"),
        # tokenize, drop empties (blank adjacency lines), skip vertex weights
        F.expr(
            f"slice(filter(split(trim(line), '\\\\s+'), x -> x != ''),"
            f" {skip} + 1, 2147483647)"
        ).alias("t"),
    )
    if has_eweights:
        pairs = body.filter(F.size("t") >= 2).select(
            "src",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(t) - 2, 2),"
                    " i -> struct(cast(t[i] as long) - 1 as dst,"
                    "            cast(t[i + 1] as double) as weight))"
                )
            ).alias("e"),
        ).select("src", F.col("e.dst"), F.col("e.weight"))
    else:
        # no weight column: from_edgelist fills 1.0 and flags unweighted
        pairs = (
            body.filter(F.size("t") > 0)
            .select("src", F.explode("t").alias("d"))
            .select("src", (F.col("d").cast("long") - 1).alias("dst"))
            .filter(F.col("dst").isNotNull())
        )
    pairs = pairs.filter(F.col("src") != F.col("dst"))
    vertices = spark.range(nv).select(F.col("id").cast("long").alias("v"))
    return Graph.from_edgelist(pairs, vertices=vertices)


def read_matrix_market(spark: SparkSession, path: str) -> Graph:
    """MatrixMarket coordinate format (`loadMatrixMarket.cpp`): '%' comments,
    first data line ``M N nnz``, then ``i j [v]`` (1-based). Symmetric
    matrices load as undirected graphs; general matrices as bipartite with
    column vertices offset by M (reference sVertices semantics)."""
    first = spark.read.text(path).limit(1).collect()[0]["value"]
    symmetric = "symmetric" in first.lower()
    numbered = _numbered_lines(
        spark, path,
        keep=lambda l: len(l.strip()) > 0 and not l.startswith("%"),
    )
    header = numbered.filter("idx = 0").collect()[0]["line"].split()
    m = int(header[0])
    body = _tokens(
        numbered.filter("idx > 0").select(F.col("line").alias("value"))
    )
    if symmetric:
        pairs = body.select(
            (F.col("t")[0].cast("long") - 1).alias("src"),
            (F.col("t")[1].cast("long") - 1).alias("dst"),
            F.coalesce(F.col("t")[2].cast("double"), F.lit(1.0)).alias("weight"),
        )
    else:
        pairs = body.select(
            (F.col("t")[0].cast("long") - 1).alias("src"),
            (F.col("t")[1].cast("long") - 1 + m).alias("dst"),
            F.coalesce(F.col("t")[2].cast("double"), F.lit(1.0)).alias("weight"),
        )
    return Graph.from_edgelist(pairs)


def read_pajek(spark: SparkSession, path: str) -> Graph:
    """Pajek ``*Vertices`` / ``*Edges`` (or ``*Arcs``) sections
    (`loadPajekFormat.cpp`); 1-based ids."""
    numbered = _numbered_lines(spark, path)  # markers are positional: keep all
    marker = (
        numbered.filter(F.lower(F.trim("line")).rlike(r"^\*(edges|arcs)"))
        .agg(F.min("idx"))
        .collect()[0][0]
    )
    body = _tokens(
        numbered.filter(
            (F.col("idx") > marker) & (F.length(F.trim("line")) > 0)
        ).select(F.col("line").alias("value"))
    )
    pairs = body.select(
        (F.col("t")[0].cast("long") - 1).alias("src"),
        (F.col("t")[1].cast("long") - 1).alias("dst"),
        F.coalesce(F.col("t")[2].cast("double"), F.lit(1.0)).alias("weight"),
    )
    return Graph.from_edgelist(pairs)


def read_dimacs9(spark: SparkSession, path: str) -> Graph:
    """DIMACS#9 shortest-path format: ``a u v w`` arc lines
    (`loadDimacs.cpp:3-134`); 1-based."""
    t = _tokens(spark.read.text(path).filter(F.col("value").startswith("a ")))
    pairs = t.select(
        (F.col("t")[1].cast("long") - 1).alias("src"),
        (F.col("t")[2].cast("long") - 1).alias("dst"),
        F.coalesce(F.col("t")[3].cast("double"), F.lit(1.0)).alias("weight"),
    )
    return Graph.from_edgelist(pairs)


def _footer_rows(path: str) -> int | None:
    """Exact row count of a local parquet path from its footers: no Spark
    job. ``None`` for a non-local path or an unreadable footer."""
    from grappolo_spark.plans.iteration import footer_rows

    try:
        rows = footer_rows(path)
    except Exception:
        return None
    return sum(rows) if rows else None


def read_parquet_graph(spark: SparkSession, path: str) -> Graph:
    """Our binary format (replaces binary CSR / blosc-HDF5): a parquet edge
    table already in canonical symmetrized form. A local path's footers
    give the exact edge-row count, so a graph above the probe bound never
    runs the probe's collect."""
    from grappolo_spark.plans.tiers import remember

    # written from a canonical Graph (write_parquet_graph contract)
    g = Graph(edges=spark.read.parquet(path), deduped=True)
    remember(g, edge_rows=_footer_rows(path))
    return g
