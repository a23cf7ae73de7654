import numpy as np

from grappolo_spark.sources import fixtures, readers, writers
from grappolo_spark.sources.fixtures import KARATE_EDGES


def _write(path, text):
    with open(path, "w") as f:
        f.write(text)


def _karate_metis_text():
    """Generate METIS text for karate from our own fixture edge list."""
    adj = {}
    for u, v in KARATE_EDGES:
        adj.setdefault(u, []).append(v)
        adj.setdefault(v, []).append(u)
    lines = [f"34 {len(KARATE_EDGES)} 0"]
    for v in range(34):
        lines.append(" ".join(str(n + 1) for n in sorted(adj.get(v, []))))
    return "\n".join(lines) + "\n"


def test_metis_roundtrip_karate(spark, tmp_path):
    p = str(tmp_path / "karate.graph")
    _write(p, _karate_metis_text())
    g = readers.read_metis(spark, p)
    assert g.num_vertices() == 34 and g.num_edges() == 78
    # write back and re-read
    out = str(tmp_path / "karate_out.graph")
    writers.write_metis(g, out)
    g2 = readers.read_metis(spark, out)
    assert {(r.src, r.dst) for r in g2.edges.collect()} == {
        (r.src, r.dst) for r in g.edges.collect()
    }


def test_edge_list_weighted(spark, tmp_path):
    p = str(tmp_path / "edges.txt")
    _write(p, "# comment\n1 2 3.5\n2 3 1.0\n")
    g = readers.read_edge_list(spark, p, weighted=True)
    w = {(r.src, r.dst): r.weight for r in g.edges.collect()}
    assert w == {(0, 1): 3.5, (1, 0): 3.5, (1, 2): 1.0, (2, 1): 1.0}


def test_snap_renumbering_and_ground_truth(spark, tmp_path):
    p = str(tmp_path / "snap.txt")
    _write(p, "# Nodes: 4 Edges: 3\n100\t7\n7\t250\n250\t100\n")
    vmap, g = readers.read_snap(spark, p)
    ids = {r.ext_id: r.v for r in vmap.collect()}
    assert ids == {"100": 0, "250": 1, "7": 2}  # sort-order densification
    assert g.num_edges() == 3
    gt = str(tmp_path / "gt.txt")
    _write(gt, "100\t7\n250\n")
    comms = {r.v: r.comm for r in readers.read_snap_ground_truth(spark, gt, vmap).collect()}
    assert comms == {0: 0, 2: 0, 1: 1}


def test_matrix_market_symmetric(spark, tmp_path):
    p = str(tmp_path / "m.mtx")
    _write(
        p,
        "%%MatrixMarket matrix coordinate real symmetric\n"
        "3 3 3\n1 2 1.5\n2 3 2.0\n3 3 4.0\n",
    )
    g = readers.read_matrix_market(spark, p)
    w = {(r.src, r.dst): r.weight for r in g.edges.collect()}
    assert w[(0, 1)] == 1.5 and w[(2, 2)] == 4.0
    out = str(tmp_path / "out.mtx")
    writers.write_matrix_market(g, out)
    g2 = readers.read_matrix_market(spark, out)
    assert {(r.src, r.dst, r.weight) for r in g2.edges.collect()} == {
        (r.src, r.dst, r.weight) for r in g.edges.collect()
    }


def test_pajek_and_dimacs(spark, tmp_path):
    pj = str(tmp_path / "g.net")
    _write(pj, "*Vertices 3\n1 \"a\"\n2 \"b\"\n3 \"c\"\n*Edges\n1 2 1\n2 3 1\n")
    g = readers.read_pajek(spark, pj)
    assert g.num_edges() == 2
    writers.write_pajek(g, str(tmp_path / "out.net"))
    g2 = readers.read_pajek(spark, str(tmp_path / "out.net"))
    assert g2.num_edges() == 2

    d9 = str(tmp_path / "g.gr")
    _write(d9, "c comment\np sp 3 2\na 1 2 5\na 2 3 7\n")
    gd = readers.read_dimacs9(spark, d9)
    w = {(r.src, r.dst): r.weight for r in gd.edges.collect()}
    assert w[(0, 1)] == 5.0 and w[(1, 2)] == 7.0


def test_parquet_graph_roundtrip(spark, tmp_path):
    g = fixtures.karate(spark)
    path = str(tmp_path / "karate.parquet")
    writers.write_parquet_graph(g, path)
    g2 = readers.read_parquet_graph(spark, path)
    assert g2.num_edges() == 78


def test_cluster_assignment_and_edge_list_sinks(spark, tmp_path):
    g = fixtures.grid2d(spark, 2, 3)
    assign = g.vertex_ids().selectExpr("v", "v % 2 as comm")
    p = str(tmp_path / "clust.txt")
    writers.write_cluster_assignment(assign, p)
    assert [l.strip() for l in open(p)] == ["0", "1", "0", "1", "0", "1"]
    writers.write_edge_list(g, str(tmp_path / "el"))
    g2 = readers.read_edge_list(spark, str(tmp_path / "el"), weighted=True)
    assert g2.num_edges() == g.num_edges()


def test_old2new_map(spark):
    from pyspark.sql import functions as F

    from grappolo_spark.sources.writers import build_old2new_map

    assign = spark.createDataFrame(
        [(0, 1), (1, 0), (2, 1), (3, 0)], "v long, comm long"
    )
    m = {r.v: r.new_id for r in build_old2new_map(assign).collect()}
    assert m == {1: 0, 3: 1, 0: 2, 2: 3}  # packed by (comm, v)


def test_metis_blank_lines_self_edges_and_vertex_weights(spark, tmp_path):
    # 5 vertices: v0-v1, v1-v2, v3 ISOLATED (blank line), v4-v0; plus a
    # self-edge 2->3(=itself? no: 3 is v2's 1-based self) that must drop.
    # fmt=10 + ncon=2: two vertex weights lead each line and are ignored
    # (reference "Will ignore vertex weights", loadMetis.cpp:165-223).
    text = "\n".join(
        [
            "% a comment line",
            "5 3 10 2",
            "9 1 2 5",      # v0: w=(9,1) nbrs 1(v1-? 1-based)->v1? 2->v1, 5->v4
            "7 2 1 3 2",    # v1: w=(7,2) nbrs v0, v2, self(2->v1) dropped
            "3 3 2",        # v2: nbrs v1
            "",             # v3: isolated
            "1 1 1",        # v4: nbrs v0
        ]
    ) + "\n"
    p = str(tmp_path / "vw.graph")
    _write(p, text)
    g = readers.read_metis(spark, p)
    assert g.num_vertices() == 5  # isolated v3 included
    edges = {(r.src, r.dst) for r in g.edges.collect()}
    assert (1, 1) not in edges  # self-edge removed
    assert edges == {(0, 1), (1, 0), (1, 2), (2, 1), (0, 4), (4, 0)}
    degs = {r.v: r.out_degree for r in g.degrees().collect()}
    assert degs[3] == 0


def test_metis_writer_header_excludes_self_loops(spark, tmp_path):
    from grappolo_spark.graph import Graph

    g = Graph.from_pairs(spark, [(0, 1), (1, 2), (2, 2)])  # one self-loop
    out = str(tmp_path / "selfloop.graph")
    writers.write_metis(g, out)
    with open(out) as f:
        header = f.readline().split()
    # body lists only non-self adjacency: 2 undirected edges
    assert header[:2] == ["3", "2"]


def test_parquet_graph_knows_its_rows_from_footers(spark, tmp_path, monkeypatch):
    """read_parquet_graph records the exact edge-row count from the parquet
    footers (no Spark job), so a graph above the probe bound (here a
    bound monkeypatched below karate's 156 rows) runs no probe collect;
    its PageRank equals the same call on the in-memory graph."""
    from grappolo_spark.operators.pagerank import pagerank
    from grappolo_spark.plans import tiers as T

    g = fixtures.karate(spark)
    path = str(tmp_path / "karate.parquet")
    writers.write_parquet_graph(g, path)
    assert readers._footer_rows(path) == 156
    assert readers._footer_rows("hdfs://nn/karate.parquet") is None
    with open(tmp_path / "karate.parquet" / "part-junk", "w") as f:
        f.write("not parquet")
    assert readers._footer_rows(path) is None  # unreadable: unknown
    (tmp_path / "karate.parquet" / "part-junk").unlink()

    want = sorted(map(tuple, pagerank(g, max_iters=5).collect()))
    collects = []
    probe = T.collect_probe

    def counting_probe(graph, bound, facts):
        if not (facts.edge_rows or 0) > bound:
            collects.append(bound)
        return probe(graph, bound, facts)

    monkeypatch.setattr(T, "LOCAL_EDGE_ROWS", 100)
    monkeypatch.setattr(T, "collect_probe", counting_probe)
    g2 = readers.read_parquet_graph(spark, path)
    assert T.graph_facts(g2).edge_rows == 156
    got = sorted(map(tuple, pagerank(g2, max_iters=5).collect()))
    assert collects == []
    assert [v for v, _ in got] == [v for v, _ in want]
    assert np.allclose([r for _, r in got], [r for _, r in want], rtol=1e-12)
