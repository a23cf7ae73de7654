"""The one-pass corpus front door and the local triangle tier.

The front door runs its extractor once per call and, below the local
bound, finishes the graph on the driver with the Spark route's exact rows
and numbering; triangle counting has a numpy tier equal to its joins; and
neither leaves persisted tables behind.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from grappolo_spark.graph import EDGE_SCHEMA, Graph
from grappolo_spark.operators.triangles import _local_triangles, triangle_count
from grappolo_spark.plans import tiers as T
from grappolo_spark.sources import fixtures
from grappolo_spark.sources.corpus import (
    CORPUS_SCHEMA,
    build_graph_from_corpus,
    synthesize_corpus,
    verify_sha256,
)

ROUTES = ("local", "shuffle")

# (repo, path, lang, content): a cross-repo ref (b.z from repo r), a path
# outside src/ (lib/q.py: module "", so "import q" stays unresolved), a
# .py and a .c sharing module a/y, a self-import (a.x in src/a/x.py), an
# unresolvable ref (nope.q), an extension the module regex rejects (.PY)
# and a file with no imports
HAND = [
    ("r", "src/a/x.py", "python", "import a.y\nimport b.z\nimport a.x\nimport nope.q\nimport q\n"),
    ("r", "src/a/y.py", "python", "import a.x\n"),
    ("r", "src/a/y.c", "c", '#include "a/x.h"\n#include <stdio.h>\n'),
    ("s", "src/b/z.py", "python", "from a.y import f\n"),
    ("s", "lib/q.py", "python", "import b.z\n"),
    ("s", "src/b/w.PY", "python", "import b.z\n"),
    ("s", "src/b/empty.py", "python", "x = 1\n"),
]


def _hand_corpus(spark):
    rows = [(r, p, "c0", lang, c) for r, p, lang, c in HAND]
    return spark.createDataFrame(rows, CORPUS_SCHEMA)


def _corpus(spark):
    synth = synthesize_corpus(
        spark, num_repos=3, modules_per_repo=3, files_per_module=4, cross_repo_p=0.3
    )
    return synth.unionByName(_hand_corpus(spark))


def _front_door(corpus, tier):
    vm, g = build_graph_from_corpus(corpus, tier=tier)
    ext = {r.v: r.ext_id for r in vm.collect()}
    edges = sorted(
        (r.src, r.dst, r.weight) for r in g.edges.select(*EDGE_SCHEMA.names).collect()
    )
    return ext, edges, g


def test_local_and_spark_front_doors_agree(spark):
    corpus = _corpus(spark)
    ext, edges, g = _front_door(corpus, "local")
    assert g.unweighted and g.deduped and g.vertices is None
    assert (ext, edges) == _front_door(corpus, "shuffle")[:2]
    assert (ext, edges) == _front_door(corpus, None)[:2]
    # numbered by sorted "repo::path"
    assert [ext[v] for v in sorted(ext)] == sorted(ext.values())
    named = {(ext[s], ext[d]) for s, d, _ in edges}
    assert {
        ("r::src/a/x.py", "r::src/a/y.py"),
        ("r::src/a/x.py", "r::src/a/y.c"),  # both files of module a/y
        ("r::src/a/x.py", "s::src/b/z.py"),  # cross-repo
        ("s::lib/q.py", "s::src/b/z.py"),
        ("s::src/b/w.PY", "s::src/b/z.py"),
    } <= named
    assert ("r::src/a/x.py", "r::src/a/x.py") not in named  # self-import
    assert "s::src/b/empty.py" not in ext.values()
    assert not any(p.endswith("/q.py") and q.startswith("r::") for q, p in named)


def test_front_door_edges_of_an_empty_corpus(spark):
    empty = spark.createDataFrame([], CORPUS_SCHEMA)
    for tier in ROUTES:
        ext, edges, g = _front_door(empty, tier)
        assert ext == {} and edges == []


@pytest.mark.parametrize("tier", ROUTES)
def test_extractor_runs_once_per_front_door(spark, tier):
    """Each corpus row is read once: the extractor's single scan feeds
    the hash check, the file table and the links."""
    corpus = _corpus(spark)
    n = corpus.count()
    acc = spark.sparkContext.accumulator(0)

    def tap(row):
        acc.add(1)
        return row

    counted = spark.createDataFrame(corpus.rdd.map(tap), corpus.schema)
    ext, edges, _ = _front_door(counted, tier)
    assert edges and acc.value == n


@pytest.mark.parametrize("tier", ROUTES)
def test_tampered_hash_raises(spark, monkeypatch, tier):
    """A JVM hash that disagrees with one file's content fails the front
    door, here for a file with no imports."""
    sha2 = F.sha2

    def tampered(col, bits):
        return F.when(F.col("path") == "src/b/empty.py", F.lit("0" * 64)).otherwise(
            sha2(col, bits)
        )

    monkeypatch.setattr(F, "sha2", tampered)
    corpus = _corpus(spark)
    assert verify_sha256(corpus) == 1
    with pytest.raises(ValueError, match="sha256 invariant violated for 1 rows"):
        build_graph_from_corpus(corpus, tier=tier)


def test_front_door_graph_runs_no_probe(spark, monkeypatch):
    """The local front door memoizes its arrays and partition_by_src keeps
    the memo: PageRank, CC, LPA, triangles, Louvain and colored Louvain on
    the built graph run no bounded collect."""
    from grappolo_spark.operators import (
        connected_components,
        label_propagation,
        pagerank,
    )
    from grappolo_spark.operators.multiphase import louvain

    _, g0 = build_graph_from_corpus(_corpus(spark))
    g = g0.partition_by_src()
    assert g.edges.count() == T.graph_facts(g).edge_rows
    collects = []
    probe = T.collect_probe

    def counting_probe(graph, bound, facts):
        collects.append(bound)
        return probe(graph, bound, facts)

    monkeypatch.setattr(T, "collect_probe", counting_probe)
    pagerank(g, max_iters=3).collect()
    connected_components(g).collect()
    label_propagation(g, max_iters=2).collect()
    triangle_count(g).collect()
    louvain(g).assignment.collect()
    louvain(
        g, coloring=True, min_graph_size=5, num_colors_cap=8,
        coloring_algo="multihash",
    ).assignment.collect()
    assert collects == []
    g.unpersist()
    assert T.graph_facts(g).arrays is None
    assert T.graph_facts(g0).arrays is not None  # unpersist clears the copy


def _triangle_graphs(spark):
    k4 = Graph.from_pairs(spark, [(i, j) for i in range(4) for j in range(i + 1, 4)])
    loops = Graph.from_pairs(spark, [
        (0, 1, 0.5), (1, 2, 2.5), (0, 2, 1.0), (2, 2, 3.0), (2, 3, 1.0),
        (3, 0, 0.25), (1, 1, 1.0), (7, 7, 2.0),
    ])
    empty = Graph(edges=spark.createDataFrame([], EDGE_SCHEMA), deduped=True)
    return {
        "karate": fixtures.karate(spark),
        "k4": k4,
        "grid": fixtures.grid2d(spark, 4, 5),
        "loops": loops,
        "empty": empty,
    }


def _triangles(g, tier):
    total = triangle_count(g, tier=tier).collect()
    per_vertex = triangle_count(g, per_vertex=True, tier=tier).collect()
    return [tuple(r) for r in total], sorted(tuple(r) for r in per_vertex)


def test_local_triangles_equal_shuffle(spark):
    want = {"karate": 45, "k4": 4, "grid": 0, "loops": 2, "empty": 0}
    for name, g in _triangle_graphs(spark).items():
        local = _triangles(g, "local")
        assert local == _triangles(g, "shuffle"), name
        assert local[0] == [(want[name],)], name
        assert sum(c for _, c in local[1]) == 3 * want[name], name


def test_local_triangles_count_duplicate_rows(spark):
    """A raw table's repeated row closes its triangles once per copy, as
    the joins count it; the wedge chunks do not change the counts."""
    karate = fixtures.karate(spark)
    dup = karate.edges.filter("src + dst = 1")  # edge 0-1, both rows
    raw = Graph(edges=karate.edges.unionByName(dup))
    counts = _triangles(raw, "local")
    assert counts == _triangles(raw, "shuffle") and counts[0][0][0] > 45
    arrays = T.graph_facts(karate, T.LOCAL_EDGE_ROWS).arrays
    whole = _local_triangles(arrays, False)
    for chunk in (1, 7):
        chunked = _local_triangles(arrays, False, chunk=chunk)
        assert all((a == b).all() for a, b in zip(whole, chunked))


def test_explicit_vertices_count_triangles_in_spark(spark):
    g = fixtures.karate(spark)
    g.vertices = spark.createDataFrame([(i,) for i in range(36)], "v long")
    with pytest.raises(ValueError):
        triangle_count(g, tier="local")
    rows = dict(tuple(r) for r in triangle_count(g, per_vertex=True).collect())
    assert len(rows) == 36 and rows[34] == rows[35] == 0


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_calls_leave_nothing_persisted(spark):
    from grappolo_spark.functions.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    docs = spark.createDataFrame([
        (0, "the cat sat on the mat and the dog ran"),
        (1, "the cat sat on the mat and the dog ran"),
        (2, "the cat sat on the mat and the dog walked away"),
        (3, "completely different words about spark engines"),
    ], "doc_id long, text string")
    g = fixtures.karate(spark)
    for tier in ROUTES:
        for per_vertex in (False, True):
            before = _persisted(spark)
            triangle_count(g, per_vertex=per_vertex, tier=tier).collect()
            assert _persisted(spark) == before, (tier, per_vertex)
    for tier in ("local", "shuffle", "local", "shuffle"):
        # a second call computes afresh, from no cache
        before = _persisted(spark)
        est = minhash_lsh_pairs(docs, num_hashes=32, bands=8, threshold=0.9, tier=tier)
        assert {(r.id_a, r.id_b) for r in est.collect()} == {(0, 1)}
        exact = ngram_jaccard_pairs(docs, threshold=0.3)
        assert {(r.id_a, r.id_b) for r in exact.collect()} >= {(0, 1), (0, 2)}
        assert _persisted(spark) == before


def test_probe_checks_the_deduped_contract(spark, tmp_path):
    """read_parquet_graph trusts its table's rows to be unique; the probe
    checks that, so a repeated row fails loudly instead of skewing
    PageRank."""
    from grappolo_spark.operators import pagerank
    from grappolo_spark.sources.readers import read_parquet_graph

    karate = fixtures.karate(spark)
    path = str(tmp_path / "dup")
    karate.edges.unionByName(karate.edges.limit(1)).write.parquet(path)
    g = read_parquet_graph(spark, path)
    assert g.deduped
    with pytest.raises(ValueError, match="deduped=True"):
        pagerank(g, max_iters=3)
