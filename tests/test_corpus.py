from grappolo_spark.sources.corpus import (
    build_graph_from_corpus,
    extract_links,
    synthesize_corpus,
    verify_sha256,
)


def test_corpus_to_graph_end_to_end(spark):
    corpus = synthesize_corpus(spark, num_repos=3, modules_per_repo=3, files_per_module=4)
    assert corpus.count() == 36
    links = extract_links(corpus)
    assert links.count() > 0
    # per-row sha256 invariant: pandas-UDF hash == JVM sha2
    assert verify_sha256(corpus) == 0
    vmap, g = build_graph_from_corpus(corpus)
    nv = g.num_vertices()
    assert 0 < nv <= 36
    # symmetrized, dedup'd canonical edges
    assert g.edges.count() % 2 == 0  # no self-loops in import graphs
    assert g.total_weight_2m() > 0


def test_corpus_deterministic(spark):
    a = synthesize_corpus(spark, num_repos=2, seed=7).collect()
    b = synthesize_corpus(spark, num_repos=2, seed=7).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_extraction_languages(spark):
    rows = [
        ("r", "src/a/x.py", "c" * 40, "python", "import a.y\nfrom a.z import f\n"),
        ("r", "src/a/w.c", "c" * 40, "c", '#include "a/y.h"\n#include <stdio.h>\n'),
    ]
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    refs = {(r.path, r.ref) for r in extract_links(corpus).collect()}
    assert refs == {
        ("src/a/x.py", "a/y"),
        ("src/a/x.py", "a/z"),
        ("src/a/w.c", "a/y"),  # system includes ignored
    }
