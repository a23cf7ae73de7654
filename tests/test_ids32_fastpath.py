"""int32 hot-chain equivalence, driven by the inputs' id bound.

The 32-bit id representation lives strictly inside the gather chain
(edge cache → gather join/agg → argmax); it engages whenever the id-bound
fact fits int32. These tests run each fixture twice — as generated, and
with every id shifted past the int32 bound, which forces the long chain —
and pin that both produce EXACTLY the same results (shifted back): same
assignment, same modularity (==, no tolerance), same iteration count —
across the weighted, unweighted, and early-terminate paths.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from grappolo_spark.graph import Graph
from grappolo_spark.operators.louvain import louvain_one_phase

# first offset that pushes every fixture id past the int32 bound
PAST_INT32 = 1 << 31


def _rand_graph(spark, seed=11, n=600, verts=90, weighted=False):
    cols = [
        F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(verts)).alias("src"),
        F.pmod(F.xxhash64("id", F.lit(seed + 1)), F.lit(verts)).alias("dst"),
    ]
    if weighted:
        cols.append(
            (1.0 + F.pmod(F.xxhash64("id", F.lit(seed + 2)), F.lit(7))).alias(
                "weight"
            )
        )
    pairs = spark.range(n).select(*cols).filter(F.col("src") != F.col("dst"))
    return Graph.from_edgelist(pairs)


def _shifted(g, off=PAST_INT32):
    """The same graph with every vertex id moved by ``off``."""
    return Graph(
        edges=g.edges.select(
            (F.col("src") + off).alias("src"),
            (F.col("dst") + off).alias("dst"),
            "weight",
        ),
        unweighted=g.unweighted,
        deduped=g.deduped,
    )


def _run(g, off=0, **kw):
    res = louvain_one_phase(g, max_iters=3, thresh=-1e9, **kw)
    return (
        res.iterations,
        res.modularity,
        {r["v"] - off: r["comm"] - off for r in res.assignment.collect()},
    )


def _narrow_vs_long(g, **kw):
    return _run(g, **kw), _run(_shifted(g), off=PAST_INT32, **kw)


def test_ids32_exact_equivalence_weighted(spark):
    g = _rand_graph(spark, weighted=True)
    narrow, wide = _narrow_vs_long(g, tier="broadcast")
    assert narrow == wide


def test_ids32_exact_equivalence_unweighted(spark):
    g = _rand_graph(spark, weighted=False)
    assert g.unweighted is True
    narrow, wide = _narrow_vs_long(g, tier="broadcast")
    assert narrow == wide


def test_ids32_exact_equivalence_early_terminate(spark):
    g = _rand_graph(spark, seed=23)
    narrow, wide = _narrow_vs_long(g, early_terminate=True)
    assert narrow == wide


def test_ids32_output_schema_stays_long(spark):
    g = _rand_graph(spark)
    res = louvain_one_phase(g, max_iters=2, thresh=-1e9, tier="broadcast")
    schema = {f.name: f.dataType.simpleString() for f in res.assignment.schema}
    assert schema["v"] == "bigint" and schema["comm"] == "bigint"


def test_pagerank_ids32_matches_long_path(spark):
    # pagerank has no int32 chain (measured no win); shifted ids must not
    # change the ranks beyond float accumulation order
    from grappolo_spark.operators.pagerank import pagerank

    g = _rand_graph(spark, seed=31, weighted=True)
    a = {r["v"]: r["rank"] for r in pagerank(g, max_iters=6).collect()}
    b = {
        r["v"] - PAST_INT32: r["rank"]
        for r in pagerank(_shifted(g), max_iters=6).collect()
    }
    assert a.keys() == b.keys()
    assert all(abs(a[v] - b[v]) < 1e-12 for v in a)


def test_pagerank_ids32_output_schema_stays_long(spark):
    from grappolo_spark.operators.pagerank import pagerank

    g = _rand_graph(spark, seed=37)
    out = pagerank(g, max_iters=2, tier="shuffle")
    assert {f.name: f.dataType.simpleString() for f in out.schema} == {
        "v": "bigint",
        "rank": "double",
    }


def test_lpa_broadcast_ids32_matches_shuffle_long(spark):
    # the src-keyed broadcast gather + int chain vs the dst-co-partitioned
    # long shuffle plan: identical labels (exact — integer counts, same
    # tie-break ordering). The shift to exactly -2^31 keeps the broadcast
    # plan on the long chain (LPA's strict lower bound).
    from grappolo_spark.operators.labelprop import label_propagation

    g = _rand_graph(spark, seed=41)

    def run(graph, off=0, **kw):
        return {
            r["v"] - off: r["label"] - off
            for r in label_propagation(
                graph, max_iters=3, stop_on_converge=False, **kw
            ).collect()
        }

    ref = run(g, tier="shuffle")
    assert run(g, tier="broadcast") == ref
    lo = -(1 << 31)
    min_id = g.edges.agg(F.min("src")).collect()[0][0]
    at_min = _shifted(g, off=lo - min_id)
    assert run(at_min, off=lo - min_id, tier="broadcast") == ref
    assert run(_shifted(g), off=PAST_INT32, tier="broadcast") == ref


def test_cc_star_ids32_matches_long(spark):
    from grappolo_spark.operators.components import connected_components

    g = _rand_graph(spark, seed=53, n=900, verts=300)

    def run(graph, off=0, **kw):
        return {
            r["v"] - off: r["component"] - off
            for r in connected_components(graph, tier="shuffle", **kw).collect()
        }

    ref = run(_shifted(g), off=PAST_INT32)  # long star rounds
    assert run(g) == ref  # int32 star rounds
    # freeze off exercises the no-contract path too
    assert run(g, freeze=False) == ref
    assert run(_shifted(g), off=PAST_INT32, freeze=False) == ref


def test_ids32_auto_disables_beyond_int32(spark):
    # ids beyond 2^31: the auto gate must fall back to the long chain and
    # still produce the narrow-chain result of the same graph shifted down
    big = 1 << 40
    pairs = [(big + 1, big + 2), (big + 2, big + 3), (big + 1, big + 3),
             (big + 4, big + 5)]
    g = Graph.from_pairs(spark, pairs)
    a = _run(g)  # auto: must detect the id bound and disable
    b = _run(_shifted(g, off=-big), off=-big)
    assert a == b
    assert set(a[2]) == {big + 1, big + 2, big + 3, big + 4, big + 5}
