"""The execution-tier planner, Spark-free.

``plan()`` is pure, so today's route at each bound ±1, for every operator
and every variant exclusion, is pinned as a table. A structural guard keeps
every gate constant and bounded probe inside ``plans/tiers.py``.
"""

from __future__ import annotations

import ast
import pathlib

import pytest

from grappolo_spark.plans import tiers as T
from grappolo_spark.plans.tiers import Facts, Tier, plan

L, D, B, S = Tier.LOCAL, Tier.DRIVER_STATE, Tier.BROADCAST, Tier.SHUFFLE
ER, DE, DS, BR = (
    T.LOCAL_EDGE_ROWS, T.DRIVER_EDGE_ROWS, T.DRIVER_STATE_ROWS, T.BROADCAST_ROWS,
)


def test_bounds_keep_their_values():
    assert (ER, DE, DS, BR) == (2_000_000, 4_000_000, 100_000, 5_000_000)


def _probed(rows, nv=10, **kw):
    # what a successful bounded collect yields (the arrays' contents do
    # not matter to the planner, only their presence)
    return Facts(edge_rows=rows, nv=nv, arrays=(), **kw)


_INT = dict(integer_weights=True)

# (op, facts, run_dir, variant, expected tier)
CASES = [
    # pagerank: broadcast <= 5M < shuffle
    ("pagerank", Facts(nv=DS), None, (), B),
    ("pagerank", Facts(nv=DS + 1), None, (), B),
    ("pagerank", Facts(nv=BR), None, (), B),
    ("pagerank", Facts(nv=BR + 1), None, (), S),
    ("pagerank", Facts(nv=DS, dangling=True), None, (), B),
    ("pagerank", Facts(nv=DS, explicit_vertices=True), None, (), B),
    ("pagerank", Facts(nv=DS), "rd", (), B),
    ("pagerank", Facts(nv=BR + 1), "rd", (), S),
    # components: local <= 2M raw edge rows, else the star rounds
    ("components", _probed(ER), None, (), L),
    ("components", _probed(ER + 1), None, (), S),
    ("components", Facts(), None, (), S),  # probe came back over the bound
    ("components", _probed(ER), "rd", (), S),
    ("components", _probed(ER), None, {"no_local"}, S),
    ("components", _probed(ER), None, {"no_local"}, S),
    ("components", _probed(ER, explicit_vertices=True), None, (), L),
    # labelprop: local <= 2M rows; then broadcast <= 5M vertices
    ("labelprop", _probed(ER), None, (), L),
    ("labelprop", _probed(ER + 1, nv=BR), None, (), B),
    ("labelprop", Facts(nv=BR), None, (), B),
    ("labelprop", Facts(nv=BR + 1), None, (), S),
    ("labelprop", _probed(ER, nv=BR), "rd", (), L),
    ("labelprop", _probed(ER, nv=BR + 1), None, {"no_local"}, S),
    ("labelprop", _probed(ER, explicit_vertices=True), None, (), L),
    # one Louvain phase: driver_state needs integer weights
    ("louvain_phase", Facts(nv=DS, **_INT), None, (), D),
    ("louvain_phase", Facts(nv=DS + 1, **_INT), None, (), B),
    ("louvain_phase", Facts(nv=DS), None, (), B),  # fractional weights
    ("louvain_phase", Facts(nv=BR, **_INT), None, (), B),
    ("louvain_phase", Facts(nv=BR + 1, **_INT), None, (), S),
    ("louvain_phase", Facts(nv=0, **_INT), None, (), B),
    ("louvain_phase", Facts(nv=DS, **_INT), "rd", (), B),
    ("louvain_phase", Facts(nv=DS, **_INT), None, {"sampling"}, B),
    ("louvain_phase", Facts(nv=DS, **_INT), None, {"early_terminate"}, B),
    ("louvain_phase", Facts(nv=DS, **_INT), None, {"ftr"}, B),
    ("louvain_phase", Facts(nv=DS, **_INT), None, {"salting"}, B),
    ("louvain_phase", Facts(nv=BR + 1, **_INT), None, {"salting"}, S),
    (
        "louvain_phase",
        Facts(nv=DS, explicit_vertices=True, **_INT), None, (), D,
    ),
    # colored phase: local needs the 4M-row edge copy + integer weights
    ("louvain_colored", _probed(DE, nv=DS, **_INT), None, (), L),
    ("louvain_colored", _probed(DE + 1, nv=DS, **_INT), None, (), D),
    ("louvain_colored", Facts(nv=DS, **_INT), None, (), D),
    ("louvain_colored", _probed(DE, nv=DS), None, (), D),  # fractional
    ("louvain_colored", _probed(DE, nv=DS + 1, **_INT), None, (), B),
    ("louvain_colored", Facts(nv=BR), None, (), B),
    ("louvain_colored", Facts(nv=BR + 1), None, (), S),
    ("louvain_colored", Facts(), None, (), S),  # |V| unknown
    (
        "louvain_colored",
        _probed(DE, nv=DS, explicit_vertices=True, **_INT), None, (), L,
    ),
    # multiphase driver: its local tier is the numpy tail
    ("louvain", _probed(ER), None, (), L),
    ("louvain", _probed(ER + 1, nv=BR + 1), None, (), S),
    ("louvain", _probed(ER, explicit_vertices=True, nv=BR + 1), None, (), S),
    ("louvain", _probed(ER, nv=BR + 1), "rd", (), S),
    ("louvain", _probed(ER, nv=BR + 1), None, {"sampling"}, S),
    ("louvain", _probed(ER, nv=BR + 1), None, {"early_terminate"}, S),
    ("louvain", _probed(ER, nv=BR + 1), None, {"ftr"}, S),
    ("louvain", _probed(ER, nv=BR + 1), None, {"no_local"}, S),
    # pagerank's local tier: <= 2M edge rows, dangling included
    ("pagerank", _probed(ER), None, (), L),
    ("pagerank", _probed(ER + 1, nv=DS), None, (), B),
    ("pagerank", Facts(edge_rows=ER + 1, nv=DS), None, (), B),
    ("pagerank", _probed(ER), "rd", (), L),
    ("pagerank", _probed(ER, explicit_vertices=True), None, (), B),
    ("pagerank", _probed(ER, dangling=True), None, (), L),
    ("pagerank", _probed(ER, nv=DS + 1), None, (), L),
    # run_dir keeps PageRank's and LPA's local tier, whose commits cover
    # the edge endpoints only; CC and louvain keep the distributed path
    ("labelprop", _probed(ER, explicit_vertices=True), "rd", (), B),
    ("pagerank", _probed(ER, explicit_vertices=True), "rd", (), B),
    ("components", _probed(ER, explicit_vertices=True), "rd", (), S),
    ("louvain", _probed(ER, nv=BR + 1, **_INT), "rd", (), S),
    # triangles: local <= 2M edge rows without an explicit vertex table
    ("triangles", _probed(ER), None, (), L),
    ("triangles", _probed(ER + 1), None, (), S),
    ("triangles", _probed(ER, explicit_vertices=True), None, (), S),
    # the corpus front door: local <= 2M extracted link rows
    ("corpus", Facts(edge_rows=ER), None, (), L),
    ("corpus", Facts(edge_rows=ER + 1), None, (), S),
    # MinHash-LSH dedup: local <= 2M shingle rows (an upper bound)
    ("minhash", Facts(edge_rows=ER), None, (), L),
    ("minhash", Facts(edge_rows=ER + 1), None, (), S),
]


@pytest.mark.parametrize(
    "op,facts,run_dir,variant,want", CASES,
    ids=[f"{c[0]}-{i}" for i, c in enumerate(CASES)],
)
def test_plan_table(op, facts, run_dir, variant, want):
    assert plan(facts, op, run_dir, variant) is want


def test_forced_tier_must_be_supported():
    small = Facts(nv=10, edge_rows=10, arrays=(), integer_weights=True)
    assert plan(small, "pagerank", tier="shuffle") is S
    # forcing skips the size bounds, not the semantics
    assert plan(Facts(nv=BR + 1), "labelprop", tier="broadcast") is B
    assert plan(small, "labelprop", run_dir="rd", tier="local") is L
    with pytest.raises(ValueError):
        plan(
            Facts(nv=10, edge_rows=10, arrays=(), explicit_vertices=True),
            "labelprop", run_dir="rd", tier="local",
        )
    with pytest.raises(ValueError):
        plan(small, "louvain_phase", tier="local")  # a phase has no local tier
    with pytest.raises(ValueError):
        plan(Facts(nv=10), "pagerank", tier="local")  # nothing collected
    with pytest.raises(ValueError):
        plan(Facts(nv=10), "components", tier="local")  # nothing collected
    with pytest.raises(ValueError):
        plan(Facts(nv=10), "louvain_phase", tier="driver_state")  # fractional
    with pytest.raises(ValueError):
        plan(small, "louvain_phase", variant={"sampling"}, tier="driver_state")
    with pytest.raises(ValueError):
        plan(small, "components", variant={"no_local"}, tier="local")
    with pytest.raises(ValueError):
        plan(small, "pagerank", variant={"typo"})
    with pytest.raises(ValueError):
        plan(small, "pagerank", tier="fast")
    with pytest.raises(ValueError, match="has no 'driver_state' tier"):
        plan(small, "pagerank", tier="driver_state")


def test_pagerank_probes_only_when_local_is_possible():
    # explicit vertices run no probe; run_dir (the durable route) does
    assert T.wants_probe(Facts(), "pagerank")
    assert T.wants_probe(Facts(), "pagerank", run_dir="rd")
    assert not T.wants_probe(Facts(explicit_vertices=True), "pagerank")
    assert not T.wants_probe(Facts(), "pagerank", tier="driver_state")


def test_local_threshold_accepts_default_or_zero():
    assert T.local_tier_allowed(ER) is True
    assert T.local_tier_allowed(0) is False
    for bad in (1, ER - 1, 10**9):
        with pytest.raises(ValueError):
            T.local_tier_allowed(bad)


def test_id_bound_fact():
    lo, hi = -(1 << 31), (1 << 31) - 1
    assert Facts(id_lo=lo, id_hi=hi - 1).fits_int32()
    assert not Facts(id_lo=lo, id_hi=hi).fits_int32()
    assert not Facts(id_lo=lo, id_hi=0).fits_int32(strict_low=True)
    assert Facts(id_lo=lo + 1, id_hi=0).fits_int32(strict_low=True)
    assert not Facts().fits_int32()


def test_integer_weight_fact():
    assert T.exact_sums(2.0**53 - 1, True)
    assert not T.exact_sums(2.0**53, True)
    assert not T.exact_sums(3.0, False)


class _StubEdges:
    """Just enough of a DataFrame for collect_probe: records each limit."""

    def __init__(self, pdf):
        self.pdf, self.limits = pdf, []

    def select(self, *cols):
        self.cols = list(cols)
        return self

    def limit(self, n):
        self.limits.append(n)
        return self

    def toPandas(self):
        return self.pdf[self.cols].head(self.limits[-1])


class _StubGraph:
    vertices = None
    unweighted = False
    deduped = False

    def __init__(self, rows):
        import pandas as pd

        self.edges = _StubEdges(pd.DataFrame(
            rows, columns=["src", "dst", "weight"]
        ))


def test_collect_probe_records_its_outcome():
    """Under the bound the probe returns the arrays; over it, the record
    ``edge_rows = bound + 1``; and a caller whose edge-row lower bound
    already exceeds the bound pays no collect at all."""
    g = _StubGraph([(0, 1, 1.0), (1, 0, 1.0), (1, 2, 2.0), (2, 1, 2.0)])
    under = T.collect_probe(g, 4, Facts.of(g))
    assert under.edge_rows == 4 and under.nv == 3 and under.arrays is not None
    assert under.integer_weights and under.two_m == 6.0
    assert g.edges.limits == [5]

    over = T.collect_probe(g, 3, Facts.of(g, nv=3))
    assert over.edge_rows == 4 and over.arrays is None and over.nv == 3
    assert plan(over, "louvain_colored") is D
    assert g.edges.limits == [5, 4]

    for known in (over, Facts.of(g, edge_rows=4)):  # failed probe, coarse |V|
        assert T.collect_probe(g, 3, known) is known
    assert g.edges.limits == [5, 4]


_BOUND_VALUES = {ER, DE, DS, BR}
_OPERATORS = pathlib.Path(T.__file__).resolve().parents[1] / "operators"


def _gate_violations(src: str) -> list[str]:
    bad = []
    tree = ast.parse(src)
    for node in tree.body:
        # a module-level numeric constant is a gate in waiting
        if isinstance(node, (ast.Assign, ast.AnnAssign)):
            value = node.value
            if isinstance(value, ast.Constant) and isinstance(
                value.value, (int, float)
            ) and not isinstance(value.value, bool):
                bad.append(f"line {node.lineno}: module-level numeric constant")
    for node in ast.walk(tree):
        # an inline size gate against one of the planner's bounds
        if isinstance(node, ast.Compare):
            for side in [node.left, *node.comparators]:
                if isinstance(side, ast.Constant) and side.value in _BOUND_VALUES:
                    bad.append(f"line {node.lineno}: compares against a bound")
        # a bounded probe: .limit(<something> + 1)
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "limit"
            and node.args
            and isinstance(node.args[0], ast.BinOp)
            and isinstance(node.args[0].op, ast.Add)
        ):
            bad.append(f"line {node.lineno}: .limit(... + 1) probe")
    return bad


def test_guard_detects_gates():
    sample = (
        "_SMALL_MAX = 100_000\n"
        "def f(df, n):\n"
        "    if n <= 2_000_000:\n"
        "        return df.limit(n + 1)\n"
    )
    assert len(_gate_violations(sample)) == 3


def test_no_gate_constants_or_probes_in_operators():
    found = {
        path.name: v
        for path in sorted(_OPERATORS.glob("*.py"))
        if (v := _gate_violations(path.read_text()))
    }
    assert found == {}, found


def test_no_probe_calls_in_operators():
    """Operators read their facts through ``graph_facts``/``facts_for``,
    which own the bounded probe: none calls ``collect_probe`` directly."""
    found = {
        path.name: node.lineno
        for path in sorted(_OPERATORS.glob("*.py"))
        for node in ast.walk(ast.parse(path.read_text()))
        if (isinstance(node, ast.Name) and node.id == "collect_probe")
        or (isinstance(node, ast.Attribute) and node.attr == "collect_probe")
        or (
            isinstance(node, ast.alias)
            and node.name.split(".")[-1] == "collect_probe"
        )
    }
    assert found == {}, found


_ID_COLUMNS = {"v", "u", "src", "dst"}
_TABLE_BUILDERS = {"vertex_ids", "degrees", "_degrees", "degree_table"}


def _called(node) -> str | None:
    """The name a call invokes: ``f(...)`` or ``x.f(...)``."""
    if not isinstance(node, ast.Call):
        return None
    f = node.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


def _column(node) -> str | None:
    """The column a ``"name"`` or ``F.col("name")`` argument names."""
    if _called(node) == "col" and node.args:
        node = node.args[0]
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    return None


def _aggregate(node) -> str | None:
    """The aggregate function an ``.agg`` argument calls (``.alias``
    unwrapped)."""
    while _called(node) == "alias":
        node = node.func.value
    return _called(node)


def _stats_violations(src: str) -> list[str]:
    """Graph-wide |V|/2m/id-bound aggregations: a global ``.agg`` (not
    after a ``groupBy``) over an id bound, a degree sum, a graph's edge
    weights or an integer-weight check; a row count of a vertex or degree
    table (a call to one of ``_TABLE_BUILDERS``, or a name the function
    binds to one); ``num_vertices()``/``total_weight_2m()``."""
    bad = {}  # line -> first reason
    for fn in ast.walk(ast.parse(src)):
        if not isinstance(fn, ast.FunctionDef):
            continue
        tables = {
            t.id
            for n in ast.walk(fn)
            if isinstance(n, ast.Assign)
            and any(_called(c) in _TABLE_BUILDERS for c in ast.walk(n.value))
            for t in n.targets
            if isinstance(t, ast.Name)
        }
        for node in ast.walk(fn):
            name = _called(node)
            if not isinstance(getattr(node, "func", None), ast.Attribute):
                continue
            recv = node.func.value
            table = (
                _called(recv) in _TABLE_BUILDERS
                or getattr(recv, "id", None) in tables
            )
            if name in ("num_vertices", "total_weight_2m"):
                bad.setdefault(node.lineno, f"{name}()")
            elif name == "count" and table:
                bad.setdefault(node.lineno, "counts the vertex table")
            elif name == "agg" and _called(recv) not in ("groupBy", "groupby"):
                if table and "count" in map(_aggregate, node.args):
                    bad.setdefault(node.lineno, "counts the vertex table")
                for sub in (s for a in node.args for s in ast.walk(a)):
                    f, arg = _called(sub), (getattr(sub, "args", None) or [None])[0]
                    if f in ("min", "max") and (
                        _column(arg) in _ID_COLUMNS
                        or _called(arg) in ("least", "greatest")
                    ):
                        bad.setdefault(node.lineno, "an id bound")
                    elif f == "sum" and (
                        _column(arg) == "deg"
                        or _column(arg) == "weight"
                        and getattr(recv, "attr", None) == "edges"
                    ):
                        bad.setdefault(node.lineno, "a 2m sum")
                    elif f == "rint":
                        bad.setdefault(node.lineno, "an integer-weight check")
    return [f"line {n}: {why}" for n, why in sorted(bad.items())]


def test_guard_detects_stats_actions():
    sample = (
        "def f(g, ids, vdeg, base, tris, sizes):\n"
        "    base = g.vertex_ids().join(wout, 'v', 'left').persist()\n"
        "    ids.agg(F.count(F.lit(1)), F.min('v'), F.max('v'))\n"
        "    g.edges.agg(F.min(F.least('src', 'dst')))\n"
        "    vdeg.agg(F.sum('deg'))\n"
        "    g.edges.agg(F.sum('weight'))\n"
        "    base.agg(F.count(F.lit(1)).alias('n'), F.sum(F.col('wout') == 0))\n"
        "    g.degrees().count()\n"
        "    g.num_vertices()\n"
        "    vd = g.degrees().select('v', 'deg').persist()\n"
        "    vd.count()\n"
        "    e.agg(F.min((F.col('weight') == F.rint('weight')).cast('int')))\n"
        "    ok = vdeg.groupBy('comm').agg(F.sum('deg'), F.min('v'))\n"
        "    ok = tris.agg(F.count(F.lit(1)))\n"
        "    ok = sizes.agg(F.sum('s'), F.count(F.lit(1)))\n"
    )
    assert len(_stats_violations(sample)) == 9


def test_no_stats_actions_in_operators():
    """Operators read |V|, 2m and the id bounds from ``tiers.graph_stats``
    (one aggregation per graph); none runs its own."""
    found = {
        path.name: v
        for path in sorted(_OPERATORS.glob("*.py"))
        if (v := _stats_violations(path.read_text()))
    }
    assert found == {}, found


@pytest.mark.parametrize("module", ["pagerank.py", "labelprop.py"])
def test_operator_plans_once(module):
    tree = ast.parse((_OPERATORS / module).read_text())
    calls = [n for n in ast.walk(tree) if _called(n) == "plan"]
    assert len(calls) == 1
