"""Execution-tier planner: one place picks how an iterative operator runs.

Every iterative operator (PageRank, CC, LPA, Louvain and colored Louvain)
can run in up to four regimes, ordered from cheapest-at-small-size to
scale-safe:

- ``local``        the whole computation in driver numpy over a collected
                   copy of the edge table (no Spark job per superstep)
- ``driver_state`` the O(E) gather stays in Spark over a persisted edge
                   cache; the O(V) state lives in numpy and crosses the
                   boundary as broadcast LocalRelations in, one collect out
- ``broadcast``    the O(V) state stays a DataFrame and is broadcast into
                   the gather join (the edge cache is only scanned)
- ``shuffle``      the O(V) state is shuffled; nothing is broadcast

The operators read a :class:`Facts` record off the graph
(:func:`graph_facts`: its flags plus a memo of the one bounded probe and of
their own stats actions) and call :func:`plan`, which owns the four bounds.
A ``tier=`` argument on each operator forces one regime; forcing a tier
the facts cannot support raises ``ValueError``.
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass, replace
from enum import Enum

# local tier: at most this many edge rows are collected to the driver
LOCAL_EDGE_ROWS = 2_000_000
# colored Louvain keeps a driver edge copy up to this many rows (~100 MB)
DRIVER_EDGE_ROWS = 4_000_000
# driver_state tier: at most this many O(V) state rows held in numpy
DRIVER_STATE_ROWS = 100_000
# broadcast tier: at most this many O(V) state rows broadcast per superstep
BROADCAST_ROWS = 5_000_000

_INT32_MIN = -(1 << 31)
_INT32_MAX = (1 << 31) - 1


class Tier(str, Enum):
    LOCAL = "local"
    DRIVER_STATE = "driver_state"
    BROADCAST = "broadcast"
    SHUFFLE = "shuffle"


# the tiers each operator implements, cheapest first; "louvain" is the
# multiphase driver (its local tier is the numpy tail over all phases)
OP_TIERS = {
    "pagerank": tuple(Tier),
    "components": (Tier.LOCAL, Tier.SHUFFLE),
    "labelprop": (Tier.LOCAL, Tier.BROADCAST, Tier.SHUFFLE),
    "louvain": tuple(Tier),
    "louvain_phase": (Tier.DRIVER_STATE, Tier.BROADCAST, Tier.SHUFFLE),
    "louvain_colored": tuple(Tier),
}

# variant flags: options whose semantics live outside the fast tiers
VARIANTS = frozenset({
    "sampling",         # louvain: per-iteration move sampling
    "early_terminate",  # louvain: active-set gather
    "ftr",              # louvain: Fast-Track-Resistance exit
    "salting",          # louvain: hub gather routed through salted sums
    "tol",              # pagerank: L1 convergence test
    "min_label",        # components: method="label_prop"
    "no_local",         # local_threshold=0: the caller excludes the local tier
})

# variant flags that exclude each tier, per operator
_EXCLUDES = {
    ("pagerank", Tier.DRIVER_STATE): {"tol"},
    ("components", Tier.LOCAL): {"min_label"},
    ("louvain", Tier.LOCAL): {"sampling", "early_terminate", "ftr"},
    ("louvain_phase", Tier.DRIVER_STATE): {
        "sampling", "early_terminate", "ftr", "salting",
    },
}


@dataclass(frozen=True)
class Facts:
    """What an operator knows about its input graph before it runs.

    Unknown values stay ``None``/``False`` (the conservative reading).
    ``arrays`` is ``(src, dst, weight, ids)`` — read-only int64/float64
    numpy columns of the whole edge table plus its sorted endpoint ids —
    and is set only when the probe came back under its bound.
    ``edge_rows`` is exact when ``arrays`` is set and otherwise a lower
    bound: ``bound + 1`` after a probe came back over its bound, or a
    coarse graph's cluster count (coarsening keeps a self-loop row per
    cluster). :func:`collect_probe` reads it to skip a collect that must
    fail."""

    edge_rows: int | None = None
    nv: int | None = None
    id_lo: int | None = None
    id_hi: int | None = None
    # every weight is integer-valued and sum(|w|) < 2^53, so every partial
    # sum is exact and any aggregation order gives the same doubles
    integer_weights: bool = False
    two_m: float | None = None
    dangling: bool = False  # some vertex has zero out-weight (pagerank)
    max_degree: int | None = None  # most edge rows with one src (salting)
    unweighted: bool = False
    explicit_vertices: bool = False
    arrays: tuple | None = None

    @classmethod
    def of(cls, g, **known) -> "Facts":
        """The graph's own flags plus whatever the caller already knows."""
        flags = dict(
            unweighted=bool(g.unweighted),
            explicit_vertices=g.vertices is not None,
        )
        if g.unweighted:
            flags["integer_weights"] = True
        flags.update(known)
        return cls(**flags)

    def update(self, **known) -> "Facts":
        return replace(self, **known)

    def fits_int32(self, strict_low: bool = False) -> bool:
        """Every vertex id fits a 32-bit int (``strict_low`` also excludes
        exactly -2^31, whose negation wraps)."""
        if self.id_lo is None or self.id_hi is None:
            return False
        lo_ok = self.id_lo > _INT32_MIN if strict_low else self.id_lo >= _INT32_MIN
        return lo_ok and self.id_hi < _INT32_MAX


def exact_sums(total_abs, all_integer) -> bool:
    """The ``integer_weights`` contract: integer-valued, Σ|w| < 2^53."""
    return bool(all_integer) and float(total_abs or 0.0) < float(2**53)


def from_arrays(g, src, dst, w) -> Facts:
    """Facts of a graph whose edge table was collected whole."""
    import numpy as np

    ids = np.unique(np.concatenate([src, dst]))
    known = dict(
        edge_rows=len(src), arrays=(src, dst, w, ids), two_m=float(w.sum())
    )
    if g.vertices is None:  # else the endpoints bound neither
        known["nv"] = len(ids)
        if len(ids):
            known.update(id_lo=int(ids[0]), id_hi=int(ids[-1]))
    if not g.unweighted:
        known["integer_weights"] = exact_sums(
            np.abs(w).sum(), (w == np.rint(w)).all()
        )
    return Facts.of(g, **known)


def collect_probe(g, bound: int, facts: Facts) -> Facts:
    """The bounded probe: collect at most ``bound + 1`` edge rows in ONE
    evaluation of the edge pipeline. Under the bound the probe IS the
    collect and the returned facts carry the arrays, read-only; over it,
    ``facts`` with ``edge_rows = bound + 1``. No action at all when
    ``facts.edge_rows`` already exceeds the bound."""
    import numpy as np

    if facts.edge_rows is not None and facts.edge_rows > bound:
        return facts
    pdf = g.edges.select("src", "dst", "weight").limit(bound + 1).toPandas()
    if len(pdf) > bound:
        return facts.update(edge_rows=bound + 1)
    probed = from_arrays(
        g,
        pdf["src"].to_numpy(np.int64),
        pdf["dst"].to_numpy(np.int64),
        pdf["weight"].to_numpy(np.float64),
    )
    for a in probed.arrays:
        a.flags.writeable = False
    return probed


# what a Graph memoizes: facts of its edge table, then |V| and the id
# bounds, which cover its vertex table too and so hold only for the vertex
# table they were learned with
_EDGE_FACTS = ("edge_rows", "arrays", "two_m", "integer_weights", "max_degree")
_MEMO = _EDGE_FACTS + ("nv", "id_lo", "id_hi")


def _memo(g) -> dict:
    if g._facts.get("vertices", g.vertices) is not g.vertices:
        g._facts = {k: g._facts[k] for k in _EDGE_FACTS if k in g._facts}
    g._facts["vertices"] = g.vertices
    return g._facts


def graph_facts(g, bound: int | None = None) -> Facts:
    """What is known about ``g``: its flags, read from its fields on every
    call, merged with its memo. With ``bound`` and no arrays in the memo
    the bounded probe runs and its outcome is memoized: at most one
    collect per graph and bound, none once the memo's edge-row lower bound
    exceeds ``bound``. The memo's lifetime: see ``Graph``."""
    facts = Facts.of(g, **{k: v for k, v in _memo(g).items() if k in _MEMO})
    if bound is not None and facts.arrays is None:
        probed = collect_probe(g, bound, facts)
        remember(g, **{k: getattr(probed, k) for k in _MEMO})
        facts = graph_facts(g)
    return facts


def facts_for(g, op, run_dir=None, variant=frozenset(), tier=None) -> Facts:
    """``g``'s facts for ``op``, probed under :data:`LOCAL_EDGE_ROWS` while
    the local tier is in play: under the bound the probe IS its input."""
    facts = graph_facts(g)
    if wants_probe(facts, op, run_dir, variant, tier):
        facts = graph_facts(g, LOCAL_EDGE_ROWS)
    return facts


def local_tail_facts(
    g, colored: bool, run_dir=None, variant=frozenset(), tier=None
) -> Facts | None:
    """``g``'s facts when ALL remaining multiphase Louvain phases run in
    driver numpy, else ``None``: a plain phase needs the plain local tier;
    a colored one the colored phase's (probed under its 4M bound) and the
    plain one's exclusions. Coarse graphs only shrink and keep integer
    weights, so a run that enters stays on the driver."""
    if not colored:
        facts = facts_for(g, "louvain", run_dir, variant, tier)
        ok = plan(facts, "louvain", run_dir, variant, tier) is Tier.LOCAL
        return facts if ok else None
    facts = graph_facts(g)
    if not wants_probe(facts, "louvain", run_dir, variant, tier):
        return None
    if driver_holds(facts.nv) or tier is not None:
        facts = graph_facts(g, DRIVER_EDGE_ROWS)
    ok = plan(facts, "louvain_colored", tier=tier) is Tier.LOCAL
    return facts if ok else None


def remember(g, **known) -> None:
    """Record in ``g``'s memo what an action learned (``None``: unknown)."""
    _memo(g).update((k, v) for k, v in known.items() if v is not None)


def driver_holds(nv: int | None) -> bool:
    """An O(V) table of ``nv`` rows fits the driver_state bound."""
    return nv is not None and nv <= DRIVER_STATE_ROWS


def _eligible(t: Tier, facts: Facts, op: str, run_dir, variant) -> bool:
    """Semantic support, independent of size: may ``op`` run as ``t``?"""
    if variant & _EXCLUDES.get((op, t), set()):
        return False
    if t is Tier.LOCAL:
        if facts.arrays is None or run_dir is not None or "no_local" in variant:
            return False
        if op in ("louvain", "pagerank"):
            # explicit isolated vertices are not in the arrays (louvain's
            # degrees()-based init, pagerank's |V|)
            return not facts.explicit_vertices
        if op == "louvain_colored":
            return facts.integer_weights
        return True
    if t is Tier.DRIVER_STATE:
        if op == "pagerank":
            return run_dir is None and not facts.dangling
        if op == "louvain_phase":
            return run_dir is None and facts.integer_weights and facts.nv != 0
    return True


def _within_bounds(t: Tier, facts: Facts, op: str) -> bool:
    nv, rows = facts.nv, facts.edge_rows
    if t is Tier.LOCAL and op == "louvain_colored":
        return rows is not None and rows <= DRIVER_EDGE_ROWS and driver_holds(nv)
    if t is Tier.LOCAL:
        return rows is not None and rows <= LOCAL_EDGE_ROWS
    if t is Tier.DRIVER_STATE:
        return driver_holds(nv)
    return t is Tier.SHUFFLE or (nv is not None and nv <= BROADCAST_ROWS)


def plan(
    facts: Facts,
    op: str,
    run_dir: str | None = None,
    variant=frozenset(),
    tier: Tier | str | None = None,
) -> Tier:
    """Pick ``op``'s tier from the facts: the cheapest tier it implements
    that the variant flags allow and whose bound the facts satisfy.
    ``tier`` forces a tier instead; it must be one ``op`` implements and
    the facts and flags support (size bounds aside), else ``ValueError``.
    Pure: no Spark, no side effects."""
    variant = frozenset(variant)
    unknown = variant - VARIANTS
    if unknown:
        raise ValueError(f"unknown variant flags {sorted(unknown)}")
    tiers = OP_TIERS[op]
    if tier is not None:
        forced = Tier(tier)
        if forced not in tiers:
            raise ValueError(f"{op} has no {forced.value!r} tier")
        if not _eligible(forced, facts, op, run_dir, variant):
            raise ValueError(
                f"{op}: tier {forced.value!r} unsupported with run_dir="
                f"{run_dir!r}, variant={sorted(variant)}, facts={facts!r:.300}"
            )
        return forced
    for t in tiers:
        if _eligible(t, facts, op, run_dir, variant) and _within_bounds(t, facts, op):
            return t
    return Tier.SHUFFLE


def wants_probe(
    facts: Facts,
    op: str,
    run_dir: str | None = None,
    variant=frozenset(),
    tier: Tier | str | None = None,
) -> bool:
    """Whether the local tier is still in play, i.e. whether the bounded
    collect of :func:`collect_probe` is worth running for ``op``."""
    if tier is not None and Tier(tier) is not Tier.LOCAL:
        return False
    return _eligible(
        Tier.LOCAL, replace(facts, arrays=()), op, run_dir, frozenset(variant)
    )


def local_tier_allowed(local_threshold: int) -> bool:
    """The kept ``local_threshold`` argument: its default keeps the local
    tier, ``0`` excludes it; any other value is no longer a knob."""
    if local_threshold == LOCAL_EDGE_ROWS:
        return True
    if local_threshold == 0:
        return False
    raise ValueError(
        "local_threshold only accepts its default or 0 (exclude the local "
        "tier); use tier= to force a tier"
    )


@contextmanager
def aqe_off(spark, on: bool = True):
    """Disable adaptive execution around a driver_state sweep's jobs when
    ``on``: they are exchange-free, so AQE's per-stage re-planning is pure
    latency (forced-distributed multiphase, warm, alternated: sf0.001
    15.5-19.5s with AQE vs 13.4-14.3s without; neutral at sf0.1).
    Exchange-heavy loops (CC star rounds) measured ~2x slower without AQE
    and keep it; the local tier runs no Spark job and needs no toggle. The
    conf is SESSION-GLOBAL, restored on error."""
    if not on:
        yield
        return
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, prev)
