"""Execution-tier planner: one place picks how an iterative operator runs.

Every iterative operator (PageRank, CC, LPA, Louvain and colored Louvain),
triangle counting, the corpus front door and MinHash-LSH dedup can run in
up to four regimes, ordered from cheapest-at-small-size to scale-safe:

- ``local``        the whole computation in driver numpy over a collected
                   copy of the edge table (no Spark job per superstep)
- ``driver_state`` the local kernel's numpy sweeps with their O(E) gather
                   in Spark over a persisted edge cache; the O(V) state
                   crosses the boundary as broadcast LocalRelations in, one
                   collect out (Louvain's plain and colored phases)
- ``broadcast``    the O(V) state stays a DataFrame and is broadcast into
                   the gather join (the edge cache is only scanned)
- ``shuffle``      the O(V) state is shuffled; nothing is broadcast

The operators read a :class:`Facts` record off the graph
(:func:`graph_facts`: its flags plus a memo of the one bounded probe and of
the one stats action, :func:`graph_stats`) and call :func:`plan`, which
owns the four bounds. A ``tier=`` argument on each operator forces one
regime; forcing a tier the facts cannot support raises ``ValueError``.
"""

from __future__ import annotations

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
    "pagerank": (Tier.LOCAL, Tier.BROADCAST, Tier.SHUFFLE),
    "components": (Tier.LOCAL, Tier.SHUFFLE),
    "labelprop": (Tier.LOCAL, Tier.BROADCAST, Tier.SHUFFLE),
    "louvain": tuple(Tier),
    "louvain_phase": (Tier.DRIVER_STATE, Tier.BROADCAST, Tier.SHUFFLE),
    "louvain_colored": tuple(Tier),
    "triangles": (Tier.LOCAL, Tier.SHUFFLE),
    # the corpus front door: resolve and number on the driver, or in Spark
    "corpus": (Tier.LOCAL, Tier.SHUFFLE),
    # MinHash-LSH dedup: sketch on the driver, or in Spark; its edge_rows
    # fact is an upper bound on the shingle rows
    "minhash": (Tier.LOCAL, Tier.SHUFFLE),
}

# variant flags: options whose semantics live outside the fast tiers
VARIANTS = frozenset({
    "sampling",         # louvain: per-iteration move sampling
    "early_terminate",  # louvain: active-set gather
    "ftr",              # louvain: Fast-Track-Resistance exit
    "salting",          # louvain: hub gather routed through salted sums
    "no_local",         # local_threshold=0: the caller excludes the local tier
})

# variant flags that exclude each tier, per operator
_EXCLUDES = {
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
    ``edge_rows`` is exact when ``arrays`` is set or a parquet footer gave
    it, and otherwise a lower bound: ``bound + 1`` after a probe came back
    over its bound, or a coarse graph's cluster count (coarsening keeps a
    self-loop row per cluster). :func:`collect_probe` reads it to skip a
    collect that must fail."""

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
    symmetric: bool | None = None  # each (u, v) row has its (v, u) twin
    coarse: bool = False  # a coarsen_cut level: a small parquet edge cut
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

    def fits_int32(self, strict_low: bool = False) -> bool:
        """Every vertex id fits a 32-bit int (``strict_low`` also excludes
        exactly -2^31, whose negation wraps)."""
        if self.id_lo is None or self.id_hi is None:
            return False
        lo_ok = self.id_lo > _INT32_MIN if strict_low else self.id_lo >= _INT32_MIN
        return lo_ok and self.id_hi < _INT32_MAX


_UNKNOWN = Facts()


def exact_sums(total_abs, all_integer) -> bool:
    """The ``integer_weights`` contract: integer-valued, Σ|w| < 2^53."""
    return bool(all_integer) and float(total_abs or 0.0) < float(2**53)


def _pair_hash_np(a, b):
    """splitmix64's finalizer over ``a * golden ^ b``, per ordered pair."""
    import numpy as np

    x = (a.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)) ^ b.astype(np.uint64)
    for shift, mul in ((30, 0xBF58476D1CE4E5B9), (27, 0x94D049BB133111EB)):
        x = (x ^ (x >> np.uint64(shift))) * np.uint64(mul)
    return x ^ (x >> np.uint64(31))


def from_arrays(g, src, dst, w) -> Facts:
    """Facts of a graph whose edge table was collected whole, with the
    stats of :func:`graph_stats` the arrays determine exactly. The arrays
    become read-only. A ``g.deduped`` graph must have unique ``(src,
    dst)`` rows, else ``ValueError``: this is the only check of that flag,
    so a graph above the probe bound keeps it unchecked."""
    import numpy as np

    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    s = inv[: len(src)]
    if g.deduped:
        keys = np.sort(s * len(ids) + inv[len(src):])
        repeats = int((keys[1:] == keys[:-1]).sum())
        if repeats:
            raise ValueError(
                "Graph(deduped=True) needs unique (src, dst) edge rows; "
                f"{repeats} rows repeat one"
            )
    for a in (src, dst, w, ids):
        a.flags.writeable = False
    # graph_stats' symmetry checksum, in numpy
    sym = np.bitwise_xor.reduce(_pair_hash_np(src, dst) ^ _pair_hash_np(dst, src))
    known = dict(
        edge_rows=len(src), arrays=(src, dst, w, ids),
        max_degree=int(np.bincount(s).max()) if len(s) else 0,
        symmetric=not sym and int((src < dst).sum()) == int((src > dst).sum()),
    )
    if g.vertices is None:  # else the endpoints bound neither
        wout = np.bincount(s, weights=w, minlength=len(ids))
        known.update(nv=len(ids), dangling=bool((wout == 0.0).any()))
        if len(ids):
            known.update(id_lo=int(ids[0]), id_hi=int(ids[-1]))
    if g.unweighted or exact_sums(np.abs(w).sum(), (w == np.rint(w)).all()):
        known.update(integer_weights=True, two_m=float(w.sum()))
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
        return replace(facts, edge_rows=bound + 1)
    src, dst = (pdf[c].to_numpy(np.int64) for c in ("src", "dst"))
    return from_arrays(g, src, dst, pdf["weight"].to_numpy(np.float64))


# what a Graph memoizes: facts of its edge table, then |V|, the id bounds
# and the dangling flag, which cover its vertex table too and so hold only
# for the vertex table they were learned with
_EDGE_FACTS = ("edge_rows", "arrays", "two_m", "integer_weights",
               "max_degree", "symmetric", "coarse")
_MEMO = _EDGE_FACTS + ("nv", "id_lo", "id_hi", "dangling")


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
        remember_facts(g, collect_probe(g, bound, facts))
        facts = graph_facts(g)
    return facts


def remember_facts(g, facts: Facts) -> None:
    """Memoize ``facts`` of ``g``, as a probe's outcome is (a builder that
    holds the whole edge table passes :func:`from_arrays`' facts, so no
    operator probes it)."""
    remember(g, **{k: getattr(facts, k) for k in _MEMO})


def _stats_known(facts: Facts, g) -> bool:
    """The stats without a conservative reading are known: |V|, 2m and
    the max degree (unique rows bound it by |V|)."""
    return None not in (facts.nv, facts.two_m) and (
        facts.max_degree is not None or g.deduped
    )


def degree_table(g):
    """``g._degrees()`` plus, while :func:`graph_stats` has to run its
    aggregation, the per-vertex columns it reads."""
    from pyspark.sql import functions as F

    if _stats_known(graph_facts(g), g):
        return g._degrees()
    src, dst = F.col("src"), F.col("dst")
    return g._degrees(
        abs_w=F.sum(F.abs("weight")),
        int_w=F.min((F.col("weight") == F.rint("weight")).cast("int")),
        # symmetry: XOR of xxhash64(u, v) ^ xxhash64(v, u) over the rows
        # is 0, and as many rows point up (src < dst) as down
        sym=F.bit_xor(F.xxhash64(src, dst).bitwiseXOR(F.xxhash64(dst, src))),
        skew=F.sum((src < dst).cast("long") - (src > dst).cast("long")),
    )


def graph_stats(g, degrees=None) -> Facts:
    """``g``'s facts with its stats: |V|, id bounds, 2m, integer weights,
    max out-degree, dangling and symmetry. From the memo when it holds them
    (as the probe's integer-weight arrays and a coarse graph do); else ONE
    aggregation over ``degrees`` (a :func:`degree_table` the caller
    persists anyway, which it then materializes) or a fresh one."""
    facts = graph_facts(g)
    if not _stats_known(facts, g):
        _stats_action(g, degree_table(g) if degrees is None else degrees)
        facts = graph_facts(g)
    return facts


def _stats_action(g, degrees) -> None:
    """The one stats aggregation over a :func:`degree_table`."""
    from pyspark.sql import functions as F

    nv, lo, hi, two_m, max_deg, dangling, abs_w, int_w, sym, skew = degrees.agg(
        F.count(F.lit(1)), F.min("v"), F.max("v"), F.sum("deg"),
        F.max("out_degree"), F.max((F.col("deg") == 0.0).cast("int")),
        F.sum("abs_w"), F.min("int_w"), F.bit_xor("sym"), F.sum("skew"),
    ).collect()[0]
    remember(
        g, nv=nv, id_lo=lo, id_hi=hi, two_m=two_m or 0.0,
        max_degree=max_deg or 0, dangling=bool(dangling),
        integer_weights=g.unweighted or exact_sums(abs_w, int_w != 0),
        symmetric=not sym and not skew,
    )


def endpoints_fit_int32(g, pairs) -> bool:
    """Every id of ``g``'s edge endpoints, listed by the ``(u, v)`` table
    ``pairs``, fits int32: from the memo's id bounds, else ONE min/max
    over ``pairs`` (a cut the caller reads anyway), remembered as ``g``'s
    id bounds when its endpoints are its vertex set."""
    from pyspark.sql import functions as F

    facts = graph_facts(g)
    if facts.id_lo is None or facts.id_hi is None:
        lo, hi = pairs.agg(
            F.least(F.min("u"), F.min("v")), F.greatest(F.max("u"), F.max("v"))
        ).collect()[0]
        facts = replace(facts, id_lo=lo, id_hi=hi)
        if g.vertices is None:
            remember(g, id_lo=lo, id_hi=hi)
    return facts.fits_int32()


def local_facts(g, op, run_dir=None, variant=frozenset(), tier=None):
    """``g``'s facts when ``op``'s call runs in the local tier (probed
    under :data:`LOCAL_EDGE_ROWS`: under the bound the probe IS its
    input), else ``None``: the caller plans from :func:`graph_stats`."""
    if not wants_probe(graph_facts(g), op, run_dir, variant, tier):
        return None
    facts = graph_facts(g, LOCAL_EDGE_ROWS)
    local = facts.arrays is not None and plan(facts, op, run_dir, variant, tier)
    return facts if local is Tier.LOCAL else None


def local_tail_facts(
    g, colored: bool, run_dir=None, variant=frozenset(), tier=None
) -> Facts | None:
    """``g``'s facts when ALL remaining multiphase Louvain phases run in
    driver numpy, else ``None``: a plain phase needs the plain local tier;
    a colored one the colored phase's (probed under its 4M bound) and the
    plain one's exclusions. Coarse graphs only shrink and keep integer
    weights, so a run that enters stays on the driver."""
    if not colored:
        return local_facts(g, "louvain", run_dir, variant, tier)
    facts = graph_facts(g)
    if not wants_probe(facts, "louvain", run_dir, variant, tier):
        return None
    if driver_holds(facts.nv) or tier is not None:
        facts = graph_facts(g, DRIVER_EDGE_ROWS)
    ok = plan(facts, "louvain_colored", tier=tier) is Tier.LOCAL
    return facts if ok else None


def remember(g, **known) -> None:
    """Record in ``g``'s memo what an action learned. A value at its
    unknown reading (``None``, a ``False`` flag) overwrites nothing."""
    _memo(g).update((k, v) for k, v in known.items() if v != getattr(_UNKNOWN, k))


def driver_holds(nv: int | None) -> bool:
    """An O(V) table of ``nv`` rows fits the driver_state bound."""
    return nv is not None and nv <= DRIVER_STATE_ROWS


def _eligible(t: Tier, facts: Facts, op: str, run_dir, variant) -> bool:
    """Semantic support, independent of size: may ``op`` run as ``t``?"""
    if variant & _EXCLUDES.get((op, t), set()):
        return False
    if t is Tier.LOCAL:
        if op in ("corpus", "minhash"):
            return True  # their input is collected on the driver
        if facts.arrays is None or "no_local" in variant:
            return False
        if run_dir is not None and op not in ("pagerank", "labelprop"):
            return False  # no driver-side durable state yet
        if op in ("louvain", "pagerank", "triangles") or run_dir is not None:
            # explicit isolated vertices are not in the arrays (louvain's
            # degrees()-based init, pagerank's |V|, the vertex set a
            # durable LPA commits, per-vertex triangle rows)
            return not facts.explicit_vertices
        if op == "louvain_colored":
            return facts.integer_weights
        return True
    if t is Tier.DRIVER_STATE and op == "louvain_phase":
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
