"""Deduplication operators over a documents table.

Four methods, from exact to fuzzy — each a different cost/recall point for a
100 TB corpus:

- ``exact_dedup``      : hash-groupBy on normalized text. One shuffle.
- ``ngram_jaccard_pairs``: word n-gram shingles, candidate pairs via a
  shingle-join, exact Jaccard. Quadratic only within shingle buckets.
- ``minhash_lsh_pairs``: MinHash signatures + banded LSH bucketing; only
  bucket-colliding pairs are verified. The scale path: candidate generation
  is linear in shingles, never all-pairs.
- ``simhash_buckets``  : 64-bit SimHash; near-dups collide on bands of bits.

Exact and n-gram Jaccard are ANSI-SQL-expressible (DuckDB oracles verify
them value-for-value); the MinHash/SimHash sketches use xxhash64, which has
no DuckDB equivalent, so they get rows-only driver checks plus pytest
oracles against the exact Jaccard result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from grappolo_spark.functions.text import TOKEN_RE
from grappolo_spark.plans import tiers
from grappolo_spark.plans.iteration import cut_releasing
from grappolo_spark.plans.tiers import Facts, Tier, plan

_NORM = "trim(regexp_replace(lower({c}), '\\\\s+', ' '))"


def normalized(text_col: str):
    return F.expr(_NORM.format(c=text_col))


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(hash, keep_id, dup_count): one row per distinct normalized text,
    keeping the smallest id."""
    return (
        df.select(
            F.col(id_col), F.md5(normalized(text_col)).alias("content_hash")
        )
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle): distinct word n-grams of the normalized text. A
    document with fewer than ``n`` tokens has no shingle."""
    # tokenize once per row: the n-gram lambda slices the bound array
    # (the regexp inside the lambda would re-run per n-gram, quadratic in
    # the token count)
    toks = F.expr(f"regexp_extract_all(lower({text_col}), '{TOKEN_RE}', 0)")
    sh = F.expr(
        f"""
        array_distinct(transform(
          sequence(1, size(toks) - {n - 1}),
          i -> concat_ws(' ', slice(toks, i, {n}))
        ))
        """
    )
    return (
        df.select(F.col(id_col).alias("id"), toks.alias("toks"))
        # null (no rows from explode) below n tokens, where sequence()
        # would count down to a zero slice start
        .select("id", F.explode(F.when(F.size("toks") >= n, sh)).alias("shingle"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """(id_a, id_b, jaccard) for pairs with shingle-set Jaccard ≥ threshold.

    Candidates come from a self-join on shingle (docs sharing ≥1 shingle);
    |A∩B| by groupBy(pair), |A∪B| = |A|+|B|−|A∩B|.

    ``max_shingle_df`` drops stop-shingles appearing in more than that many
    documents BEFORE the self-join — one ubiquitous shingle ("the end of")
    would otherwise create a quadratic candidate bucket at corpus scale.
    Jaccard is then computed over the filtered shingle space (sizes and
    intersections consistently exclude dropped shingles), so the estimate
    is deterministic and oracle-replicable; the recall trade is that pairs
    similar ONLY through ubiquitous shingles score lower. The default
    ``None`` keeps exact Jaccard semantics — callers at corpus scale must
    OPT IN to the cap (the driver entry query passes an explicit 50), so
    existing callers never get silently-approximate answers.
    """
    sh = shingles(df, id_col, text_col, n)
    if max_shingle_df is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(rare, "shingle", "left_semi")
    sh = sh.persist()
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.withColumnRenamed("id", "id_a")
    b = sh.withColumnRenamed("id", "id_b")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("ninter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sza"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "szb"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("ninter")
                / (F.col("sza") + F.col("szb") - F.col("ninter")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return cut_releasing(out, sh)


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    seed: int = 7,
) -> DataFrame:
    """(id, sig: array<bigint>): MinHash over word n-gram shingles.

    h_i(s) = xxhash64(s, seed+i); signature[i] = min over shingles.
    Computed as one explode + groupBy with an array of min-aggregates —
    no per-row Python.
    """
    sh = shingles(df, id_col, text_col, n)
    mins = [
        F.min(F.xxhash64(F.col("shingle"), F.lit(seed + i))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    agg = sh.groupBy("id").agg(*mins)
    return agg.select("id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig"))


def _shingle_rows_bound(df: DataFrame, text_col: str) -> int:
    """An upper bound on the shingle rows of ``df``, (Σ bytes + rows) // 2:
    a token takes at least one byte and is followed by at least one
    separator byte or the end of its text, so a text of L bytes has at
    most (L + 1) // 2 tokens, and at least as many tokens as shingles.
    (``lower`` keeps the bound: the one character it grows, U+0130 İ,
    takes 2 bytes and yields one token character and a separator.)

    Read from a prefix of the text lengths: takes of growing length (a
    take scans only the partitions it needs) stop once the table ends or
    the prefix alone passes ``LOCAL_EDGE_ROWS``. Each row adds at least
    1/2, so at most 2 * ``LOCAL_EDGE_ROWS`` + 2 rows are ever read: above
    the bound the probe never scans the whole table."""
    lengths = df.select(F.octet_length(text_col))
    limit, cap = 1 << 16, 2 * tiers.LOCAL_EDGE_ROWS + 2
    while True:
        got = [r[0] or 0 for r in lengths.take(min(limit, cap))]
        bound = (sum(got) + len(got)) // 2
        if len(got) < min(limit, cap) or bound > tiers.LOCAL_EDGE_ROWS:
            return bound
        limit *= 8


def _local_lsh_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int, num_hashes: int,
    bands: int, threshold: float, seed: int,
) -> DataFrame | None:
    """The local tier of :func:`minhash_lsh_pairs`: the same rows from
    driver numpy over one Arrow collect of ``(id, text)``. Each distinct
    shingle is hashed once (:func:`xxh64_strings`, then the ``seed + i``
    literal folded in), signatures are per-id minima and the band keys are
    ``xxhash64`` of the same decimal strings, so candidates and
    ``est_jaccard`` equal the Spark tier's bit for bit. Rows that share an
    id merge their shingles; null ids never pair.

    ``None`` when the candidate join would build more than
    ``LOCAL_EDGE_ROWS`` rows (Σ bucket size² over the bands: k documents
    that share every band key give bands·k²), for the Spark plan's join
    to run instead."""
    import re

    import numpy as np
    import pandas as pd
    import pyarrow.compute as pc

    from grappolo_spark.functions.xxh64 import xxh64_lit, xxh64_strings

    id_type = df.schema[id_col].dataType
    schema = StructType([
        StructField("id_a", id_type), StructField("id_b", id_type),
        StructField("est_jaccard", DoubleType()),
    ])
    spark = df.sparkSession
    tab = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text")).toArrow()
    tab = tab.filter(pc.is_valid(tab["id"]))
    keys, doc = np.unique(tab["id"].to_numpy(), return_inverse=True)
    token = re.compile(TOKEN_RE)
    index: dict[str, int] = {}  # distinct shingle -> its row in ``base``
    rows, shingle = [], []
    for d, text in zip(doc.tolist(), tab["text"].to_pylist()):
        if text is None:
            continue
        toks = token.findall(text.lower())
        grams = {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
        rows += [d] * len(grams)
        shingle += [index.setdefault(g, len(index)) for g in grams]
    if not rows:
        return spark.createDataFrame([], schema)
    order = np.argsort(np.asarray(rows), kind="stable")
    rows, shingle = np.asarray(rows)[order], np.asarray(shingle)[order]
    starts = np.flatnonzero(np.r_[True, rows[1:] != rows[:-1]])
    base = xxh64_strings(list(index))
    sig = np.empty((len(starts), num_hashes), np.int64)
    for i in range(num_hashes):
        h = xxh64_lit(seed + i, base).view(np.int64)
        sig[:, i] = np.minimum.reduceat(h[shingle], starts)
    nd, rpb = len(starts), num_hashes // bands
    bh = [
        xxh64_strings([",".join(map(str, r)) for r in sig[:, b * rpb : (b + 1) * rpb].tolist()])
        for b in range(bands)
    ]
    keyed = pd.DataFrame({
        "band": np.repeat(np.arange(bands), nd),
        "bh": np.concatenate(bh),
        "d": np.tile(np.arange(nd), bands),
    })
    keyed = keyed.loc[keyed.duplicated(["band", "bh"], keep=False)]
    if (keyed.groupby(["band", "bh"]).size() ** 2).sum() > tiers.LOCAL_EDGE_ROWS:
        return None
    cand = keyed.merge(keyed, on=["band", "bh"])
    cand = cand.loc[cand["d_x"] < cand["d_y"], ["d_x", "d_y"]].drop_duplicates()
    cand = cand.sort_values(["d_x", "d_y"])
    a, b = cand["d_x"].to_numpy(np.int64), cand["d_y"].to_numpy(np.int64)
    est = (sig[a] == sig[b]).sum(axis=1) / num_hashes
    keep = est >= threshold
    ids = keys[rows[starts]]
    return spark.createDataFrame(
        pd.DataFrame({
            "id_a": ids[a[keep]], "id_b": ids[b[keep]], "est_jaccard": est[keep],
        }),
        schema,
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    seed: int = 7,
    tier: Tier | str | None = None,
) -> DataFrame:
    """(id_a, id_b, est_jaccard) for LSH-candidate pairs above threshold.

    Signatures are split into ``bands`` bands of ``num_hashes/bands`` rows;
    docs colliding in ≥1 band become candidates (join on band hash — never
    all-pairs), then the full-signature agreement fraction estimates Jaccard.

    Tiers (:mod:`grappolo_spark.plans.tiers`): **local** — while a probe
    of the text lengths bounds the shingle rows at ``LOCAL_EDGE_ROWS``,
    the sketch runs in driver numpy over one Arrow collect of
    ``(id, text)`` and returns the same rows; **shuffle** — the Spark plan
    below, after a probe that reads a bounded prefix of the table.
    ``tier`` forces one and skips the probe. The local tier hands over to
    the Spark plan when its candidate join would pass the same bound.
    """
    facts = Facts() if tier is not None else Facts(edge_rows=_shingle_rows_bound(df, text_col))
    if plan(facts, "minhash", tier=tier) is Tier.LOCAL:
        out = _local_lsh_pairs(
            df, id_col, text_col, n, num_hashes, bands, threshold, seed
        )
        if out is not None:
            return out
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, n, num_hashes, seed).persist()
    banded = sig.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col("sig")[b * rows_per_band + r]
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("bh"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "sig", F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh"))
    a = banded.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"), "band", "bh")
    b = banded.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"), "band", "bh")
    cand = (
        a.join(b, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
    )
    est = cand.select(
        "id_a",
        "id_b",
        (
            F.expr(
                "size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), b -> b))"
            ).cast("double")
            / F.lit(num_hashes)
        ).alias("est_jaccard"),
    )
    return cut_releasing(est.filter(F.col("est_jaccard") >= threshold), sig)


def simhash_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 48,
    band_bits: int = 12,
    seed: int = 11,
) -> DataFrame:
    """(id, simhash, band0..band3): SimHash of the token set plus band keys
    for near-dup bucketing (docs equal in any band are candidates).

    ``bits`` ≤ 62 so the fingerprint stays a positive signed long (ANSI mode).
    """
    toks = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(
                F.expr(
                    f"array_distinct(regexp_extract_all(lower({text_col}), '{TOKEN_RE}', 0))"
                )
            ).alias("tok"),
        )
        .withColumn("h", F.xxhash64(F.col("tok"), F.lit(seed)))
    )
    # per-bit vote: +1 if bit set else -1; simhash bit = sign of the sum
    votes = toks.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.expr(f"(h >> {i}) & 1") == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(bits)
        ]
    )
    sim = votes.select(
        "id",
        sum(
            [
                F.when(F.col(f"b{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
                    F.lit(0).cast("long")
                )
                for i in range(bits)
            ]
        ).alias("simhash"),
    )
    nbands = bits // band_bits
    mask = (1 << band_bits) - 1
    band_cols = [
        F.expr(f"(simhash >> {b * band_bits}) & {mask}").alias(f"band{b}")
        for b in range(nbands)
    ]
    return sim.select("id", "simhash", *band_cols)


def dedup_clusters(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """(doc_id, keep_id): resolve a near-duplicate PAIR table into
    duplicate CLUSTERS — the step every fuzzy-dedup pipeline needs after
    candidate generation. Near-duplication is not transitive, but the
    standard corpus-dedup policy (MinHash dedup a la web-scale pipelines)
    keeps one representative per CONNECTED COMPONENT of the pair graph:
    this runs the engine's own scalable CC (small-star/large-star) over
    the pairs and labels every clustered doc with the smallest id of its
    cluster (``keep_id``). Docs with no near-duplicate don't appear —
    callers left-join and coalesce to self:

        docs.join(clusters, "doc_id", "left")
            .filter((col("keep_id").isNull()) | (col("keep_id") == col("doc_id")))

    Composes with ANY of the pair generators in this module
    (ngram_jaccard_pairs / minhash_lsh_pairs / simhash bands /
    embedding_near_dup_pairs).
    """
    from grappolo_spark.graph import Graph
    from grappolo_spark.operators.components import connected_components

    g = Graph.from_edgelist(
        pairs.select(
            F.col(id_a).cast("long").alias("src"),
            F.col(id_b).cast("long").alias("dst"),
        )
    )
    cc = connected_components(g)
    return cc.select(
        F.col("v").alias("doc_id"), F.col("component").alias("keep_id")
    )
