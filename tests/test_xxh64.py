"""The numpy ``xxhash64`` mirror against the pure-python oracle and
against Spark's own ``xxhash64``."""

from __future__ import annotations

import random

import numpy as np
from pyspark.sql import functions as F

from grappolo_spark.functions.xxh64 import (
    xxh64_lit,
    xxh64_long,
    xxh64_strings,
)
from tests.xxh64_oracle import I64, spark_xxhash64, xxh64

_M = (1 << 64) - 1


def _strings():
    """Every UTF-8 length 0..100 (the 32/8/4/1-byte tails in all
    combinations), ASCII and non-ASCII."""
    rng = random.Random(5)
    ascii_ = [
        "".join(rng.choice("abcdefghij ,-0123456789") for _ in range(n))
        for n in range(101)
    ]
    alphabet = "a\u00e9\u20ac\U0001f600\u0130\u212a\u0307\u00df"
    wide = ["".join(rng.choice(alphabet) for _ in range(n)) for n in range(40)]
    return ascii_ + wide + ["\u0130stanbul", "Kelvin \u212a", ""]


def _signed(h):
    return np.asarray(h, np.uint64).view(np.int64).tolist()


def test_strings_match_oracle_and_spark(spark):
    strs = _strings()
    got = _signed(xxh64_strings(strs))
    assert got == [spark_xxhash64(s) for s in strs]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(strs)], "i int, s string")
    spark_h = [r.h for r in df.orderBy("i").select(F.xxhash64("s").alias("h")).collect()]
    assert got == spark_h


def test_long_and_literal_folds_match_oracle_and_spark(spark):
    """``xxhash64(long_col, F.lit(v))`` for 4- and 8-byte literals, folded
    over running hashes of both signs."""
    ids = np.array(
        [0, 1, -1, 7, 2**31, -(2**31), 2**62, -(2**63), 2**63 - 1, 12345],
        dtype=np.int64,
    )
    base = xxh64_long(ids)
    assert _signed(base) == [spark_xxhash64(I64(int(v))) for v in ids]
    assert (base >= np.uint64(1 << 63)).any()  # negative running hashes
    lits = [0, 7, -5, 2**31 - 1, -(2**31), 2**31, -(2**40)]
    df = spark.createDataFrame([(int(v),) for v in ids], "v long")
    for lit in lits:
        got = _signed(xxh64_lit(lit, base))
        assert got == [spark_xxhash64(I64(int(v)), lit) for v in ids], lit
        rows = df.select(F.xxhash64("v", F.lit(lit)).alias("h")).collect()
        assert got == [r.h for r in rows], lit


def test_literal_fold_over_string_hashes_matches_oracle():
    """The MinHash local tier's fold: ``xxhash64(shingle, seed + i)``."""
    strs = _strings()
    base = xxh64_strings(strs)
    for lit in (7, 38, -3):
        want = [
            xxh64((lit & 0xFFFFFFFF).to_bytes(4, "little"), int(h)) for h in base
        ]
        assert xxh64_lit(lit, base).tolist() == [w & _M for w in want]
