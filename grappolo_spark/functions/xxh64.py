"""A vectorized numpy mirror of Spark's ``xxhash64``.

Spark's ``xxhash64(c1, c2, ...)`` folds left over its arguments, starting
from seed 42: each argument is hashed with XXH64 seeded by the running
hash. A string hashes its UTF-8 bytes, a LongType value its 8
little-endian bytes and an IntegerType value (what ``F.lit`` makes of a
python int that fits 32 bits) its 4. The functions here return the
unsigned 64-bit hashes; ``.view(np.int64)`` gives Spark's signed value.
All arithmetic is uint64 array arithmetic, which wraps mod 2^64 exactly
like the reference (numpy scalar arithmetic would warn on overflow, so
every running value is an array).
"""

from __future__ import annotations

import numpy as np

SPARK_SEED = 42

_U = np.uint64
P1 = _U(0x9E3779B185EBCA87)
P2 = _U(0xC2B2AE3D27D4EB4F)
P3 = _U(0x165667B19E3779F9)
P4 = _U(0x85EBCA77C2B2AE63)
P5 = _U(0x27D4EB2F165667C5)


def _rotl(v, r: int):
    return (v << _U(r)) | (v >> _U(64 - r))


def _round(acc, lane):
    return _rotl(acc + lane * P2, 31) * P1


def _fmix(h):
    h = (h ^ (h >> _U(33))) * P2
    h = (h ^ (h >> _U(29))) * P3
    return h ^ (h >> _U(32))


def _lanes(data, start: int, stop: int, dtype: str):
    """The little-endian words of ``data[:, start:stop]``, one column each."""
    return np.ascontiguousarray(data[:, start:stop]).view(dtype).astype(np.uint64)


def xxh64_rows(data, seed):
    """XXH64 of each row of ``data`` (uint8, shape ``(k, L)``: k inputs of
    L bytes each) seeded by ``seed``, a python int or a uint64 array;
    ``data`` with one row hashes those bytes under each of ``seed``'s
    running hashes."""
    data = np.asarray(data, dtype=np.uint8)
    n = data.shape[1]
    h = np.zeros(data.shape[0], np.uint64) + np.asarray(seed).astype(np.uint64)
    i = 0
    if n >= 32:
        stripes = n // 32
        w = _lanes(data, 0, stripes * 32, "<u8")
        v = [h + P1 + P2, h + P2, h.copy(), h - P1]
        for s in range(stripes):
            v = [_round(v[j], w[:, 4 * s + j]) for j in range(4)]
        h = _rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)
        for vj in v:
            h = (h ^ _round(0, vj)) * P1 + P4
        i = stripes * 32
    else:
        h = h + P5
    h = h + _U(n)
    words = (n - i) // 8
    w = _lanes(data, i, i + 8 * words, "<u8")
    for j in range(words):
        h = _rotl(h ^ _round(0, w[:, j]), 27) * P1 + P4
    i += 8 * words
    if n - i >= 4:
        h = _rotl(h ^ (_lanes(data, i, i + 4, "<u4")[:, 0] * P1), 23) * P2 + P3
        i += 4
    for j in range(i, n):
        h = _rotl(h ^ (data[:, j].astype(np.uint64) * P5), 11) * P1
    return _fmix(h)


def xxh64_strings(strings, seed: int = SPARK_SEED):
    """``xxhash64(s)`` of each python string (its UTF-8 bytes), hashed in
    one vectorized pass per distinct byte length."""
    enc = [s.encode("utf-8") for s in strings]
    lens = np.fromiter(map(len, enc), np.int64, len(enc))
    out = np.empty(len(enc), np.uint64)
    order = np.argsort(lens, kind="stable")
    for grp in np.split(order, np.flatnonzero(np.diff(lens[order])) + 1):
        if len(grp):
            buf = b"".join([enc[i] for i in grp])
            data = np.frombuffer(buf, np.uint8).reshape(len(grp), lens[grp[0]])
            out[grp] = xxh64_rows(data, seed)
    return out


def xxh64_long(x, seed: int = SPARK_SEED):
    """``xxhash64(c)`` of a LongType column's values."""
    x = np.ascontiguousarray(x, dtype="<i8")
    return xxh64_rows(x.view(np.uint8).reshape(len(x), 8), seed)


def xxh64_lit(value: int, running):
    """Fold ``F.lit(value)`` into the running hashes ``running`` (uint64):
    the next argument of a Spark ``xxhash64(..., F.lit(value))`` call. The
    literal is 4 bytes when it fits 32 bits (IntegerType), else 8."""
    width = 4 if -(1 << 31) <= value < (1 << 31) else 8
    data = np.frombuffer(value.to_bytes(width, "little", signed=True), np.uint8)
    return xxh64_rows(data.reshape(1, width), running)
