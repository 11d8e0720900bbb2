"""xxHash64 — pure-Python/numpy implementation matching Spark's ``F.xxhash64``.

Spark's ``xxhash64(col)`` hashes the UTF-8 bytes of a string column with
the standard XXH64 algorithm, seed=42 (see Spark's
``org.apache.spark.sql.catalyst.expressions.XxHash64``; public API docs).
We need the *same* values driver-side (fixtures, oracle simulator) and
executor-side (``F.xxhash64`` stays JVM-side in the hot path), so this
module provides a bit-exact Python twin, verified against Spark in
``tests/test_hashing.py``.

Reference semantics source: shriphani/pegasus keys its LMDB visited-cache
by URL string (SURVEY.md §1.1 D4); we key everything by
``url_hash = xxhash64(canonical_url)`` instead (SURVEY.md §2 O9).
"""

from __future__ import annotations

import numpy as np

_M64 = (1 << 64) - 1
_P1 = 11400714785074694791
_P2 = 14029467366897019727
_P3 = 1609587929392839161
_P4 = 9650029242287828579
_P5 = 2870177450012600261

SPARK_XXHASH64_SEED = 42


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, inp: int) -> int:
    acc = (acc + inp * _P2) & _M64
    acc = _rotl(acc, 31)
    return (acc * _P1) & _M64


def _merge_round(h: int, v: int) -> int:
    h ^= _round(0, v)
    return (h * _P1 + _P4) & _M64


def xxhash64_bytes(data: bytes, seed: int = SPARK_XXHASH64_SEED) -> int:
    """Unsigned XXH64 of raw bytes."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while i + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        h = _merge_round(h, v1)
        h = _merge_round(h, v2)
        h = _merge_round(h, v3)
        h = _merge_round(h, v4)
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        k1 = _round(0, int.from_bytes(data[i : i + 8], "little"))
        h ^= k1
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


def _to_signed64(u: int) -> int:
    return u - (1 << 64) if u >= (1 << 63) else u


def xxhash64_str(s: str, seed: int = SPARK_XXHASH64_SEED) -> int:
    """Signed-int64 XXH64 of a string's UTF-8 bytes — equals Spark's
    ``F.xxhash64(lit(s))``."""
    return _to_signed64(xxhash64_bytes(s.encode("utf-8"), seed))


def xxhash64_long(v: int, seed: int = SPARK_XXHASH64_SEED) -> int:
    """Signed-int64 XXH64 of a long column value — equals Spark's
    ``F.xxhash64(lit(v).cast('long'))`` (Spark hashes longs via the
    XXH64 hashLong path: one 8-byte stripe)."""
    # Spark's XXH64.hashLong(l, seed): hash = seed + P5 + 8; k1 = round(0,l);
    # hash ^= k1; hash = rotl(hash,27)*P1+P4; fmix.
    h = (seed + _P5 + 8) & _M64
    k1 = _round(0, v & _M64)
    h ^= k1
    h = (_rotl(h, 27) * _P1 + _P4) & _M64
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return _to_signed64(h)


# --- bloom-filter index derivation (vectorized, numpy) ------------------

def bloom_indexes(hashes: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """(n, k) array of bit indexes for int64 url_hashes.

    Double hashing: idx_i = (h1 + i*h2) mod m. h1/h2 derived from the
    url_hash by splitmix64-style finalizers — vectorized uint64 numpy.
    """
    x = hashes.astype(np.uint64)
    with np.errstate(over="ignore"):
        z = (x + np.uint64(0x9E3779B97F4A7C15)) & np.uint64(_M64)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        h1 = z ^ (z >> np.uint64(31))
        z2 = (x ^ np.uint64(0xA5A5A5A5A5A5A5A5)) * np.uint64(0xFF51AFD7ED558CCD)
        z2 = (z2 ^ (z2 >> np.uint64(33))) * np.uint64(0xC4CEB9FE1A85EC53)
        h2 = (z2 ^ (z2 >> np.uint64(33))) | np.uint64(1)  # odd → full period
        ks = np.arange(k, dtype=np.uint64)
        idx = (h1[:, None] + ks[None, :] * h2[:, None]) % np.uint64(m_bits)
    return idx.astype(np.int64)
