"""Vectorized seeded 64-bit hashing.

The reference funnels every typed input through one seeded hash
(MurmurHash3 128-bit, reference hash/MurmurHash3.java:68-334, default
seed 9001 at common/Util.java:99) and keeps only `hash[0] >>> 1` — a
uniform 63-bit value (reference theta/UpdatableThetaSketch.java:258).
We keep the same *semantics* (seeded, uniform, 63-bit non-negative so
signed int64 ordering == unsigned ordering) with a vectorized
SplitMix64-style finalizer, which has full 64-bit avalanche and is a
single fused NumPy expression per batch.
"""

from __future__ import annotations

import numpy as np

_GOLDEN = np.uint64(0x9E3779B97F4A7C15)
_MIX1 = np.uint64(0xBF58476D1CE4E5B9)
_MIX2 = np.uint64(0x94D049BB133111EB)
_FNV_PRIME = np.uint64(0x100000001B3)
_FNV_OFFSET = np.uint64(0xCBF29CE484222325)

MAX63 = np.int64(0x7FFFFFFFFFFFFFFF)


def mix64(x: np.ndarray) -> np.ndarray:
    """SplitMix64 finalizer; full avalanche on uint64 arrays."""
    x = np.asarray(x, dtype=np.uint64)
    with np.errstate(over="ignore"):
        x = (x ^ (x >> np.uint64(30))) * _MIX1
        x = (x ^ (x >> np.uint64(27))) * _MIX2
        return x ^ (x >> np.uint64(31))


def seed_mix(seed: int) -> np.uint64:
    with np.errstate(over="ignore"):
        return mix64(np.uint64(np.uint64(seed & 0xFFFFFFFFFFFFFFFF) + _GOLDEN))


def hash64(x: np.ndarray, seed: int = 9001) -> np.ndarray:
    """Seeded 64-bit hash of a uint64 array (vectorized)."""
    x = np.asarray(x, dtype=np.uint64)
    return mix64(x ^ seed_mix(seed))


def coin(seed: int, *key: int) -> bool:
    """A seeded fair coin keyed on non-negative ints: the deterministic
    stand-in for the reference's process-global Random (SURVEY.md §4),
    so a task retry, or a sketch heapified from its image, flips the
    same coins."""
    h = int(seed_mix(seed))
    for v in key:  # mix64 in Python ints: a scalar here, not an array
        h ^= v
        h = ((h ^ (h >> 30)) * int(_MIX1)) & 0xFFFFFFFFFFFFFFFF
        h = ((h ^ (h >> 27)) * int(_MIX2)) & 0xFFFFFFFFFFFFFFFF
        h ^= h >> 31
    return bool(h & 1)


def hash63(x: np.ndarray, seed: int = 9001) -> np.ndarray:
    """Seeded uniform 63-bit hash, returned as non-negative int64.

    Mirrors the reference's `hash(datum, seed)[0] >>> 1` convention
    (theta/UpdatableThetaSketch.java:258): ordering of the signed view
    equals unsigned ordering, so sorted bottom-k signatures survive the
    int64 round-trip through Spark's LongType.
    """
    return (hash64(x, seed) >> np.uint64(1)).astype(np.int64)


def hash_bytes_batch(
    data: np.ndarray, starts: np.ndarray, lens: np.ndarray, seed: int = 9001
) -> np.ndarray:
    """Seeded 64-bit hash of N variable-length byte strings, vectorized
    across the batch (FNV-1a accumulation + SplitMix64 finalize).

    data  : uint8 array holding all strings concatenated
    starts: int64 array of start offsets (N)
    lens  : int64 array of lengths (N)
    """
    n = len(starts)
    h = np.full(n, _FNV_OFFSET, dtype=np.uint64)
    if n == 0:
        return hash64(h, seed)
    max_len = int(lens.max()) if n else 0
    data = np.ascontiguousarray(data, dtype=np.uint8)
    with np.errstate(over="ignore"):
        for j in range(max_len):
            active = lens > j
            if not active.any():
                break
            idx = starts[active] + j
            h[active] = (h[active] ^ data[idx].astype(np.uint64)) * _FNV_PRIME
    # mix length in so prefixes don't collide with their extensions
    with np.errstate(over="ignore"):
        h = h ^ (lens.astype(np.uint64) * _GOLDEN)
    return hash64(h, seed)


def popcount64(x: np.ndarray) -> np.ndarray:
    """Per-element popcount of a uint64/int64 array."""
    v = np.asarray(x).astype(np.uint64).view(np.uint8).reshape(-1, 8)
    return np.unpackbits(v, axis=1).sum(axis=1).astype(np.int32)


# --- XXH64 of a single long, spec-exact ------------------------------------
# Same algorithm as the reference's XxHash64.hash(long, seed)
# (hash/XxHash64.java:173-192) and Spark SQL's XxHash64Function.hashLong
# — the standard XXH64 of one 8-byte little-endian input. Used by the
# reference Bloom filter's double-hashing probe schedule
# (filters/bloomfilter/BloomFilter.java:268-270), so implementing it
# bit-exactly here makes Java-written Bloom images queryable from
# Python with identical answers. Validated live against Spark's JVM
# `xxhash64` (seed 42) in tests/test_bloom_compat.py.

_XXP1 = np.uint64(0x9E3779B185EBCA87)
_XXP2 = np.uint64(0xC2B2AE3D27D4EB4F)
_XXP3 = np.uint64(0x165667B19E3779F9)
_XXP4 = np.uint64(0x85EBCA77C2B2AE63)
_XXP5 = np.uint64(0x27D4EB2F165667C5)


def xxhash64_long(x: np.ndarray, seed) -> np.ndarray:
    """Vectorized XXH64 of int64/uint64 elements; `seed` may be a
    scalar or a per-element uint64 array (the Bloom probe schedule
    seeds the second hash with the first)."""
    x = np.asarray(x).astype(np.uint64, copy=False)
    s = np.asarray(seed).astype(np.uint64, copy=False)
    with np.errstate(over="ignore"):
        h = s + _XXP5 + np.uint64(8)
        k1 = x * _XXP2
        k1 = (k1 << np.uint64(31)) | (k1 >> np.uint64(33))
        k1 = k1 * _XXP1
        h = h ^ k1
        h = ((h << np.uint64(27)) | (h >> np.uint64(37))) * _XXP1 + _XXP4
        return _xx_avalanche(h)


def xxhash64_int(x: np.ndarray, seed) -> np.ndarray:
    """Vectorized XXH64 of int32 elements (one 4-byte input): Spark
    SQL's XxHash64Function.hashInt, which `xxhash64` applies to int
    columns and literals. `seed` may be a per-element uint64 array, so
    a multi-column Spark hash chains: xxhash64(a, b) with seed 42 is
    xxhash64_int(b, xxhash64_long(a, 42)) for a long a and an int b."""
    x = np.asarray(x).astype(np.int64).astype(np.uint64) & np.uint64(0xFFFFFFFF)
    s = np.asarray(seed).astype(np.uint64, copy=False)
    with np.errstate(over="ignore"):
        h = (s + _XXP5 + np.uint64(4)) ^ (x * _XXP1)
        h = ((h << np.uint64(23)) | (h >> np.uint64(41))) * _XXP2 + _XXP3
        return _xx_avalanche(h)


def _xx_avalanche(h: np.ndarray) -> np.ndarray:
    with np.errstate(over="ignore"):
        h = h ^ (h >> np.uint64(33))
        h = h * _XXP2
        h = h ^ (h >> np.uint64(29))
        h = h * _XXP3
        return h ^ (h >> np.uint64(32))
