"""Bloom filter — the reference probe schedule and serial-v1 wire
format (filters/bloomfilter/BloomFilter.java, HeapBitArray.java,
builder sizing formulas BloomFilterBuilder.java:50-142).

This is the engine's only Bloom filter: `operators/filters.py` builds,
merges, broadcasts and probes it, so every filter the engine writes is
an image the Java library heapifies, and a Java image queries
identically here. Semantics mirror the reference: an m-bit array, h
probes per item, `update` sets bits, `query` tests them (no false
negatives, false-positive probability ~(1-e^{-hn/m})^h), and
`union`/`intersect` are bitwise OR/AND of filters with identical
(m, h, seed) (BloomFilter.java:681,695).

Probe schedule (BloomFilter.java:268-270, 371-378): for item v,
  h0 = XXH64(v, seed);  h1 = XXH64(v, h0)
  bit_i = ((h0 + i*h1) >>> 1) % numBits,  i = 1..numHashes
with numBits the capacity rounded UP to a multiple of 64
(HeapBitArray.java:42-54).

Wire layout (BloomFilter.java:774-805, HeapBitArray.java:205-213),
all little-endian:
  byte 0     preLongs      (3 empty / 4 otherwise — Family.BLOOMFILTER
                            min/max preLongs, common/Family.java:165)
  byte 1     serVer = 1
  byte 2     familyID = 21
  byte 3     flags         (bit2 EMPTY)
  bytes 4-5  numHashes (u16)
  bytes 6-7  unused
  bytes 8-15 seed (i64)
  bytes 16-19 numLongs (i32)
  bytes 20-23 unused
  [non-empty only:]
  bytes 24-31 numBitsSet (i64; -1 = dirty, recompute on load)
  bytes 32+   data (numLongs × u64)
"""

from __future__ import annotations

import math

import numpy as np

from .hashing import popcount64, xxhash64_long

_FAMILY = 21
_SER_VER = 1
_EMPTY_FLAG = 4


def suggest_num_hashes_from_size(max_distinct: int, num_bits: int) -> int:
    """BloomFilterBuilder.suggestNumHashes(maxDistinctItems, numFilterBits)
    (BloomFilterBuilder.java:50-55): ceil((m/n)·ln2), min 1."""
    return max(1, math.ceil((num_bits / max_distinct) * math.log(2.0)))


def suggest_num_hashes(target_fpp: float) -> int:
    """BloomFilterBuilder.suggestNumHashes(targetFalsePositiveProb)
    (BloomFilterBuilder.java:63-68): ceil(-log2(p))."""
    if not (0.0 < target_fpp <= 1.0):
        raise ValueError("target FPP must be in (0, 1]")
    return math.ceil(-math.log(target_fpp) / math.log(2.0))


def suggest_num_filter_bits(max_distinct: int, target_fpp: float) -> int:
    """BloomFilterBuilder.suggestNumFilterBits (BloomFilterBuilder.java:78-80):
    ceil(-n·ln(p) / ln(2)²)."""
    if max_distinct <= 0:
        raise ValueError("maxDistinctItems must be positive")
    return math.ceil((-max_distinct * math.log(target_fpp)) / (math.log(2.0) ** 2))


class RefBloomFilter:
    """Heap Bloom filter with the reference's exact probe schedule.

    Items are 64-bit values hashed as the reference's
    `update(long)`/`query(long)` overloads hash them
    (BloomFilter.java:267-270); for other input types hash to a long
    first, matching the caller-side convention the typed Java
    overloads implement.
    """

    def __init__(self, num_bits: int, num_hashes: int, seed: int = 9001):
        if num_bits <= 0 or num_hashes <= 0:
            raise ValueError("num_bits and num_hashes must be positive")
        num_longs = (int(num_bits) + 63) // 64
        self.m = num_longs * 64          # capacity after 64-bit rounding
        self.h = int(num_hashes)
        self.seed = int(seed)
        self.bits = np.zeros(num_longs, dtype=np.uint64)

    def _positions(self, items: np.ndarray) -> np.ndarray:
        x = np.atleast_1d(np.asarray(items)).astype(np.uint64, copy=False)
        h0 = xxhash64_long(x, np.uint64(self.seed & 0xFFFFFFFFFFFFFFFF))
        h1 = xxhash64_long(x, h0)
        i = np.arange(1, self.h + 1, dtype=np.uint64)
        with np.errstate(over="ignore"):
            mixed = h0[:, None] + i[None, :] * h1[:, None]
        return ((mixed >> np.uint64(1)) % np.uint64(self.m)).astype(np.int64)

    def update(self, items: np.ndarray) -> "RefBloomFilter":
        pos = self._positions(items).reshape(-1)
        np.bitwise_or.at(
            self.bits, pos >> 6,
            np.uint64(1) << (pos.astype(np.uint64) & np.uint64(63)))
        return self

    def query(self, items: np.ndarray) -> np.ndarray:
        pos = self._positions(items)
        word = self.bits[pos >> 6]
        bit = (word >> (pos.astype(np.uint64) & np.uint64(63))) & np.uint64(1)
        return bit.all(axis=1)

    def union(self, other: "RefBloomFilter") -> "RefBloomFilter":
        self._check(other)
        out = RefBloomFilter(self.m, self.h, self.seed)
        out.bits = self.bits | other.bits
        return out

    def intersect(self, other: "RefBloomFilter") -> "RefBloomFilter":
        self._check(other)
        out = RefBloomFilter(self.m, self.h, self.seed)
        out.bits = self.bits & other.bits
        return out

    def _check(self, other: "RefBloomFilter") -> None:
        if (self.m, self.h, self.seed) != (other.m, other.h, other.seed):
            raise ValueError("incompatible filters (numBits/numHashes/seed)")

    @property
    def bits_set(self) -> int:
        return int(popcount64(self.bits).sum())

    def is_empty(self) -> bool:
        return self.bits_set == 0


def to_ref_bytes(bf: RefBloomFilter) -> bytes:
    """BloomFilter.toByteArray (BloomFilter.java:774-805)."""
    empty = bf.is_empty()
    head = bytes([
        3 if empty else 4, _SER_VER, _FAMILY,
        _EMPTY_FLAG if empty else 0,
        bf.h & 0xFF, (bf.h >> 8) & 0xFF, 0, 0,
    ]) + np.array([bf.seed], dtype="<i8").tobytes() \
      + np.array([len(bf.bits), 0], dtype="<i4").tobytes()
    if empty:
        return head
    return head + np.array([bf.bits_set], dtype="<i8").tobytes() \
        + bf.bits.astype("<u8").tobytes()


def from_ref_bytes(buf: bytes) -> RefBloomFilter:
    """BloomFilter.heapify (BloomFilter.java:161-193)."""
    if len(buf) < 24:
        raise ValueError("Bloom image too short")
    pre_longs, ser_ver, fam, flags = buf[0], buf[1], buf[2], buf[3]
    if ser_ver != _SER_VER or fam != _FAMILY:
        raise ValueError(f"not a BloomFilter serial-v1 image "
                         f"(serVer={ser_ver}, family={fam})")
    if not (3 <= pre_longs <= 4):
        raise ValueError(f"bad preLongs {pre_longs}")
    num_hashes = int(np.frombuffer(buf[4:6], dtype="<u2")[0])
    if num_hashes < 1:
        raise ValueError("numHashes must be >= 1")
    seed = int(np.frombuffer(buf[8:16], dtype="<i8")[0])
    num_longs = int(np.frombuffer(buf[16:20], dtype="<i4")[0])
    if num_longs < 0:
        raise ValueError("negative bit-array size")
    bf = RefBloomFilter(max(1, num_longs * 64), num_hashes, seed)
    if flags & _EMPTY_FLAG:
        return bf
    bf.bits = np.frombuffer(
        buf[32:32 + 8 * num_longs], dtype="<u8").astype(np.uint64)
    return bf
