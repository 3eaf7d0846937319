"""Count-Min sketch — the reference row-hash schedule and serial-v1
wire format (count/CountMinSketch.java; format shared with
datasketches-cpp per CountMinSketch.java:38).

This is the engine's only Count-Min: `operators/filters.py` builds,
merges, broadcasts and scores it, so a sketch image written by
Java/C++ estimates identically here and vice versa. d×w counter
matrix; point estimate = min over the d rows (CountMinSketch.java:
255-278: est >= true, and est <= true + ε·N with probability 1-δ for
w = ceil(e/ε), d = ceil(ln(1/δ))); merge = elementwise add
(CountMinSketch.java:365). Per-row seeds are drawn from
`java.util.Random(seed)` exactly as the reference draws them
(CountMinSketch.java:112-115) and bucket indexes come from the
byte-exact MurmurHash3 lane (CountMinSketch.java:127-136:
floorMod(mmh3(longToBytes(v), rowSeed)[0], numBuckets)).

Wire layout (CountMinSketch.java:399-493), little-endian:
  byte 0      preLongs = 2 (Family.COUNTMIN, common/Family.java:150)
  byte 1      serVer = 1
  byte 2      familyID = 18
  byte 3      flags (bit0 IS_EMPTY — Flag.IS_EMPTY.ordinal()=0)
  bytes 4-7   unused
  bytes 8-11  numBuckets (i32)
  byte 12     numHashes (u8)
  bytes 13-14 seedHash (u16, common/Util.java computeSeedHash)
  byte 15     unused
  [non-empty only:]
  bytes 16-23 totalWeight (i64)
  bytes 24+   sketchArray (numHashes × numBuckets i64, row-major)
"""

from __future__ import annotations

import math

import numpy as np

from .mmh3 import compute_seed_hash, mmh3_128_longs

_FAMILY = 18
_SER_VER = 1
_EMPTY_FLAG = 1

_LCG_MULT = 0x5DEECE66D
_LCG_ADD = 0xB
_LCG_MASK = (1 << 48) - 1


def suggest_num_hashes(confidence: float) -> int:
    """ceil(ln(1/(1-confidence))), capped at 127 (CountMinSketch.java:191-196)."""
    if not (0.0 <= confidence < 1.0):
        raise ValueError("confidence must be in [0, 1)")
    return min(max(1, math.ceil(math.log(1.0 / (1.0 - confidence)))), 127)


def suggest_num_buckets(relative_error: float) -> int:
    """ceil(e/relativeError) (CountMinSketch.java:204-209)."""
    if relative_error <= 0.0:
        raise ValueError("relative error must be positive")
    return math.ceil(math.e / relative_error)


class JavaRandom:
    """java.util.Random's 48-bit LCG — only what CountMinSketch needs
    (`nextLong` per the published java.util.Random contract:
    ((long)next(32) << 32) + next(32))."""

    def __init__(self, seed: int):
        self._s = (seed ^ _LCG_MULT) & _LCG_MASK

    def _next32(self) -> int:
        self._s = (self._s * _LCG_MULT + _LCG_ADD) & _LCG_MASK
        v = self._s >> 16
        return v - (1 << 32) if v >= (1 << 31) else v  # signed int32

    def next_long(self) -> int:
        v = (self._next32() << 32) + self._next32()
        return ((v + (1 << 63)) % (1 << 64)) - (1 << 63)  # signed int64


class RefCountMin:
    """Count-Min with the reference's exact row-seed and bucket-hash
    schedule over 64-bit items (the reference's `update(long, ...)`
    path; other types hash through their byte images the same way)."""

    def __init__(self, num_hashes: int, num_buckets: int, seed: int = 9001):
        if not (1 <= num_hashes <= 127) or num_buckets < 3:
            # CountMinSketch.java:88-95: numBuckets < 3 rejected
            raise ValueError("need 1<=numHashes<=127 and numBuckets>=3")
        self.d = int(num_hashes)
        self.w = int(num_buckets)
        self.seed = int(seed)
        rng = JavaRandom(self.seed)
        self.row_seeds = [rng.next_long() for _ in range(self.d)]
        self.table = np.zeros((self.d, self.w), dtype=np.int64)
        self.total_weight = 0

    def _cols(self, items: np.ndarray) -> np.ndarray:
        """(d, n) bucket columns: floorMod(mmh3(item, rowSeed)[0], w)."""
        x = np.atleast_1d(np.asarray(items)).astype(np.uint64, copy=False)
        cols = np.empty((self.d, len(x)), dtype=np.int64)
        for r in range(self.d):
            h1, _ = mmh3_128_longs(x, self.row_seeds[r] & 0xFFFFFFFFFFFFFFFF)
            # floorMod on the SIGNED view (CountMinSketch.java:132)
            cols[r] = np.mod(h1.astype(np.int64), np.int64(self.w))
        return cols

    def update(self, items: np.ndarray,
               weights: np.ndarray | None = None) -> "RefCountMin":
        x = np.atleast_1d(np.asarray(items))
        w = (np.ones(len(x), dtype=np.int64) if weights is None
             else np.atleast_1d(np.asarray(weights, dtype=np.int64)))
        cols = self._cols(x)
        for r in range(self.d):
            np.add.at(self.table[r], cols[r], w)
        self.total_weight += int(w.sum())
        return self

    def estimate(self, items: np.ndarray) -> np.ndarray:
        cols = self._cols(items)
        return np.stack(
            [self.table[r][cols[r]] for r in range(self.d)]).min(axis=0)

    def merge(self, other: "RefCountMin") -> "RefCountMin":
        if (self.d, self.w, self.seed) != (other.d, other.w, other.seed):
            raise ValueError("incompatible CountMin sketches")
        out = RefCountMin(self.d, self.w, self.seed)
        out.table = self.table + other.table
        out.total_weight = self.total_weight + other.total_weight
        return out


def to_ref_bytes(cm: RefCountMin) -> bytes:
    """CountMinSketch.toByteArray (CountMinSketch.java:399-435)."""
    empty = cm.total_weight == 0
    head = bytes([2, _SER_VER, _FAMILY, _EMPTY_FLAG if empty else 0,
                  0, 0, 0, 0]) \
        + np.array([cm.w], dtype="<i4").tobytes() \
        + bytes([cm.d]) \
        + np.array([compute_seed_hash(cm.seed)], dtype="<u2").tobytes() \
        + b"\x00"
    if empty:
        return head
    return head + np.array([cm.total_weight], dtype="<i8").tobytes() \
        + cm.table.reshape(-1).astype("<i8").tobytes()


def from_ref_bytes(buf: bytes, seed: int = 9001) -> RefCountMin:
    """CountMinSketch.deserialize (CountMinSketch.java:443-493). The
    seed itself is not on the wire — only its 16-bit hash — so the
    caller supplies it, exactly as the reference requires."""
    if len(buf) < 16:
        raise ValueError("CountMin image too short")
    pre_longs, ser_ver, fam, flags = buf[0], buf[1], buf[2], buf[3]
    if pre_longs != 2 or ser_ver != _SER_VER or fam != _FAMILY:
        raise ValueError(f"not a CountMin serial-v1 image "
                         f"(preLongs={pre_longs}, serVer={ser_ver}, family={fam})")
    w = int(np.frombuffer(buf[8:12], dtype="<i4")[0])
    d = buf[12]
    seed_hash = int(np.frombuffer(buf[13:15], dtype="<u2")[0])
    if seed_hash != compute_seed_hash(seed):
        raise ValueError("incompatible seed hash")
    cm = RefCountMin(d, w, seed)
    if flags & _EMPTY_FLAG:
        return cm
    cm.total_weight = int(np.frombuffer(buf[16:24], dtype="<i8")[0])
    cm.table = np.frombuffer(
        buf[24:24 + 8 * d * w], dtype="<i8").reshape(d, w).copy()
    return cm
