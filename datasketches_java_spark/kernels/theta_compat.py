"""Reference-compatible Theta sketch wire format (serial version 3,
compact ordered form) — the DataSketches ecosystem's interop surface.

Layout per the reference's preamble documentation
(theta/PreambleUtil.java:58-125; writer
theta/CompactOperations.java:218-266):

  byte 0      preamble longs (1 empty/single, 2 exact, 3 estimating)
  byte 1      serial version = 3
  byte 2      family id = 3 (COMPACT, common/Family.java:53-165)
  bytes 3-4   lgNomLongs/lgArrLongs — 0 for compact
  byte 5      flags: 2 READ_ONLY | 4 EMPTY | 8 COMPACT | 16 ORDERED |
              32 SINGLEITEM (theta/PreambleUtil.java:207-212)
  bytes 6-7   16-bit seed hash (common/Util.java:967 computeSeedHash);
              0 in the empty image, as the reference writes it
  [preLongs>1] bytes 8-11 retained count, bytes 12-15 p = 0.0f
  [preLongs>2] bytes 16-23 thetaLong
  then the ordered long[] of retained hashes.

Hash lane: every key hashes through MurmurHash3 x64-128 with the
library seed (default 9001), keeping hash[0] >>> 1 — the exact stream
of UpdatableThetaSketch.update(long) (theta/UpdatableThetaSketch.java:258).
Exact-mode images we produce (n <= k, thetaLong = 2^63-1) are
byte-identical to Java's `sk.compact().toByteArray()` for the same
input set; estimating-mode images are *valid* v3 sketches (bottom-k
retained set with theta = the (k+1)-th smallest hash — the state of a
freshly-rebuilt quickselect sketch) whose estimates agree within the
binomial bounds, though the retained count may differ from a Java
sketch's un-rebuilt 'lazy' state. The deserializer accepts any v3
compact image (empty / single-item / exact / estimating), so sketches
produced by Java/C++/Druid/Hive round into our kernels.

Also implemented: the legacy serial v1/v2 migration readers
(theta/ForwardCompatibility.java) and the serial-v4 COMPRESSED compact
format in both directions (theta/CompactThetaSketch.java:318-434 +
theta/BitPacking.java — ordered-delta bitstream at minimal entry
width), retiring the T11 "compressed serialization" row: v4 is the
reference's own wire-level compression, distinct from the columnar
page compression parquet already provides.
"""

from __future__ import annotations

import struct

import numpy as np

from .bounds import ref_binomial_lower_bound, ref_binomial_upper_bound
from .mmh3 import compute_seed_hash, mmh3_128, mmh3_128_longs

SER_VER = 3
FAMILY_COMPACT = 3
FLAG_READ_ONLY = 2
FLAG_EMPTY = 4
FLAG_COMPACT = 8
FLAG_ORDERED = 16
FLAG_SINGLEITEM = 32

LONG_MAX = (1 << 63) - 1  # thetaLong in exact mode
DEFAULT_SEED = 9001  # common/Util.java:99


def hash_longs(keys: np.ndarray, seed: int = DEFAULT_SEED) -> np.ndarray:
    """Java's update(long) hash stream: mmh3(key, seed)[0] >>> 1,
    zero excluded (the sketch never stores hash 0)."""
    h1, _ = mmh3_128_longs(np.asarray(keys, dtype=np.int64), seed)
    h = (h1 >> np.uint64(1)).astype(np.int64)
    return h[h != 0]


def hash_bytes_items(items: list[bytes], seed: int = DEFAULT_SEED) -> np.ndarray:
    """Java's update(byte[])/update(String→UTF-8) stream (scalar loop —
    interop/test path, not the pipeline's hot lane)."""
    out = np.empty(len(items), dtype=np.int64)
    for i, b in enumerate(items):
        h1, _ = mmh3_128(b, seed)
        out[i] = np.int64(np.uint64(h1) >> np.uint64(1))
    return out[out != 0]


def build_theta(keys_hashed: np.ndarray, k: int = 4096) -> tuple[np.ndarray, int]:
    """Distinct hash stream → (ordered retained hashes, thetaLong):
    exact when distinct <= k, else bottom-k with theta = (k+1)-th
    smallest (the freshly-rebuilt quickselect state,
    theta/HeapQuickSelectSketch.java:294-306)."""
    u = np.unique(keys_hashed)  # sorted distinct
    if len(u) <= k:
        return u, LONG_MAX
    return u[:k], int(u[k])


def estimate(n_retained: int, theta_long: int) -> float:
    """curCount / (thetaLong / LONG_MAX) (theta/ThetaSketch.java:621-623)."""
    return n_retained * (float(LONG_MAX) / float(theta_long))


def estimate_bounds(
    image: bytes, num_std_dev: int = 2, seed: int = DEFAULT_SEED
) -> tuple[float, float, float, int]:
    """(estimate, lower bound, upper bound, retained) of a theta image:
    the reference getEstimate / getLowerBound / getUpperBound
    (theta/ThetaSketch.java:262-266,378-382,621-623). Exact mode
    (theta = 1 or empty) bounds are the retained count; estimating
    mode takes BinomialBoundsN at theta = thetaLong / 2^63, so
    num_std_dev must be 1, 2 or 3."""
    h, theta_long, empty = deserialize_compact(image, seed)
    n = len(h)
    est = estimate(n, theta_long)
    if empty or theta_long == LONG_MAX:
        return est, float(n), float(n), n
    theta = theta_long / float(LONG_MAX)
    return (est, ref_binomial_lower_bound(n, theta, num_std_dev),
            ref_binomial_upper_bound(n, theta, num_std_dev), n)


def serialize_compact(
    hashes: np.ndarray,
    theta_long: int = LONG_MAX,
    empty: bool | None = None,
    seed: int = DEFAULT_SEED,
) -> bytes:
    """(ordered hashes, thetaLong) → v3 compact ordered byte image."""
    h = np.asarray(hashes, dtype="<i8")
    n = len(h)
    if empty is None:
        empty = n == 0 and theta_long == LONG_MAX
    if empty:
        # seed hash 0, as the reference's EmptyCompactSketch writes it
        flags = FLAG_READ_ONLY | FLAG_COMPACT | FLAG_ORDERED | FLAG_EMPTY
        return struct.pack("<BBBBBBH", 1, SER_VER, FAMILY_COMPACT, 0, 0, flags, 0)
    seed_hash = compute_seed_hash(seed)
    if n == 1 and theta_long == LONG_MAX:
        flags = FLAG_READ_ONLY | FLAG_COMPACT | FLAG_ORDERED | FLAG_SINGLEITEM
        return (
            struct.pack("<BBBBBBH", 1, SER_VER, FAMILY_COMPACT, 0, 0, flags, seed_hash)
            + h.tobytes()
        )
    flags = FLAG_READ_ONLY | FLAG_COMPACT | FLAG_ORDERED
    pre_longs = 2 if theta_long == LONG_MAX else 3
    head = struct.pack(
        "<BBBBBBH", pre_longs, SER_VER, FAMILY_COMPACT, 0, 0, flags, seed_hash
    )
    head += struct.pack("<if", n, 1.0)  # retained count, p=1.0 (matches
    # the Java writer byte-for-byte; verified live in test_live_jvm_interop)
    if pre_longs == 3:
        head += struct.pack("<q", theta_long)
    return head + h.tobytes()


def _pack_bits_msb(values: np.ndarray, bits: int) -> bytes:
    """MSB-first contiguous bitstream of `bits` bits per value — the
    exact stream theta/BitPacking.java:39-56 (and its unrolled block-8
    specializations) produces; trailing pad bits are zero."""
    v = values.astype(np.uint64)
    shifts = np.arange(bits - 1, -1, -1, dtype=np.uint64)
    bit_mat = ((v[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.uint8)
    return np.packbits(bit_mat.ravel(), bitorder="big").tobytes()


def _unpack_bits_msb(buf: bytes, n: int, bits: int, offset: int) -> np.ndarray:
    raw = np.frombuffer(buf, np.uint8, offset=offset)
    stream = np.unpackbits(raw, bitorder="big")
    if len(stream) < n * bits:
        raise ValueError("truncated v4 bitstream")
    bit_mat = stream[: n * bits].reshape(n, bits).astype(np.uint64)
    shifts = np.arange(bits - 1, -1, -1, dtype=np.uint64)
    return (bit_mat << shifts[None, :]).sum(axis=1, dtype=np.uint64).astype(np.int64)


def serialize_compact_v4(
    hashes: np.ndarray,
    theta_long: int = LONG_MAX,
    seed: int = DEFAULT_SEED,
) -> bytes:
    """(ordered hashes, thetaLong) → serial-v4 COMPRESSED compact image
    (theta/CompactThetaSketch.java:318-392 toByteArrayCompressed):
    deltas between consecutive ordered hashes, bit-packed MSB-first at
    entryBits = 64 - nlz(OR of deltas); whole-byte little-endian entry
    count; theta long present only in estimation mode. Falls back to
    the v3 layout for the forms v4 cannot carry (empty, exact
    single-item, unordered)."""
    h = np.sort(np.asarray(hashes, dtype=np.int64))
    n = len(h)
    if n == 0 or (n == 1 and theta_long == LONG_MAX):
        return serialize_compact(h, theta_long, seed=seed)
    deltas = np.diff(np.concatenate([[np.int64(0)], h])).astype(np.uint64)
    ored = int(np.bitwise_or.reduce(deltas))
    entry_bits = max(ored.bit_length(), 1)
    num_entries_bytes = max((n.bit_length() + 7) >> 3, 1)
    est = theta_long != LONG_MAX
    pre_longs = 2 if est else 1
    head = struct.pack(
        "<BBBBBBH", pre_longs, 4, FAMILY_COMPACT, entry_bits,
        num_entries_bytes, FLAG_READ_ONLY | FLAG_COMPACT | FLAG_ORDERED,
        compute_seed_hash(seed),
    )
    if est:
        head += struct.pack("<q", theta_long)
    head += int(n).to_bytes(num_entries_bytes, "little")
    return head + _pack_bits_msb(deltas, entry_bits)


def _deserialize_v4(
    buf: bytes, pre_longs: int, seed: int, check_seed: bool
) -> tuple[np.ndarray, int, bool]:
    """theta/CompactThetaSketch.java:394-434 heapifyV4."""
    _, _, fam, entry_bits, num_entries_bytes, _flags, seed_hash = struct.unpack_from(
        "<BBBBBBH", buf, 0
    )
    if fam != FAMILY_COMPACT:
        raise ValueError(f"not a compact theta image (family {fam})")
    if check_seed and seed_hash != compute_seed_hash(seed):
        raise ValueError("seed hash mismatch")
    off = 8
    theta_long = LONG_MAX
    if pre_longs > 1:
        (theta_long,) = struct.unpack_from("<q", buf, off)
        off += 8
    n = int.from_bytes(buf[off:off + num_entries_bytes], "little")
    off += num_entries_bytes
    deltas = _unpack_bits_msb(buf, n, entry_bits, off)
    return np.cumsum(deltas).astype(np.int64), int(theta_long), False


def deserialize_compact(
    buf: bytes, seed: int = DEFAULT_SEED, check_seed: bool = True
) -> tuple[np.ndarray, int, bool]:
    """Compact image → (ordered hashes, thetaLong, empty). Accepts
    every v3 form: empty, single-item, exact, estimating — including
    images produced by other DataSketches implementations — plus the
    LEGACY serial version 1 and 2 migration forms (see
    _deserialize_legacy), giving theta the same old-image story the
    classic-quantiles (Q1) and tuple (serVer 1/2) readers already
    have."""
    if len(buf) < 8:
        raise ValueError("truncated theta image")
    pre_longs, ser_ver, fam, _, _, flags, seed_hash = struct.unpack_from(
        "<BBBBBBH", buf, 0
    )
    pre_longs &= 0x3F  # upper 2 bits are the resize factor (update forms)
    if ser_ver in (1, 2):
        return _deserialize_legacy(
            buf, ser_ver, pre_longs, seed_hash, seed, check_seed
        )
    if ser_ver == 4:
        return _deserialize_v4(buf, pre_longs, seed, check_seed)
    if ser_ver != SER_VER:
        raise ValueError(f"unsupported theta serial version {ser_ver}")
    if fam in (1, 2, 4):
        return _deserialize_updatable(
            buf, fam, pre_longs, seed_hash, seed, check_seed)
    if fam == 5:
        return _deserialize_intersection(
            buf, pre_longs, seed_hash, seed, check_seed)
    if fam != FAMILY_COMPACT:
        raise ValueError(f"not a compact theta image (family {fam})")
    if flags & FLAG_EMPTY:
        # the reference's canonical EmptyCompactSketch image carries
        # seedHash 0 and its heapify skips the seed check (an empty
        # sketch is seed-independent); match that before checking
        return np.empty(0, np.int64), LONG_MAX, True
    if check_seed and seed_hash != compute_seed_hash(seed):
        raise ValueError("seed hash mismatch")
    if pre_longs == 1:  # single item
        (h,) = struct.unpack_from("<q", buf, 8)
        return np.array([h], dtype=np.int64), LONG_MAX, False
    (n,) = struct.unpack_from("<i", buf, 8)
    if pre_longs == 2:
        theta_long = LONG_MAX
        off = 16
    else:
        (theta_long,) = struct.unpack_from("<q", buf, 16)
        off = 24
    h = np.frombuffer(buf, dtype="<i8", count=n, offset=off).astype(np.int64)
    return h, int(theta_long), False


def _deserialize_legacy(
    buf: bytes, ser_ver: int, pre_longs: int, seed_hash: int,
    seed: int, check_seed: bool,
) -> tuple[np.ndarray, int, bool]:
    """Heapify the pre-v3 compact layouts, per the historical library's
    documented conversion rules (the original ForwardCompatibility
    heapify1to3/heapify2to3 semantics; this reference snapshot dropped
    the converter but still carries the serVer-1 emptiness rule at
    theta/ThetaSketch.java:592-599: empty ⇔ thetaLong == Long.MAX_VALUE
    && retainedEntries == 0, because v1 images have NO flags byte):

    serVer 1 — preamble is ALWAYS 3 longs; no flags, no reliable seed
      hash (commonly zero — never validated, matching the historical
      reader): curCount int at bytes 8-11, thetaLong at 16-23, ordered
      entries from byte 24. Empty ⇔ curCount == 0 && theta == MAX.

    serVer 2 — seed hash at bytes 6-7 (validated); preLongs encodes
      the form: 1 ⇒ empty; 2 ⇒ exact (theta = MAX, entries from byte
      16); 3 ⇒ estimating (thetaLong at 16-23, entries from byte 24);
      curCount int at bytes 8-11 for preLongs >= 2."""
    if ser_ver == 1:
        if len(buf) < 24:
            raise ValueError("truncated theta v1 image")
        (n,) = struct.unpack_from("<i", buf, 8)
        (theta_long,) = struct.unpack_from("<q", buf, 16)
        if n == 0 and theta_long == LONG_MAX:
            return np.empty(0, np.int64), LONG_MAX, True
        h = np.frombuffer(buf, dtype="<i8", count=n, offset=24).astype(np.int64)
        return h, int(theta_long), False
    # serVer 2
    if check_seed and seed_hash != compute_seed_hash(seed):
        raise ValueError("seed hash mismatch")
    if pre_longs == 1:
        return np.empty(0, np.int64), LONG_MAX, True
    (n,) = struct.unpack_from("<i", buf, 8)
    if pre_longs == 2:
        theta_long, off = LONG_MAX, 16
    elif pre_longs == 3:
        (theta_long,) = struct.unpack_from("<q", buf, 16)
        off = 24
    else:
        raise ValueError(f"bad theta v2 preLongs {pre_longs}")
    h = np.frombuffer(buf, dtype="<i8", count=n, offset=off).astype(np.int64)
    return h, int(theta_long), False


def _deserialize_updatable(
    buf: bytes, fam: int, pre_longs: int, seed_hash: int,
    seed: int, check_seed: bool,
) -> tuple[np.ndarray, int, bool]:
    """Heapify the UPDATABLE serial-v3 layouts — family 1
    (HeapAlphaSketch.java:134-166, preLongs=3, same layout as family 2;
    stale entries >= theta that alpha leaves in the table until rebuild
    are dropped, matching the reference's compact()), family 2
    (UpdatableThetaSketch/QuickSelect, preLongs=3: lgNom@3 lgArr@4,
    retEntries@8, p@12, thetaLong@16, 2^lgArr-long hash table @24 with
    zero = empty slot) and family 4 (ThetaUnion gadget, preLongs=4:
    + unionThetaLong@24, table @32), per theta/PreambleUtil.java:142-183.
    Java users persist these working forms, not just compact images;
    this gives them the same migration story the compact/legacy/v4
    readers already provide. The union gadget's effective theta is
    min(thetaLong, unionThetaLong) (ThetaUnionImpl.getResult
    semantics); entries >= theta are dropped on heapify exactly as the
    reference's compacting heapify does."""
    if check_seed and seed_hash != compute_seed_hash(seed):
        raise ValueError("seed hash mismatch")
    want_pre = 3 if fam in (1, 2) else 4
    if pre_longs != want_pre:
        raise ValueError(
            f"family-{fam} updatable image needs {want_pre} preamble longs, "
            f"got {pre_longs}")
    lg_arr = buf[4]
    (n_ret,) = struct.unpack_from("<i", buf, 8)
    (theta_long,) = struct.unpack_from("<q", buf, 16)
    if fam == 4:
        (union_theta,) = struct.unpack_from("<q", buf, 24)
        theta_long = min(theta_long, union_theta)
    table_off = want_pre * 8
    table = np.frombuffer(
        buf, dtype="<i8", count=1 << lg_arr, offset=table_off)
    h = np.sort(table[(table != 0) & (table < theta_long)]).astype(np.int64)
    if fam == 4:
        # ThetaUnion.getResult applies the curCount > k correction on
        # extraction (CompactOperations.correctThetaOnCompact): keep
        # the bottom k = 2^lgNomLongs entries, theta = (k+1)-th
        k = 1 << buf[3]
        if len(h) > k:
            theta_long = int(h[k])
            h = h[:k]
    empty = len(h) == 0 and theta_long == LONG_MAX and n_ret == 0
    return h, int(theta_long), empty


def _deserialize_intersection(
    buf: bytes, pre_longs: int, seed_hash: int,
    seed: int, check_seed: bool,
) -> tuple[np.ndarray, int, bool]:
    """Heapify a persisted ThetaIntersection gadget (family 5,
    theta/ThetaIntersectionImpl.java:181-199: preLongs=3, lgArr@4,
    curCount@8 as a SIGNED int — negative means the virgin gadget's
    Universal Set —, thetaLong@16, hash table @24 present only when
    !empty && curCount > 0) into getResult() state: (ordered hashes,
    thetaLong, empty). A virgin image raises, mirroring getResult's
    SketchesStateException for the infinite set
    (ThetaIntersectionImpl.java:314-319). With this, every form the
    Java library can persist — compact v1-v4, alpha, quickselect,
    union gadget, intersection gadget — heapifies here."""
    if check_seed and seed_hash != compute_seed_hash(seed):
        raise ValueError("seed hash mismatch")
    if pre_longs != 3:
        raise ValueError(
            f"intersection image needs 3 preamble longs, got {pre_longs}")
    flags = buf[5]
    lg_arr = buf[4]
    (cur_count,) = struct.unpack_from("<i", buf, 8)
    (theta_long,) = struct.unpack_from("<q", buf, 16)
    if cur_count < 0:
        raise ValueError(
            "virgin intersection image represents the Universal Set, "
            "which is not a legal result (getResult semantics)")
    empty = bool(flags & FLAG_EMPTY)
    if empty or cur_count == 0:
        return np.empty(0, np.int64), int(theta_long), empty
    table = np.frombuffer(buf, dtype="<i8", count=1 << lg_arr, offset=24)
    h = np.sort(table[(table != 0) & (table < theta_long)]).astype(np.int64)
    return h, int(theta_long), False


def alpha_estimate(lg_nom_longs: int, cur_count: int, theta_long: int,
                   p: float = 1.0) -> float:
    """HeapAlphaSketch.getEstimate (theta/HeapAlphaSketch.java:99-101,
    148-150,180-184): above split1 = p·(alpha+1)/2·MAX the standard
    curCount/(theta/MAX) estimator; below it the deep-estimation form
    k·MAX/theta with alpha = k/(k+1). Bit-equal to Java in
    tests/test_live_jvm_interop.py."""
    k = float(1 << lg_nom_longs)
    alpha = k / (k + 1.0)
    split1 = int(((p * (alpha + 1.0)) / 2.0) * float(LONG_MAX))
    if theta_long > split1:
        return cur_count / (theta_long / float(LONG_MAX))
    return k * (float(LONG_MAX) / theta_long)


# ------------------- JaccardSimilarity (theta/JaccardSimilarity.java)

def jaccard(
    hashes_a: np.ndarray,
    theta_a: int,
    hashes_b: np.ndarray,
    theta_b: int,
    empty_a: bool = False,
    empty_b: bool = False,
) -> tuple[float, float, float]:
    """(LowerBound, Estimate, UpperBound) of the Jaccard index J(A,B),
    the reference's exact arithmetic (theta/JaccardSimilarity.java:
    57-99) over (ordered hashes, thetaLong) state — bit-equal to Java,
    validated live in tests/test_live_jvm_interop.py.

    The reference sizes its internal union at newK =
    ceilingPowerOf2(countA + countB) (clamped to [2^4, 2^26]), which
    can never trim: the union is simply the distinct hashes of A∪B
    below min(thetaA, thetaB), so the whole computation is
    deterministic closed-form set algebra — no quickselect schedule
    involved. Above 2^26 retained entries the reference itself
    documents "unpredictable results"; we raise instead."""
    from .bounds import b_over_a_bounds

    if empty_a and empty_b:
        return 1.0, 1.0, 1.0
    if empty_a or empty_b:
        return 0.0, 0.0, 0.0
    count_a, count_b = len(hashes_a), len(hashes_b)
    if count_a + count_b > (1 << 26):
        raise ValueError(
            "countA + countB exceeds 2^26; the reference documents "
            "unpredictable results in this regime")
    theta_u = min(int(theta_a), int(theta_b))
    hu = np.union1d(np.asarray(hashes_a), np.asarray(hashes_b))
    hu = hu[hu < theta_u]
    count_uab = len(hu)
    if (count_uab == count_a and count_uab == count_b
            and theta_u == theta_a and theta_u == theta_b):
        return 1.0, 1.0, 1.0  # identical data
    hi = np.intersect1d(hashes_a, hashes_b, assume_unique=True)
    hi = hi[hi < theta_u]  # intersect with the union: subset guarantee
    return b_over_a_bounds(hu, theta_u, hi, theta_u)


def exactly_equal(
    hashes_a: np.ndarray,
    theta_a: int,
    hashes_b: np.ndarray,
    theta_b: int,
    empty_a: bool = False,
    empty_b: bool = False,
) -> bool:
    """JaccardSimilarity.exactlyEqual: identical retained sets at
    identical thetas (theta/JaccardSimilarity.java:109-140)."""
    if empty_a and empty_b:
        return True
    if empty_a or empty_b:
        return False
    theta_u = min(int(theta_a), int(theta_b))
    hu = np.union1d(np.asarray(hashes_a), np.asarray(hashes_b))
    hu = hu[hu < theta_u]
    return (len(hu) == len(hashes_a) == len(hashes_b)
            and theta_u == theta_a == theta_b)


def similarity_test(measured, theta_m, expected, theta_e,
                    threshold: float, empty_m=False, empty_e=False) -> bool:
    """J_LB(measured, expected) >= threshold at ~97.7% confidence
    (theta/JaccardSimilarity.java:150-157)."""
    return jaccard(measured, theta_m, expected, theta_e,
                   empty_m, empty_e)[0] >= threshold


def dissimilarity_test(measured, theta_m, expected, theta_e,
                       threshold: float, empty_m=False, empty_e=False) -> bool:
    """J_UB(measured, expected) <= threshold at ~97.7% confidence
    (theta/JaccardSimilarity.java:172-179)."""
    return jaccard(measured, theta_m, expected, theta_e,
                   empty_m, empty_e)[2] <= threshold
