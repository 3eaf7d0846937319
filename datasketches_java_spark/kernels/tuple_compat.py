"""Tuple CompactSketch legacy wire-format reader (reference
tuple/CompactTupleSketch.java:76-153 legacy branch) — the migration
lane for serialized tuple sketches produced by the reference library
and its C++/pre-Apache (com.yahoo) ancestors.

Legacy layout (serial versions 1 and 2, little-endian):
  byte0 preambleLongs, byte1 version, byte2 familyId (9 = TUPLE),
  byte3 sketchType (CompactTupleSketch), byte4 flagsLegacy
  {IS_BIG_ENDIAN, IS_EMPTY, HAS_ENTRIES, IS_THETA_INCLUDED},
  [thetaLong:8 if IS_THETA_INCLUDED],
  [summaryClassNameLength:1 if version==1], count:int4,
  [className bytes if version==1], hash[count] int64,
  summary[count] (per-summary parser).

Summary codecs match the reference's own:
  DoubleSummary = double LE + mode byte (DoubleSummary.java:139-149),
  IntegerSummary = int LE + mode byte (aninteger/IntegerSummary.java:139-149);
  the test-suite IntegerSummary the goldens use = bare int LE ("integer4").

Validated against both in-tree goldens
(CompactSketchWithDoubleSummary4K_serialVersion1.sk,
TupleWithTestIntegerSummary4kTrimmedSerVer2.sk) with the expectations
of TupleCrossLanguageTest (tests/test_ref_goldens.py). Parsed state
feeds kernels/tuple_kmv.py-style (hash, summary) processing; the
estimate is retained·2^63/θ, identical to the Theta rule.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

_FAMILY_TUPLE = 9
_LONG_MAX = (1 << 63) - 1

# FlagsLegacy ordinals (CompactTupleSketch.java:52)
_F_BIG_ENDIAN, _F_EMPTY, _F_HAS_ENTRIES, _F_THETA = 1, 2, 4, 8


@dataclass
class LegacyTupleSketch:
    hashes: np.ndarray      # int64 retained hash keys, Theta 63-bit lane
    values: np.ndarray      # one summary value per hash (float64)
    modes: np.ndarray       # summary combine-mode ordinals
    theta_long: int
    empty: bool

    @property
    def retained(self) -> int:
        return len(self.hashes)

    def estimate(self) -> float:
        """retained / θ (ThetaSketch.java:621-623 rule)."""
        if self.empty:
            return 0.0
        return self.retained * float(_LONG_MAX) / float(self.theta_long)

    def is_estimation_mode(self) -> bool:
        return self.theta_long < _LONG_MAX


def _double_summary(buf: bytes, off: int) -> tuple[float, int, int]:
    v = float(np.frombuffer(buf[off:off + 8], dtype="<f8")[0])
    return v, buf[off + 8], 9


def _integer_summary(buf: bytes, off: int) -> tuple[float, int, int]:
    # main-library IntegerSummary: int LE + mode byte (5 bytes)
    v = float(np.frombuffer(buf[off:off + 4], dtype="<i4")[0])
    return v, buf[off + 4], 5


def _integer4_summary(buf: bytes, off: int) -> tuple[float, int, int]:
    # the reference test-suite's IntegerSummary (4 bytes, no mode) —
    # the codec its TupleWithTestIntegerSummary goldens were written with
    v = float(np.frombuffer(buf[off:off + 4], dtype="<i4")[0])
    return v, 0, 4


_SUMMARY_CODECS = {
    "double": _double_summary,
    "integer": _integer_summary,
    "integer4": _integer4_summary,
}


def from_ref_union_bytes(buf: bytes, check_seed_hash: int | None = None) -> LegacyTupleSketch:
    """Parse the v0.9.1 ArrayOfDoublesUnion image — the last of the 17
    in-tree goldens (ArrayOfDoublesUnion_v0.9.1.sk). The historical
    union serialized its GADGET QuickSelect sketch directly (the
    union's theta folded into the gadget's theta field), with NO
    16-byte union preamble — which is exactly why the modern reader
    throws (TupleCrossLanguageTest.noSupportHeapifyV0_9_1 EXPECTS
    SketchesArgumentException; ArrayOfDoublesUnion.heapify finds no
    nested serVer==1 gadget at offset 16). The gadget layout itself is
    unchanged to this day (ArrayOfDoublesQuickSelectSketch.java:38-53
    byte map; writer HeapArrayOfDoublesQuickSelectSketch.java:230-254):

      byte0 preambleLongs(1), byte1 serVer(1), byte2 family(9 TUPLE),
      byte3 sketchType(2 = ArrayOfDoublesQuickSelectSketch ordinal,
      SerializerDeserializer.java:42-52), byte4 flags {RESERVED=1,
      SAMPLING=2, EMPTY=4, HAS_ENTRIES=8} (ArrayOfDoublesSketch.java:42),
      byte5 numValues, bytes6-7 seedHash, bytes8-15 thetaLong,
      byte16 lgNom, byte17 lgCurCapacity, byte18 lgResizeFactor,
      bytes20-23 samplingP float, bytes24-27 retainedEntries,
      byte32: keys long[2^lgCurCapacity] OPEN HASH TABLE (0 = empty
      slot), then values double[2^lgCurCapacity · numValues] in slot
      order.

    Returns the compacted state (non-empty slots, keys sorted) as a
    LegacyTupleSketch — the same (hash, summary) lane the compact
    readers feed. For numValues > 1 the FIRST value column lands in
    `values`; the full matrix is attached as `.values_all`."""
    pre_longs, version, fam, stype = buf[0], buf[1], buf[2], buf[3]
    if fam != _FAMILY_TUPLE:
        raise ValueError(f"not a tuple image (family {fam})")
    if stype != 2:  # ArrayOfDoublesQuickSelectSketch ordinal
        raise ValueError(f"not an ArrayOfDoubles QS/union image (type {stype})")
    if version != 1:
        raise ValueError(f"unsupported AoD serial version {version}")
    flags, num_values = buf[4], buf[5]
    seed_hash = int(np.frombuffer(buf[6:8], dtype="<u2")[0])
    if check_seed_hash is not None and seed_hash != check_seed_hash:
        raise ValueError("seed hash mismatch")
    theta = int(np.frombuffer(buf[8:16], dtype="<i8")[0])
    empty = bool(flags & 4)
    lg_cap = buf[17]
    retained = int(np.frombuffer(buf[24:28], dtype="<i4")[0])
    cap = 1 << lg_cap
    if not (flags & 8) or retained == 0:
        return LegacyTupleSketch(
            np.empty(0, np.int64), np.empty(0), np.empty(0, np.int64),
            theta, empty,
        )
    keys = np.frombuffer(buf, dtype="<i8", count=cap, offset=32)
    vals = np.frombuffer(
        buf, dtype="<f8", count=cap * num_values, offset=32 + 8 * cap
    ).reshape(cap, num_values)
    live = keys != 0
    if int(live.sum()) != retained:
        raise ValueError(
            f"corrupted AoD table: {int(live.sum())} live slots, "
            f"header says {retained}"
        )
    order = np.argsort(keys[live], kind="stable")
    sk = LegacyTupleSketch(
        keys[live][order].astype(np.int64),
        vals[live][order][:, 0].astype(np.float64),
        np.zeros(retained, np.int64),
        theta, empty,
    )
    sk.values_all = vals[live][order].astype(np.float64)
    return sk


# Current-format Flags ordinals (CompactTupleSketch.java:55
# {IS_RESERVED, IS_READ_ONLY, IS_EMPTY, IS_COMPACT, IS_ORDERED})
_F3_READ_ONLY, _F3_EMPTY, _F3_COMPACT = 1 << 1, 1 << 2, 1 << 3
_DEFAULT_SEED_HASH = 37836  # CompactTupleSketch.java:48 (C++ compat)
_COMPACT_TUPLE_TYPE = 1     # SerializerDeserializer.SketchType ordinal

_SUMMARY_SIZES = {"double": 9, "integer": 5, "integer4": 4}


def _pack_summary(value: float, mode: int, summary: str) -> bytes:
    if summary == "double":
        return np.float64(value).tobytes() + bytes([mode & 0xFF])
    if summary == "integer":
        return np.int32(int(value)).tobytes() + bytes([mode & 0xFF])
    return np.int32(int(value)).tobytes()  # integer4 (test serde)


def to_ref_bytes(sk: LegacyTupleSketch, summary: str = "double") -> bytes:
    """Serialize the CURRENT (serVer 3) generic CompactTupleSketch
    image (CompactTupleSketch.toByteArray, tuple/CompactTupleSketch.java:
    191-246): header byte map
      byte0 preambleLongs (1 empty/single-item, 2 exact, 3 estimating),
      byte1 serVer=3, byte2 family 9, byte3 sketchType 1
      (CompactTupleSketch), byte4 unused, byte5 flags
      {IS_READ_ONLY|IS_COMPACT|IS_EMPTY}, bytes6-7 seedHash 37836,
      [count:int4 + 4 unused if preLongs>1], [thetaLong:8 if
      preLongs>2], then per entry hash:int64 immediately followed by
      its summary bytes (INTERLEAVED — the legacy forms block them).

    Byte-identical to datasketches-java 6.2.0's own writer (live JVM
    test) for all three preamble forms."""
    import struct

    count = sk.retained
    est = sk.is_estimation_mode()
    single = count == 1 and not est
    pre_longs = 1 if (sk.empty or single) else (3 if est else 2)
    flags = _F3_READ_ONLY | _F3_COMPACT | (_F3_EMPTY if sk.empty else 0)
    out = [struct.pack(
        "<BBBBBBH", pre_longs, 3, _FAMILY_TUPLE, _COMPACT_TUPLE_TYPE,
        0, flags, _DEFAULT_SEED_HASH,
    )]
    if not sk.empty and not single:
        out.append(struct.pack("<i", count) + b"\x00\x00\x00\x00")
        if est:
            out.append(struct.pack("<q", sk.theta_long))
    for i in range(count):
        out.append(struct.pack("<q", int(sk.hashes[i])))
        out.append(_pack_summary(float(sk.values[i]), int(sk.modes[i]), summary))
    return b"".join(out)


def from_ref_bytes(buf: bytes, summary: str = "double") -> LegacyTupleSketch:
    """Parse a generic CompactTupleSketch image — legacy serVer 1/2
    (blocked hashes then summaries) or current serVer 3 (interleaved;
    CompactTupleSketch.java:126-158)."""
    pre_longs, version, fam, _stype = buf[0], buf[1], buf[2], buf[3]
    if fam != _FAMILY_TUPLE:
        raise ValueError(f"not a tuple image (family {fam})")
    if version == 3:
        codec = _SUMMARY_CODECS[summary]
        flags = buf[5]
        empty = bool(flags & _F3_EMPTY)
        theta = _LONG_MAX
        off = 8
        count = 0
        if not empty:
            if pre_longs == 1:
                count = 1
            else:
                count = int(np.frombuffer(buf[off:off + 4], dtype="<i4")[0])
                off += 8  # count + 4 unused
                if pre_longs > 2:
                    theta = int(np.frombuffer(buf[off:off + 8], dtype="<i8")[0])
                    off += 8
        hashes = np.empty(count, np.int64)
        values = np.empty(count, np.float64)
        modes = np.empty(count, np.int64)
        for i in range(count):
            hashes[i] = int(np.frombuffer(buf[off:off + 8], dtype="<i8")[0])
            off += 8
            v, m, sz = codec(buf, off)
            values[i] = v
            modes[i] = m
            off += sz
        return LegacyTupleSketch(hashes, values, modes, theta, empty)
    if version not in (1, 2):
        raise ValueError(f"not a known tuple serial version ({version})")
    codec = _SUMMARY_CODECS[summary]
    off = 4
    flags = buf[off]
    off += 1
    if flags & _F_BIG_ENDIAN:
        raise ValueError("big-endian tuple images not supported")
    empty = bool(flags & _F_EMPTY)
    theta = _LONG_MAX
    if flags & _F_THETA:
        theta = int(np.frombuffer(buf[off:off + 8], dtype="<i8")[0])
        off += 8
    if not (flags & _F_HAS_ENTRIES):
        return LegacyTupleSketch(
            np.empty(0, np.int64), np.empty(0), np.empty(0, np.int64),
            theta, empty,
        )
    name_len = 0
    if version == 1:  # serialVersionWithSummaryClassNameUID
        name_len = buf[off]
        off += 1
    count = int(np.frombuffer(buf[off:off + 4], dtype="<i4")[0])
    off += 4 + name_len
    hashes = np.frombuffer(buf[off:off + 8 * count], dtype="<i8").copy()
    off += 8 * count
    values = np.empty(count, np.float64)
    modes = np.empty(count, np.int64)
    for i in range(count):
        v, m, sz = codec(buf, off)
        values[i] = v
        modes[i] = m
        off += sz
    return LegacyTupleSketch(hashes, values, modes, theta, empty)


# ------------------------------------------------ current AoD format

@dataclass
class ArrayOfDoublesSketchImage:
    """Current-generation ArrayOfDoublesCompactSketch state
    (tuple/arrayofdoubles/ArrayOfDoublesCompactSketch.java): retained
    63-bit hash keys plus a (retained x num_values) float64 summary
    matrix under one thetaLong."""

    hashes: np.ndarray           # int64 keys
    values: np.ndarray           # shape (retained, num_values) float64
    theta_long: int
    empty: bool
    seed_hash: int

    @property
    def retained(self) -> int:
        return len(self.hashes)

    def estimate(self) -> float:
        if self.empty:
            return 0.0
        return self.retained * float(_LONG_MAX) / float(self.theta_long)

    def column_sum_estimates(self) -> np.ndarray:
        """Unbiased per-column totals: sum(col) / (theta/LONG_MAX) —
        ArrayOfDoublesSketch.getEstimate analog for summed summaries."""
        if self.retained == 0:
            return np.zeros(self.values.shape[1] if self.values.ndim == 2 else 0)
        return self.values.sum(axis=0) * (float(_LONG_MAX) / float(self.theta_long))


_AOD_COMPACT_TYPE = 3   # SerializerDeserializer.SketchType ordinal
_AOD_F_EMPTY = 1 << 2   # Flags.IS_EMPTY ordinal (ArrayOfDoublesSketch.java:42)
_AOD_F_HAS_ENTRIES = 1 << 3


def aod_to_ref_bytes(sk: ArrayOfDoublesSketchImage) -> bytes:
    """Serialize the CURRENT ArrayOfDoublesCompactSketch layout
    (HeapArrayOfDoublesCompactSketch.java:161-184): 8-byte header
    (preLongs=1, serVer=1, family 9, sketchType 3, flags, numValues,
    seedHash), thetaLong, then [count, keys long[count],
    values double[count*numValues]] when entries exist."""
    import struct

    count = sk.retained
    num_values = sk.values.shape[1] if sk.values.ndim == 2 else 0
    flags = (_AOD_F_EMPTY if sk.empty else 0) | (
        _AOD_F_HAS_ENTRIES if count > 0 else 0
    )
    head = struct.pack(
        "<BBBBBBH", 1, 1, _FAMILY_TUPLE, _AOD_COMPACT_TYPE, flags,
        num_values, sk.seed_hash,
    ) + struct.pack("<q", sk.theta_long)
    if count == 0:
        return head
    return (
        head
        + struct.pack("<i", count)
        + b"\x00\x00\x00\x00"  # ENTRIES_START at 24: 4 pad bytes after count
        + sk.hashes.astype("<i8").tobytes()
        + sk.values.astype("<f8").ravel().tobytes()
    )


def aod_from_ref_bytes(buf: bytes, check_seed_hash: int | None = None) -> ArrayOfDoublesSketchImage:
    """Heapify a current ArrayOfDoublesCompactSketch image
    (HeapArrayOfDoublesCompactSketch segment constructor)."""
    import struct

    if len(buf) < 16:
        raise ValueError("AoD image too short")
    _pre, ser_ver, fam, stype, flags, num_values, seed_hash = struct.unpack_from(
        "<BBBBBBH", buf, 0
    )
    if fam != _FAMILY_TUPLE:
        raise ValueError(f"not a tuple image (family {fam})")
    if ser_ver != 1 or stype != _AOD_COMPACT_TYPE:
        raise ValueError(
            f"not an ArrayOfDoublesCompactSketch image (serVer {ser_ver}, type {stype})"
        )
    if check_seed_hash is not None and seed_hash != check_seed_hash:
        raise ValueError("seed hash mismatch")
    (theta_long,) = struct.unpack_from("<q", buf, 8)
    empty = bool(flags & _AOD_F_EMPTY)
    if not (flags & _AOD_F_HAS_ENTRIES):
        return ArrayOfDoublesSketchImage(
            hashes=np.empty(0, np.int64),
            values=np.empty((0, num_values)),
            theta_long=int(theta_long), empty=empty, seed_hash=seed_hash,
        )
    (count,) = struct.unpack_from("<i", buf, 16)
    need = 24 + 8 * count + 8 * count * num_values
    if len(buf) < need:
        raise ValueError(f"truncated AoD image: {len(buf)} < {need}")
    hashes = np.frombuffer(buf, "<i8", count=count, offset=24).copy()
    values = np.frombuffer(
        buf, "<f8", count=count * num_values, offset=24 + 8 * count
    ).reshape(count, num_values).copy()
    return ArrayOfDoublesSketchImage(
        hashes=hashes, values=values, theta_long=int(theta_long),
        empty=empty, seed_hash=seed_hash,
    )


_AOD_QS_TYPE = 2      # SketchType.ArrayOfDoublesQuickSelectSketch
_AOD_UNION_TYPE = 4   # SketchType.ArrayOfDoublesUnion


def aod_from_ref_updatable_bytes(
    buf: bytes, check_seed_hash: int | None = None
) -> ArrayOfDoublesSketchImage:
    """Heapify the UPDATABLE ArrayOfDoubles working forms Java users
    persist — sketchType 2 (ArrayOfDoublesQuickSelectSketch, the image
    ArrayOfDoublesUpdatableSketch.toByteArray() writes) and sketchType
    4 (ArrayOfDoublesUnion.toByteArray(): 16-byte union preamble with
    unionThetaLong@8, then the gadget QuickSelect image).

    QuickSelect layout (ArrayOfDoublesQuickSelectSketch.java:46-53,
    HeapArrayOfDoublesQuickSelectSketch.serializeInto): 8-byte header
    (preLongs=1 serVer=1 family=9 type=2 flags numValues seedHash),
    thetaLong@8, lgNomEntries@16, lgCurCapacity@17, lgRF@18,
    samplingP float@20, retainedEntries int@24, keys long[2^lgCap]@32
    (open hash table, 0 = empty slot), values double[2^lgCap *
    numValues] slot-aligned after the keys.

    Union extraction rule (ArrayOfDoublesUnion.getResult:142-151):
    effective theta = min(unionThetaLong, gadget theta); if the gadget
    retains more than its nominal k, theta drops to the (k+1)-th
    smallest key and only the bottom k survive — the same
    correctThetaOnCompact rule the plain Theta union applies.
    """
    import struct

    if len(buf) < 8:
        raise ValueError("AoD updatable image too short")
    is_union = buf[3] == _AOD_UNION_TYPE
    union_theta = _LONG_MAX
    if is_union:
        if buf[2] != _FAMILY_TUPLE:
            raise ValueError(f"not a tuple image (family {buf[2]})")
        (union_theta,) = struct.unpack_from("<q", buf, 8)
        buf = buf[16:]
    _pre, ser_ver, fam, stype2, flags, num_values, seed_hash = struct.unpack_from(
        "<BBBBBBH", buf, 0
    )
    if fam != _FAMILY_TUPLE:
        raise ValueError(f"not a tuple image (family {fam})")
    if ser_ver != 1 or stype2 != _AOD_QS_TYPE:
        raise ValueError(
            f"not an ArrayOfDoublesQuickSelectSketch image "
            f"(serVer {ser_ver}, type {stype2})"
        )
    if check_seed_hash is not None and seed_hash != check_seed_hash:
        raise ValueError("seed hash mismatch")
    (theta_long,) = struct.unpack_from("<q", buf, 8)
    theta_long = min(int(theta_long), int(union_theta))
    empty = bool(flags & _AOD_F_EMPTY)
    if not (flags & _AOD_F_HAS_ENTRIES):
        return ArrayOfDoublesSketchImage(
            hashes=np.empty(0, np.int64),
            values=np.empty((0, num_values)),
            theta_long=theta_long, empty=empty, seed_hash=seed_hash,
        )
    lg_nom = buf[16]
    cap = 1 << buf[17]
    keys = np.frombuffer(buf, "<i8", count=cap, offset=32)
    values = np.frombuffer(
        buf, "<f8", count=cap * num_values, offset=32 + 8 * cap
    ).reshape(cap, num_values)
    live = (keys != 0) & (keys < theta_long)
    order = np.argsort(keys[live], kind="stable")
    hashes = keys[live][order].astype(np.int64)
    vals = values[live][order]
    if is_union:
        k = 1 << lg_nom
        if len(hashes) > k:
            theta_long = int(hashes[k])
            hashes, vals = hashes[:k], vals[:k]
    return ArrayOfDoublesSketchImage(
        hashes=hashes.copy(), values=vals.copy(), theta_long=theta_long,
        empty=empty, seed_hash=seed_hash,
    )


def from_ref_updatable_bytes(buf: bytes, summary: str = "double") -> LegacyTupleSketch:
    """Heapify the UPDATABLE generic tuple working form — the
    QuickSelectSketch image UpdatableTupleSketch.toByteArray() writes
    (tuple/QuickSelectSketch.java:400-480 byte map, serVer 2,
    sketchType 0): byte0 preLongs(1), byte1 serVer, byte2 family 9,
    byte3 type 0, byte4 flags {IS_IN_SAMPLING_MODE=2, IS_EMPTY=4,
    HAS_ENTRIES=8, IS_THETA_INCLUDED=16}, byte5 lgNom, byte6 lgCurCap,
    byte7 lgRF, [samplingP:float4 if sampling], [thetaLong:8 if
    included], [count:int4 if entries], then the LIVE entries only,
    interleaved hash:int64 + summary bytes (unlike the ArrayOfDoubles
    QS image, which dumps the whole open hash table).

    With the serVer-1/2/3 compact readers, aod_from_ref_bytes and
    aod_from_ref_updatable_bytes, every persistable tuple form the
    reference can emit now heapifies."""
    if len(buf) < 8:
        raise ValueError("tuple QS image too short")
    _pre, version, fam, stype = buf[0], buf[1], buf[2], buf[3]
    if fam != _FAMILY_TUPLE:
        raise ValueError(f"not a tuple image (family {fam})")
    if stype != 0:  # SketchType.QuickSelectSketch ordinal
        raise ValueError(f"not a tuple QuickSelectSketch image (type {stype})")
    if version > 2:
        raise ValueError(f"unsupported tuple QS serial version {version}")
    codec = _SUMMARY_CODECS[summary]
    flags = buf[4]
    empty = bool(flags & 4)
    off = 8
    sampling_p = None
    if flags & 2:  # IS_IN_SAMPLING_MODE
        sampling_p = float(
            np.frombuffer(buf[off:off + 4], dtype="<f4")[0]
        )
        off += 4
    theta = _LONG_MAX
    if flags & 16:  # IS_THETA_INCLUDED
        theta = int(np.frombuffer(buf[off:off + 8], dtype="<i8")[0])
        off += 8
    elif sampling_p is not None:
        # sampling-mode QS image with theta == p·LONG_MAX elides the
        # theta long; the reference reconstructs it from the stored
        # float (QuickSelectSketch.java deserialization:
        # thetaLong = (long)(Long.MAX_VALUE * samplingProbability)),
        # a saturating cast: p == 1.0 (product 2^63) gives LONG_MAX
        theta = min(int(_LONG_MAX * sampling_p), _LONG_MAX)
    count = 0
    if flags & 8:  # HAS_ENTRIES
        count = int(np.frombuffer(buf[off:off + 4], dtype="<i4")[0])
        off += 4
    hashes = np.empty(count, np.int64)
    values = np.empty(count, np.float64)
    modes = np.empty(count, np.int64)
    for i in range(count):
        hashes[i] = int(np.frombuffer(buf[off:off + 8], dtype="<i8")[0])
        off += 8
        v, m, sz = codec(buf, off)
        values[i] = v
        modes[i] = m
        off += sz
    order = np.argsort(hashes, kind="stable")
    return LegacyTupleSketch(
        hashes[order], values[order], modes[order], theta, empty)
