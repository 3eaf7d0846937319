"""Reference wire format for the frequent-items (Misra-Gries) sketch —
FrequentLongsSketch and FrequentItemsSketch<String> serial v1, both
directions. One writer and one reader serve both: the item type is a
serde (kernels/serde.py) — int64 LE keys (ArrayOfLongsSerDe) or
ArrayOfStringsSerDe strings; everything else in the layout is shared.

Layout per frequencies/PreambleUtil.java:46-76 and
frequencies/FrequentLongsSketch.java:570-607 (toByteArray):

    empty:      1 preamble long (8 bytes total)
    non-empty:  4 preamble longs, then activeItems VALUES (counts,
                int64 LE), then activeItems KEYS (serde-encoded items)

    pre0 byte 0: preamble longs (1 | 4)
         byte 1: serial version (1)
         byte 2: family id (10 = FREQUENCY, common/Family.java:110)
         byte 3: lgMaxMapSize
         byte 4: lgCurMapSize
         byte 5: flags (EMPTY_FLAG_MASK = 5 when empty, else 0)
    pre1 bytes 8-11:  activeItems (int32)
    pre2 bytes 16-23: streamLength (int64)
    pre3 bytes 24-31: offset (int64)

All integers native little-endian (the reference serializes through
MemorySegment in native order; x86/arm LE is the interchange reality,
same convention as kernels/theta_compat.py).

Mapping to kernels/freq.FrequentItems: counts ↔ key/value arrays
(stored LOWER-bound counts, i.e. our `counts` without the offset —
the reference's hashMap stores the same), offset ↔ offset, n ↔
streamLength. Our `m` (purge threshold on tracked entries) maps to
the reference's maxMapCap = 0.75 · 2^lgMaxMapSize
(frequencies/FrequentLongsSketch.java:214-218 load factor), so a
round-tripped sketch purges at the same fill as the Java sketch
rebuilt from the same image.

No in-tree .sk golden exists for this family, so cross-language
evidence is layout-exact hand-built fixtures (as tests/
test_theta_compat.py does for theta serial v1/v2) + round-trips.
"""

from __future__ import annotations

import struct

import numpy as np

from . import serde
from .freq import FrequentItems

_SER_VER = 1
_FAMILY_ID = 10
_EMPTY_FLAG_MASK = 5
_LG_MIN_MAP_SIZE = 3
_LOAD_FACTOR = 0.75


def _lg_size_for(n_entries: int, lg_min: int = _LG_MIN_MAP_SIZE) -> int:
    """Smallest lg map length holding n_entries at 0.75 load."""
    lg = lg_min
    while n_entries > int(_LOAD_FACTOR * (1 << lg)):
        lg += 1
    return lg


def max_map_cap(lg_max_map_size: int) -> int:
    return int(_LOAD_FACTOR * (1 << lg_max_map_size))


def _to_ref_bytes(sk: FrequentItems, lg_max_map_size: int | None,
                  item_serde) -> bytes:
    if lg_max_map_size is None:
        lg_max_map_size = _lg_size_for(sk.m)
    active = len(sk.counts)
    if active == 0 and sk.n == 0:
        return struct.pack(
            "<BBBBBBxx", 1, _SER_VER, _FAMILY_ID, lg_max_map_size,
            _LG_MIN_MAP_SIZE, _EMPTY_FLAG_MASK,
        )
    keys = sorted(sk.counts)  # deterministic image; reader is order-free
    vals = np.array([sk.counts[k] for k in keys], dtype="<i8")
    pre = struct.pack(
        "<BBBBBBxxixxxxqq", 4, _SER_VER, _FAMILY_ID, lg_max_map_size,
        _lg_size_for(active), 0, active, sk.n, sk.offset,
    )
    return pre + vals.tobytes() + item_serde.to_bytes(keys)


def _from_ref_bytes(buf: bytes, item_serde) -> FrequentItems:
    if len(buf) < 8:
        raise ValueError("frequencies image too short")
    pre_longs, ser_ver, fam_id, lg_max, _lg_cur, flags = struct.unpack_from(
        "<BBBBBB", buf, 0
    )
    if ser_ver != _SER_VER:
        raise ValueError(f"unsupported frequencies serVer {ser_ver}")
    if fam_id != _FAMILY_ID:
        raise ValueError(f"not a FREQUENCY image (family {fam_id})")
    empty = (flags & _EMPTY_FLAG_MASK) != 0
    sk = FrequentItems(max_map_cap(lg_max))
    if empty:
        if pre_longs != 1:
            raise ValueError("empty image must have 1 preamble long")
        return sk
    if pre_longs != 4:
        raise ValueError(f"non-empty image needs 4 preamble longs, got {pre_longs}")
    (active,) = struct.unpack_from("<i", buf, 8)
    (stream_len,) = struct.unpack_from("<q", buf, 16)
    (offset,) = struct.unpack_from("<q", buf, 24)
    if len(buf) < 32 + 8 * active:
        raise ValueError("truncated values section")
    vals = np.frombuffer(buf, dtype="<i8", count=active, offset=32)
    keys, _ = item_serde.from_bytes(buf, 32 + 8 * active, active)
    for k, v in zip(keys.tolist(), vals.tolist()):
        sk.counts[k] = v
    sk.offset = int(offset)
    sk.n = int(stream_len)
    return sk


def to_ref_bytes(sk: FrequentItems, lg_max_map_size: int | None = None) -> bytes:
    """FrequentLongsSketch serial-v1 image of a long-keyed sketch
    (frequencies/FrequentLongsSketch.java:570-607 toByteArray)."""
    return _to_ref_bytes(sk, lg_max_map_size, serde.LONGS)


def to_ref_bytes_items(sk: FrequentItems, lg_max_map_size: int | None = None) -> bytes:
    """FrequentItemsSketch<String> serial-v1 image
    (frequencies/FrequentItemsSketch.java:498-540 toByteArray with
    ArrayOfStringsSerDe)."""
    return _to_ref_bytes(sk, lg_max_map_size, serde.STRINGS)


def from_ref_bytes(buf: bytes) -> FrequentItems:
    """Heapify a FrequentLongsSketch serial-v1 image
    (frequencies/FrequentLongsSketch.java:228-266 getInstance)."""
    return _from_ref_bytes(buf, serde.LONGS)


def from_ref_bytes_items(buf: bytes) -> FrequentItems:
    """Heapify a FrequentItemsSketch<String> serial-v1 image
    (frequencies/FrequentItemsSketch.java:232-296 getInstance with
    ArrayOfStringsSerDe)."""
    return _from_ref_bytes(buf, serde.STRINGS)
