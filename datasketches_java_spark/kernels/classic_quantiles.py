"""Classic quantiles (DoublesSketch / ItemsSketch) image codec — the
migration lane for the reference's pre-KLL quantile family (Q1,
superseded by KLL for new data; reference
quantiles/HeapCompactDoublesSketch.java:240-281, quantiles/PreambleUtil
layout; quantiles/ItemsByteArrayImpl.java:50-123 for items).

One reader and one writer serve both item types; the item type is a
serde (kernels/serde.py): doubles are 8-byte LE floats into a
KllDoubles, items are ArrayOfStringsSerDe strings into a KllItems. Once
min, max and the items go through the serde the two layouts are the
same: pre0 (preLongs, serVer, family 8, flags, k:uint16) + N + serde(
[min, max]) + serde(base buffer (n mod 2k items), one k-item block per
set bit of bitPattern = n/(2k), lowest level first). What really
differs is kept as-is:
 - the READ_ONLY flag bit, set by the doubles writer and not for items
   (DoublesByteArrayImpl.java:58-60 vs ItemsByteArrayImpl.java:53-56);
 - the historical doubles forms, read only for doubles: serVer 1
   (v0.3.x: a buf-alloc long after min/max and the NON-compact combined
   buffer — base buffer slots padded to 2k, then one k-item slot for
   EVERY level up to the highest) and serVer-3 updatable images
   (COMPACT flag off, same padded body). serVer 2 (v0.6.x) and 3
   (v0.8.x+) compact images exist for both types.

The parsed state maps losslessly onto the KLL kernel's level
representation: the base buffer is level 0 (weight 1 = 2^0) and
classic level j (weight 2^(j+1)) is KLL level j+1 — so the returned
sketch answers rank/quantile/CDF queries over the migrated data
directly. Validated against the reference's own cross-language goldens
(Qk128_n{50,1000}_v{0.3.0,0.6.0,0.8.0,0.8.3}.sk) with the EXCLUSIVE-
median expectations of QuantilesSketchCrossLanguageTest (Median2
values) in tests/test_ref_goldens.py, and byte-identical both ways
against the live datasketches-java in tests/test_live_jvm_interop.py.
"""

from __future__ import annotations

import numpy as np

from .kll import KllDoubles
from .kll_items import KllItems

_FAMILY_QUANTILES = 8  # common/Family.java QUANTILES(8)
_READ_ONLY, _EMPTY_FLAG, _COMPACT, _ORDERED = 2, 4, 8, 16


def _from_ref_bytes(buf: bytes, seed: int, cls: type, legacy: bool):
    """Classic image → query-ready sketch of `cls`, items decoded with
    its serde; `legacy` admits the doubles-only serVer-1 and
    non-compact forms."""
    pre_longs, ser_ver, fam, flags = buf[0], buf[1], buf[2], buf[3]
    if fam != _FAMILY_QUANTILES:
        raise ValueError(f"not a classic quantiles image (family {fam})")
    if ser_ver not in ((1, 2, 3) if legacy else (2, 3)):
        raise ValueError(f"unsupported classic serial version {ser_ver}")
    k = int(np.frombuffer(buf[4:6], dtype="<u2")[0])
    sk = cls(seed=seed)
    sk.k = k  # a classic k (2 to 32768) may be below KLL's floor of 8
    if (flags & _EMPTY_FLAG) or pre_longs == 1:
        return sk
    item_serde = cls._SERDE
    n = int(np.frombuffer(buf[8:16], dtype="<i8")[0])
    ext, off = item_serde.from_bytes(buf, 16, 2)
    if ser_ver == 1:
        off += 8  # serVer 1 carries a buf-alloc long
    bb = n % (2 * k)
    bit_pattern = n // (2 * k)
    # serVer-3 updatable images (COMPACT flag off —
    # DoublesByteArrayImpl.java:101-130 with a forced-full-size
    # accessor) use the same padded body layout serVer 1 does
    padded = legacy and (ser_ver == 1 or (ser_ver == 3 and not flags & _COMPACT))
    base, end = item_serde.from_bytes(buf, off, bb)
    levels = [np.sort(base)]
    # padded (doubles only, 8-byte items): the base-buffer region holds
    # 2k slots, and every level up to the highest occupies k slots,
    # present or not
    off = off + 2 * k * 8 if padded else end
    bp = bit_pattern
    while bp:
        lv, end = item_serde.from_bytes(buf, off, k) if bp & 1 else (cls._empty(), off)
        levels.append(lv)
        off = off + k * 8 if padded else end
        bp >>= 1
    # classic level j (weight 2^(j+1)) = KLL level j+1; base = level 0
    sk.levels = levels
    sk.n = n
    sk._ref_min, sk._ref_max = ext.tolist()
    return sk


def _to_ref_bytes(sk, read_only: bool) -> bytes:
    """Compact ordered serVer-3 image of a CLASSIC-shaped state
    (pre0 + N + serde([min, max]) + serde(sorted base buffer + one
    k-item block per set bit of bitPattern = n/(2k), lowest level
    first)).

    Classic-shaped means the level occupancy the classic algorithm
    forces: level 0 holds exactly n mod 2k items and classic level j
    holds exactly k items iff bit j of n/(2k) is set. Parsed states
    always qualify (migration round-trip), as does any exact-regime KLL
    state (n < 2k: everything in level 0). A generic compacted KLL
    state does not — its level sizes follow the KLL schedule — and
    raises ValueError; new data should stay on the KLL wire format."""
    k, n = sk.k, sk.n
    flags = (_READ_ONLY if read_only else 0) | _COMPACT | _ORDERED
    k16 = np.array([k], dtype="<u2").tobytes()
    if n == 0:
        return bytes([1, 3, _FAMILY_QUANTILES, flags | _EMPTY_FLAG]) + k16 + b"\x00\x00"
    bb = n % (2 * k)
    bit_pattern = n // (2 * k)
    want = [bb]
    bp = bit_pattern
    while bp:
        want.append(k if (bp & 1) else 0)
        bp >>= 1
    got = [len(lv) for lv in sk.levels]
    while len(got) < len(want):
        got.append(0)
    if got != want:
        raise ValueError(
            f"not a classic-shaped state for n={n}, k={k}: level sizes "
            f"{got} != required {want} — only migrated or exact-regime "
            "states serialize to the classic format")
    retained = np.concatenate([np.sort(sk.levels[0])] + sk.levels[1:])
    mn = retained.min() if sk._ref_min is None else sk._ref_min
    mx = retained.max() if sk._ref_max is None else sk._ref_max
    return (
        bytes([2, 3, _FAMILY_QUANTILES, flags]) + k16 + b"\x00\x00"
        + np.array([n], dtype="<i8").tobytes()
        + sk._SERDE.to_bytes([mn, mx]) + sk._SERDE.to_bytes(retained)
    )


def from_ref_bytes(buf: bytes, seed: int = 9001) -> KllDoubles:
    """Classic DoublesSketch image (serVer 1, 2 or 3; compact or not)
    → query-ready KllDoubles."""
    return _from_ref_bytes(buf, seed, KllDoubles, legacy=True)


def to_ref_bytes(sk: KllDoubles) -> bytes:
    """Classic-shaped KllDoubles → the reference's DoublesSketch
    compact serVer-3 image (quantiles/DoublesByteArrayImpl.java:54-121;
    flags READ_ONLY | COMPACT | ORDERED)."""
    return _to_ref_bytes(sk, read_only=True)


def items_from_ref_bytes(buf: bytes, seed: int = 9001) -> KllItems:
    """Classic generic QuantilesItemsSketch image (string items,
    ArrayOfStringsSerDe; serVer 3 or the prior 2, compact — the only
    form its toByteArray writes) → query-ready KllItems, per
    quantiles/QuantilesItemsSketch.java:185-236 heapify."""
    return _from_ref_bytes(buf, seed, KllItems, legacy=False)


def items_to_ref_bytes(sk: KllItems) -> bytes:
    """Classic-shaped KllItems → the reference's QuantilesItemsSketch
    compact serVer-3 image with an ordered base buffer
    (ItemsByteArrayImpl.toByteArray(ordered=true); flags COMPACT |
    ORDERED, no READ_ONLY)."""
    return _to_ref_bytes(sk, read_only=False)


def quantile_exclusive(sk: KllDoubles, rank: float) -> float:
    """EXCLUSIVE search criterion (QuantileSearchCriteria.EXCLUSIVE):
    min retained item v with cumweight(v) > rank·n — the rule the
    reference's historical-golden tests evaluate (Median2)."""
    it, wt = sk._sorted_view()
    if len(it) == 0:
        return float("nan")
    cum = np.cumsum(wt)
    idx = int(np.searchsorted(cum, rank * sk.n, side="right"))
    return float(it[min(idx, len(it) - 1)])
