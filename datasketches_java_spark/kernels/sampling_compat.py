"""Reference wire formats for the sampling family — ReservoirLongsSketch
(serial v2), VarOptItemsSketch<Long> (serial v2), EbppsItemsSketch<Long>
(serial v1), both directions.

Layouts per sampling/PreambleUtil.java:40-170 (common first long:
byte 0 = preLongs | lgResizeFactor<<6, byte 1 = serVer, byte 2 =
family id, byte 3 = flags, bytes 4-7 = K int32; N long at 8 when
non-empty):

  RESERVOIR (family 11, serVer 2,
  sampling/ReservoirLongsSketch.java:330-368): empty = 1 preamble
  long; else 2 preamble longs + min(k, n) int64 items.

  VAROPT (family 13, serVer 2, sampling/VarOptItemsSketch.java:560-625):
  empty = 1 preamble long; warm-up (r == 0) = 3 preamble longs
  (h int32 @16, r int32 @20); full = 4 preamble longs (+ total R
  weight double @24). Then h_ weight doubles, optional h_ marks
  (ArrayOfBooleansSerDe bit-packed, gadget images only,
  GADGET_FLAG_MASK=128), then ALL h_+r_ items via the items serde.
  R-region items carry implicit weight tau = totalWtR / r
  (VarOptItemsSamples semantics).

  EBPPS (family 19, serVer 1, sampling/EbppsItemsSketch.java:360-410):
  empty = 1 preamble long; else 5 preamble longs (n @8, cumulative
  weight double @16, max item weight double @24, rho double @32),
  then C double @40 (expected sample size, part of the sample state),
  then floor(C) full items + one optional partial item when C is
  fractional (HAS_PARTIAL_ITEM_MASK=8).

Items use ArrayOfLongsSerDe (plain int64 LE array) — the id64 form
every distributed face in this engine samples. No in-tree .sk golden
ships for the sampling family, so evidence is layout-exact hand-built
fixtures + round-trips, the same standard as theta v1/v2 and the
frequencies formats.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

import numpy as np

_FAM_RESERVOIR = 11
_FAM_VAROPT = 13
_FAM_EBPPS = 19
_SER_VER_RESERVOIR = 2
_SER_VER_VAROPT = 2
_SER_VER_EBPPS = 1

EMPTY_FLAG = 4
HAS_PARTIAL_ITEM_FLAG = 8
GADGET_FLAG = 128


def _pre0(pre_longs: int, ser_ver: int, fam: int, flags: int, k: int,
          lg_rf: int = 0) -> bytes:
    return struct.pack("<BBBBi", (pre_longs & 0x3F) | (lg_rf << 6),
                       ser_ver, fam, flags, k)


def _parse_pre0(buf: bytes, want_fam: int, want_ver: int):
    if len(buf) < 8:
        raise ValueError("sampling image too short")
    b0, ser_ver, fam, flags, k = struct.unpack_from("<BBBBi", buf, 0)
    if fam != want_fam:
        raise ValueError(f"wrong family {fam} (want {want_fam})")
    if ser_ver != want_ver:
        raise ValueError(f"unsupported serVer {ser_ver} (want {want_ver})")
    return b0 & 0x3F, (b0 >> 6) & 3, flags, k


# ------------------------------------------------------------ reservoir

@dataclass
class ReservoirLongs:
    k: int
    n: int = 0
    items: np.ndarray = field(default_factory=lambda: np.empty(0, np.int64))
    lg_rf: int = 3  # ResizeFactor X8, the reference default

    def implied_weight(self) -> float:
        """Each stored item represents n/|items| stream items."""
        return self.n / max(len(self.items), 1)


def reservoir_to_ref_bytes(sk: ReservoirLongs) -> bytes:
    if sk.n == 0:
        return _pre0(1, _SER_VER_RESERVOIR, _FAM_RESERVOIR, EMPTY_FLAG,
                     sk.k, sk.lg_rf)
    num = min(sk.k, sk.n)
    if len(sk.items) != num:
        raise ValueError(f"reservoir must hold min(k,n)={num} items")
    return (
        _pre0(2, _SER_VER_RESERVOIR, _FAM_RESERVOIR, 0, sk.k, sk.lg_rf)
        + struct.pack("<q", sk.n)
        + sk.items.astype("<i8").tobytes()
    )


def reservoir_from_ref_bytes(buf: bytes) -> ReservoirLongs:
    pre_longs, lg_rf, flags, k = _parse_pre0(
        buf, _FAM_RESERVOIR, _SER_VER_RESERVOIR
    )
    if flags & EMPTY_FLAG:
        return ReservoirLongs(k=k, lg_rf=lg_rf)
    if pre_longs != 2:
        raise ValueError(f"non-empty reservoir needs 2 preamble longs, got {pre_longs}")
    (n,) = struct.unpack_from("<q", buf, 8)
    num = min(k, n)
    if len(buf) < 16 + 8 * num:
        raise ValueError("truncated reservoir items")
    items = np.frombuffer(buf, "<i8", count=num, offset=16).copy()
    return ReservoirLongs(k=k, n=int(n), items=items, lg_rf=lg_rf)


# --------------------------------------------------------------- varopt

@dataclass
class VarOptLongs:
    """H region: exact-weight heavies; R region: reservoir sharing
    tau = total_r_weight / r (sampling/VarOptItemsSketch.java state)."""

    k: int
    n: int = 0
    heavy_items: np.ndarray = field(default_factory=lambda: np.empty(0, np.int64))
    heavy_weights: np.ndarray = field(default_factory=lambda: np.empty(0, np.float64))
    r_items: np.ndarray = field(default_factory=lambda: np.empty(0, np.int64))
    total_r_weight: float = 0.0
    marks: np.ndarray | None = None  # gadget images only
    lg_rf: int = 3

    @property
    def tau(self) -> float:
        return self.total_r_weight / len(self.r_items) if len(self.r_items) else 0.0

    def adjusted(self) -> tuple[np.ndarray, np.ndarray]:
        """(items, adjusted weights): H keep exact weight, R get tau —
        the unbiased-subset-sum weights of VarOptItemsSamples."""
        items = np.concatenate([self.heavy_items, self.r_items])
        weights = np.concatenate([
            self.heavy_weights, np.full(len(self.r_items), self.tau)
        ])
        return items, weights


def _pack_marks(marks: np.ndarray) -> bytes:
    """ArrayOfBooleansSerDe: bit i of byte i//8 (LSB first)."""
    return np.packbits(marks.astype(bool), bitorder="little").tobytes()


def varopt_to_ref_bytes(sk: VarOptLongs) -> bytes:
    h, r = len(sk.heavy_items), len(sk.r_items)
    flags = GADGET_FLAG if sk.marks is not None else 0
    if h == 0 and r == 0:
        return _pre0(1, _SER_VER_VAROPT, _FAM_VAROPT, flags | EMPTY_FLAG,
                     sk.k, sk.lg_rf)
    pre_longs = 3 if r == 0 else 4
    out = [
        _pre0(pre_longs, _SER_VER_VAROPT, _FAM_VAROPT, flags, sk.k, sk.lg_rf),
        struct.pack("<q", sk.n),
        struct.pack("<ii", h, r),
    ]
    if r > 0:
        out.append(struct.pack("<d", sk.total_r_weight))
    out.append(sk.heavy_weights.astype("<f8").tobytes())
    if sk.marks is not None:
        if len(sk.marks) != h:
            raise ValueError("marks must cover exactly the H region")
        out.append(_pack_marks(sk.marks))
    out.append(np.concatenate([sk.heavy_items, sk.r_items]).astype("<i8").tobytes())
    return b"".join(out)


def varopt_from_ref_bytes(buf: bytes) -> VarOptLongs:
    pre_longs, lg_rf, flags, k = _parse_pre0(buf, _FAM_VAROPT, _SER_VER_VAROPT)
    if flags & EMPTY_FLAG:
        return VarOptLongs(k=k, lg_rf=lg_rf)
    if pre_longs not in (3, 4):
        raise ValueError(f"non-empty varopt needs 3 or 4 preamble longs, got {pre_longs}")
    (n,) = struct.unpack_from("<q", buf, 8)
    h, r = struct.unpack_from("<ii", buf, 16)
    total_r = 0.0
    if pre_longs == 4:
        (total_r,) = struct.unpack_from("<d", buf, 24)
    off = pre_longs << 3
    weights = np.frombuffer(buf, "<f8", count=h, offset=off).copy()
    off += 8 * h
    marks = None
    if flags & GADGET_FLAG:
        n_mark_bytes = (h + 7) >> 3
        marks = np.unpackbits(
            np.frombuffer(buf, np.uint8, count=n_mark_bytes, offset=off),
            bitorder="little",
        )[:h].astype(bool)
        off += n_mark_bytes
    if len(buf) < off + 8 * (h + r):
        raise ValueError("truncated varopt items")
    items = np.frombuffer(buf, "<i8", count=h + r, offset=off)
    return VarOptLongs(
        k=k, n=int(n), heavy_items=items[:h].copy(), heavy_weights=weights,
        r_items=items[h:].copy(), total_r_weight=float(total_r),
        marks=marks, lg_rf=lg_rf,
    )


def varopt_estimate_subset_sum(sk: VarOptLongs, predicate) -> dict:
    """VarOptItemsSketch.estimateSubsetSum (:460-505) over a
    deserialized image: exact H-region sum plus the R-region fraction
    with the reference's pseudo-hypergeometric bounds
    (SamplingUtil.java:71-79 — binomial bounds on p with kappa
    adjusted by sqrt(1 - effectiveSamplingRate))."""
    from .bounds import ref_approx_lower_bound_on_p, ref_approx_upper_bound_on_p

    h, r = len(sk.heavy_items), len(sk.r_items)
    if sk.n == 0 or (h == 0 and r == 0):
        return {"estimate": 0.0, "lower_bound": 0.0, "upper_bound": 0.0,
                "total_sketch_weight": 0.0}
    h_sel = np.fromiter(
        (bool(predicate(int(i))) for i in sk.heavy_items), dtype=bool, count=h
    )
    h_true = float(sk.heavy_weights[h_sel].sum())
    total_h = float(sk.heavy_weights.sum())
    if r == 0:  # only heavy items: exact
        return {"estimate": h_true, "lower_bound": h_true,
                "upper_bound": h_true, "total_sketch_weight": h_true}
    num_sampled = sk.n - h
    rate = r / num_sampled
    r_true = int(sum(bool(predicate(int(i))) for i in sk.r_items))
    kappa = 2.0 * np.sqrt(1.0 - rate)
    lb_frac = ref_approx_lower_bound_on_p(r, r_true, kappa)
    ub_frac = ref_approx_upper_bound_on_p(r, r_true, kappa)
    est_frac = r_true / r
    return {
        "estimate": h_true + sk.total_r_weight * est_frac,
        "lower_bound": h_true + sk.total_r_weight * lb_frac,
        "upper_bound": h_true + sk.total_r_weight * ub_frac,
        "total_sketch_weight": total_h + sk.total_r_weight,
    }


# ---------------------------------------------------------------- ebpps

@dataclass
class EbppsLongs:
    """EBPPS sample state (sampling/EbppsItemsSketch.java): C is the
    expected sample size; items = floor(C) full items plus one optional
    partial item retained with probability C - floor(C)."""

    k: int
    n: int = 0
    cum_weight: float = 0.0
    max_weight: float = 0.0
    rho: float = 0.0
    c: float = 0.0
    items: np.ndarray = field(default_factory=lambda: np.empty(0, np.int64))
    partial_item: int | None = None


def ebpps_to_ref_bytes(sk: EbppsLongs) -> bytes:
    if sk.n == 0:
        return _pre0(1, _SER_VER_EBPPS, _FAM_EBPPS, EMPTY_FLAG, sk.k)
    flags = HAS_PARTIAL_ITEM_FLAG if sk.partial_item is not None else 0
    all_items = list(sk.items.astype(np.int64))
    if sk.partial_item is not None:
        all_items.append(int(sk.partial_item))
    return (
        _pre0(5, _SER_VER_EBPPS, _FAM_EBPPS, flags, sk.k)
        + struct.pack("<qddd", sk.n, sk.cum_weight, sk.max_weight, sk.rho)
        + struct.pack("<d", sk.c)
        + np.asarray(all_items, dtype="<i8").tobytes()
    )


def ebpps_from_ref_bytes(buf: bytes) -> EbppsLongs:
    pre_longs, _lg_rf, flags, k = _parse_pre0(buf, _FAM_EBPPS, _SER_VER_EBPPS)
    if flags & EMPTY_FLAG:
        return EbppsLongs(k=k)
    if pre_longs != 5:
        raise ValueError(f"non-empty EBPPS needs 5 preamble longs, got {pre_longs}")
    n, cum_wt, max_wt, rho = struct.unpack_from("<qddd", buf, 8)
    (c,) = struct.unpack_from("<d", buf, 40)
    has_partial = bool(flags & HAS_PARTIAL_ITEM_FLAG)
    n_full = int(c)
    n_items = n_full + (1 if has_partial else 0)
    if len(buf) < 48 + 8 * n_items:
        raise ValueError("truncated EBPPS items")
    raw = np.frombuffer(buf, "<i8", count=n_items, offset=48)
    return EbppsLongs(
        k=k, n=int(n), cum_weight=float(cum_wt), max_weight=float(max_wt),
        rho=float(rho), c=float(c), items=raw[:n_full].copy(),
        partial_item=int(raw[n_full]) if has_partial else None,
    )
