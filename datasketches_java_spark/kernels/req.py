"""REQ — Relative Error Quantiles sketch (reference req/ReqSketch.java,
req/ReqCompactor.java; Cormode, Karnin, Liberty, Thaler, Veselý,
"Relative Error Streaming Quantiles", 2021).

Same design as the reference: a stack of compactors with lgWeight
levels; each compactor keeps `numSections` sections of `sectionSize`
items (section size starts at k, shrinks by √2 as the section count
doubles per the deterministic schedule, floor MIN_K=4 —
ReqCompactor.java:224-240 ensureEnoughSections); a compaction selects
`min(trailingOnes(state)+1, numSections)` contiguous sections from the
accuracy-sacrificed end (low ranks when hra=True), promotes the
even- or odd-indexed half of the sorted range (the coin of the
previous, even, state flipped on odd states — :127-128), and keeps the
protected half (`nomCap/2 + (numSections-secs)·sectionSize` items —
computeCompactionRange :249-257). High-rank-accuracy mode protects the
TOP of each buffer, giving relative (not additive) rank error at the
accurate end: RSE ≈ 0.1306/k · min(rank, 1-rank)-scaled per
BaseReqSketch.java:39,198-216, with exact ranks inside the
baseCap = 3k window (exactRank :191-196).

This is a faithful per-level re-expression in NumPy (batched appends
between compress passes). The reference draws its even-state coin from
a Random; here it is a seeded hash of (lg_weight, state), state the
image carries, so distributed runs are deterministic and a heapified
sketch compacts exactly as the live one would. The reference's item
type is float32: updates round items to float32 as the reference does
(held in float64 arrays), and sectionSizeFlt is float32 as well.

Wire interop: `from_ref_bytes`/`to_ref_bytes` implement the
reference's serial-v1 image layout (req/ReqSerDe.java:36-121 —
EMPTY / RAWITEMS / EXACT / ESTIMATION forms, family id 17), the one
serialized form, partials included. Both directions are lossless.
"""

from __future__ import annotations

import numpy as np

from .hashing import coin
from .quantile_search import quantile_from_view, rank_from_view, view_with_minmax

DEFAULT_K = 12       # ReqSketchBuilder default: ~1% rel. error @ 95%
MIN_K = 4            # ReqSketch.java:91
NOM_CAP_MULT = 2     # ReqSketch.java:92
INIT_NUM_SECTIONS = 3  # BaseReqSketch.java:37
REL_RSE_FACTOR = float(np.sqrt(0.0512 / INIT_NUM_SECTIONS))  # :39
FIX_RSE_FACTOR = 0.084                                       # :40
_SQRT2 = float(np.sqrt(2.0))


def _nearest_even(x: float) -> int:
    return int(round(x / 2.0)) * 2


def _trailing_ones(state: int) -> int:
    t = 0
    while state & 1:
        t += 1
        state >>= 1
    return t


class _Compactor:
    __slots__ = ("lg_weight", "hra", "state", "section_size_flt",
                 "section_size", "num_sections", "buf")

    def __init__(self, lg_weight: int, hra: bool, section_size: int):
        self.lg_weight = lg_weight
        self.hra = hra
        self.state = 0
        self.section_size_flt = float(section_size)
        self.section_size = section_size
        self.num_sections = INIT_NUM_SECTIONS
        self.buf = np.empty(0, np.float64)  # kept sorted

    def nom_capacity(self) -> int:
        return NOM_CAP_MULT * self.num_sections * self.section_size

    def _ensure_enough_sections(self) -> bool:
        # ReqCompactor.java:226-241
        if self.state >= (1 << (self.num_sections - 1)) and self.section_size > MIN_K:
            szf = float(np.float32(self.section_size_flt / _SQRT2))  # a Java float
            ne = _nearest_even(szf)
            if ne >= MIN_K:
                self.section_size_flt = szf
                self.section_size = ne
                self.num_sections <<= 1
                return True
        return False

    def compact(self, seed: int) -> np.ndarray:
        """One compaction; returns the promoted items (sorted)."""
        buf_len = len(self.buf)
        secs = min(_trailing_ones(self.state) + 1, self.num_sections)
        non_compact = self.nom_capacity() // 2 + (self.num_sections - secs) * self.section_size
        if (buf_len - non_compact) & 1:
            non_compact += 1
        if buf_len - non_compact < 2:  # nothing even-sized to compact
            self.state += 1
            self._ensure_enough_sections()
            return np.empty(0, np.float64)
        lo, hi = (0, buf_len - non_compact) if self.hra else (non_compact, buf_len)
        # even state: a fresh flip; odd state: that flip inverted (:127)
        flip = coin(seed, self.lg_weight, self.state & ~1) ^ bool(self.state & 1)
        promote = self.buf[lo + flip:hi:2].copy()
        self.buf = self.buf[hi:] if self.hra else self.buf[:lo]
        self.state += 1
        self._ensure_enough_sections()
        return promote

    def merge(self, other: "_Compactor") -> None:
        # ReqCompactor.java:206-221
        self.state |= other.state
        while self._ensure_enough_sections():
            pass
        self.buf = np.sort(np.concatenate([self.buf, other.buf]))


class ReqDoubles:
    """Heap REQ sketch over float64 items (hra=True default)."""

    def __init__(self, k: int = DEFAULT_K, hra: bool = True, seed: int = 9001):
        if k < MIN_K or k > 1024 or (k & 1):
            raise ValueError("k must be even and in [4, 1024]")
        self.k = k
        self.hra = hra
        self.seed = seed
        self.n = 0
        self.min = np.nan
        self.max = np.nan
        self.compactors = [_Compactor(0, hra, k)]

    # --- internals ---------------------------------------------------

    def _max_nom(self) -> int:
        return sum(c.nom_capacity() for c in self.compactors)

    def _retained(self) -> int:
        return sum(len(c.buf) for c in self.compactors)

    def _grow(self) -> None:
        self.compactors.append(_Compactor(len(self.compactors), self.hra, self.k))

    def _compress(self) -> None:
        # ReqSketch.java:528-549 — one pass bottom-up, no lazy compression
        for h in range(len(self.compactors)):
            c = self.compactors[h]
            if len(c.buf) >= c.nom_capacity():
                if h + 1 >= len(self.compactors):
                    self._grow()
                promoted = c.compact(self.seed)
                nxt = self.compactors[h + 1]
                nxt.buf = np.sort(np.concatenate([nxt.buf, promoted]))

    # --- updates -----------------------------------------------------

    def update_many(self, values: np.ndarray) -> "ReqDoubles":
        v = np.asarray(values, dtype=np.float32).astype(np.float64)
        v = v[~np.isnan(v)]
        if len(v) == 0:
            return self
        self.min = np.nanmin([self.min, v.min()]) if self.n else float(v.min())
        self.max = np.nanmax([self.max, v.max()]) if self.n else float(v.max())
        pos = 0
        while pos < len(v):
            room = max(1, self._max_nom() - self._retained())
            chunk = v[pos:pos + room]
            pos += len(chunk)
            c0 = self.compactors[0]
            c0.buf = np.sort(np.concatenate([c0.buf, chunk]))
            self.n += len(chunk)
            guard = 0
            while self._retained() >= self._max_nom():
                self._compress()
                guard += 1
                if guard > 64:
                    raise RuntimeError("REQ compression stalled")
        return self

    def update(self, v: float) -> "ReqDoubles":
        return self.update_many(np.array([v]))

    def merge(self, other: "ReqDoubles") -> "ReqDoubles":
        # ReqSketch.java:381-405
        if other.n == 0:
            return self
        if other.hra != self.hra:
            raise ValueError("HRA settings must match")
        self.n += other.n
        self.min = other.min if np.isnan(self.min) else np.nanmin([self.min, other.min])
        self.max = other.max if np.isnan(self.max) else np.nanmax([self.max, other.max])
        while len(self.compactors) < len(other.compactors):
            self._grow()
        for i, oc in enumerate(other.compactors):
            self.compactors[i].merge(oc)
        guard = 0
        while self._retained() >= self._max_nom():
            self._compress()
            guard += 1
            if guard > 64:
                raise RuntimeError("REQ merge compression stalled")
        return self

    # --- queries (INCLUSIVE criterion, like the KLL kernel) -----------

    def _sorted_view(self) -> tuple[np.ndarray, np.ndarray]:
        items, weights = [], []
        for c in self.compactors:
            if len(c.buf):
                items.append(c.buf)
                weights.append(np.full(len(c.buf), 1 << c.lg_weight, np.int64))
        if not items:
            return np.empty(0, np.float64), np.empty(0, np.int64)
        it = np.concatenate(items)
        wt = np.concatenate(weights)
        order = np.argsort(it, kind="stable")
        return it[order], wt[order]

    def _view_with_minmax(self) -> tuple[np.ndarray, np.ndarray]:
        return view_with_minmax(*self._sorted_view(), self.min, self.max)

    def get_rank(self, value: float, inclusive: bool = True) -> float:
        """Both reference criteria (BaseReqSketch.java getRank over
        quantilescommon/QuantileSearchCriteria.java:41,59)."""
        it, cum = self._view_with_minmax()
        if len(it) == 0:
            return float("nan")
        return rank_from_view(it, cum, self.n, value, inclusive)

    def get_quantile(self, rank: float, inclusive: bool = True) -> float:
        it, cum = self._view_with_minmax()
        if len(it) == 0:
            return float("nan")
        return float(quantile_from_view(it, cum, self.n, rank, inclusive))

    # --- a-priori error bounds (BaseReqSketch.java:191-216) -----------

    def exact_rank(self, rank: float) -> bool:
        base_cap = self.k * INIT_NUM_SECTIONS
        if len(self.compactors) == 1 or self.n <= base_cap:
            return True
        thresh = base_cap / self.n
        return rank >= 1.0 - thresh if self.hra else rank <= thresh

    def rank_bounds(self, rank: float, num_std_dev: int = 2) -> tuple[float, float]:
        if self.exact_rank(rank):
            return rank, rank
        rel = (REL_RSE_FACTOR / self.k) * ((1.0 - rank) if self.hra else rank)
        fix = FIX_RSE_FACTOR / self.k
        lb = max(rank - num_std_dev * rel, rank - num_std_dev * fix)
        ub = min(rank + num_std_dev * rel, rank + num_std_dev * fix)
        return lb, ub


# ---------------------------------------------------------------------------
# Reference wire format — ReqSketch serial v1 (req/ReqSerDe.java:36-121).
#
# Header (8 bytes): preInts(u8) serVer=1(u8) famID=17(u8) flags(u8)
# k(u16 LE) numCompactors(u8) numRawItems(u8). Flags: bit2 EMPTY,
# bit3 HRA, bit4 RAW_ITEMS, bit5 L0_SORTED (ReqSerDe.java:108-117).
# Four body forms (ReqSerDe.java getSerFormat):
#   EMPTY     (n==0):                   header only, preInts=2
#   RAWITEMS  (0<n<=MIN_K):             header + n float32 items
#   EXACT     (one level, n>MIN_K):     header + compactor0
#   ESTIMATION(multi-level):            header + N(i64) + min,max(f32)
#                                       + each compactor
# Compactor image (ReqCompactor.java:293-307): state(i64)
# sectionSizeFlt(f32) lgWeight(u8) numSections(u8) pad(2) count(i32)
# + count float32 items (active items only, buffer order).
# ---------------------------------------------------------------------------

_REQ_FAMILY = 17
_REQ_SERVER = 1


def _read_ref_compactor(buf: bytes, off: int, h: int, hra: bool,
                        k: int) -> tuple[_Compactor, int, int]:
    """Parse one compactor image; returns (compactor, item_count, new_off).
    Mirrors ReqSerDe.extractCompactor (ReqSerDe.java:197-222)."""
    state = int(np.frombuffer(buf[off:off + 8], dtype="<i8")[0])
    ssf = float(np.frombuffer(buf[off + 8:off + 12], dtype="<f4")[0])
    lg_wt = buf[off + 12]
    num_sections = buf[off + 13]
    count = int(np.frombuffer(buf[off + 16:off + 20], dtype="<i4")[0])
    off += 20
    items = np.frombuffer(buf[off:off + 4 * count], dtype="<f4")
    off += 4 * count
    c = _Compactor(int(lg_wt), hra, k)
    c.state = state
    c.section_size_flt = ssf
    c.section_size = _nearest_even(ssf)  # nearestEven(sectionSizeFlt) (:203)
    c.num_sections = int(num_sections)
    # this kernel keeps buffers sorted between compactions; sorting a
    # reference buffer changes no rank/weight semantics (the reference
    # itself sorts before every compaction pass)
    c.buf = np.sort(items.astype(np.float64))
    return c, count, off


def from_ref_bytes(buf: bytes, seed: int = 9001) -> ReqDoubles:
    """Heapify a reference ReqSketch serial-v1 image (ReqSerDe.heapify,
    ReqSerDe.java:127-194) into a ReqDoubles. Lossless: the wire item
    type is float32."""
    if len(buf) < 8:
        raise ValueError("REQ image too short")
    pre_ints, ser_ver, fam = buf[0], buf[1], buf[2]
    if ser_ver != _REQ_SERVER or fam != _REQ_FAMILY:
        raise ValueError(f"not a REQ serial-v1 image (serVer={ser_ver}, family={fam})")
    flags = buf[3]
    empty = bool(flags & 4)
    hra = bool(flags & 8)
    raw_items = bool(flags & 16)
    k = int(np.frombuffer(buf[4:6], dtype="<u2")[0])
    n_comp = buf[6]
    n_raw = buf[7]
    sk = ReqDoubles(k=k, hra=hra, seed=seed)
    if empty or n_comp == 0:
        return sk
    if raw_items:  # RAWITEMS: n_raw float32 updates (ReqSerDe.java:157-162)
        items = np.frombuffer(buf[8:8 + 4 * n_raw], dtype="<f4")
        return sk.update_many(items.astype(np.float64))
    if n_comp == 1:  # EXACT (ReqSerDe.java:163-176): totalN = c0.count
        if pre_ints != 2:
            raise ValueError("EXACT REQ image must have preInts=2")
        c, count, _ = _read_ref_compactor(buf, 8, 0, hra, k)
        sk.compactors = [c]
        sk.n = count
        sk.min = float(c.buf[0]) if count else np.nan
        sk.max = float(c.buf[-1]) if count else np.nan
        return sk
    # ESTIMATION (ReqSerDe.java:177-193)
    if pre_ints != 4:
        raise ValueError("ESTIMATION REQ image must have preInts=4")
    sk.n = int(np.frombuffer(buf[8:16], dtype="<i8")[0])
    sk.min = float(np.frombuffer(buf[16:20], dtype="<f4")[0])
    sk.max = float(np.frombuffer(buf[20:24], dtype="<f4")[0])
    off = 24
    sk.compactors = []
    for h in range(n_comp):
        c, _, off = _read_ref_compactor(buf, off, h, hra, k)
        sk.compactors.append(c)
    return sk


def _write_ref_compactor(c: _Compactor) -> bytes:
    head = np.zeros(20, np.uint8)
    head[0:8] = np.frombuffer(np.array([c.state], dtype="<i8").tobytes(), np.uint8)
    head[8:12] = np.frombuffer(np.array([c.section_size_flt], dtype="<f4").tobytes(), np.uint8)
    head[12] = c.lg_weight
    head[13] = c.num_sections
    head[16:20] = np.frombuffer(np.array([len(c.buf)], dtype="<i4").tobytes(), np.uint8)
    return head.tobytes() + c.buf.astype("<f4").tobytes()


def to_ref_bytes(sk: ReqDoubles) -> bytes:
    """Serialize to the reference serial-v1 layout (ReqSerDe.toByteArray,
    ReqSerDe.java:265-313). Lossless: items are float32 from update on.
    The reference can heapify these images directly."""
    empty = sk.n == 0
    n_levels = len(sk.compactors)
    raw = (not empty) and sk.n <= MIN_K
    estimation = (not empty) and (not raw) and n_levels > 1
    flags = (4 if empty else 0) | (8 if sk.hra else 0) | (16 if raw else 0) \
        | 32  # L0 sorted: this kernel keeps buffers sorted
    head = bytes([
        4 if estimation else 2, _REQ_SERVER, _REQ_FAMILY, flags,
        sk.k & 0xFF, (sk.k >> 8) & 0xFF,
        0 if empty else n_levels,
        sk.n if raw else 0,
    ])
    if empty:
        return head
    if raw:
        return head + sk.compactors[0].buf.astype("<f4").tobytes()
    if not estimation:  # EXACT
        return head + _write_ref_compactor(sk.compactors[0])
    body = [np.array([sk.n], dtype="<i8").tobytes(),
            np.array([sk.min, sk.max], dtype="<f4").tobytes()]
    body += [_write_ref_compactor(c) for c in sk.compactors]
    return head + b"".join(body)
