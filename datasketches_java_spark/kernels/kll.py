"""Minimal KLL quantile sketch (doubles) for audit distributions.

Semantics follow the reference (kll/KllDoublesSketch.java:323-393,
compaction kll/KllDoublesHelper.java:58-108, merge :134-196): a
level-0 item buffer; when capacity overflows, the lowest over-capacity
level is sorted and randomly halved (keep odd or even positions) into
the level above, so an item at level h carries weight 2^h; an
odd-length level keeps one item in place, so the retained weight is n.
Level capacities decay geometrically (c = 2/3, floor 8), giving the published
normalized rank error 2.446/k^0.9433 at 99% confidence
(kll/KllHelper.java:65-68,295-299; default k=200 kll/KllSketch.java:97).

One deliberate divergence (SURVEY.md §4 "deterministic randomness"):
the reference draws the halving coin from a process-global Random
(kll/KllDoublesHelper.java:86-88); Spark task retries must be
idempotent, so our coin is a seeded hash of (n, level, level length) —
state the reference image carries, so a heapified sketch flips the
coins the live one would.

This is the package's one KLL engine; the item type is a serde
(kernels/serde.py). kernels/kll_items.KllItems runs the same engine over
object arrays, and one reference reader/writer serves the doubles,
floats, longs and strings images. The reference image is the only
serialized form: partials cross the shuffle as KllDoublesSketch /
KllItemsSketch bytes that datasketches-java heapifies.
"""

from __future__ import annotations

import numpy as np

from . import serde
from .hashing import coin
from .quantile_search import quantile_from_view, rank_from_view, view_with_minmax

DEFAULT_K = 200  # kll/KllSketch.java:97
_M = 8  # minimum level capacity (KllSketch.java DEFAULT_M)
_MAX_K = 0xFFFF  # the image's k is a u16


def _ref_level_capacity(k: int, num_levels: int, level: int, m: int = _M) -> int:
    """KllHelper.levelCapacity / intCapAux(Aux) (KllHelper.java:315-321,
    751-771): cap(level) = max(m, round(k·(2/3)^depth)) computed in the
    reference's exact integer arithmetic, so the engine compacts to the
    capacities the reference layout holds and level boundaries match
    its serialized images bit-for-bit."""
    depth = num_levels - level - 1
    pow3 = 3 ** depth
    tmp = ((2 * k) << depth) // pow3
    return max(m, (tmp + 1) >> 1)


def rank_error(k: int, pmf: bool = True) -> float:
    """Normalized rank error at 99% confidence (kll/KllHelper.java:295-299)."""
    return 2.446 / k**0.9433 if pmf else 2.296 / k**0.9723


class KllDoubles:
    """Heap KLL sketch over float64 items. The engine is item-type
    agnostic: a subclass overrides only the empty level array, the item
    coercion and the item serde (kernels/kll_items.KllItems)."""

    _SERDE = serde.DOUBLES
    _NO_ITEM = float("nan")  # quantile of an empty sketch

    @staticmethod
    def _empty() -> np.ndarray:
        return np.empty(0, np.float64)

    @staticmethod
    def _coerce(values) -> np.ndarray:
        """Update items as a level array, NaN dropped."""
        values = np.asarray(values, dtype=np.float64)
        return values[~np.isnan(values)]

    def __init__(self, k: int = DEFAULT_K, seed: int = 9001):
        if not _M <= k <= _MAX_K:
            raise ValueError(f"KLL k must be in [{_M}, {_MAX_K}], got {k}")
        self.k = k
        self.seed = seed
        self.levels: list[np.ndarray] = [self._empty()]
        self.n = 0
        # exact stream extremes, tracked through compaction like the
        # reference's minItem/maxItem fields (KllDoublesSketch), so
        # rank-0/rank-1 queries return the true extremes even after
        # compaction dropped them from the retained set
        self._ref_min = None
        self._ref_max = None
        # LEVEL_ZERO_SORTED of a parsed reference image (None: our build)
        self._ref_l0_sorted: bool | None = None

    def _cap(self, level: int) -> int:
        return _ref_level_capacity(self.k, len(self.levels), level)

    def _total_cap(self) -> int:
        return sum(self._cap(h) for h in range(len(self.levels)))

    def _widen(self, lo, hi) -> None:
        if lo is not None and (self._ref_min is None or lo < self._ref_min):
            self._ref_min = lo
        if hi is not None and (self._ref_max is None or hi > self._ref_max):
            self._ref_max = hi

    def update_many(self, values) -> "KllDoubles":
        values = self._coerce(values)
        if len(values) == 0:
            return self
        self.levels[0] = np.concatenate([self.levels[0], values])
        self.n += len(values)
        self._ref_l0_sorted = None  # level 0 is ours now: sort it on write
        # .tolist() hands back Python floats / the items themselves
        self._widen(*np.array([values.min(), values.max()], values.dtype).tolist())
        self._compress()
        return self

    def update(self, v) -> "KllDoubles":
        return self.update_many([v])

    def _num_items(self) -> int:
        return sum(len(lv) for lv in self.levels)

    def _compress(self) -> None:
        while self._num_items() > self._total_cap():
            # find lowest level over its capacity (findLevelToCompact analog)
            target = None
            for h in range(len(self.levels)):
                if len(self.levels[h]) > self._cap(h):
                    target = h
                    break
            if target is None:
                target = 0
            buf = np.sort(self.levels[target])
            start = int(coin(self.seed, self.n, target, len(buf)))
            # an odd-length level keeps its smallest item in place, as
            # KllDoublesHelper keeps the level's first: weight stays n
            odd = len(buf) % 2
            promoted = buf[odd + start::2]
            self.levels[target] = buf[:odd]
            if target + 1 >= len(self.levels):
                self.levels.append(self._empty())
            self.levels[target + 1] = np.concatenate(
                [self.levels[target + 1], promoted]
            )

    def merge(self, other: "KllDoubles") -> "KllDoubles":
        """Merge level-wise then re-compact (kll/KllDoublesHelper.java:134-196)."""
        for h, items in enumerate(other.levels):
            while h >= len(self.levels):
                self.levels.append(self._empty())
            self.levels[h] = np.concatenate([self.levels[h], items])
        self.n += other.n
        self._ref_l0_sorted = None
        self._widen(other._ref_min, other._ref_max)
        self._compress()
        return self

    # --- queries (weight-sorted view, DoublesSketchSortedView.java:99-118;
    # ItemsSketchSortedView.java:120-151 for items) ---

    def _sorted_view(self) -> tuple[np.ndarray, np.ndarray]:
        items, weights = [], []
        for h, lv in enumerate(self.levels):
            if len(lv):
                items.append(lv)
                weights.append(np.full(len(lv), 2**h, dtype=np.int64))
        if not items:
            return self._empty(), np.empty(0, np.int64)
        it = np.concatenate(items)
        wt = np.concatenate(weights)
        order = np.argsort(it, kind="stable")
        return it[order], wt[order]

    def _view_with_minmax(self) -> tuple[np.ndarray, np.ndarray]:
        return view_with_minmax(*self._sorted_view(), self._ref_min, self._ref_max)

    def get_quantile(self, rank: float, inclusive: bool = True):
        """Both reference criteria (QuantileSearchCriteria.java:41,59)
        via the shared sorted-view search (kernels/quantile_search.py)."""
        it, cum = self._view_with_minmax()
        if len(it) == 0:
            return self._NO_ITEM
        q = quantile_from_view(it, cum, self.n, rank, inclusive)
        return q.item() if isinstance(q, np.generic) else q

    def get_rank(self, value, inclusive: bool = True) -> float:
        it, cum = self._view_with_minmax()
        if len(it) == 0:
            return float("nan")
        return rank_from_view(it, cum, self.n, value, inclusive)

    def get_cdf(self, split_points, inclusive: bool = True) -> np.ndarray:
        return np.array(
            [self.get_rank(v, inclusive) for v in split_points] + [1.0]
        )

    def get_pmf(self, split_points, inclusive: bool = True) -> np.ndarray:
        cdf = self.get_cdf(split_points, inclusive)
        return np.diff(np.concatenate([[0.0], cdf]))


# --- reference-format interop (reads the reference library's own bytes)

_FAMILY_KLL = 15  # common/Family.java:135


def _from_ref_bytes_typed(buf: bytes, seed: int, item_serde,
                          cls: type = KllDoubles) -> KllDoubles:
    """Shared reader for every KLL image type (doubles, floats, longs,
    items). The KLL preamble does NOT self-describe its item type (the
    reference also dispatches by caller: KllDoublesSketch.heapify vs
    KllFloatsSketch / KllLongsSketch / KllItemsSketch.heapify), so the
    caller picks the serde; only the item encoding differs between
    layouts (structure table kll/KllPreambleUtil.java:124-134)."""
    if len(buf) < 8:
        raise ValueError("KLL image too short")
    pre_ints, ser_ver, fam, flags = buf[0], buf[1], buf[2], buf[3]
    if fam != _FAMILY_KLL:
        raise ValueError(f"not a KLL image (family {fam})")
    k = int(np.frombuffer(buf[4:6], dtype="<u2")[0])
    m = buf[6]
    sk = cls(k=k, seed=seed)
    if pre_ints == 2:  # COMPACT_EMPTY or COMPACT_SINGLE
        if flags & 1:  # EMPTY_BIT_MASK
            return sk
        item, _ = item_serde.from_bytes(buf, 8, 1)
        sk.levels = [item]
        sk.n = 1
        sk._ref_min = sk._ref_max = item.tolist()[0]
        return sk
    if pre_ints != 5:
        raise ValueError(f"bad KLL preamble ints {pre_ints} (serVer {ser_ver})")
    n = int(np.frombuffer(buf[8:16], dtype="<i8")[0])
    num_levels = buf[18]
    off = 20
    lev = np.frombuffer(buf[off:off + 4 * num_levels], dtype="<i4").tolist()
    off += 4 * num_levels
    cap = sum(_ref_level_capacity(k, num_levels, h, m) for h in range(num_levels))
    lev_full = lev + [cap]
    # exact min/max are carried by the image, not derivable from the
    # retained items once compaction dropped the extremes
    ext, off = item_serde.from_bytes(buf, off, 2)
    items, _ = item_serde.from_bytes(buf, off, cap - lev_full[0])
    # items are stored packed from lev_full[0]; split into per-level arrays
    sk.levels = [
        items[lev_full[h] - lev_full[0]: lev_full[h + 1] - lev_full[0]].copy()
        for h in range(num_levels)
    ]
    sk.n = n
    sk._ref_min, sk._ref_max = ext.tolist()
    # remember the image's LEVEL_ZERO_SORTED flag: the write side
    # preserves level-0 order and this flag so a parse->serialize round
    # trip reproduces the source bytes exactly
    sk._ref_l0_sorted = bool(flags & 2)
    return sk


def _to_ref_bytes_typed(sk: KllDoubles, item_serde) -> bytes:
    """Shared writer for every KLL image type (the reference dispatches
    serialization by sketch class exactly as it dispatches heapify;
    only the item encoding differs between layouts — KllHelper.java:
    435-501 toByteArray): COMPACT_EMPTY, COMPACT_SINGLE (serVer=2) or
    COMPACT_FULL (serVer=1, 20-byte preamble + shortened levels
    int[numLevels] + min + max + packed items). The full levels
    boundaries are reconstructed the way the reference reader does —
    levels[numLevels] = its computeTotalItemCapacity(k, m, numLevels) —
    so heapify() splits our per-level item counts back exactly. Levels
    above 0 are written sorted, as the reference keeps them (its sorted
    view merges them as sorted runs). min/max are the tracked stream
    extremes (a parsed image carries its own), else the retained
    extremes."""
    if not 0 < sk.k <= _MAX_K:
        raise ValueError(f"k={sk.k} does not fit the KLL image's u16 field")
    k16 = np.array([sk.k], dtype="<u2").tobytes()
    retained = np.concatenate(sk.levels)
    if sk.n == 0:
        #         preInts serVer famID flags(EMPTY)
        return bytes([2, 1, _FAMILY_KLL, 1]) + k16 + bytes([_M, 0])
    if sk.n == 1:
        return (
            bytes([2, 2, _FAMILY_KLL, 4]) + k16 + bytes([_M, 0])  # SINGLE_ITEM
            + item_serde.to_bytes(retained[:1])
        )
    num_levels = len(sk.levels)
    cap = sum(_ref_level_capacity(sk.k, num_levels, h) for h in range(num_levels))
    counts = [len(lv) for lv in sk.levels]
    # boundaries from the top down: levels[numLevels] = cap
    bounds = np.empty(num_levels + 1, dtype=np.int64)
    bounds[num_levels] = cap
    for h in range(num_levels - 1, -1, -1):
        bounds[h] = bounds[h + 1] - counts[h]
    if bounds[0] < 0:
        raise ValueError(
            "retained items exceed the reference layout's capacity for "
            f"k={sk.k}, numLevels={num_levels} — compact the sketch first"
        )
    if sk._ref_l0_sorted is None:  # our own build: sort level 0, set the flag
        lvl0, flags = np.sort(sk.levels[0]), 2
    else:  # parsed image: keep its order and flag for byte identity
        lvl0, flags = sk.levels[0], 2 * sk._ref_l0_sorted
    mn = retained.min() if sk._ref_min is None else sk._ref_min
    mx = retained.max() if sk._ref_max is None else sk._ref_max
    return (
        bytes([5, 1, _FAMILY_KLL, flags]) + k16 + bytes([_M, 0])  # flags: LEVEL_ZERO_SORTED
        + np.array([sk.n], dtype="<i8").tobytes()
        + np.array([sk.k], dtype="<u2").tobytes()             # min_k
        + bytes([num_levels, 0])
        + bounds[:num_levels].astype("<i4").tobytes()
        + item_serde.to_bytes([mn, mx])
        + item_serde.to_bytes(np.concatenate(
            [lvl0] + [np.sort(lv) for lv in sk.levels[1:]]))
    )


_FLOATS = serde.Fixed("<f4", "<f8")  # float32 images into float64 state
_LONGS = serde.Fixed("<i8", "<f8")   # int64 images, exact up to 2^53


def from_ref_bytes(buf: bytes, seed: int = 9001) -> KllDoubles:
    """Parse a KllDoublesSketch image serialized by the reference
    library / C++ port (kll/KllPreambleUtil.java layout, native little-
    endian): COMPACT_EMPTY and COMPACT_SINGLE (8-byte preamble +
    optional item) and COMPACT_FULL (20-byte preamble, shortened
    levels int[numLevels], min, max, packed retained items; the top
    boundary is reconstructed as computeTotalItemCapacity(k, m,
    numLevels) exactly as KllHeapDoublesSketch's segment constructor
    does at :129-140). Validated in tests/test_ref_goldens.py against
    the in-tree goldens and live against datasketches-java."""
    return _from_ref_bytes_typed(buf, seed, serde.DOUBLES)


def from_ref_bytes_floats(buf: bytes, seed: int = 9001) -> KllDoubles:
    """Parse a KllFloatsSketch image (kll/KllFloatsSketch.java, same
    preamble, float32 items) into a KllDoubles — lossless, since every
    float32 casts exactly to float64."""
    return _from_ref_bytes_typed(buf, seed, _FLOATS)


def from_ref_bytes_longs(buf: bytes, seed: int = 9001) -> KllDoubles:
    """Parse a KllLongsSketch image (kll/KllLongsSketch.java, same
    preamble, int64 items) into a KllDoubles. Raises if any item or
    extreme exceeds 2^53 in magnitude (the float64-exact integer
    range) rather than silently losing precision."""
    return _from_ref_bytes_typed(buf, seed, _LONGS)


def to_ref_bytes(sk: KllDoubles) -> bytes:
    """Serialize in the reference library's KllDoublesSketch wire
    format; round-trip tested in tests/test_ref_goldens.py and live in
    tests/test_live_jvm_interop.py."""
    return _to_ref_bytes_typed(sk, serde.DOUBLES)


def to_ref_bytes_floats(sk: KllDoubles) -> bytes:
    """Serialize as a KllFloatsSketch image (same preamble, float32
    items — kll/KllFloatsSketch.java). Raises if any retained item or
    extreme does not cast to float32 and back exactly (the writer
    never silently loses precision; a state parsed by
    from_ref_bytes_floats always qualifies)."""
    return _to_ref_bytes_typed(sk, _FLOATS)


def to_ref_bytes_longs(sk: KllDoubles) -> bytes:
    """Serialize as a KllLongsSketch image (same preamble, int64 items
    — kll/KllLongsSketch.java). Raises if any retained item or extreme
    is non-integral or exceeds 2^53 in magnitude (the float64-exact
    integer range; a state parsed by from_ref_bytes_longs always
    qualifies)."""
    return _to_ref_bytes_typed(sk, _LONGS)
