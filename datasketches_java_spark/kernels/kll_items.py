"""Item-typed KLL quantile sketch (generic total order).

The reference ships per-primitive KLL clones plus a generic-order
variant (kll/KllItemsSketch.java:45, comparator + ArrayOfItemsSerDe;
sorted-view queries quantilescommon/ItemsSketchSortedView.java) so a
user can ask "p99 caption by LEXICOGRAPHIC order" — a query the
doubles kernel cannot express. Here there is ONE KLL engine
(kernels/kll.KllDoubles: level structure, seeded compaction, merge,
sorted views, both query criteria and the reference image codec) and
the item type is a serde: KllItems holds its items in object arrays,
drops None instead of NaN, and encodes them with ArrayOfStringsSerDe
(kernels/serde.STRINGS). Its one serialized form, partials included,
is the reference KllItemsSketch<String> image.

Items are ordered by Python's comparison operator — for str that is
Unicode code-point order, which equals UTF-8 byte order (UTF-8 is
order-preserving), i.e. the same binary collation Spark and DuckDB use
for strings. That shared order is what lets the exact-regime gate query
compare hash-exactly against a SQL oracle.

Error contract: same as the doubles kernel — normalized rank error
2.446/k^0.9433 at 99% confidence (kll/KllHelper.java:295-299); KLL's
analysis is item-type-agnostic (only the comparator matters).
"""

from __future__ import annotations

import numpy as np

from . import serde
from .kll import KllDoubles, _from_ref_bytes_typed, _to_ref_bytes_typed


class KllItems(KllDoubles):
    """Heap KLL sketch over arbitrary totally-ordered Python items
    (strings in the Spark face, and on every wire)."""

    _SERDE = serde.STRINGS
    _NO_ITEM = None

    @staticmethod
    def _empty() -> np.ndarray:
        return np.empty(0, dtype=object)

    @staticmethod
    def _coerce(items) -> np.ndarray:
        """Update items as a level array, None dropped (the reference's
        update(null) no-op)."""
        return serde.object_array([v for v in items if v is not None])

    def get_quantile_frac(self, p: int, q: int):
        """min v with q·cumweight(v) >= p·n — the INCLUSIVE criterion
        (quantilescommon/QuantileSearchCriteria.java:41) in exact
        integer rank math, so exact-regime answers are SQL-oracle-able."""
        it, cum = self._view_with_minmax()
        if len(it) == 0:
            return None
        idx = int(np.searchsorted(q * cum, p * self.n, side="left"))
        return it[min(idx, len(it) - 1)]

    # --- reference wire format (KllItemsSketch<String>) ---

    def to_ref_bytes(self) -> bytes:
        """Serialize in the reference KllItemsSketch wire format (the
        shared KLL writer, kernels/kll._to_ref_bytes_typed, with items
        per ArrayOfStringsSerDe)."""
        return _to_ref_bytes_typed(self, serde.STRINGS)

    @classmethod
    def from_ref_bytes(cls, buf: bytes, seed: int = 9001) -> "KllItems":
        """Heapify a KllItemsSketch<String> image (the segment
        constructor path of kll/KllHeapItemsSketch.java)."""
        return _from_ref_bytes_typed(buf, seed, serde.STRINGS, cls)
