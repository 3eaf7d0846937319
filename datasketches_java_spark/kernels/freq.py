"""Misra-Gries frequent-items sketch (reference F1:
frequencies/FrequentItemsSketch.java, reverse-purge map with
ε = 3.5/M documented at frequencies/FrequentLongsSketch.java:120).

Guarantees: after n updates with map size M, every tracked count is an
underestimate by at most ε·n = 3.5n/M (our simple MG variant: n/M);
merge = add maps then purge (associative up to error bounds).
NO_FALSE_NEGATIVES returns every item that *might* pass the threshold;
NO_FALSE_POSITIVES only items that *must* (frequencies/ErrorType.java).
"""

from __future__ import annotations

from collections import Counter

import numpy as np

NO_FALSE_POSITIVES = "NO_FALSE_POSITIVES"
NO_FALSE_NEGATIVES = "NO_FALSE_NEGATIVES"


def purge_to(items: np.ndarray, counts: np.ndarray, m: int):
    """Reverse-purge: subtract the (len-m)-th smallest count and drop
    the rows it zeroes, leaving at most m (classic Misra-Gries purge).
    Returns (items, counts, decrement)."""
    if len(items) <= m:
        return items, counts, 0
    cut = int(np.partition(counts, len(counts) - m)[len(counts) - m])
    keep = counts > cut
    return items[keep], counts[keep] - cut, cut


class FrequentItems:
    def __init__(self, max_map_size: int):
        self.m = max_map_size
        self.counts: Counter = Counter()
        self.offset = 0  # total decremented per purge
        self.n = 0

    def update(self, item, weight: int = 1) -> "FrequentItems":
        self.n += weight
        self.counts[item] += weight
        if len(self.counts) > self.m:
            self._purge()
        return self

    def update_many(self, items) -> "FrequentItems":
        for it in items:
            self.update(it)
        return self

    def _purge(self) -> None:
        size = len(self.counts)
        items, counts, cut = purge_to(
            np.fromiter(self.counts, object, size),
            np.fromiter(self.counts.values(), np.int64, size), self.m)
        self.offset += cut
        self.counts = Counter(dict(zip(items.tolist(), counts.tolist())))

    def merge(self, other: "FrequentItems") -> "FrequentItems":
        self.n += other.n
        self.offset += other.offset
        for k, v in other.counts.items():
            self.counts[k] += v
        while len(self.counts) > self.m:
            self._purge()
        return self

    def max_error(self) -> int:
        return self.offset

    def estimate(self, item) -> int:
        """Upper-bound estimate (lower bound = estimate - max_error)."""
        return self.counts.get(item, 0) + self.offset

    def frequent_items(self, threshold: int, error_type: str = NO_FALSE_NEGATIVES):
        """Items with (estimated) count >= threshold, per error type
        (frequencies/FrequentItemsSketch.getFrequentItems:385-398)."""
        out = []
        for k, v in self.counts.items():
            ub = v + self.offset
            lb = v
            keep = ub >= threshold if error_type == NO_FALSE_NEGATIVES else lb >= threshold
            if keep:
                out.append((k, lb, ub))
        out.sort(key=lambda t: (-t[2], str(t[0])))
        return out
