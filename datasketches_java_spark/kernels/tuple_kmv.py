"""Tuple sketch — a Theta/KMV sample whose retained hashes carry
user summaries (reference tuple/TupleSketch.java:37-267, Summary
contract tuple/Summary.java:25-44, double-array specialization
tuple/arrayofdoubles/ArrayOfDoublesSketch.java:36-211).

State is two parallel arrays: sorted distinct hashes (the KMV bottom-k
sample, same theta rule as kernels/kmv.py) and a float64[n, d] summary
matrix. Combiner semantics mirror the reference's Summary ops:

 - update: an incoming (hash, row-summary) either inserts or COMBINES
   into the existing entry (SummarySetOperations.union — here
   vectorized segment-reduction with a pluggable combiner: 'sum',
   'min', 'max')
 - union: theta = min(thetas), combine summaries of shared hashes,
   keep bottom-k (tuple/TupleUnion.java semantics)
 - intersect: keep hashes present in both, combining summaries
   (tuple/TupleIntersection.java)
 - estimates: distinct count as in Theta (T2); summary-column totals
   scale retained sums by 1/theta_fraction — the unbiased
   Horvitz-Thompson estimator the reference exposes via
   ArrayOfDoublesSketch.getEstimate-style accessors.

Exact regime (distinct <= k, theta = max): retained sums ARE the true
per-distinct-key aggregates, which is what the oracle-checked gate
query pins; estimation-regime unbiasedness is pytest-checked.
"""

from __future__ import annotations

import numpy as np

from . import tuple_compat as tc
from .mmh3 import compute_seed_hash

_MAX63 = np.int64(2**62 - 1 + 2**62)  # int64 max as "no threshold"


def _combine(a: np.ndarray, b: np.ndarray, op: str) -> np.ndarray:
    if op == "sum":
        return a + b
    if op == "min":
        return np.minimum(a, b)
    if op == "max":
        return np.maximum(a, b)
    raise ValueError(f"unknown combiner {op}")


def _segment_reduce(hashes: np.ndarray, summaries: np.ndarray, op: str):
    """Collapse duplicate hashes, combining their summary rows."""
    order = np.argsort(hashes, kind="stable")
    h = hashes[order]
    s = summaries[order]
    if len(h) == 0:
        return h, s
    first = np.ones(len(h), dtype=bool)
    first[1:] = h[1:] != h[:-1]
    idx = np.cumsum(first) - 1  # segment id per row
    n_seg = int(idx[-1]) + 1
    if op == "sum":
        out = np.zeros((n_seg, s.shape[1]))
        np.add.at(out, idx, s)
    else:
        fill = np.inf if op == "min" else -np.inf
        out = np.full((n_seg, s.shape[1]), fill)
        ufunc = np.minimum if op == "min" else np.maximum
        ufunc.at(out, idx, s)
    return h[first], out


class TupleKmv:
    """Immutable-ish tuple sketch value (arrays are owned)."""

    def __init__(self, hashes: np.ndarray, summaries: np.ndarray,
                 k: int, theta: np.int64 = _MAX63, d: int | None = None):
        self.hashes = np.asarray(hashes, dtype=np.int64)
        self.summaries = np.asarray(summaries, dtype=np.float64).reshape(
            len(self.hashes), -1 if d is None else d
        )
        self.k = k
        self.theta = np.int64(theta)
        # reference empty rule marker (tuple/Filter.java:70): set by
        # filter() when nothing survives a NON-estimating source;
        # False on every other construction path. Not in the image:
        # a round trip re-derives emptiness from (retained, theta).
        self.filtered_empty = False

    @property
    def d(self) -> int:
        return self.summaries.shape[1]

    @classmethod
    def from_stream(cls, hashes: np.ndarray, summaries: np.ndarray,
                    k: int, combiner: str = "sum") -> "TupleKmv":
        """Build from a raw (hash, summary-row) stream: combine
        duplicates, then bottom-k with theta = (k+1)-th smallest."""
        h = np.asarray(hashes, dtype=np.int64)
        s = np.asarray(summaries, dtype=np.float64)
        if s.ndim == 1:
            s = s[:, None]
        h, s = _segment_reduce(h, s, combiner)
        if len(h) <= k:
            return cls(h, s, k)
        theta = h[k]  # arrays sorted by hash after reduce
        return cls(h[:k], s[:k], k, theta)

    def union(self, other: "TupleKmv", combiner: str = "sum") -> "TupleKmv":
        """Theta rule: theta = min; combine shared-hash summaries;
        re-trim to k (tuple/TupleUnion.java)."""
        theta = min(self.theta, other.theta)
        h = np.concatenate([self.hashes, other.hashes])
        s = np.vstack([self.summaries, other.summaries])
        keep = h < theta
        h, s = _segment_reduce(h[keep], s[keep], combiner)
        k = min(self.k, other.k)
        if len(h) > k:
            theta = min(theta, h[k])
            h, s = h[:k], s[:k]
        return TupleKmv(h, s, k, theta)

    def intersect(self, other: "TupleKmv", combiner: str = "sum") -> "TupleKmv":
        theta = min(self.theta, other.theta)
        ia = np.isin(self.hashes, other.hashes) & (self.hashes < theta)
        h = self.hashes[ia]
        pos = np.searchsorted(other.hashes, h)
        s = _combine(self.summaries[ia], other.summaries[pos], combiner)
        return TupleKmv(h, s, min(self.k, other.k), theta)

    def a_not_b(self, other: "TupleKmv") -> "TupleKmv":
        """Tuple A-not-B (tuple/TupleAnotB.java:126-170 semantics, the
        same theta rule kernels/kmv.py:a_not_b applies): theta =
        min(thetaA, thetaB); keep A's entries below theta that are not
        retained in B, carrying A's summaries unchanged."""
        theta = min(self.theta, other.theta)
        keep = (self.hashes < theta) & ~np.isin(self.hashes, other.hashes)
        return TupleKmv(
            self.hashes[keep], self.summaries[keep], self.k, theta,
            d=self.d)

    def filter(self, mask: np.ndarray) -> "TupleKmv":
        """tuple/Filter.java:51-74 — keep the retained entries whose
        summary passes the predicate (`mask` = vectorized predicate
        over the summary rows), theta UNCHANGED; the survivors remain
        an unbiased theta sample of the passing subpopulation, so
        distinct_estimate()/summary_totals() estimate that
        subpopulation directly (the reference's empty rule: a filtered
        sketch is empty only when nothing survives AND the source was
        not in estimation mode — an estimating sketch that filters to
        zero is 'no survivors seen', not 'provably empty')."""
        mask = np.asarray(mask, dtype=bool)
        out = TupleKmv(
            self.hashes[mask], self.summaries[mask], self.k, self.theta,
            d=self.d)
        out.filtered_empty = bool(not mask.any()) and self.theta == _MAX63
        return out

    # --- estimates -------------------------------------------------

    def _theta_frac(self) -> float:
        return float(self.theta) / float(_MAX63)

    def distinct_estimate(self) -> float:
        return len(self.hashes) / self._theta_frac()

    def summary_totals(self) -> np.ndarray:
        """Unbiased estimate of the per-column summary total over ALL
        distinct keys (retained sums / theta fraction) — only
        meaningful for the 'sum' combiner."""
        return self.summaries.sum(axis=0) / self._theta_frac()

    # --- the reference image (the partial and final exchange format) --

    def to_ref_bytes(self, seed: int = 9001) -> bytes:
        """The ArrayOfDoublesCompactSketch image
        (tuple_compat.aod_to_ref_bytes). It carries the hashes, the
        summaries and theta, not k: the reader passes it back."""
        return tc.aod_to_ref_bytes(tc.ArrayOfDoublesSketchImage(
            self.hashes, self.summaries, int(self.theta),
            empty=len(self.hashes) == 0 and self.theta == _MAX63,
            seed_hash=compute_seed_hash(seed)))

    @classmethod
    def from_ref_bytes(cls, buf: bytes, k: int, seed: int = 9001) -> "TupleKmv":
        img = tc.aod_from_ref_bytes(buf, check_seed_hash=compute_seed_hash(seed))
        return cls(img.hashes, img.values, k, img.theta_long, d=img.values.shape[1])
