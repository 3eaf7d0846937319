"""KMV / Theta-style bottom-k signatures.

The reference's Theta sketch retains the k smallest 63-bit hashes below
a threshold θ (update kernel: theta/HeapQuickSelectSketch.java:233-261,
rebuild via quickselect :294-306; estimate `count·2^63/θ`:
theta/ThetaSketch.java:621-623). A compact ordered Theta sketch IS a
bottom-k MinHash signature, and the reference's JaccardSimilarity
(theta/JaccardSimilarity.java:57-98) composes union∘intersect over such
signatures exactly as `jaccard_bounds_flat` below. The union mirrors
ThetaUnionImpl.java:272-303 (θ_out = min θ, keep hashes < θ).

These are the pipeline's signatures: bottom-k over 31-bit shingle
hashes. Raw-item distinct counts use the reference theta image and
Spark's theta functions instead (functions/sketch_udfs.py).

Signatures are sorted non-negative int64 arrays (63-bit hash space), so
Spark LongType round-trips preserve order. An empty array is the empty
sketch (the union identity — the mergeability property that makes
tree-reduction over partitions correct, SURVEY.md §1.1).
"""

from __future__ import annotations

import numpy as np

THETA_MAX = np.int64(0x7FFFFFFFFFFFFFFF)  # 2^63 - 1 ≈ "θ = 1.0"
_TWO63 = float(2**63)


def bottom_k_batch(
    hashes: np.ndarray, rows: np.ndarray, n_rows: int, k: int,
    return_counts: bool = False,
):
    """Per-row sorted bottom-k of deduped hashes, vectorized across the batch.

    Replaces the reference's amortized quickselect rebuild
    (theta/HeapQuickSelectSketch.java:294-306) with one lexsort per
    Arrow batch (vectorization substitutes for amortization, SURVEY §4).

    With return_counts=True also returns int32[n_rows] exact distinct
    hash counts per row (free — the dedupe pass computes them anyway).
    """
    counts = np.zeros(n_rows, dtype=np.int32)
    hashes = np.asarray(hashes)
    dt = hashes.dtype if len(hashes) else np.int64
    if len(hashes) == 0:
        out0 = [np.empty(0, dt)] * n_rows
        return (out0, counts) if return_counts else out0
    if dt == np.int32 and n_rows < (1 << 32):
        # 31-bit narrow lane: one composite direct sort — (row << 31)|h
        # fits int64 — replaces lexsort's two indirect argsort passes
        comp = (
            np.asarray(rows, dtype=np.uint64) << np.uint64(31)
        ) | hashes.astype(np.uint64)
        comp.sort()
        h = (comp & np.uint64(0x7FFFFFFF)).astype(np.int32)
        r = (comp >> np.uint64(31)).astype(np.int64)
        keep = np.ones(len(h), dtype=bool)
        keep[1:] = comp[1:] != comp[:-1]
    else:
        order = np.lexsort((hashes, rows))
        h, r = hashes[order], rows[order]
        # drop duplicate (row, hash) pairs
        keep = np.ones(len(h), dtype=bool)
        keep[1:] = (h[1:] != h[:-1]) | (r[1:] != r[:-1])
    h, r = h[keep], r[keep]
    # rank within row
    row_start = np.ones(len(r), dtype=bool)
    row_start[1:] = r[1:] != r[:-1]
    start_idx = np.nonzero(row_start)[0]
    seg_len = np.diff(np.append(start_idx, len(r)))
    if return_counts and len(r):
        counts[r[start_idx]] = seg_len.astype(np.int32)
    rank = np.arange(len(r)) - np.repeat(start_idx, seg_len)
    sel = rank < k
    h, r = h[sel], r[sel]
    out: list[np.ndarray] = [np.empty(0, dt)] * n_rows
    if len(r):
        bounds = np.nonzero(np.diff(r))[0] + 1
        # np.split yields views into h — no per-row copies
        pieces = np.split(h, bounds)
        for row_id, piece in zip(r[np.append(0, bounds).astype(np.int64)], pieces):
            out[int(row_id)] = piece
    return (out, counts) if return_counts else out


def bottom_k_flat(
    hashes: np.ndarray, rows: np.ndarray, n_rows: int, k: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Flat-form twin of bottom_k_batch for the signature stage:
    returns (flat_values, lens int64[n_rows], counts int32[n_rows])
    where flat_values holds every row's sorted bottom-k back to back —
    the exact byte stream the wire format needs, with no per-row
    array objects built and re-concatenated in between."""
    counts = np.zeros(n_rows, dtype=np.int32)
    lens = np.zeros(n_rows, dtype=np.int64)
    hashes = np.asarray(hashes)
    dt = hashes.dtype if len(hashes) else np.int64
    if len(hashes) == 0:
        return np.empty(0, dt), lens, counts
    if dt == np.int32 and n_rows < (1 << 32):
        comp = (
            np.asarray(rows, dtype=np.uint64) << np.uint64(31)
        ) | hashes.astype(np.uint64)
        comp.sort()
        keep = np.ones(len(comp), dtype=bool)
        keep[1:] = comp[1:] != comp[:-1]
        comp = comp[keep]
        h = (comp & np.uint64(0x7FFFFFFF)).astype(np.int32)
        r = (comp >> np.uint64(31)).astype(np.int64)
    else:
        order = np.lexsort((hashes, rows))
        h, r = hashes[order], np.asarray(rows, dtype=np.int64)[order]
        keep = np.ones(len(h), dtype=bool)
        keep[1:] = (h[1:] != h[:-1]) | (r[1:] != r[:-1])
        h, r = h[keep], r[keep]
    row_start = np.ones(len(r), dtype=bool)
    row_start[1:] = r[1:] != r[:-1]
    start_idx = np.nonzero(row_start)[0]
    seg_len = np.diff(np.append(start_idx, len(r)))
    counts[r[start_idx]] = seg_len.astype(np.int32)
    rank = np.arange(len(r)) - np.repeat(start_idx, seg_len)
    sel = rank < k
    h, r = h[sel], r[sel]
    if len(r):
        row_start2 = np.ones(len(r), dtype=bool)
        row_start2[1:] = r[1:] != r[:-1]
        s2 = np.nonzero(row_start2)[0]
        l2 = np.diff(np.append(s2, len(r)))
        lens[r[s2]] = l2
    return h, lens, counts


def theta_of(sig: np.ndarray, k: int) -> np.int64:
    """θ of a bottom-k signature: k-th smallest if saturated, else 2^63."""
    if len(sig) >= k:
        return np.int64(sig[k - 1])
    return THETA_MAX


def union_many(sigs: list[np.ndarray], k: int) -> np.ndarray:
    """n-way union (associative & commutative — merge-order invariant)."""
    if not sigs:
        return np.empty(0, np.int64)
    th = min(theta_of(s, k) for s in sigs)
    merged = np.unique(np.concatenate(sigs))
    merged = merged[merged <= th]
    return merged[:k]


def estimate(sig: np.ndarray, k: int, hash_space: float = _TWO63) -> float:
    """Distinct-count estimate: retained·2^63/θ (ThetaSketch.java:621-623).

    Exact (== retained count) while the sketch is unsaturated.
    hash_space is the size of the uniform hash range — 2^63 for full
    int64 signatures, 2^31 for the pipeline's truncated int32 wire
    format (top-32-bit truncation keeps values uniform on [0, 2^31)).
    """
    if len(sig) < k:
        return float(len(sig))
    theta = float(sig[k - 1])
    # k-1 retained strictly below θ → unbiased KMV estimator
    return (k - 1) * hash_space / theta


def estimate_bounds(
    sig: np.ndarray, k: int, num_std_dev: int = 2, hash_space: float = _TWO63
) -> tuple[float, float, float]:
    """(lb, est, ub) — the reference's binomial bounds
    (thetacommon/BinomialBoundsN.java:234-257, exact transcription in
    kernels/bounds.py, bit-equal live vs the Java library) at
    numSamples = k-1 retained strictly below θ. Exact regime returns
    (n, n, n), matching BinomialBoundsN at theta = 1. Like the
    reference, num_std_dev must be 1, 2, or 3 in the estimating
    regime (BinomialBoundsN.checkArgs raises otherwise)."""
    from .bounds import ref_binomial_lower_bound, ref_binomial_upper_bound

    est = estimate(sig, k, hash_space)
    if len(sig) < k:
        return est, est, est
    theta = float(sig[k - 1]) / hash_space
    lb = ref_binomial_lower_bound(k - 1, theta, num_std_dev)
    ub = ref_binomial_upper_bound(k - 1, theta, num_std_dev)
    return lb, est, ub


def jaccard_bounds_flat_chunked(
    vals_a: np.ndarray, la: np.ndarray,
    vals_b: np.ndarray, lb_: np.ndarray,
    k: int, num_std_dev: float = 2.0,
    target_vals: int = 1 << 16,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """jaccard_bounds_flat evaluated in cache-resident slices of pairs.

    The flat kernel is ~25 full-width vectorized passes; on a 64k-pair
    Arrow batch every intermediate is ~260 MB, so each pass streams
    DRAM and the verify stage becomes memory-bus-bound — the one
    resource concurrent workers share (measured: the multi-core leg's
    verify scaled 2.3x on 4 cores). Slicing the batch so each call
    touches ~`target_vals` values keeps all intermediates in L2/L3:
    3.5-3.9x faster single-core on representative batches and far
    less bus pressure under concurrency. Every operation in the flat
    kernel is per-pair-local, so the outputs are BIT-IDENTICAL
    (asserted in tests/test_kernels_kmv_chunked.py and by the probe
    that motivated this)."""
    n = len(la)
    if n == 0:
        return jaccard_bounds_flat(vals_a, la, vals_b, lb_, k, num_std_dev)
    ends_a = np.cumsum(la)
    ends_b = np.cumsum(lb_)
    total = int(ends_a[-1] + ends_b[-1])
    if total <= 2 * target_vals:
        return jaccard_bounds_flat(vals_a, la, vals_b, lb_, k, num_std_dev)
    avg = max(1.0, total / n)
    step = max(16, int(2 * target_vals / avg))
    outs = []
    for p0 in range(0, n, step):
        p1 = min(p0 + step, n)
        a0 = int(ends_a[p0 - 1]) if p0 else 0
        b0 = int(ends_b[p0 - 1]) if p0 else 0
        outs.append(jaccard_bounds_flat(
            vals_a[a0:int(ends_a[p1 - 1])], la[p0:p1],
            vals_b[b0:int(ends_b[p1 - 1])], lb_[p0:p1],
            k, num_std_dev,
        ))
    return tuple(
        np.concatenate([o[i] for o in outs]) for i in range(3)
    )


def jaccard_bounds_flat(
    vals_a: np.ndarray, la: np.ndarray,
    vals_b: np.ndarray, lb_: np.ndarray,
    k: int, num_std_dev: float = 2.0,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(lb, est, ub) arrays for N signature pairs, one vectorized pass.

    Form the union sample at the common θ (JaccardSimilarity.jaccard),
    then bound the fraction of it present in both sets by the normal
    approximation of a binomial proportion (the reference's B-over-A
    ratio bounds, thetacommon/BoundsOnRatiosInThetaSketchedSets.java
    :59-101). All pairs in a batch are flattened into one lexsort —
    the hot path of the pipeline's verification batches. Signatures
    arrive as two back-to-back value arrays + per-pair lengths (exactly
    the layout of an Arrow binary column), so the Arrow verify path
    feeds buffers in with zero per-row Python. Pair membership of a
    value is positional; a/b interleaving is irrelevant because
    everything downstream keys on (pair, value)."""
    n = len(la)
    if n == 0:
        z = np.empty(0, np.float64)
        return z, z.copy(), z.copy()
    def _theta_side(vals_s: np.ndarray, lens_s: np.ndarray) -> np.ndarray:
        # θ = k-th smallest of a saturated signature (value at offset
        # start+k-1), else THETA_MAX; the gather index is clipped so the
        # unsaturated branch never reads out of range
        if len(vals_s) == 0:
            return np.full(n, THETA_MAX, dtype=np.int64)
        starts = np.cumsum(lens_s) - lens_s
        idx = np.minimum(starts + k - 1, len(vals_s) - 1)
        return np.where(
            lens_s >= k, vals_s[idx].astype(np.int64), THETA_MAX
        )

    theta = np.minimum(_theta_side(vals_a, la), _theta_side(vals_b, lb_))

    # dtype-preserving: int32 truncated signatures (the pipeline's wire
    # format, operators/signatures.py) stay int32 through concat/sort —
    # halves the memory traffic of the verification hot path
    vals = np.concatenate([vals_a, vals_b]) if len(vals_a) or len(vals_b) \
        else np.empty(0, np.int64)
    if vals.dtype != np.int64:
        # clip the "no threshold" sentinel into the value dtype; all
        # retained values fit by construction so semantics are unchanged
        theta = np.minimum(theta, np.iinfo(vals.dtype).max).astype(vals.dtype)
    pair_idx = np.concatenate([
        np.repeat(np.arange(n, dtype=np.int64), la),
        np.repeat(np.arange(n, dtype=np.int64), lb_),
    ])

    keep = vals <= theta[pair_idx]
    vals, pair_idx = vals[keep], pair_idx[keep]
    if (
        vals.dtype == np.int32 and n < (1 << 32)
        and (len(vals) == 0 or int(vals.min()) >= 0)
    ):
        # composite single-key sort ((pair << 31) | value): one direct
        # np.sort instead of lexsort's two indirect argsort passes —
        # the hottest sort of the verify stage
        comp = (
            pair_idx.astype(np.uint64) << np.uint64(31)
        ) | vals.astype(np.uint64)
        comp.sort()
        v = (comp & np.uint64(0x7FFFFFFF)).astype(np.int32)
        p = (comp >> np.uint64(31)).astype(np.int64)
    else:
        order = np.lexsort((vals, pair_idx))
        v, p = vals[order], pair_idx[order]

    # a value appearing twice within a pair is in both signatures
    dup_next = np.zeros(len(v), dtype=bool)
    if len(v) > 1:
        dup_next[:-1] = (v[1:] == v[:-1]) & (p[1:] == p[:-1])
    first = np.ones(len(v), dtype=bool)
    if len(v) > 1:
        first[1:] = ~dup_next[:-1]

    uv_p = p[first]
    uv_both = dup_next[first]
    # rank within pair among union members; keep rank < k (union pull-back)
    start = np.ones(len(uv_p), dtype=bool)
    if len(uv_p) > 1:
        start[1:] = uv_p[1:] != uv_p[:-1]
    start_idx = np.nonzero(start)[0]
    seg_len = np.diff(np.append(start_idx, len(uv_p)))
    rank = np.arange(len(uv_p)) - np.repeat(start_idx, seg_len)
    sel = rank < k

    den = np.bincount(uv_p[sel], minlength=n)
    num = np.bincount(uv_p[sel], weights=uv_both[sel].astype(np.float64),
                      minlength=n).astype(np.int64)

    with np.errstate(invalid="ignore", divide="ignore"):
        f = np.where(den > 0, num / np.maximum(den, 1), 0.0)
        sd = np.sqrt(np.maximum(f * (1.0 - f), 1.0 / np.maximum(den, 1))
                     / np.maximum(den, 1))
    lo = np.clip(f - num_std_dev * sd, 0.0, 1.0)
    hi = np.clip(f + num_std_dev * sd, 0.0, 1.0)
    # corner cases (SetOperationCornerCases analog): two empties are
    # exactly equal → (1,1,1); exactly one empty → certainly disjoint
    # → (0,0,0)
    both_empty = (la == 0) & (lb_ == 0)
    one_empty = ((la == 0) | (lb_ == 0)) & ~both_empty
    f = np.where(both_empty, 1.0, np.where(one_empty, 0.0, f))
    lo = np.where(both_empty, 1.0, np.where(one_empty, 0.0, lo))
    hi = np.where(both_empty, 1.0, np.where(one_empty, 0.0, hi))
    return lo, f, hi

