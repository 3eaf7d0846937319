"""VarOpt (variance-optimal) weighted sampling — reference
sampling/VarOptItemsSketch.java (update :472, estimateSubsetSum :640),
algorithm from Cohen, Duffield, Kaplan, Lund, Thorup, "Stream sampling
for variance-optimal estimation of subset sums" (SODA 2009).

This kernel is the BATCH construction of the same sampling
distribution: find the unique threshold tau with
sum_i min(w_i/tau, 1) = k; items with w_i > tau ("heavy") are kept
exactly with their true weight; exactly k - |heavy| of the light items
are drawn by systematic PPS (inclusion probability w_i/tau) and carry
adjusted weight tau. Subset-sum estimates over the adjusted weights
are unbiased with variance-optimal fixed-size design; the reference's
estimator and bounds are `sampling_compat.varopt_estimate_subset_sum`.

Merge = concatenate samples (adjusted weights) and re-run the batch
construction: each stage preserves E[adjusted weight] = true weight
(tower property), so subset-sum estimates stay unbiased across a
Spark partial/final tree, at somewhat higher variance than the
reference's gadget-based streaming union (VarOptItemsUnion.java) —
documented divergence; the estimator contract is what the tests pin.
"""

from __future__ import annotations

import numpy as np

from .hashing import mix64, seed_mix


def _threshold(weights: np.ndarray, k: int) -> tuple[float, int]:
    """(tau, n_heavy): unique tau with sum(min(w/tau, 1)) = k.

    Scan weights in decreasing order: with the h largest kept exact,
    tau_h = (sum of the rest) / (k - h); valid when w_(h) > tau_h >=
    w_(h+1)."""
    w = np.sort(weights)[::-1]
    n = len(w)
    suffix = np.concatenate([np.cumsum(w[::-1])[::-1], [0.0]])  # sum w[h:]
    for h in range(0, k):
        tau = suffix[h] / (k - h)
        upper = w[h - 1] if h > 0 else np.inf
        if upper > tau >= w[h]:
            return float(tau), h
    # all candidates heavy-ish: degenerate, keep k heaviest exactly
    return float(w[k - 1]), k - 1


def varopt_sample(
    items: np.ndarray, weights: np.ndarray, k: int, seed: int = 9001
) -> tuple[np.ndarray, np.ndarray, float]:
    """(sampled items, adjusted weights, tau). tau = 0.0 in the n <= k
    passthrough (no item was threshold-adjusted) so downstream
    estimators never misclassify exact items as light. Deterministic
    given seed — the systematic-PPS offset is derived from the item
    hashes, so Spark task retries reproduce the same sample
    (SURVEY.md §4 custom #3)."""
    items = np.asarray(items)
    weights = np.asarray(weights, dtype=np.float64)
    if not np.all(weights > 0):  # also catches NaN (NaN > 0 is False)
        raise ValueError("weights must be positive (and not NaN)")
    n = len(items)
    if n <= k:
        return items, weights.copy(), 0.0
    tau, _ = _threshold(weights, k)
    heavy = weights > tau
    n_light_slots = k - int(heavy.sum())
    li = np.nonzero(~heavy)[0]
    lw = weights[li]
    # systematic PPS over the light items: inclusion prob w/tau, exactly
    # n_light_slots picks. Deterministic offset from hashed items.
    p = lw / tau
    cum = np.cumsum(p)
    total = cum[-1]  # == n_light_slots (up to fp error)
    hseed = np.uint64(0)
    for hv in mix64(np.asarray(items[li[:16]], dtype=np.uint64) ^ seed_mix(seed)):
        hseed ^= hv
    offset = float((hseed >> np.uint64(11)) % np.uint64(1 << 53)) / float(1 << 53)
    picks = (offset + np.arange(n_light_slots)) * (total / max(n_light_slots, 1))
    chosen = np.searchsorted(cum, picks, side="right")
    chosen = np.clip(chosen, 0, len(li) - 1)
    chosen = np.unique(chosen)  # fp-edge duplicates: extremely rare
    sel = np.concatenate([np.nonzero(heavy)[0], li[chosen]])
    adj = np.concatenate([weights[heavy], np.full(len(chosen), tau)])
    return items[sel], adj, float(tau)

