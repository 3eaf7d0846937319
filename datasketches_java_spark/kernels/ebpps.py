"""EBPPS — exact-budget probability-proportional-to-size sampling
(reference sampling/EbppsItemsSketch.java:53-397; Cohen's
"Stream sampling framework and application for frequency cap
statistics", exact-PPS branch).

The contract (EbppsItemsSketch.java:45-49): every item is included
with probability exactly proportional to its weight (capped at 1), the
expected sample size equals the budget C = sum_i min(1, c·w_i) with c
chosen so C = min(k, mass available), and the realized size varies by
at most one item (floor(C) or ceil(C)) — unlike VarOpt there are no
adjusted weights; presence itself is the statistic.

This is the BATCH construction of the same design: the threshold tau =
1/c is the same solve as the VarOpt kernel's (items heavier than tau
are included with certainty), and the light items are drawn by
systematic sampling with unit stride over their inclusion mass, which
realizes floor/ceil of the fractional budget. Inclusion probability of
item i is pi_i = min(1, w_i/tau); Horvitz-Thompson subset-sum
estimates use w_i/pi_i = max(w_i, tau).

No merge is implemented here. The reference merges by re-feeding the
smaller sketch's items into the larger (EbppsItemsSketch.java:258-261,
289-330), over sketch state (C, rho, the partial item) that a plain
batch sample does not carry; re-sampling a union of batch samples over
true weights is not shown to keep pi_i = min(1, w_i/tau) of the whole
population, so the Spark face (functions/sketch_udfs.ebpps_sample_agg)
samples each group in one pass.
"""

from __future__ import annotations

import numpy as np

from .hashing import mix64, seed_mix


def _ebpps_threshold(weights: np.ndarray, k: float) -> tuple[float, int]:
    """(tau, n_heavy) with sum_i min(w_i/tau, 1) = k for real k > 0:
    heavy items (w > tau) count 1, light items contribute w/tau."""
    w = np.sort(weights)[::-1]
    n = len(w)
    if k >= n:
        return 0.0, n  # whole population fits the budget
    suffix = np.concatenate([np.cumsum(w[::-1])[::-1], [0.0]])
    h_max = int(np.floor(k))
    for h in range(0, h_max + 1):
        if k - h <= 0:
            break
        tau = suffix[h] / (k - h)
        upper = w[h - 1] if h > 0 else np.inf
        # non-strict boundaries: on tied weights (w[h-1] == tau) the
        # item can sit on either side of the threshold with the same
        # solved tau, so accepting equality keeps the invariant
        # sum min(w_i/tau, 1) = k (a strict `upper > tau` skipped the
        # valid h and fell through to a contract-breaking heuristic).
        # The 1e-12 relative slack absorbs float rounding of the solve.
        if upper >= tau * (1.0 - 1e-12) and tau >= w[h] * (1.0 - 1e-12):
            return float(tau), h
    raise ValueError(
        "EBPPS threshold solve found no valid heavy count "
        f"(n={n}, k={k}); weights may be non-finite"
    )


def ebpps_sample(
    items: np.ndarray, weights: np.ndarray, k: float, seed: int = 9001
) -> tuple[np.ndarray, float]:
    """(sampled items, tau). Realized size is floor(C) or ceil(C) where
    C = min(k, n); inclusion probability of item i is min(1, w_i/tau).
    Deterministic given seed (systematic offset from item hashes)."""
    items = np.asarray(items)
    weights = np.asarray(weights, dtype=np.float64)
    if not np.all(weights > 0):  # also catches NaN (NaN > 0 is False)
        raise ValueError("weights must be positive (and not NaN)")
    n = len(items)
    if n <= k:
        return items.copy(), 0.0
    tau, _h = _ebpps_threshold(weights, float(k))
    if tau <= 0:
        return items.copy(), 0.0
    heavy = weights > tau
    li = np.nonzero(~heavy)[0]
    p = weights[li] / tau  # inclusion probabilities, <= 1
    cum = np.cumsum(p)
    total = float(cum[-1]) if len(cum) else 0.0
    hseed = np.uint64(0)
    for hv in mix64(np.asarray(items[li[:16]], dtype=np.uint64) ^ seed_mix(seed)):
        hseed ^= hv
    offset = float((hseed >> np.uint64(11)) % np.uint64(1 << 53)) / float(1 << 53)
    # unit-stride systematic sampling: realized count = floor/ceil of
    # the light mass, each light item included with prob exactly p_i
    picks = np.arange(offset, total, 1.0)
    chosen = np.searchsorted(cum, picks, side="right")
    chosen = np.unique(np.clip(chosen, 0, len(li) - 1))
    sel = np.concatenate([np.nonzero(heavy)[0], li[chosen]])
    return items[sel], float(tau)


def inclusion_probs(weights: np.ndarray, tau: float) -> np.ndarray:
    """pi_i = min(1, w_i/tau); tau = 0 means certain inclusion."""
    w = np.asarray(weights, dtype=np.float64)
    if tau <= 0:
        return np.ones(len(w))
    return np.minimum(1.0, w / tau)
