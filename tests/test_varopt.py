"""VarOpt kernel vs the reference's estimator contract
(sampling/VarOptItemsSketch.java): fixed sample size, heavy items
exact, total-weight preservation in expectation, unbiased subset sums."""

import numpy as np
import pytest

from datasketches_java_spark.kernels.sampling_compat import (
    VarOptLongs, varopt_estimate_subset_sum,
)
from datasketches_java_spark.kernels.varopt import _threshold, varopt_sample


def _sketch(items, adj, tau, n, k):
    """A batch sample as the reference's H/R state: heavy items are
    those above tau (all of them in the tau == 0 passthrough), the rest
    share tau."""
    heavy = (adj > tau) if tau > 0 else np.ones(len(adj), dtype=bool)
    return VarOptLongs(
        k=k, n=n, heavy_items=items[heavy].astype(np.int64),
        heavy_weights=adj[heavy], r_items=items[~heavy].astype(np.int64),
        total_r_weight=float(adj[~heavy].sum()),
    )


def test_small_stream_kept_exactly():
    items = np.arange(10)
    w = np.linspace(1, 10, 10)
    s, adj, tau0 = varopt_sample(items, w, k=32)
    assert tau0 == 0.0  # passthrough: nothing threshold-adjusted
    assert np.array_equal(s, items)
    assert np.allclose(adj, w)


def test_sample_size_and_heavy_exact():
    rng = np.random.default_rng(3)
    n, k = 5000, 64
    items = np.arange(n)
    w = rng.pareto(1.5, n) + 0.1  # heavy-tailed
    s, adj, _tau = varopt_sample(items, w, k)
    assert len(s) <= k
    assert len(s) >= k - 2  # fp-edge dedup can drop at most a hair
    tau, _ = _threshold(w, k)
    heavy = items[w > tau]
    # every heavy item is in the sample with its exact weight
    pos = {int(i): a for i, a in zip(s, adj)}
    for h in heavy:
        assert int(h) in pos
        assert pos[int(h)] == pytest.approx(w[h])
    # light sampled items carry tau
    light_adj = [a for i, a in pos.items() if w[i] <= tau]
    assert all(a == pytest.approx(tau) for a in light_adj)


def test_subset_sum_unbiased_over_seeds():
    rng = np.random.default_rng(7)
    n, k = 2000, 128
    items = np.arange(n)
    w = rng.exponential(2.0, n) + 0.05
    subset = items % 3 == 0
    true = w[subset].sum()
    ests = []
    for seed in range(200):
        s, adj, tau = varopt_sample(items, w, k, seed=seed * 7919 + 13)
        sk = _sketch(s, adj, tau, n, k)
        ests.append(varopt_estimate_subset_sum(sk, lambda i: i % 3 == 0)["estimate"])
    mean = np.mean(ests)
    # unbiased within 3 standard errors of the empirical spread
    se = np.std(ests) / np.sqrt(len(ests))
    assert abs(mean - true) <= 3 * se + 1e-9, (mean, true, se)


def test_total_weight_estimate_exactish():
    """The all-items subset sum equals the true total up to the
    systematic-PPS fp edge (a strictly-variance-reducing design)."""
    rng = np.random.default_rng(11)
    n, k = 3000, 256
    w = rng.gamma(2.0, 3.0, n) + 0.01
    s, adj, _tau = varopt_sample(np.arange(n), w, k, seed=5)
    assert adj.sum() == pytest.approx(w.sum(), rel=0.02)


def test_bounds_cover_true_subset_sum():
    rng = np.random.default_rng(13)
    n, k = 4000, 256
    w = rng.pareto(1.2, n) + 0.1
    items = np.arange(n)
    subset = items % 5 == 0
    true = w[subset].sum()
    covered = 0
    trials = 60
    for seed in range(trials):
        s, adj, tau = varopt_sample(items, w, k, seed=seed * 104729 + 7)
        r = varopt_estimate_subset_sum(_sketch(s, adj, tau, n, k), lambda i: i % 5 == 0)
        covered += int(r["lower_bound"] <= true <= r["upper_bound"])
    assert covered / trials >= 0.9  # 2SD nominal ≈ 95%
