"""t-digest kernel vs the reference contract (tdigest/TDigestDouble.java):
bounded centroid count under the K_2 scale function, q(1-q)-shaped rank
accuracy (tight tails), exact min/max, merge ≈ whole-stream accuracy."""

import numpy as np
import pytest

from datasketches_java_spark.kernels import tdigest
from datasketches_java_spark.kernels.tdigest import TDigest


def _true_rank(sorted_vals: np.ndarray, v: float) -> float:
    return np.searchsorted(sorted_vals, v, side="right") / len(sorted_vals)


def test_bounded_centroids():
    rng = np.random.default_rng(1)
    td = TDigest(k=200)
    for _ in range(10):
        td.update_many(rng.normal(size=10_000))
    # K_2 bounds live centroids to O(k)
    assert len(td.means) <= 2 * 200
    assert td.n == 100_000


def test_rank_accuracy_normal():
    rng = np.random.default_rng(2)
    vals = rng.normal(size=100_000)
    td = TDigest(k=200).update_many(vals)
    s = np.sort(vals)
    for q in (0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99):
        got = td.get_quantile(q)
        err = abs(_true_rank(s, got) - q)
        tol = 0.005 if 0.1 <= q <= 0.9 else 0.001  # q(1-q) shape
        assert err <= tol, (q, got, err)


def test_min_max_exact_and_extreme_ranks():
    rng = np.random.default_rng(3)
    vals = rng.exponential(size=50_000)
    td = TDigest().update_many(vals)
    assert td.get_quantile(0.0) == vals.min()
    assert td.get_quantile(1.0) == vals.max()
    assert td.get_rank(vals.min() - 1) == 0.0
    assert td.get_rank(vals.max() + 1) == 1.0


def test_merge_matches_whole_stream_accuracy():
    rng = np.random.default_rng(4)
    vals = rng.normal(size=80_000)
    parts = np.array_split(vals, 16)
    digests = [TDigest(k=200).update_many(p) for p in parts]
    merged = digests[0]
    for d in digests[1:]:
        merged = merged.merge(d)
    assert merged.n == len(vals)
    s = np.sort(vals)
    for q in (0.05, 0.5, 0.95):
        err = abs(_true_rank(s, merged.get_quantile(q)) - q)
        assert err <= 0.01, (q, err)


def test_rank_quantile_inverse():
    rng = np.random.default_rng(5)
    td = TDigest().update_many(rng.uniform(0, 1, 30_000))
    for q in (0.2, 0.5, 0.8):
        v = td.get_quantile(q)
        assert abs(td.get_rank(v) - q) <= 0.01


def test_round_trip():
    rng = np.random.default_rng(6)
    td = TDigest(k=100).update_many(rng.normal(size=5_000))
    td2 = tdigest.from_ref_bytes(tdigest.to_ref_bytes(td))
    assert td2.k == 100 and td2.n == td.n
    assert td2.min == td.min and td2.max == td.max
    np.testing.assert_array_equal(td2.means, td.means)
    assert td2.get_quantile(0.5) == td.get_quantile(0.5)
