"""Tuple sketch kernel vs the reference's Summary contract
(tuple/TupleSketch.java, tuple/Summary.java:25-44): per-retained-hash
payloads that combine on collision, theta-rule union/intersection,
unbiased summary totals."""

import numpy as np
import pytest

from datasketches_java_spark.kernels.hashing import hash64
from datasketches_java_spark.kernels.tuple_kmv import TupleKmv


def _h(keys) -> np.ndarray:
    return (hash64(np.asarray(keys, dtype=np.uint64), 9001)
            >> np.uint64(1)).astype(np.int64)


def test_exact_regime_exact_aggregates():
    """distinct <= k: retained summaries ARE the exact per-key sums."""
    keys = np.array([1, 2, 3, 1, 2, 1], dtype=np.int64)
    counts = np.ones((6, 1))
    sk = TupleKmv.from_stream(_h(keys), counts, k=64)
    assert len(sk.hashes) == 3
    assert sk.distinct_estimate() == 3.0
    assert sorted(sk.summaries[:, 0].tolist()) == [1.0, 2.0, 3.0]
    np.testing.assert_allclose(sk.summary_totals(), [6.0])


def test_union_combines_shared_hashes():
    a = TupleKmv.from_stream(_h([1, 2, 3]), np.ones((3, 1)), k=64)
    b = TupleKmv.from_stream(_h([2, 3, 4]), 2 * np.ones((3, 1)), k=64)
    u = a.union(b)
    assert len(u.hashes) == 4
    np.testing.assert_allclose(u.summary_totals(), [9.0])  # 1+3+3+2
    # merge-order invariance
    u2 = b.union(a)
    np.testing.assert_array_equal(u.hashes, u2.hashes)
    np.testing.assert_allclose(u.summaries, u2.summaries)


def test_intersect_keeps_common_keys():
    a = TupleKmv.from_stream(_h([1, 2, 3]), np.ones((3, 1)), k=64)
    b = TupleKmv.from_stream(_h([2, 3, 4]), 2 * np.ones((3, 1)), k=64)
    i = a.intersect(b)
    assert len(i.hashes) == 2
    np.testing.assert_allclose(i.summaries[:, 0], [3.0, 3.0])  # 1+2 each


def test_min_max_combiners():
    h = _h([7, 7, 9])
    s = np.array([[5.0], [2.0], [4.0]])
    mn = TupleKmv.from_stream(h, s, k=8, combiner="min")
    mx = TupleKmv.from_stream(h, s, k=8, combiner="max")
    assert sorted(mn.summaries[:, 0].tolist()) == [2.0, 4.0]
    assert sorted(mx.summaries[:, 0].tolist()) == [4.0, 5.0]


def test_estimation_regime_unbiased_totals():
    """theta < 1: distinct estimate within binomial bounds and summary
    totals unbiased over keys (each key weight 1..3)."""
    rng = np.random.default_rng(3)
    n, k = 50_000, 1024
    keys = np.arange(n, dtype=np.int64)
    w = rng.integers(1, 4, size=n).astype(np.float64)
    sk = TupleKmv.from_stream(_h(keys), w[:, None], k=k)
    assert len(sk.hashes) == k and sk.theta < np.int64(2**63 - 1)
    est = sk.distinct_estimate()
    assert abs(est - n) < 4 * n / np.sqrt(k)
    tot = sk.summary_totals()[0]
    true = w.sum()
    # HT total: RSE ~ 1/sqrt(k) on the key sample
    assert abs(tot - true) < 5 * true / np.sqrt(k)


def test_round_trip():
    rng = np.random.default_rng(5)
    sk = TupleKmv.from_stream(
        _h(np.arange(5000)), rng.random((5000, 3)), k=256
    )
    sk2 = TupleKmv.from_ref_bytes(sk.to_ref_bytes(), k=256)
    assert sk2.k == sk.k and sk2.theta == sk.theta and sk2.d == 3
    np.testing.assert_array_equal(sk2.hashes, sk.hashes)
    np.testing.assert_array_equal(sk2.summaries, sk.summaries)
    with pytest.raises(ValueError, match="seed hash"):
        TupleKmv.from_ref_bytes(sk.to_ref_bytes(), k=256, seed=7)


def test_multi_column_summaries():
    """d=2: (count, total_len) per distinct key — the per-distinct-
    caption counter example from the verdict."""
    keys = np.array([10, 10, 20], dtype=np.int64)
    s = np.array([[1.0, 7.0], [1.0, 7.0], [1.0, 9.0]])
    sk = TupleKmv.from_stream(_h(keys), s, k=16)
    got = {tuple(row) for row in sk.summaries}
    assert got == {(2.0, 14.0), (1.0, 9.0)}


def test_filter_semantics():
    """tuple/Filter.java:51-74: predicate keeps/drops retained entries,
    theta unchanged; survivors stay an unbiased sample of the passing
    subpopulation; empty rule follows the reference (zero survivors is
    'empty' only for a non-estimating source)."""
    rng = np.random.default_rng(3)
    h = np.sort(rng.integers(1, 2**62, 3000).astype(np.int64))
    vals = (np.arange(3000) % 4).astype(float).reshape(-1, 1)
    sk = TupleKmv(h[:1024], vals[:1024], k=1024, theta=h[1024])

    f = sk.filter((sk.summaries[:, 0] == 2.0))
    assert f.theta == sk.theta and f.k == sk.k
    assert (f.summaries[:, 0] == 2.0).all()
    assert len(f.hashes) == int((sk.summaries[:, 0] == 2.0).sum())
    # unbiased subpopulation estimate: count/theta_frac over survivors
    assert f.distinct_estimate() == len(f.hashes) / (float(f.theta) / float(2**63 - 1))
    assert not getattr(f, "filtered_empty")  # estimating source

    exact = TupleKmv.from_stream(h[:10], np.ones((10, 1)), k=64)
    none = exact.filter(np.zeros(10, dtype=bool))
    assert getattr(none, "filtered_empty") and len(none.hashes) == 0
    est_none = sk.filter(np.zeros(1024, dtype=bool))
    assert not getattr(est_none, "filtered_empty")  # estimating: unknown, not empty


def test_a_not_b_semantics():
    """TupleAnotB.java theta rule: theta = min; survivors = A entries
    below theta absent from B, summaries carried from A; A\\A empty;
    disjoint B leaves A untouched (exact regime)."""
    a = TupleKmv.from_stream(_h([1, 2, 3, 4]), np.arange(4, dtype=float), k=64)
    b = TupleKmv.from_stream(_h([3, 4, 5]), np.ones(3), k=64)
    d = a.a_not_b(b)
    expect = np.setdiff1d(a.hashes, b.hashes)
    assert np.array_equal(d.hashes, expect)
    pos = np.searchsorted(a.hashes, d.hashes)
    assert np.array_equal(d.summaries, a.summaries[pos])
    assert len(a.a_not_b(a).hashes) == 0
    disjoint = TupleKmv.from_stream(_h([99, 100]), np.ones(2), k=64)
    same = a.a_not_b(disjoint)
    assert np.array_equal(same.hashes, a.hashes)
    # estimating theta rule: theta = min of the two
    rng = np.random.default_rng(7)
    h = np.sort(rng.integers(1, 2**62, 400).astype(np.int64))
    ea = TupleKmv(h[:128], np.ones((128, 1)), k=128, theta=h[128])
    eb = TupleKmv(h[50:178], np.ones((128, 1)), k=128, theta=h[178])
    r = ea.a_not_b(eb)
    assert r.theta == min(ea.theta, eb.theta)
    assert (r.hashes < r.theta).all()
    assert not np.isin(r.hashes, eb.hashes).any()


def test_filtered_empty_exists_on_all_paths():
    a = TupleKmv.from_stream(_h([1, 2]), np.ones(2), k=8)
    assert a.filtered_empty is False
    assert a.union(a).filtered_empty is False
    assert a.intersect(a).filtered_empty is False
    assert a.a_not_b(a).filtered_empty is False
    assert TupleKmv.from_ref_bytes(a.to_ref_bytes(), k=8).filtered_empty is False
