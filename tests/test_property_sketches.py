"""Property-based checks (hypothesis) over the round-4 kernels:
serde round-trips, merge-vs-single-stream equivalence classes, and
estimator sanity under arbitrary inputs."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from datasketches_java_spark.kernels import req, tdigest
from datasketches_java_spark.kernels.cpc import CpcSketch
from datasketches_java_spark.kernels.req import ReqDoubles
from datasketches_java_spark.kernels.tdigest import TDigest


small_floats = st.lists(
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
    min_size=1, max_size=300,
)


@settings(max_examples=25, deadline=None)
@given(small_floats)
def test_tdigest_serde_and_quantile_monotone(vals):
    td = TDigest(k=100).update_many(np.array(vals))
    back = tdigest.from_ref_bytes(tdigest.to_ref_bytes(td))
    assert back.n == td.n
    qs = [back.get_quantile(r) for r in (0.0, 0.25, 0.5, 0.75, 1.0)]
    assert qs == sorted(qs)                      # monotone in rank
    assert qs[0] == min(vals) and qs[-1] == max(vals)  # exact extremes


@settings(max_examples=25, deadline=None)
@given(small_floats, small_floats)
def test_tdigest_merge_weight_conservation(a, b):
    ta = TDigest(k=64).update_many(np.array(a))
    tb = TDigest(k=64).update_many(np.array(b))
    ta.merge(tb)
    assert ta.n == len(a) + len(b)
    assert ta.min == min(min(a), min(b))
    assert ta.max == max(max(a), max(b))


@settings(max_examples=20, deadline=None)
@given(small_floats)
def test_req_serde_preserves_every_query(vals):
    sk = ReqDoubles(k=8).update_many(np.array(vals))
    back = req.from_ref_bytes(req.to_ref_bytes(sk))
    for r in (0.0, 0.1, 0.5, 0.9, 1.0):
        assert back.get_quantile(r) == sk.get_quantile(r)
    assert back.n == sk.n and back._retained() == sk._retained()


@settings(max_examples=20, deadline=None)
@given(st.lists(st.integers(min_value=-2**62, max_value=2**62),
                min_size=1, max_size=500))
def test_cpc_merge_equals_combined_matrix(vals):
    v = np.array(vals, dtype=np.int64)
    half = len(v) // 2
    a = CpcSketch(lg_k=8).update_longs(v[:half]) if half else CpcSketch(lg_k=8)
    b = CpcSketch(lg_k=8).update_longs(v[half:])
    c = CpcSketch(lg_k=8).update_longs(v)
    a.merge(b)
    assert np.array_equal(a.matrix, c.matrix)
    assert a.num_coupons == c.num_coupons


@settings(max_examples=20, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=10**12),
                min_size=1, max_size=400))
def test_cpc_estimate_tracks_distinct_count(vals):
    v = np.array(vals, dtype=np.int64)
    true = len(np.unique(v))
    sk = CpcSketch(lg_k=11).update_longs(v)
    # far below k the HIP estimate is near-exact
    assert abs(sk.get_estimate() - true) <= max(2.0, 0.05 * true)
    lb, ub = sk.get_bounds(3)
    assert lb <= true <= ub
