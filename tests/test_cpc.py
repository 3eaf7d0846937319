"""CPC sketch kernel (reference cpc/CpcSketch.java semantics over the
full coupon bit matrix): HIP and ICON estimator accuracy within the
reference's own confidence tables, merge/downsample semantics, serde,
and determinism across batch splits."""

import numpy as np
import pytest

from datasketches_java_spark.kernels import cpc_compat
from datasketches_java_spark.kernels.cpc import (
    CpcSketch, hip_confidence, icon_confidence, icon_estimate,
)


def test_small_exactish_counts():
    sk = CpcSketch(lg_k=11)
    sk.update_strings([f"v{i}" for i in range(100)])
    # at n << k the HIP estimator is near-exact
    assert abs(sk.get_estimate() - 100) < 2
    lb, ub = sk.get_bounds(3)
    assert lb <= 100 <= ub


@pytest.mark.parametrize("n", [1000, 10_000, 100_000, 1_000_000])
def test_hip_estimate_within_reference_bounds(n):
    sk = CpcSketch(lg_k=11)
    sk.update_longs(np.arange(n, dtype=np.int64))
    lb, ub = sk.get_bounds(3)  # kappa=3 => 99.7%-ish coverage
    assert lb <= n <= ub, (n, lb, sk.get_estimate(), ub)
    # and the point estimate's relative error is sane
    assert abs(sk.get_estimate() - n) / n < 0.05


@pytest.mark.parametrize("n", [1000, 50_000, 500_000])
def test_icon_estimate_after_merge_within_bounds(n):
    a = CpcSketch(lg_k=11)
    b = CpcSketch(lg_k=11)
    a.update_longs(np.arange(n, dtype=np.int64))
    b.update_longs(np.arange(n // 2, n + n // 2, dtype=np.int64))  # 50% overlap
    a.merge(b)
    true = n + n // 2
    lb, ub = a.get_bounds(3)
    assert lb <= true <= ub, (true, lb, a.get_estimate(), ub)


def test_merge_downsamples_to_smaller_k():
    a = CpcSketch(lg_k=12)
    b = CpcSketch(lg_k=10)
    a.update_longs(np.arange(20_000, dtype=np.int64))
    b.update_longs(np.arange(10_000, 30_000, dtype=np.int64))
    a.merge(b)
    assert a.lg_k == 10
    lb, ub = a.get_bounds(3)
    assert lb <= 30_000 <= ub


def test_merge_matches_direct_matrix_union():
    """Union of disjoint streams == matrix of the combined stream
    (coupon space is deterministic given the hash)."""
    a = CpcSketch(lg_k=10)
    b = CpcSketch(lg_k=10)
    c = CpcSketch(lg_k=10)
    a.update_longs(np.arange(5000, dtype=np.int64))
    b.update_longs(np.arange(5000, 12_000, dtype=np.int64))
    c.update_longs(np.arange(12_000, dtype=np.int64))
    a.merge(b)
    assert np.array_equal(a.matrix, c.matrix)
    assert a.num_coupons == c.num_coupons
    # merged side must use ICON (order-free), single-stream uses HIP
    assert a.get_estimate() == icon_estimate(10, a.num_coupons)


def test_batch_split_determinism():
    """Same arrival order through different batch sizes gives the
    identical sketch state (matrix AND HIP registers)."""
    vals = np.random.default_rng(1).permutation(np.arange(50_000, dtype=np.int64))
    one = CpcSketch(lg_k=11).update_longs(vals)
    split = CpcSketch(lg_k=11)
    for chunk in np.array_split(vals, 13):
        split.update_longs(chunk)
    assert np.array_equal(one.matrix, split.matrix)
    assert one.num_coupons == split.num_coupons
    assert one.get_estimate() == pytest.approx(split.get_estimate(), rel=1e-12)


def test_serde_round_trip():
    """The reference image is the partial format: a heapified sketch
    has the live one's matrix and HIP registers, and keeps updating
    with them."""
    sk = CpcSketch(lg_k=11)
    sk.update_longs(np.arange(77_000, dtype=np.int64))
    back = cpc_compat.from_ref_bytes(cpc_compat.to_ref_bytes(sk))
    assert back.num_coupons == sk.num_coupons
    assert back.get_estimate() == sk.get_estimate()
    assert np.array_equal(back.matrix, sk.matrix)
    sk.update_longs(np.arange(77_000, 80_000, dtype=np.int64))
    back.update_longs(np.arange(77_000, 80_000, dtype=np.int64))
    assert back.get_estimate() == sk.get_estimate()


def test_icon_confidence_table_shapes():
    # spot-check the transcription against CpcConfidence.java values
    lb, ub = icon_confidence(11, 10_000, 2)
    est = icon_estimate(11, 10_000)
    assert lb < est < ub
    lb1, ub1 = icon_confidence(11, 10_000, 1)
    assert lb < lb1 < est < ub1 < ub  # tighter at kappa=1
    assert hip_confidence(11, 0, 0.0, 2) == (0.0, 0.0)


def test_empty_and_single():
    sk = CpcSketch(lg_k=8)
    assert sk.get_estimate() == 0.0
    assert sk.get_bounds(2) == (0.0, 0.0)
    sk.update_longs(np.array([42], dtype=np.int64))
    assert abs(sk.get_estimate() - 1.0) < 1e-9


def test_cpc_distinct_agg_distributed(spark):
    """Distributed face: per-group union estimate within ICON bounds
    vs exact distinct counts, across multiple partitions."""
    import pandas as pd

    from datasketches_java_spark.functions.cpc_agg import cpc_distinct_agg

    rng = np.random.default_rng(11)
    rows = []
    for g, n in (("a", 500), ("b", 20_000)):
        users = rng.integers(0, n, n * 2)  # duplicates; ~n*(1-1/e^2) distinct
        rows.extend((g, int(u)) for u in users)
    pdf = pd.DataFrame(rows, columns=["g", "u"])
    exact = pdf.groupby("g")["u"].nunique()
    df = spark.createDataFrame(pdf).repartition(8)
    out = {r["g"]: r for r in cpc_distinct_agg(df, "g", "u", lg_k=11, kappa=3).collect()}
    for g in ("a", "b"):
        assert out[g]["distinct_lb"] <= exact[g] <= out[g]["distinct_ub"], (
            g, exact[g], dict(out[g].asDict()))
