"""Sampling-family wire formats (kernels/sampling_compat.py).

No in-tree .sk golden ships for this family; evidence is layout-exact
hand-built fixtures per sampling/PreambleUtil.java plus round-trips,
the same standard as the theta-v1/v2 and frequencies formats.
"""

import struct

import numpy as np
import pytest

from datasketches_java_spark.kernels.sampling_compat import (
    EbppsLongs,
    ReservoirLongs,
    VarOptLongs,
    ebpps_from_ref_bytes,
    ebpps_to_ref_bytes,
    reservoir_from_ref_bytes,
    reservoir_to_ref_bytes,
    varopt_estimate_subset_sum,
    varopt_from_ref_bytes,
    varopt_to_ref_bytes,
)


def test_reservoir_empty_and_roundtrip():
    empty = reservoir_from_ref_bytes(reservoir_to_ref_bytes(ReservoirLongs(k=100)))
    assert empty.k == 100 and empty.n == 0 and len(empty.items) == 0

    sk = ReservoirLongs(k=5, n=1000, items=np.array([7, -2, 9, 4, 11], np.int64))
    buf = reservoir_to_ref_bytes(sk)
    assert buf[0] & 0x3F == 2      # preLongs
    assert (buf[0] >> 6) == 3      # lgRF (X8 default)
    assert buf[1] == 2 and buf[2] == 11   # serVer, RESERVOIR family
    (k,) = struct.unpack_from("<i", buf, 4)
    (n,) = struct.unpack_from("<q", buf, 8)
    assert k == 5 and n == 1000 and len(buf) == 16 + 5 * 8
    back = reservoir_from_ref_bytes(buf)
    assert back.k == 5 and back.n == 1000
    assert np.array_equal(back.items, sk.items)
    assert back.implied_weight() == 200.0


def test_reservoir_underfull():
    sk = ReservoirLongs(k=100, n=3, items=np.array([1, 2, 3], np.int64))
    back = reservoir_from_ref_bytes(reservoir_to_ref_bytes(sk))
    assert back.n == 3 and np.array_equal(back.items, [1, 2, 3])
    assert back.implied_weight() == 1.0


def test_varopt_hand_built_full_image():
    """Field-by-field image per PreambleUtil: k=4, n=100, h=2 heavies
    (weights 50.5, 30.25), r=2 reservoir items sharing totalWtR=19.25."""
    pre0 = struct.pack("<BBBBi", 4 | (3 << 6), 2, 13, 0, 4)
    body = (
        struct.pack("<q", 100)
        + struct.pack("<ii", 2, 2)
        + struct.pack("<d", 19.25)
        + struct.pack("<dd", 50.5, 30.25)
        + struct.pack("<qqqq", 101, 102, 201, 202)
    )
    sk = varopt_from_ref_bytes(pre0 + body)
    assert sk.k == 4 and sk.n == 100
    assert np.array_equal(sk.heavy_items, [101, 102])
    assert np.array_equal(sk.heavy_weights, [50.5, 30.25])
    assert np.array_equal(sk.r_items, [201, 202])
    assert sk.tau == pytest.approx(19.25 / 2)
    items, weights = sk.adjusted()
    assert weights.sum() == pytest.approx(50.5 + 30.25 + 19.25)
    # byte-exact round-trip
    assert varopt_to_ref_bytes(sk) == pre0 + body


def test_varopt_warmup_and_empty_forms():
    empty = varopt_from_ref_bytes(varopt_to_ref_bytes(VarOptLongs(k=32)))
    assert empty.n == 0 and empty.tau == 0.0

    warm = VarOptLongs(
        k=32, n=3,
        heavy_items=np.array([5, 6, 7], np.int64),
        heavy_weights=np.array([1.0, 2.0, 3.0]),
    )
    buf = varopt_to_ref_bytes(warm)
    assert buf[0] & 0x3F == 3  # warm-up preamble
    back = varopt_from_ref_bytes(buf)
    assert np.array_equal(back.heavy_items, [5, 6, 7])
    assert len(back.r_items) == 0
    # warm-up subset sums are exact
    s = varopt_estimate_subset_sum(back, lambda i: i >= 6)
    assert s["estimate"] == s["lower_bound"] == s["upper_bound"] == 5.0


def test_varopt_gadget_marks_roundtrip():
    sk = VarOptLongs(
        k=8, n=50,
        heavy_items=np.arange(10, 19, dtype=np.int64),
        heavy_weights=np.linspace(1, 9, 9),
        marks=np.array([1, 0, 1, 1, 0, 0, 1, 0, 1], bool),
    )
    buf = varopt_to_ref_bytes(sk)
    assert buf[3] & 128  # GADGET flag
    back = varopt_from_ref_bytes(buf)
    assert np.array_equal(back.marks, sk.marks)
    assert np.array_equal(back.heavy_weights, sk.heavy_weights)


def test_varopt_subset_sum_bounds_match_reference_shape():
    rng = np.random.default_rng(3)
    sk = VarOptLongs(
        k=64, n=10_000,
        heavy_items=np.array([1, 2], np.int64),
        heavy_weights=np.array([500.0, 400.0]),
        r_items=rng.integers(10, 10_000, 62).astype(np.int64),
        total_r_weight=5000.0,
    )
    s = varopt_estimate_subset_sum(sk, lambda i: i % 2 == 0)
    assert s["lower_bound"] <= s["estimate"] <= s["upper_bound"]
    assert s["total_sketch_weight"] == pytest.approx(5900.0)
    everything = varopt_estimate_subset_sum(sk, lambda i: True)
    assert everything["estimate"] == pytest.approx(5900.0)


@pytest.mark.parametrize("n", [10_000, 622])
@pytest.mark.parametrize("pred", ["even", "all", "none"])
def test_varopt_subset_sum_r_bounds_are_reference_composition(n, pred):
    """The R-region bounds are SamplingUtil.pseudoHypergeometric{LB,UB}onP:
    the reference's binomial-proportion bounds (the bit-equal
    transcriptions in kernels/bounds.py) at kappa = 2·sqrt(1 - rate),
    rate = r / (n - h). n=622 gives kappa ≈ 1.897; "all" and "none"
    reach the k == n and k == 0 closed forms."""
    from datasketches_java_spark.kernels import bounds as B

    keep = {"even": lambda i: i % 2 == 0, "all": lambda i: True,
            "none": lambda i: False}[pred]
    r_items = np.random.default_rng(3).integers(10, 10_000, 62).astype(np.int64)
    sk = VarOptLongs(
        k=64, n=n,
        heavy_items=np.array([1, 2], np.int64),
        heavy_weights=np.array([500.0, 400.0]),
        r_items=r_items,
        total_r_weight=5000.0,
    )
    s = varopt_estimate_subset_sum(sk, keep)
    h_true = 400.0 if keep(2) else 0.0
    h_true += 500.0 if keep(1) else 0.0
    r_true = sum(bool(keep(int(i))) for i in r_items)
    kappa = 2.0 * np.sqrt(1.0 - 62 / (n - 2))
    assert s["lower_bound"] == h_true + 5000.0 * B.ref_approx_lower_bound_on_p(62, r_true, kappa)
    assert s["upper_bound"] == h_true + 5000.0 * B.ref_approx_upper_bound_on_p(62, r_true, kappa)
    assert s["estimate"] == h_true + 5000.0 * (r_true / 62)


def test_ebpps_roundtrip_with_partial_item():
    sk = EbppsLongs(
        k=10, n=1000, cum_weight=123.5, max_weight=9.75, rho=0.081,
        c=7.25, items=np.arange(7, dtype=np.int64), partial_item=99,
    )
    buf = ebpps_to_ref_bytes(sk)
    assert buf[0] & 0x3F == 5 and buf[1] == 1 and buf[2] == 19
    assert buf[3] & 8  # HAS_PARTIAL_ITEM
    (c,) = struct.unpack_from("<d", buf, 40)
    assert c == 7.25 and len(buf) == 48 + 8 * 8
    back = ebpps_from_ref_bytes(buf)
    assert back.partial_item == 99 and np.array_equal(back.items, np.arange(7))
    assert back.cum_weight == 123.5 and back.rho == 0.081

    whole = EbppsLongs(k=10, n=50, cum_weight=50.0, max_weight=1.0,
                       rho=0.2, c=10.0, items=np.arange(10, dtype=np.int64))
    back2 = ebpps_from_ref_bytes(ebpps_to_ref_bytes(whole))
    assert back2.partial_item is None and len(back2.items) == 10

    empty = ebpps_from_ref_bytes(ebpps_to_ref_bytes(EbppsLongs(k=10)))
    assert empty.n == 0 and len(empty.items) == 0


def test_rejects_wrong_family_and_version():
    good = reservoir_to_ref_bytes(
        ReservoirLongs(k=4, n=1, items=np.array([1], np.int64))
    )
    bad = bytearray(good)
    bad[2] = 13  # varopt family fed to reservoir reader
    with pytest.raises(ValueError):
        reservoir_from_ref_bytes(bytes(bad))
    bad2 = bytearray(good)
    bad2[1] = 1  # serVer 1 unsupported
    with pytest.raises(ValueError):
        reservoir_from_ref_bytes(bytes(bad2))
    with pytest.raises(ValueError):
        varopt_from_ref_bytes(bytes(good))
