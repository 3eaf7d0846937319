"""Cross-language interop: parse the reference library's own serialized
sketch images shipped in-tree at /root/reference/src/test/resources and
assert the SAME expectations its cross-language tests assert
(TDigestDoubleTest.deserializeFromReferenceImplementation{Double,Float},
KllCrossLanguageTest.checkCppKllDoublesSketchOneItemVersion1). This
closes the round-3 gap: the sandbox cannot compile the reference (needs
JDK 21+), but these bytes were PRODUCED by the reference toolchain, so
parsing them is true wire-format evidence, not a hand-built fixture.
"""

import os

import pytest

RES = "/root/reference/src/test/resources"

needs_res = pytest.mark.skipif(
    not os.path.isdir(RES), reason="reference resources not present"
)


def _bytes(name: str) -> bytes:
    with open(os.path.join(RES, name), "rb") as f:
        return f.read()


@needs_res
def test_tdigest_reference_double_golden():
    # expectations: TDigestDoubleTest.java:240-253
    from datasketches_java_spark.kernels.tdigest import from_ref_bytes

    td = from_ref_bytes(_bytes("tdigest_ref_k100_n10000_double.sk"))
    n = 10000
    assert td.k == 100
    assert td.n == n
    assert td.min == 0.0
    assert td.max == n - 1
    # the reference's own expectation is rank(min) ≈ 0 within 1e-4
    # (TDigestDoubleTest.java:248 assertEquals tolerance); the ported
    # getRank returns the reference's exact 0.5/n at the min item
    assert td.get_rank(0) == 0.5 / n
    for q in (0.25, 0.5, 0.75):
        assert abs(td.get_rank(q * n) - q) < 1e-3
    assert td.get_rank(n) == 1.0
    # quantile/rank round trip through the parsed centroids
    for q in (0.1, 0.5, 0.9):
        assert abs(td.get_rank(td.get_quantile(q)) - q) < 1e-3


@needs_res
def test_tdigest_reference_float_golden():
    # expectations: TDigestDoubleTest.java:256-268 (same data, float fmt)
    from datasketches_java_spark.kernels.tdigest import from_ref_bytes

    td = from_ref_bytes(_bytes("tdigest_ref_k100_n10000_float.sk"))
    n = 10000
    assert td.k == 100
    assert td.n == n
    assert td.min == 0.0
    assert td.max == n - 1
    for q in (0.25, 0.5, 0.75):
        assert abs(td.get_rank(q * n) - q) < 1e-3


@needs_res
def test_tdigest_parsed_golden_merges_with_native():
    """A parsed reference digest must merge with a natively-built one
    (the mergeability contract across implementations)."""
    import numpy as np

    from datasketches_java_spark.kernels.tdigest import TDigest, from_ref_bytes

    td = from_ref_bytes(_bytes("tdigest_ref_k100_n10000_double.sk"))
    other = TDigest(k=100).update_many(np.arange(10000, 20000, dtype=float))
    td.merge(other)
    assert td.n == 20000
    assert td.min == 0.0 and td.max == 19999.0
    assert abs(td.get_rank(10000) - 0.5) < 0.01


@needs_res
def test_kll_double_one_item_v1_golden():
    # expectations: KllCrossLanguageTest.java:94-103
    from datasketches_java_spark.kernels.kll import from_ref_bytes

    sk = from_ref_bytes(_bytes("kll_sketch_double_one_item_v1.sk"))
    assert sk.n == 1
    assert sum(len(lv) for lv in sk.levels) == 1  # numRetained
    assert sk.get_quantile(0.0) == 1.0  # minItem
    assert sk.get_quantile(1.0) == 1.0  # maxItem
    # this file is a COMPACT_FULL image (serVer 1, preInts 5), so the
    # parse exercised the shortened-levels capacity reconstruction
    assert sk.k == 200


@needs_res
def test_kll_double_n1_golden():
    from datasketches_java_spark.kernels.kll import from_ref_bytes

    sk = from_ref_bytes(_bytes("kll_double_n1.sk"))
    assert sk.n == 1
    assert sum(len(lv) for lv in sk.levels) == 1
    # C++ cross-language generator feeds 0-based values: single item 0
    assert sk.get_quantile(0.5) == 0.0


@needs_res
def test_kll_parsed_golden_merges_with_native():
    import numpy as np

    from datasketches_java_spark.kernels.kll import KllDoubles, from_ref_bytes

    sk = from_ref_bytes(_bytes("kll_sketch_double_one_item_v1.sk"))
    other = KllDoubles(k=200).update_many(np.arange(2.0, 101.0))
    sk.merge(other)
    assert sk.n == 100
    assert sk.get_quantile(0.0) == 1.0


def test_tdigest_ref_format_round_trip():
    """Write side of the interop lane: our digest serialized in the
    reference wire format parses back identically (and the re-parse of
    the REFERENCE golden re-serialized by us is lossless)."""
    import numpy as np

    from datasketches_java_spark.kernels.tdigest import (
        TDigest, from_ref_bytes, to_ref_bytes,
    )

    td = TDigest(k=100).update_many(np.arange(5000, dtype=float))
    rt = from_ref_bytes(to_ref_bytes(td))
    assert rt.k == td.k and rt.n == td.n
    assert rt.min == td.min and rt.max == td.max
    assert np.array_equal(rt.means, td.means)
    assert np.array_equal(rt.weights, td.weights)

    # empty and single-value images
    assert from_ref_bytes(to_ref_bytes(TDigest(k=50))).n == 0
    one = TDigest(k=50).update_many(np.array([7.5]))
    r1 = from_ref_bytes(to_ref_bytes(one))
    assert r1.n == 1 and r1.min == r1.max == 7.5


@needs_res
def test_tdigest_ref_golden_rewrite():
    """golden → our writer → our reader: byte-stable state."""
    import numpy as np

    from datasketches_java_spark.kernels.tdigest import from_ref_bytes, to_ref_bytes

    g = from_ref_bytes(_bytes("tdigest_ref_k100_n10000_double.sk"))
    g2 = from_ref_bytes(to_ref_bytes(g))
    assert np.array_equal(g2.means, g.means)
    assert np.array_equal(g2.weights, g.weights)
    assert (g2.min, g2.max, g2.k) == (g.min, g.max, g.k)


def test_kll_ref_format_round_trip():
    """Write side of the KLL interop lane: our sketch serialized in the
    reference wire format parses back with identical level contents,
    for exact-regime, compacted, empty and single-item states."""
    import numpy as np

    from datasketches_java_spark.kernels.kll import (
        KllDoubles, from_ref_bytes, to_ref_bytes,
    )

    for n in (0, 1, 150, 20000):  # empty, single, exact regime, compacted
        sk = KllDoubles(k=200)
        if n:
            sk.update_many(np.arange(float(n)))
        rt = from_ref_bytes(to_ref_bytes(sk))
        assert rt.n == sk.n and rt.k == sk.k
        assert len(rt.levels) == max(1, len([lv for lv in sk.levels])) or n == 0
        a = np.sort(np.concatenate(sk.levels)) if sk.levels else np.empty(0)
        b = np.sort(np.concatenate(rt.levels)) if rt.levels else np.empty(0)
        assert np.array_equal(a, b)
        if n:
            for q in (0.0, 0.25, 0.5, 0.9, 1.0):
                assert rt.get_quantile(q) == sk.get_quantile(q)


@needs_res
def test_kll_ref_golden_rewrite():
    """golden → writer → reader is stable."""
    from datasketches_java_spark.kernels.kll import from_ref_bytes, to_ref_bytes

    g = from_ref_bytes(_bytes("kll_sketch_double_one_item_v1.sk"))
    g2 = from_ref_bytes(to_ref_bytes(g))
    assert g2.n == 1 and g2.get_quantile(0.5) == 1.0


@needs_res
def test_classic_quantiles_historical_goldens():
    """Q1 migration lane: every historical DoublesSketch golden the
    reference ships (serVer 1/2/3, v0.3.0 through v0.8.3) parses to
    the same total weight, min/max, and EXCLUSIVE median the
    reference's own QuantilesSketchCrossLanguageTest asserts."""
    from datasketches_java_spark.kernels.classic_quantiles import (
        from_ref_bytes, quantile_exclusive,
    )

    cases = [
        (f"Qk128_n{n}_v{v}.sk", n, med2)
        for v in ("0.3.0", "0.6.0", "0.8.0", "0.8.3")
        for n, med2 in ((50, 26.0), (1000, 501.0))
    ]
    for name, n, med2 in cases:
        sk = from_ref_bytes(_bytes(name))
        it, wt = sk._sorted_view()
        assert sk.n == n
        assert int(wt.sum()) == n          # retained weights rebuild n
        assert sk._ref_min == 1.0 and sk._ref_max == float(n)
        assert quantile_exclusive(sk, 0.5) == med2, name


@needs_res
def test_tuple_legacy_v1_double_summary_golden():
    """TupleCrossLanguageTest.serialVersion1Compatibility expectations:
    estimation mode, retained 4096, every summary value 1.0, estimate
    within the asserted envelope of the true 8192."""
    from datasketches_java_spark.kernels.tuple_compat import from_ref_bytes

    sk = from_ref_bytes(
        _bytes("CompactSketchWithDoubleSummary4K_serialVersion1.sk"), "double"
    )
    assert sk.is_estimation_mode()
    assert sk.retained == 4096
    assert (sk.values == 1.0).all()
    assert abs(sk.estimate() - 8192) <= 8192 * 0.05  # tighter than ref's 0.99
    # Theta invariant: every retained hash is below theta
    assert int(sk.hashes.max()) < sk.theta_long


@needs_res
def test_tuple_legacy_v2_integer_summary_golden():
    """TupleCrossLanguageTest.version2Compatibility: the 4k-trimmed
    IntegerSummary sketch built from 2*4096 distinct keys."""
    from datasketches_java_spark.kernels.tuple_compat import from_ref_bytes

    sk = from_ref_bytes(
        _bytes("TupleWithTestIntegerSummary4kTrimmedSerVer2.sk"), "integer4"
    )
    assert sk.is_estimation_mode()
    assert sk.retained == 4096
    assert abs(sk.estimate() - 8192) <= 8192 * 0.05
    assert int(sk.hashes.max()) < sk.theta_long


@needs_res
def test_arrayofdoubles_union_v091_golden():
    """The 17th and final in-tree golden: ArrayOfDoublesUnion_v0.9.1.sk.
    The reference ITSELF refuses this image (TupleCrossLanguageTest.
    noSupportHeapifyV0_9_1 expects SketchesArgumentException) because
    the historical union serialized its gadget QuickSelect sketch
    directly with no union preamble; the gadget byte map is unchanged
    (ArrayOfDoublesQuickSelectSketch.java:38-53), so the state is
    fully recoverable."""
    import numpy as np

    from datasketches_java_spark.kernels.mmh3 import compute_seed_hash
    from datasketches_java_spark.kernels.tuple_compat import (
        from_ref_union_bytes,
    )

    buf = _bytes("ArrayOfDoublesUnion_v0.9.1.sk")
    sk = from_ref_union_bytes(buf, check_seed_hash=compute_seed_hash(9001))
    # header facts, verified against the raw bytes: estimating-mode
    # union gadget, nominal 4096, 8192-slot table, 1 double per key
    assert sk.is_estimation_mode()
    assert sk.retained == 4096
    assert not sk.empty
    # theta invariant + open-table compaction correctness
    assert int(sk.hashes.max()) < sk.theta_long
    assert (sk.hashes > 0).all()
    assert len(np.unique(sk.hashes)) == sk.retained
    # a nominal-4096 QS gadget trimmed at 2^63*theta: the source stream
    # had ~retained/theta distinct keys; the estimate must be finite,
    # positive, and consistent with the header fields
    est = sk.estimate()
    assert est > sk.retained
    assert np.isfinite(sk.values).all()
    assert sk.values_all.shape == (4096, 1)
