"""Current-generation ArrayOfDoublesCompactSketch wire format
(kernels/tuple_compat.py aod_* functions). The legacy serVer 1/2 and
union-gadget forms are covered against in-tree goldens in
tests/test_ref_goldens.py; the current format has no in-tree golden,
so evidence is layout-exact fixtures + round-trips."""

import numpy as np
import pytest
# ------------------------- current ArrayOfDoublesCompactSketch format

def test_aod_current_format_roundtrip_and_layout():
    import struct
    from datasketches_java_spark.kernels.tuple_compat import (
        ArrayOfDoublesSketchImage, aod_from_ref_bytes, aod_to_ref_bytes,
    )
    hashes = np.sort(np.array([11, 222, 3333], dtype=np.int64))
    values = np.array([[1.5, 2.0], [0.25, -1.0], [3.0, 4.5]])
    sk = ArrayOfDoublesSketchImage(
        hashes=hashes, values=values, theta_long=(1 << 63) - 1,
        empty=False, seed_hash=0x1234,
    )
    buf = aod_to_ref_bytes(sk)
    # header per ArrayOfDoublesSketch.java byte addresses
    assert buf[0] == 1 and buf[1] == 1 and buf[2] == 9 and buf[3] == 3
    assert buf[4] == 8          # HAS_ENTRIES only
    assert buf[5] == 2          # numValues
    (sh,) = struct.unpack_from("<H", buf, 6)
    assert sh == 0x1234
    (count,) = struct.unpack_from("<i", buf, 16)
    assert count == 3 and len(buf) == 24 + 3 * 8 + 3 * 2 * 8
    back = aod_from_ref_bytes(buf, check_seed_hash=0x1234)
    assert np.array_equal(back.hashes, hashes)
    assert np.array_equal(back.values, values)
    assert not back.empty and back.theta_long == (1 << 63) - 1
    assert back.estimate() == 3.0
    assert np.allclose(back.column_sum_estimates(), values.sum(axis=0))


def test_aod_empty_estimation_and_rejects():
    from datasketches_java_spark.kernels.tuple_compat import (
        ArrayOfDoublesSketchImage, aod_from_ref_bytes, aod_to_ref_bytes,
    )
    empty = ArrayOfDoublesSketchImage(
        hashes=np.empty(0, np.int64), values=np.empty((0, 1)),
        theta_long=(1 << 63) - 1, empty=True, seed_hash=7,
    )
    back = aod_from_ref_bytes(aod_to_ref_bytes(empty))
    assert back.empty and back.retained == 0 and back.estimate() == 0.0

    est = ArrayOfDoublesSketchImage(
        hashes=np.arange(100, dtype=np.int64) * 1000 + 1,
        values=np.ones((100, 1)), theta_long=(1 << 62), empty=False,
        seed_hash=7,
    )
    back2 = aod_from_ref_bytes(aod_to_ref_bytes(est))
    assert back2.estimate() == pytest.approx(200.0, rel=1e-12)
    # per-column unbiased totals scale by 1/theta as well
    assert back2.column_sum_estimates()[0] == pytest.approx(200.0, rel=1e-12)

    bad = bytearray(aod_to_ref_bytes(est))
    bad[3] = 1  # CompactTupleSketch type fed to the AoD reader
    with pytest.raises(ValueError):
        aod_from_ref_bytes(bytes(bad))
    with pytest.raises(ValueError):
        aod_from_ref_bytes(aod_to_ref_bytes(est), check_seed_hash=9)


# ------------------------- updatable QuickSelectSketch, sampling mode

def _qs_sampling_image(p: float, entries=()) -> bytes:
    """Updatable tuple QS image (serVer 2, family 9, type 0) in sampling
    mode with the theta long elided, double summaries."""
    import struct
    flags = 2 | (8 if entries else 4)  # IN_SAMPLING_MODE | HAS_ENTRIES/EMPTY
    buf = bytes([1, 2, 9, 0, flags, 12, 5, 3]) + struct.pack("<f", p)
    if entries:
        buf += struct.pack("<i", len(entries))
        for h, v in entries:
            buf += struct.pack("<qdB", h, v, 0)
    return buf


def test_qs_sampling_theta_saturates_at_p_one():
    """At p == 1.0, LONG_MAX·p rounds to 2^63; Java's (long) cast
    saturates to LONG_MAX, so the image is not in estimation mode."""
    from datasketches_java_spark.kernels.tuple_compat import (
        from_ref_updatable_bytes,
    )
    long_max = (1 << 63) - 1
    sk = from_ref_updatable_bytes(_qs_sampling_image(1.0, [(5, 2.5), (3, 1.0)]))
    assert sk.theta_long == long_max
    assert not sk.is_estimation_mode()
    assert list(sk.hashes) == [3, 5] and list(sk.values) == [1.0, 2.5]
    assert sk.estimate() == 2.0
    assert from_ref_updatable_bytes(_qs_sampling_image(1.0)).theta_long == long_max
    # below 1.0 the product is in range and the cast truncates as before
    half = from_ref_updatable_bytes(_qs_sampling_image(0.5))
    assert half.theta_long == int(long_max * 0.5) < long_max
