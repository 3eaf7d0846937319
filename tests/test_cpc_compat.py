"""CPC reference compressed wire format (kernels/cpc_compat.py).

No CPC golden image ships in the reference's test resources, so the
evidence here is: (a) the derived decoding tables satisfy the
reference's own validateDecodingTable invariant
(cpc/CompressionData.java:88-105) against the byte-identical published
encoding tables; (b) every flavor (SPARSE/HYBRID/PINNED/SLIDING, HIP
and merged) round-trips bit-exactly through the documented format; (c)
preamble bytes match the documented layouts (cpc/PreambleUtil.java).
"""
import numpy as np
import pytest

from datasketches_java_spark.kernels._cpc_tables import (
    COLUMN_PERMUTATIONS_ENC,
    ENCODING_TABLES,
    UNARY_ENCODING_TABLE_65,
)
from datasketches_java_spark.kernels.cpc import CpcSketch
from datasketches_java_spark.kernels.cpc_compat import (
    COLUMN_PERMUTATIONS_DEC,
    DECODING_TABLES,
    UNARY_DECODING_TABLE_65,
    _compress_bytes,
    _compress_pairs,
    _golomb_base_bits,
    _uncompress_bytes,
    _uncompress_pairs,
    determine_correct_offset,
    determine_flavor,
    from_ref_bytes,
    to_ref_bytes,
)


def _validate_decoding_table(dec, enc, num_values):
    """Direct port of the reference's validateDecodingTable
    (CompressionData.java:88-105)."""
    for decode_this in range(4096):
        tmp_d = int(dec[decode_this])
        decoded_byte = tmp_d & 0xFF
        decoded_length = tmp_d >> 8
        if decoded_byte >= num_values:
            continue  # slot never produced by a valid stream
        tmp_e = int(enc[decoded_byte])
        encoded_bitpattern = tmp_e & 0xFFF
        encoded_length = tmp_e >> 12
        assert decoded_length == encoded_length
        assert encoded_bitpattern == (decode_this & ((1 << decoded_length) - 1))


def test_decoding_tables_satisfy_reference_invariant():
    for i in range(22):
        _validate_decoding_table(DECODING_TABLES[i], ENCODING_TABLES[i], 256)
    _validate_decoding_table(UNARY_DECODING_TABLE_65, UNARY_ENCODING_TABLE_65, 65)


def test_encoding_tables_are_prefix_complete():
    # every code length is 1..12 and the 256 codes of each table are
    # exactly the leaves of a prefix code (Kraft sum == 1)
    for t in ENCODING_TABLES:
        lengths = (t.astype(np.int64) >> 12)
        assert lengths.min() >= 1 and lengths.max() <= 12
        assert np.isclose(np.sum(2.0 ** -lengths), 1.0)


def test_column_permutations_invert():
    for i in range(16):
        p = COLUMN_PERMUTATIONS_ENC[i].astype(int)
        q = COLUMN_PERMUTATIONS_DEC[i].astype(int)
        assert sorted(p) == list(range(56))
        assert all(p[q[j]] == j for j in range(56))


def test_unary_roundtrip():
    """A pair's Golomb-hi row delta is true unary (writeUnary: hi zero
    bits, then a one), runs of 16 and more included."""
    values = [0, 1, 7, 15, 16, 17, 31, 32, 100, 1000]
    x_len = int(UNARY_ENCODING_TABLE_65[0]) >> 12  # column delta 0
    for v in values:
        words = _compress_pairs(np.array([v << 6]), 0)
        bits = np.unpackbits(words.view(np.uint8), bitorder="little")
        assert not bits[x_len:x_len + v].any() and bits[x_len + v] == 1
        assert _uncompress_pairs(words, 1, 0).tolist() == [v << 6]
    pairs = (np.cumsum(values) << 6) | np.arange(len(values))
    assert np.array_equal(
        _uncompress_pairs(_compress_pairs(pairs, 0), len(pairs), 0), pairs)


def test_low_level_bytes_roundtrip():
    rng = np.random.default_rng(7)
    # skew toward low byte values like a real window
    data = np.minimum(rng.geometric(0.3, size=2048) - 1, 255).astype(np.uint8)
    for phase in (0, 6, 16, 21):
        words = _compress_bytes(data, phase)
        out = _uncompress_bytes(words, len(data), phase)
        assert np.array_equal(out, data)


def test_low_level_pairs_roundtrip():
    rng = np.random.default_rng(11)
    k = 1024
    n = 500
    rows = np.sort(rng.integers(0, k, n))
    cols = rng.integers(0, 56, n)
    pairs = np.unique((rows.astype(np.int64) << 6) | cols)
    for base_bits in (0, 1, _golomb_base_bits(k + len(pairs), len(pairs)), 6):
        words = _compress_pairs(pairs, base_bits)
        out = _uncompress_pairs(words, len(pairs), base_bits)
        assert np.array_equal(out, pairs)


# ---------------------------------------------------------------------------
# whole-sketch round trips across all flavors

FLAVOR_NS = [
    ("SPARSE", 50),
    ("HYBRID", 300),
    ("PINNED", 1800),
    ("SLIDING", 100_000),
]


@pytest.mark.parametrize("expected_flavor,n", FLAVOR_NS)
def test_roundtrip_hip(expected_flavor, n):
    sk = CpcSketch(lg_k=10)
    sk.update_longs(np.arange(n, dtype=np.int64))
    assert determine_flavor(sk.lg_k, sk.num_coupons) == expected_flavor
    buf = to_ref_bytes(sk)
    back = from_ref_bytes(buf)
    assert back.lg_k == sk.lg_k
    assert back.num_coupons == sk.num_coupons
    assert np.array_equal(back.matrix, sk.matrix)
    assert back.merge_flag is False
    assert back.kxp == pytest.approx(sk.kxp, rel=0, abs=0)  # exact doubles
    assert back.hip == pytest.approx(sk.hip, rel=0, abs=0)
    assert back.get_estimate() == sk.get_estimate()


@pytest.mark.parametrize("expected_flavor,n", FLAVOR_NS)
def test_roundtrip_merged(expected_flavor, n):
    half = CpcSketch(lg_k=10).update_longs(np.arange(n // 2, dtype=np.int64))
    rest = CpcSketch(lg_k=10).update_longs(np.arange(n // 2, n, dtype=np.int64))
    sk = half.merge(rest)
    buf = to_ref_bytes(sk)
    back = from_ref_bytes(buf)
    assert np.array_equal(back.matrix, sk.matrix)
    assert back.merge_flag is True
    assert back.get_estimate() == sk.get_estimate()  # ICON on both sides


def test_roundtrip_empty():
    sk = CpcSketch(lg_k=11)
    buf = to_ref_bytes(sk)
    assert len(buf) == 8  # EMPTY_HIP: 2 preamble ints only
    back = from_ref_bytes(buf)
    assert back.num_coupons == 0
    assert back.lg_k == 11
    assert back.get_estimate() == 0.0


def test_sliding_has_nonzero_offset():
    # guard that the SLIDING test point really exercises the rotated
    # early zone (offset > 0) and the XOR surprising-zero path
    sk = CpcSketch(lg_k=10).update_longs(np.arange(100_000, dtype=np.int64))
    assert determine_correct_offset(sk.lg_k, sk.num_coupons) > 0


def test_preamble_layout_sparse_hip():
    sk = CpcSketch(lg_k=9).update_longs(np.arange(20, dtype=np.int64))
    buf = to_ref_bytes(sk)
    # PI=8, SerVer=1, Family=16, lgK=9, fiCol=0,
    # flags = compressed(2) | SPARSE_HYBRID_HIP(3)<<2 = 0x0E
    assert buf[0] == 8 and buf[1] == 1 and buf[2] == 16
    assert buf[3] == 9 and buf[4] == 0 and buf[5] == 0x0E
    num_coupons = int.from_bytes(buf[8:12], "little")
    assert num_coupons == sk.num_coupons


def test_bad_images_rejected():
    sk = CpcSketch(lg_k=10).update_longs(np.arange(100, dtype=np.int64))
    buf = bytearray(to_ref_bytes(sk))
    with pytest.raises(ValueError):
        from_ref_bytes(bytes(buf), seed=123)  # wrong seed
    bad = bytearray(buf)
    bad[2] = 15  # not the CPC family
    with pytest.raises(ValueError):
        from_ref_bytes(bytes(bad))
    bad = bytearray(buf)
    bad[5] &= ~2  # clear compressed flag
    with pytest.raises(ValueError):
        from_ref_bytes(bytes(bad))


def test_compression_is_actually_compact():
    # sanity: the compressed image of a full sketch is far smaller than
    # the 8k-byte raw matrix (the point of the CPC format)
    sk = CpcSketch(lg_k=10).update_longs(np.arange(100_000, dtype=np.int64))
    assert len(to_ref_bytes(sk)) < 0.45 * 8 * 1024
