"""MurmurHash3 known-answer vectors + reference-format theta images.

The mmh3 vectors are the public-domain C++ v150 results the reference's
own tests assert (test hash/MurmurHash3Test.java:41-160); the golden
byte images are hand-constructed from the documented preamble layout
(theta/PreambleUtil.java:58-125) independently of the serializer under
test — our analog of the cross-language .sk resources consumed by
theta/ThetaSketchCrossLanguageTest.java:40 (a Java-generated fixture
needs JDK21+ for java.lang.foreign, unavailable here)."""

import struct

import numpy as np
import pytest

from datasketches_java_spark.kernels import theta_compat as tc
from datasketches_java_spark.kernels.mmh3 import (
    compute_seed_hash,
    mmh3_128,
    mmh3_128_longs,
)

# (input string, seed, h1, h2) — public-domain C++ v150 known answers
VECTORS = [
    ("The quick brown fox jumps over the lazy dog", 0,
     0xE34BBC7BBC071B6C, 0x7A433CA9C49A9347),
    ("The quick brown fox jumps over the lazy eog", 0,
     0x362108102C62D1C9, 0x3285CD100292B305),
    ("The quick brown fox jumps over the lazy dogdogdog", 0,
     0x9C8205300E612FC4, 0xCBC0AF6136AA3DF9),
    ("The quick brown fox jumps over the lazy1", 0,
     0xE3301A827E5CDFE3, 0xBDBF05F8DA0F0392),
]


@pytest.mark.parametrize("s,seed,h1,h2", VECTORS)
def test_mmh3_known_answers(s, seed, h1, h2):
    got1, got2 = mmh3_128(s.encode(), seed)
    assert got1 == h1 and got2 == h2


def test_mmh3_longs_matches_bytes():
    """hash(long) must equal hash of its 8 LE bytes (the Java overload
    equivalence asserted by checkLongArrRemainderEQ8)."""
    keys = np.array([0, 1, -1, 9001, 2**62, -(2**62)], dtype=np.int64)
    h1v, h2v = mmh3_128_longs(keys, 9001)
    for i, k in enumerate(keys):
        e1, e2 = mmh3_128(struct.pack("<q", int(k)), 9001)
        assert int(h1v[i]) == e1 and int(h2v[i]) == e2


def test_seed_hash():
    sh = compute_seed_hash(9001)
    assert 0 < sh <= 0xFFFF
    # deterministic and seed-sensitive
    assert sh == compute_seed_hash(9001)
    assert sh != compute_seed_hash(9002)


def _golden_empty(seed_hash: int) -> bytes:
    # preamble doc: empty = 8 bytes, preLongs=1, flags RO|Compact|Ordered|Empty
    return struct.pack("<BBBBBBH", 1, 3, 3, 0, 0, 2 | 8 | 16 | 4, seed_hash)


def _golden_single(seed_hash: int, h: int) -> bytes:
    return struct.pack("<BBBBBBH", 1, 3, 3, 0, 0, 2 | 8 | 16 | 32, seed_hash) + struct.pack("<q", h)


def _golden_exact(seed_hash: int, hashes) -> bytes:
    head = struct.pack("<BBBBBBH", 2, 3, 3, 0, 0, 2 | 8 | 16, seed_hash)
    head += struct.pack("<if", len(hashes), 1.0)
    return head + np.asarray(hashes, dtype="<i8").tobytes()


def test_serialize_matches_hand_constructed_goldens():
    sh = compute_seed_hash(9001)
    # the empty image carries seed hash 0: Spark's theta_sketch_agg
    # (datasketches-java 6.2.0) over an all-NULL group writes these bytes
    assert tc.serialize_compact(np.empty(0, np.int64)) == _golden_empty(0)
    assert _golden_empty(0) == bytes.fromhex("01030300001e0000")

    h1 = tc.hash_longs(np.array([1], dtype=np.int64))
    assert tc.serialize_compact(h1) == _golden_single(sh, int(h1[0]))

    hs = tc.hash_longs(np.arange(10, dtype=np.int64))
    hs = np.sort(hs)
    assert tc.serialize_compact(hs) == _golden_exact(sh, hs)


def test_round_trip_all_forms():
    cases = [
        (np.empty(0, np.int64), tc.LONG_MAX),                      # empty
        (tc.hash_longs(np.array([7], dtype=np.int64)), tc.LONG_MAX),  # single
        (np.sort(tc.hash_longs(np.arange(100))), tc.LONG_MAX),     # exact
    ]
    hs, th = tc.build_theta(tc.hash_longs(np.arange(10_000)), k=256)
    assert th < tc.LONG_MAX and len(hs) == 256                     # estimating
    cases.append((hs, th))
    for hashes, theta in cases:
        buf = tc.serialize_compact(hashes, theta)
        h2, t2, empty2 = tc.deserialize_compact(buf)
        assert t2 == theta and empty2 == (len(hashes) == 0 and theta == tc.LONG_MAX)
        np.testing.assert_array_equal(h2, hashes)


def test_estimating_estimate_within_bounds():
    n = 50_000
    hs, th = tc.build_theta(tc.hash_longs(np.arange(n)), k=4096)
    est = tc.estimate(len(hs), th)
    # binomial RSE ~ 1/sqrt(k); 4 sd envelope
    assert abs(est - n) < 4 * n / np.sqrt(4096)


def test_deserialize_rejects_garbage():
    with pytest.raises(ValueError):
        tc.deserialize_compact(b"\x01\x02\x03")
    ok = tc.serialize_compact(np.empty(0, np.int64))
    bad = bytes([ok[0], 99]) + ok[2:]  # wrong serial version
    with pytest.raises(ValueError):
        tc.deserialize_compact(bad)
    # seed check applies to non-empty images only: the reference's
    # canonical EmptyCompactSketch carries seedHash 0 and its heapify
    # skips the check, so empties parse under any seed
    h, th, empty = tc.deserialize_compact(ok, seed=1234)
    assert empty and len(h) == 0
    nonempty = tc.serialize_compact(np.array([5, 9], dtype=np.int64))
    with pytest.raises(ValueError):
        tc.deserialize_compact(nonempty, seed=1234)  # seed-hash mismatch


def test_string_and_long_lanes_disjoint_but_mergeable():
    """update(String) and update(long) streams can union (same hash
    space); sanity on the byte-items lane."""
    a = tc.hash_bytes_items([b"alpha", b"beta", b"gamma"])
    b = tc.hash_longs(np.arange(5))
    u = np.unique(np.concatenate([a, b]))
    assert len(u) == 8  # no collisions at this size
    buf = tc.serialize_compact(np.sort(u))
    h, th, _ = tc.deserialize_compact(buf)
    assert th == tc.LONG_MAX and len(h) == 8


# --- legacy serial version 1/2 migration forms (round-4 verdict #5;
# fixture bytes hand-built per the historical layouts — the same
# treatment tuple/classic-quantiles goldens got) ---

def _v1_image(hashes, theta_long) -> bytes:
    """serVer 1: always 3 preamble longs, no flags/seed hash."""
    head = struct.pack("<BBBBBBH", 3, 1, 3, 0, 0, 0, 0)
    head += struct.pack("<if", len(hashes), 1.0)
    head += struct.pack("<q", theta_long)
    return head + np.asarray(hashes, dtype="<i8").tobytes()


def _v2_image(hashes, theta_long, seed_hash) -> bytes:
    """serVer 2: preLongs 1 empty / 2 exact / 3 estimating."""
    if len(hashes) == 0 and theta_long == tc.LONG_MAX:
        return struct.pack("<BBBBBBH", 1, 2, 3, 0, 0, 0, seed_hash)
    pre = 2 if theta_long == tc.LONG_MAX else 3
    head = struct.pack("<BBBBBBH", pre, 2, 3, 0, 0, 0, seed_hash)
    head += struct.pack("<if", len(hashes), 1.0)
    if pre == 3:
        head += struct.pack("<q", theta_long)
    return head + np.asarray(hashes, dtype="<i8").tobytes()


def test_legacy_v1_forms_heapify_to_v3_state():
    hs = np.sort(tc.hash_longs(np.arange(50)))
    for hashes, theta in [
        (np.empty(0, np.int64), tc.LONG_MAX),   # v1 empty rule
        (hs, tc.LONG_MAX),                      # exact
    ]:
        h, t, empty = tc.deserialize_compact(_v1_image(hashes, theta))
        h3, t3, e3 = tc.deserialize_compact(tc.serialize_compact(hashes, theta))
        np.testing.assert_array_equal(h, h3)
        assert (t, empty) == (t3, e3)
    # v1 estimating
    ehs, eth = tc.build_theta(tc.hash_longs(np.arange(5000)), k=128)
    h, t, empty = tc.deserialize_compact(_v1_image(ehs, eth))
    np.testing.assert_array_equal(h, ehs)
    assert t == eth and not empty


def test_legacy_v2_forms_heapify_to_v3_state():
    sh = compute_seed_hash(9001)
    hs = np.sort(tc.hash_longs(np.arange(50)))
    ehs, eth = tc.build_theta(tc.hash_longs(np.arange(5000)), k=128)
    for hashes, theta in [
        (np.empty(0, np.int64), tc.LONG_MAX),
        (hs, tc.LONG_MAX),
        (ehs, eth),
    ]:
        h, t, empty = tc.deserialize_compact(_v2_image(hashes, theta, sh))
        h3, t3, e3 = tc.deserialize_compact(tc.serialize_compact(hashes, theta))
        np.testing.assert_array_equal(h, h3)
        assert (t, empty) == (t3, e3)


def test_legacy_v2_seed_hash_validated_v1_not():
    hs = np.sort(tc.hash_longs(np.arange(10)))
    # v2 with a wrong seed hash must be rejected ...
    bad = _v2_image(hs, tc.LONG_MAX, 0xBEEF)
    try:
        tc.deserialize_compact(bad)
        assert False, "v2 wrong seed hash accepted"
    except ValueError:
        pass
    # ... while v1 images (seed hash commonly zero) are not validated
    h, t, empty = tc.deserialize_compact(_v1_image(hs, tc.LONG_MAX))
    assert len(h) == len(hs) and not empty


# ---------------------------------------------------------------- v4

def test_v4_roundtrip_exact_and_estimating():
    from datasketches_java_spark.kernels.theta_compat import (
        LONG_MAX, deserialize_compact, hash_longs, serialize_compact,
        serialize_compact_v4,
    )
    h = np.sort(hash_longs(np.arange(5000, dtype=np.int64)))
    # exact mode
    buf = serialize_compact_v4(h)
    assert buf[1] == 4 and buf[0] == 1  # serVer 4, 1 preamble long
    back, theta, empty = deserialize_compact(buf)
    assert not empty and theta == LONG_MAX
    assert np.array_equal(back, h)
    # compression actually compresses vs the v3 image
    assert len(buf) < len(serialize_compact(h))
    # estimation mode (theta < max): theta long present, preLongs 2
    k = 1024
    theta_long = int(h[k])
    retained = h[:k]
    buf2 = serialize_compact_v4(retained, theta_long)
    assert buf2[0] == 2
    back2, theta2, _ = deserialize_compact(buf2)
    assert theta2 == theta_long and np.array_equal(back2, retained)


def test_v4_header_and_bitstream_layout():
    """Hand-checkable case: hashes {3, 10, 12} -> deltas {3, 7, 2},
    ored=7 -> entryBits=3; bitstream MSB-first: 011 111 010 + pad."""
    from datasketches_java_spark.kernels.theta_compat import (
        compute_seed_hash, deserialize_compact, serialize_compact_v4,
    )
    buf = serialize_compact_v4(np.array([3, 10, 12], dtype=np.int64))
    assert buf[0] == 1 and buf[1] == 4 and buf[2] == 3
    assert buf[3] == 3        # entryBits
    assert buf[4] == 1        # numEntriesBytes
    assert buf[5] == 2 | 8 | 16  # READ_ONLY|COMPACT|ORDERED
    (sh,) = struct.unpack_from("<H", buf, 6)
    assert sh == compute_seed_hash(9001)
    assert buf[8] == 3        # entry count
    assert buf[9] == 0b01111101 and buf[10] == 0b00000000
    back, _, _ = deserialize_compact(buf)
    assert back.tolist() == [3, 10, 12]


def test_v4_wide_deltas_and_single_entry():
    from datasketches_java_spark.kernels.theta_compat import (
        deserialize_compact, serialize_compact_v4,
    )
    # deltas needing ~62 bits
    h = np.array([1, (1 << 62) + 5, (1 << 62) + 6], dtype=np.int64)
    back, _, _ = deserialize_compact(serialize_compact_v4(h))
    assert back.tolist() == h.tolist()
    # single entry in estimation mode stays v4-encodable
    one = np.array([123456789], dtype=np.int64)
    buf = serialize_compact_v4(one, theta_long=1 << 61)
    back1, th, _ = deserialize_compact(buf)
    assert back1.tolist() == [123456789] and th == 1 << 61
    # empty and exact-single fall back to v3 forms
    from datasketches_java_spark.kernels.theta_compat import LONG_MAX
    assert serialize_compact_v4(np.empty(0, np.int64))[1] == 3
    assert serialize_compact_v4(one, LONG_MAX)[1] == 3
