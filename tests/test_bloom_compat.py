"""Reference Bloom filter interop (kernels/bloom_compat.py), validated
LIVE against datasketches-java itself (Spark's jars ship
datasketches-java 6.2.0; filters/bloomfilter/* classes are reachable
in-process via the session JVM):
  - our XXH64-of-a-long == XxHash.hashLong for arbitrary seeds, and
    == Spark SQL's xxhash64 (seed 42) vectorized,
  - a filter image written by the Java library queries identically in
    Python (and bit-arrays agree exactly for the same update stream),
  - images WE write are heapified by the Java library and answer
    identically.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from datasketches_java_spark.kernels.bloom_compat import (
    RefBloomFilter,
    from_ref_bytes,
    to_ref_bytes,
)
from datasketches_java_spark.kernels.hashing import xxhash64_int, xxhash64_long


def _as_i64(u):
    return int(np.uint64(u).astype(np.int64))


def test_xxhash64_long_matches_java_reference(spark):
    """Bit-exact vs XxHash.hash(v, seed) (hash/XxHash64.java:173; named
    hashLong in the current reference, hash in the 6.2.0 jar Spark
    ships — same single-long kernel)."""
    xx = spark._jvm.org.apache.datasketches.hash.XxHash
    rng = np.random.default_rng(11)
    vals = np.concatenate([
        np.array([0, 1, -1, 2**63 - 1, -(2**63)], dtype=np.int64),
        rng.integers(-(2**62), 2**62, 20, dtype=np.int64),
    ])
    for seed in (0, 42, 9001, -7, 2**31):
        ours = xxhash64_long(vals, np.uint64(seed & 0xFFFFFFFFFFFFFFFF))
        for v, o in zip(vals, ours):
            assert xx.hash(int(v), seed) == _as_i64(o)


def test_xxhash64_long_matches_spark_sql_vectorized(spark):
    """Same primitive as Spark SQL xxhash64 (fixed seed 42) across 10k
    longs — the whole-column JVM check."""
    n = 10_000
    df = spark.range(n).select(
        F.col("id"), F.xxhash64(F.col("id")).alias("h"))
    got = df.toPandas().sort_values("id")
    ours = xxhash64_long(got["id"].to_numpy(np.int64), np.uint64(42))
    np.testing.assert_array_equal(
        got["h"].to_numpy(np.int64), ours.astype(np.int64))


def test_xxhash64_int_chain_matches_spark_sql(spark):
    """Spark's xxhash64(id, lit(seed)) — seed 42 over the id, then the
    int seed — equals the NumPy chain for random long and int ids (the
    IVF centroid order, operators/similarity.py)."""
    rng = np.random.default_rng(5)
    longs = np.concatenate([np.array([0, -1, 2**63 - 1, -(2**63)], dtype=np.int64),
                            rng.integers(-(2**63), 2**63 - 1, 2000, dtype=np.int64)])
    ints = np.concatenate([np.array([0, -1, 2**31 - 1, -(2**31)], dtype=np.int64),
                           rng.integers(-(2**31), 2**31, 2000)])
    pdf = pd.DataFrame({"l": longs, "i": ints.astype(np.int32)})
    for seed in (9001, -7):
        got = spark.createDataFrame(pdf).select(
            F.xxhash64("l", F.lit(seed)).alias("hl"),
            F.xxhash64("i", F.lit(seed)).alias("hi"),
        ).toPandas()
        for col, first in (("hl", xxhash64_long(longs, np.uint64(42))),
                           ("hi", xxhash64_int(ints, np.uint64(42)))):
            ours = xxhash64_int(np.int32(seed), first).astype(np.int64)
            np.testing.assert_array_equal(got[col].to_numpy(np.int64), ours)


@pytest.fixture()
def java_filter(spark):
    bb = spark._jvm.org.apache.datasketches.filters.bloomfilter.BloomFilterBuilder
    return bb.createBySize(1 << 12, 5, 9001)


def test_java_image_queries_identically(spark, java_filter):
    items = list(range(0, 1000, 3))
    for v in items:
        java_filter.update(v)
    img = bytes(java_filter.toByteArray())
    bf = from_ref_bytes(img)
    assert (bf.m, bf.h, bf.seed) == (1 << 12, 5, 9001)
    probe = np.arange(0, 1500, dtype=np.int64)
    ours = bf.query(probe)
    theirs = np.array([java_filter.query(int(v)) for v in probe])
    np.testing.assert_array_equal(ours, theirs)
    assert ours[np.isin(probe, items)].all()  # no false negatives


def test_same_updates_same_bits_as_java(spark, java_filter):
    """Our probe schedule IS the reference's: identical update stream
    → identical bit array (the data section of the wire image)."""
    items = np.arange(500, dtype=np.int64) * 7 - 100
    for v in items:
        java_filter.update(int(v))
    ours = RefBloomFilter(1 << 12, 5, 9001).update(items)
    jimg = bytes(java_filter.toByteArray())
    np.testing.assert_array_equal(
        np.frombuffer(jimg[32:], dtype="<u8"), ours.bits)
    assert from_ref_bytes(jimg).bits_set == ours.bits_set


def test_our_image_heapified_by_java(spark):
    items = np.arange(64, dtype=np.int64) * 31
    ours = RefBloomFilter(2048, 4, 9001).update(items)
    img = to_ref_bytes(ours)
    mem = spark._jvm.org.apache.datasketches.memory.Memory.wrap(img)
    jbf = spark._jvm.org.apache.datasketches.filters.bloomfilter.BloomFilter.heapify(mem)
    assert jbf.getCapacity() == ours.m and jbf.getNumHashes() == ours.h
    assert jbf.getBitsUsed() == ours.bits_set
    probe = np.arange(-50, 2500, 13, dtype=np.int64)
    theirs = np.array([jbf.query(int(v)) for v in probe])
    np.testing.assert_array_equal(ours.query(probe), theirs)


def test_empty_form_roundtrip(spark):
    ours = RefBloomFilter(1024, 3, 7)
    img = to_ref_bytes(ours)
    assert len(img) == 24 and img[0] == 3 and (img[3] & 4)
    back = from_ref_bytes(img)
    assert back.is_empty() and back.m == 1024 and back.h == 3
    mem = spark._jvm.org.apache.datasketches.memory.Memory.wrap(img)
    jbf = spark._jvm.org.apache.datasketches.filters.bloomfilter.BloomFilter.heapify(mem)
    assert jbf.isEmpty() and jbf.getCapacity() == 1024


def test_union_intersect_match_bitwise():
    a = RefBloomFilter(4096, 5, 1).update(np.arange(100, dtype=np.int64))
    b = RefBloomFilter(4096, 5, 1).update(np.arange(50, 150, dtype=np.int64))
    u = a.union(b)
    assert u.query(np.arange(150, dtype=np.int64)).all()
    i = a.intersect(b)
    assert i.query(np.arange(50, 100, dtype=np.int64)).all()


def test_rejects_bad_images():
    with pytest.raises(ValueError):
        from_ref_bytes(b"\x03\x02\x15" + b"\x00" * 21)  # serVer 2
    with pytest.raises(ValueError):
        from_ref_bytes(b"\x03\x01\x14" + b"\x00" * 21)  # family 20
    with pytest.raises(ValueError):
        from_ref_bytes(b"\x03\x01")
