"""Bloom filter, Count-Min, and HLL-bound-table kernels vs the
reference's contracts (BloomFilterBuilder sizing, CountMinSketch
suggest formulas + ε·N guarantee, RelativeErrorTables envelope), and
the distributed filter operators vs the reference sketches they
build."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from datasketches_java_spark.kernels import bloom_compat, countmin_compat
from datasketches_java_spark.kernels.bloom_compat import (
    RefBloomFilter, suggest_num_filter_bits, suggest_num_hashes,
    suggest_num_hashes_from_size,
)
from datasketches_java_spark.kernels.countmin_compat import (
    RefCountMin, suggest_num_buckets, suggest_num_hashes as cm_num_hashes,
)
from datasketches_java_spark.kernels.hll_bounds import get_rel_err, hll_bounds


# ----------------------------------------------------------------- Bloom

def test_bloom_builder_formulas_match_reference():
    # BloomFilterBuilder.java:78-80: ceil(-n ln p / ln2²)
    assert suggest_num_filter_bits(5000, 0.01) == int(
        np.ceil(-5000 * np.log(0.01) / (np.log(2) ** 2))
    )
    # :63-68: ceil(-log2 p)
    assert suggest_num_hashes(0.01) == 7
    assert suggest_num_hashes(0.001) == 10
    # :50-55: ceil((m/n)·ln2)
    assert suggest_num_hashes_from_size(1000, 9586) == int(
        np.ceil(9586 / 1000 * np.log(2))
    )


def test_bloom_no_false_negatives_and_fpp():
    rng = np.random.default_rng(7)
    n = 5000
    items = np.unique(rng.integers(0, 1 << 40, 2 * n, dtype=np.uint64))[:n]
    m = suggest_num_filter_bits(n, 0.01)
    bf = RefBloomFilter(m, suggest_num_hashes_from_size(n, m), seed=9001)
    bf.update(items)
    assert bf.query(items).all()  # definite: no false negatives
    absent = np.arange(1 << 41, (1 << 41) + 20000, dtype=np.uint64)
    fpp = bf.query(absent).mean()
    assert fpp < 0.02, fpp  # target 1%, allow 2x slack


def test_bloom_image_roundtrip_and_incompatible_union():
    a = RefBloomFilter(4096, 5).update(np.arange(100, dtype=np.int64))
    b = RefBloomFilter(4096, 5).update(np.arange(50, 150, dtype=np.int64))
    u = a.union(b)
    rt = bloom_compat.from_ref_bytes(bloom_compat.to_ref_bytes(u))
    assert np.array_equal(rt.bits, u.bits) and rt.h == u.h and rt.m == u.m
    assert rt.seed == u.seed
    with pytest.raises(ValueError):
        a.union(RefBloomFilter(8192, 5))


def test_bloom_build_blob_heapified_by_java(spark):
    """bloom_build's blob is a reference image: the shipped
    datasketches-java heapifies it, and its query(xxhash64(key))
    admits exactly the probe rows bloom_might_contain keeps."""
    from datasketches_java_spark.operators.filters import (
        bloom_build, bloom_might_contain,
    )

    build = spark.range(0, 600).select((F.col("id") * 13).alias("key"))
    probe = spark.range(0, 20_000).select((F.col("id") % 10_000).alias("key"))
    bdf = bloom_build(build, "key", max_distinct=600, target_fpp=0.05)
    blob = bytes(bdf.collect()[0]["sketch"])
    jvm = spark._jvm
    jbf = jvm.org.apache.datasketches.filters.bloomfilter.BloomFilter.heapify(
        jvm.org.apache.datasketches.memory.Memory.wrap(blob))
    probes = (probe.select("key").distinct()
              .select("key", F.xxhash64("key").alias("h")).collect())
    java_kept = {r.key for r in probes if jbf.query(r.h)}
    ours = {r.key for r in bloom_might_contain(probe, "key", bdf)
            .select("key").distinct().collect()}
    assert {r.key for r in build.collect()} <= java_kept
    assert ours == java_kept
    assert len(java_kept) < len(probes)  # the filter rejects something


# -------------------------------------------------------------- Count-Min

def test_cm_suggest_formulas_match_reference():
    # CountMinSketch.java:191-196 / :204-209
    assert cm_num_hashes(0.95) == 3
    assert cm_num_hashes(0.99) == 5
    assert suggest_num_buckets(0.01) == int(np.ceil(np.e / 0.01))


def test_cm_overestimates_within_epsilon_n():
    rng = np.random.default_rng(11)
    rel_err, conf = 0.01, 0.95
    cm = RefCountMin(cm_num_hashes(conf), suggest_num_buckets(rel_err))
    # zipf-ish stream
    items = rng.zipf(1.3, 200_000).astype(np.uint64) % 5000
    cm.update(items)
    true = np.bincount(items.astype(np.int64), minlength=5000)
    probe = np.arange(5000, dtype=np.uint64)
    est = cm.estimate(probe)
    assert (est >= true).all()  # never underestimates
    over = est - true
    n_total = len(items)
    frac_ok = (over <= rel_err * n_total).mean()
    assert frac_ok >= conf, frac_ok


def test_cm_merge_equals_combined():
    a = RefCountMin(5, 271)
    b = RefCountMin(5, 271)
    c = RefCountMin(5, 271)
    xs = np.arange(100, dtype=np.uint64)
    ys = np.arange(60, 200, dtype=np.uint64)
    a.update(xs)
    b.update(ys)
    c.update(np.concatenate([xs, ys]))
    m = a.merge(b)
    assert np.array_equal(m.table, c.table)
    rt = countmin_compat.from_ref_bytes(countmin_compat.to_ref_bytes(m))
    assert np.array_equal(rt.table, m.table)
    assert rt.total_weight == m.total_weight


def test_countmin_counts_equal_ref_sketch_when_lossy(spark):
    """countmin_counts scores with the reference construction: in a
    lossy configuration (500 distinct items in 16 buckets) every
    count equals RefCountMin's estimate over the same xxhash64 keys."""
    from datasketches_java_spark.operators.filters import countmin_counts

    d, w, seed = 2, 16, 77
    items = spark.range(0, 6000).select(
        (F.col("id") * F.col("id") % 500).alias("item"))
    got = {r.item: r.cm_count
           for r in countmin_counts(items, "item", d, w, seed).collect()}
    rows = items.select("item", F.xxhash64("item").alias("k")).collect()
    keys = np.array([r.k for r in rows], dtype=np.int64)
    cm = RefCountMin(d, w, seed).update(keys)
    distinct = {str(r.item): r.k for r in rows}
    want = dict(zip(distinct, cm.estimate(
        np.array(list(distinct.values()), dtype=np.int64)).tolist()))
    assert got == want
    true = {}
    for r in rows:
        true[str(r.item)] = true.get(str(r.item), 0) + 1
    assert sum(got[i] > true[i] for i in true) > 0  # lossy: not exact


# ----------------------------------------------------- HLL bound tables (H4)

def test_hll_table_values_match_reference():
    # spot values transcribed from RelativeErrorTables.java:70-140
    assert get_rel_err(False, False, 4, 1) == 0.207316195
    assert get_rel_err(True, False, 12, 3) == -0.037896952
    assert get_rel_err(False, True, 8, 2) == 0.138523393
    assert get_rel_err(True, True, 10, 1) == -0.032433119


def test_hll_builtin_estimate_within_reference_envelope(spark):
    """H4: Spark's hll_sketch_agg (lgK=12) estimates land inside the
    reference RelativeErrorTables ±3SD envelope of the exact count —
    the audit assertion for hll_users_by_type."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    rows = (
        ev.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(12))).alias("est"),
            F.countDistinct("user_id").alias("exact"),
        )
        .collect()
    )
    assert len(rows) > 0
    for r in rows:
        lb, ub = hll_bounds(float(r.est), lg_k=12, std_dev=3)
        assert lb <= r.exact <= ub, (r.event_type, r.est, r.exact, lb, ub)
