"""Each sketch family's reference image is its only serialized form, so
the partials that cross a shuffle are images datasketches-java reads.

 - Equivalence: a heapified partial behaves exactly like the sketch it
   came from. For seeded (k, n, split), round-tripping every partial
   through its image and then doing the same merges and updates writes
   the same image bytes as the run without the round trip.
 - Capacity: the KLL engine compacts to the reference layout's level
   capacities, so every build and merge serializes.
 - Live heapify: datasketches-java 6.2.0 heapifies each partial image,
   built over a seeded (k, n, merge-tree shape), and returns our
   answers.
"""

import numpy as np
import pytest

from datasketches_java_spark.kernels import cpc_compat, kll, req, tdigest
from datasketches_java_spark.kernels.cpc import CpcSketch
from datasketches_java_spark.kernels.hashing import hash63
from datasketches_java_spark.kernels.kll_items import KllItems
from datasketches_java_spark.kernels.req import ReqDoubles
from datasketches_java_spark.kernels.tdigest import TDigest
from datasketches_java_spark.kernels.tuple_kmv import TupleKmv


def _words(x):
    return [f"w{int(v):07d}" for v in x]


def _tuple_rows(x):
    keys = np.floor(np.abs(x) * 1000).astype(np.uint64)
    return hash63(keys), np.stack([np.ones(len(x)), np.abs(x)], axis=1)


def _tuple(k):
    return TupleKmv(np.empty(0, np.int64), np.empty((0, 2)), k, d=2)


# family -> (new(k), update(sk, values) -> sk, merge(a, b) -> a,
#            image(sk) -> bytes, heapify(bytes, k) -> sketch)
FAMILIES = {
    "kll": (lambda k: kll.KllDoubles(k=k),
            lambda sk, x: sk.update_many(x),
            lambda a, b: a.merge(b),
            kll.to_ref_bytes,
            lambda buf, k: kll.from_ref_bytes(buf)),
    "kll_items": (lambda k: KllItems(k=k),
                  lambda sk, x: sk.update_many(_words(x)),
                  lambda a, b: a.merge(b),
                  lambda sk: sk.to_ref_bytes(),
                  lambda buf, k: KllItems.from_ref_bytes(buf)),
    "req": (lambda k: ReqDoubles(k=k),
            lambda sk, x: sk.update_many(x),
            lambda a, b: a.merge(b),
            req.to_ref_bytes,
            lambda buf, k: req.from_ref_bytes(buf)),
    "tdigest": (lambda k: TDigest(k=k),
                lambda sk, x: sk.update_many(x),
                lambda a, b: a.merge(b),
                tdigest.to_ref_bytes,
                lambda buf, k: tdigest.from_ref_bytes(buf)),
    "tuple": (_tuple,
              lambda sk, x: sk.union(TupleKmv.from_stream(*_tuple_rows(x), sk.k)),
              lambda a, b: a.union(b),
              lambda sk: sk.to_ref_bytes(),
              TupleKmv.from_ref_bytes),
    "cpc": (lambda lg_k: CpcSketch(lg_k=lg_k),
            lambda sk, x: sk.update_longs(np.floor(x * 1e4).astype(np.int64)),
            lambda a, b: a.merge(b),
            cpc_compat.to_ref_bytes,
            lambda buf, k: cpc_compat.from_ref_bytes(buf)),
}

# (k, n, split) per family; cpc's k is lg_k
GRID = {
    "kll": [(8, 3000, 4), (32, 3000, 2), (200, 20_000, 7), (50, 40, 3)],
    "kll_items": [(8, 2000, 3), (64, 5000, 4)],
    "req": [(4, 3000, 3), (12, 20_000, 5), (24, 2000, 2), (12, 6, 3)],
    "tdigest": [(20, 5000, 4), (100, 3000, 3), (200, 1, 1)],
    "tuple": [(16, 2000, 3), (256, 5000, 4), (4096, 300, 2)],
    "cpc": [(4, 5000, 3), (8, 50_000, 4), (11, 3000, 2), (11, 30, 2)],
}
CASES = [(f, *c) for f in FAMILIES for c in GRID[f]]


def _run(family, k, n, split, seed, round_trip):
    """Partials over `split` chunks, merged left to right, then one
    more update; with round_trip, each partial and the merged sketch
    pass through their images first. Returns the final image."""
    new, update, merge, image, heapify = FAMILIES[family]
    rng = np.random.default_rng(seed)
    x = rng.normal(100.0, 25.0, n)
    extra = rng.normal(110.0, 5.0, max(1, n // 4))
    rt = (lambda sk: heapify(image(sk), k)) if round_trip else (lambda sk: sk)
    parts = [rt(update(new(k), c)) for c in np.array_split(x, split)]
    acc = parts[0]
    for p in parts[1:]:
        acc = merge(acc, p)
    return image(update(rt(acc), extra))


@pytest.mark.parametrize("family,k,n,split", CASES)
def test_heapified_partial_behaves_like_its_source(family, k, n, split):
    seed = k * 7919 + n + split
    assert (_run(family, k, n, split, seed, True)
            == _run(family, k, n, split, seed, False))


def test_kll_builds_and_merges_fit_the_reference_layout():
    """Two k=32 sketches of 1,500 normal values each, merged, used to
    retain more items than the reference layout holds; so did builds
    and merges across this grid."""
    rng = np.random.default_rng(0)
    a, b = (kll.KllDoubles(k=32).update_many(rng.normal(size=1500)) for _ in range(2))
    kll.to_ref_bytes(a.merge(b))
    for k in (8, 20, 32, 50, 100, 200, 400):
        for n in (50, 150, 500, 1500, 5000, 20_000, 200_000):
            r = np.random.default_rng(k * n)
            x = r.normal(size=n)
            kll.to_ref_bytes(kll.KllDoubles(k=k).update_many(x))
            merged = kll.KllDoubles(k=k)
            for part in np.array_split(x, 7):
                merged.merge(kll.KllDoubles(k=k).update_many(part))
            assert merged.n == n
            kll.to_ref_bytes(merged)


def test_writers_reject_a_k_their_u16_field_cannot_hold():
    with pytest.raises(ValueError):
        kll.KllDoubles(k=1 << 18)
    with pytest.raises(ValueError):
        kll.KllDoubles(k=7)
    sk = kll.KllDoubles(k=65535).update_many(np.arange(100.0))
    assert kll.from_ref_bytes(kll.to_ref_bytes(sk)).k == 65535
    sk.k = 1 << 18
    with pytest.raises(ValueError, match="u16"):
        kll.to_ref_bytes(sk)
    with pytest.raises(ValueError, match="u16"):
        tdigest.to_ref_bytes(TDigest(k=1 << 16).update_many(np.arange(10.0)))


# ------------------------------------------------------- live heapify

def _tree(family, k, n, seed):
    """A seeded merge tree: partials over a random number of chunks,
    each shipped as its image, merged pairwise at random positions."""
    new, update, merge, image, heapify = FAMILIES[family]
    rng = np.random.default_rng(seed)
    x = rng.lognormal(4.0, 1.0, n)
    parts = [heapify(image(update(new(k), c)), k)
             for c in np.array_split(x, int(rng.integers(1, 9)))]
    while len(parts) > 1:
        i = int(rng.integers(len(parts) - 1))
        parts[i] = heapify(image(merge(parts[i], parts.pop(i + 1))), k)
    return parts[0], x


def _mem(spark, img: bytes):
    return spark._jvm.org.apache.datasketches.memory.Memory.wrap(img)


_RANKS = (0.0, 0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0)
_DRAWS = [(0, 8, 2000), (1, 32, 20_000), (2, 200, 5000), (3, 64, 150)]


@pytest.mark.parametrize("seed,k,n", _DRAWS)
def test_java_heapifies_quantile_partials(spark, seed, k, n):
    """KLL doubles, KLL items and REQ: quantiles and ranks exactly."""
    jvm = spark._jvm
    sk, x = _tree("kll", k, n, seed)
    jk = jvm.org.apache.datasketches.kll.KllDoublesSketch.heapify(
        _mem(spark, kll.to_ref_bytes(sk)))
    assert jk.getN() == sk.n == n
    for r in _RANKS:
        assert jk.getQuantile(float(r)) == sk.get_quantile(r)
    for v in np.quantile(x, _RANKS):
        assert jk.getRank(float(v)) == sk.get_rank(float(v))

    si, xi = _tree("kll_items", k, n, seed)
    cmp_ = jvm.java.util.Comparator.naturalOrder()
    serde = jvm.org.apache.datasketches.common.ArrayOfStringsSerDe()
    ji = jvm.org.apache.datasketches.kll.KllItemsSketch.heapify(
        _mem(spark, si.to_ref_bytes()), cmp_, serde)
    assert ji.getN() == si.n
    for r in _RANKS:
        assert ji.getQuantile(float(r)) == si.get_quantile(r)
    for w in _words(np.quantile(xi, _RANKS)):
        assert ji.getRank(w) == si.get_rank(w)

    req_k = min(2 * (k // 4), 48)
    sr, xr = _tree("req", req_k, n, seed)
    jr = jvm.org.apache.datasketches.req.ReqSketch.heapify(
        _mem(spark, req.to_ref_bytes(sr)))
    assert jr.getN() == sr.n
    for r in _RANKS:  # py4j hands a Java float over as its shortest decimal
        assert np.float32(jr.getQuantile(float(r))) == sr.get_quantile(r)
    for v in np.quantile(xr, _RANKS).astype(np.float32):
        assert jr.getRank(float(v)) == sr.get_rank(float(v))


@pytest.mark.parametrize("seed,k,n", _DRAWS)
def test_java_heapifies_estimate_partials(spark, seed, k, n):
    """CPC and tuple estimates exactly; t-digest within 1e-13."""
    jvm = spark._jvm
    lg_k = 4 + seed * 2
    sc, _ = _tree("cpc", lg_k, n, seed)
    jc = jvm.org.apache.datasketches.cpc.CpcSketch.heapify(
        _mem(spark, cpc_compat.to_ref_bytes(sc)))
    assert jc.getEstimate() == sc.get_estimate()

    st, _ = _tree("tuple", 4 * k, n, seed)
    jt = jvm.org.apache.datasketches.tuple.arrayofdoubles.ArrayOfDoublesSketches \
        .heapifySketch(_mem(spark, st.to_ref_bytes()))
    assert jt.getRetainedEntries() == len(st.hashes)
    assert jt.getEstimate() == st.distinct_estimate()

    sd, xd = _tree("tdigest", max(k, 10), n, seed)  # the reference's least k
    jd = jvm.org.apache.datasketches.tdigest.TDigestDouble.heapify(
        _mem(spark, tdigest.to_ref_bytes(sd)))
    assert jd.getTotalWeight() == sd.n == n
    for r in _RANKS:
        assert jd.getQuantile(float(r)) == pytest.approx(
            sd.get_quantile(r, ref_parity=True), rel=1e-13)
    for v in np.quantile(xd, _RANKS):
        assert jd.getRank(float(v)) == pytest.approx(sd.get_rank(float(v)), rel=1e-13)


def test_spark_builtins_read_kll_sketch_agg_images(spark):
    """kll_sketch_agg's `sketch` column is a KllDoublesSketch image:
    Spark's built-in KLL functions read it and, in the exact regime,
    answer what kll_quantile_agg does."""
    import pandas as pd
    from pyspark.sql import functions as F

    from datasketches_java_spark.functions.kll_agg import (
        kll_quantile_agg, kll_sketch_agg,
    )

    rng = np.random.default_rng(3)
    df = spark.createDataFrame(pd.DataFrame({
        "g": rng.choice(list("abc"), 300),
        "v": rng.integers(0, 1000, 300).astype(float),
    })).repartition(3)
    want = kll_quantile_agg(df, "g", "v").toPandas().set_index("g").sort_index()
    got = kll_sketch_agg(df, "g", "v").select(
        "g",
        F.kll_sketch_get_n_double("sketch").alias("n"),
        F.kll_sketch_get_quantile_double("sketch", F.lit(0.5)).alias("q_1_2"),
        F.kll_sketch_get_quantile_double("sketch", F.lit(0.99)).alias("q_99_100"),
    ).toPandas().set_index("g").sort_index()
    assert (want["n"] < 200).all()  # below k: no compaction
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
