"""LIVE cross-library validation of every reference wire format.

Spark's jars ship datasketches-java 6.2.0 (the real Apache library,
reachable in-process via the session JVM), so each family below
exchanges images with actual Java — the strongest possible parity
evidence short of the reference's own test rig:

  theta     — byte-IDENTICAL compact images (exact + estimating
              regimes) from the same update stream; Java heapifies our
              v3 AND our serial-v4 compressed images with identical
              estimates
  CPC       — byte-IDENTICAL compressed images; bit-equal ICON/HIP
              estimates both directions
  KLL       — doubles + item-typed(strings): images exchanged both
              ways, identical quantiles/ranks
  classic quantiles — Java DoublesSketch AND generic ItemsSketch
              (strings) compact images byte-identical both ways with
              identical answers (migration lane)
  t-digest  — identical ranks; quantiles equal within 1e-13 relative
              (the 6.2.0 jar's weightedAverage computes
              (x1*w1+x2*w2)/w; the 9.0.1 reference snapshot this
              engine ports normalizes weights first — same math,
              last-ULP association difference)
  frequent items — longs + strings, both directions, identical
              estimates
  sampling  — reservoir / VarOpt / EBPPS images exchanged both ways
  tuple     — ArrayOfDoubles compact images byte-IDENTICAL both ways
  bounds    — binomial-proportion + B-over-A ratio bounds bit-equal
              on theta AND tuple sketch pairs (thetacommon)

py4j notes: small Python ints box as java.lang.Integer; generic-item
sketches (VarOpt/EBPPS with ArrayOfLongsSerDe) need values >= 2^31 so
they box as Long.
"""

import numpy as np
import pytest

from datasketches_java_spark.kernels import classic_quantiles as CQ
from datasketches_java_spark.kernels import cpc_compat as cc
from datasketches_java_spark.kernels import freq_compat as FC
from datasketches_java_spark.kernels import kll as K
from datasketches_java_spark.kernels import sampling_compat as SC
from datasketches_java_spark.kernels import tdigest as TD
from datasketches_java_spark.kernels import theta_compat as tc
from datasketches_java_spark.kernels import tuple_compat as TPC
from datasketches_java_spark.kernels.cpc import CpcSketch
from datasketches_java_spark.kernels.freq import FrequentItems
from datasketches_java_spark.kernels.kll_items import KllItems

_LONG_BOX = 2**31  # value offset that forces py4j to box as java.lang.Long


def _mem(spark, img: bytes):
    return spark._jvm.org.apache.datasketches.memory.Memory.wrap(img)


# --------------------------------------------------------------- theta

def test_theta_images_byte_identical_and_cross_read(spark):
    jvm = spark._jvm
    for n in (10, 1000, 100_000):  # exact, exact, estimating
        jsk = jvm.org.apache.datasketches.theta.UpdateSketch.builder().build()
        for v in range(n):
            jsk.update(v)
        comp = jsk.compact()
        jimg = bytes(comp.toByteArray())
        # parse Java's image; estimate must be bit-equal
        h, th, empty = tc.deserialize_compact(jimg)
        assert not empty
        assert tc.estimate(len(h), th) == comp.getEstimate()
        # round trip through our writer reproduces Java's bytes exactly
        assert tc.serialize_compact(h, th) == jimg
        if n <= 4096:
            # exact regime: our own bottom-k build over the same longs
            # emits the IDENTICAL bytes (estimating images depend on
            # the quickselect schedule, which retains k..2k entries —
            # same semantics, different retained set)
            ours = np.sort(tc.hash_longs(np.arange(n, dtype=np.int64)))
            hh, t2 = tc.build_theta(ours, k=4096)
            assert tc.serialize_compact(hh, t2) == jimg
        # Java heapifies our v4 compressed form with the same estimate
        v4 = tc.serialize_compact_v4(h, th)
        jsk4 = jvm.org.apache.datasketches.theta.Sketches.heapifySketch(
            _mem(spark, v4))
        assert jsk4.getEstimate() == comp.getEstimate()
        if n == 100_000:
            assert len(v4) < len(jimg)  # compression actually compresses


def test_theta_updatable_images_heapify(spark):
    """Family-2 (UpdateSketch/QuickSelect) and family-4 (Union gadget)
    UPDATABLE serial-v3 images — the working forms Java users persist
    via UpdateSketch.toByteArray()/Union.toByteArray() — heapify into
    the same state Java's own compact() / getResult() report:
    retained-entry count equal, estimate bit-equal, empty flag equal.
    Covers empty, exact, and estimating regimes, including the union
    gadget's curCount > k theta-correction on extraction
    (CompactOperations.correctThetaOnCompact)."""
    jvm = spark._jvm
    for n in (0, 1, 1000, 20_000):  # empty, single, exact, estimating
        jsk = jvm.org.apache.datasketches.theta.UpdateSketch.builder().build()
        for v in range(n):
            jsk.update(v)
        h, th, empty = tc.deserialize_compact(bytes(jsk.toByteArray()))
        comp = jsk.compact()
        assert len(h) == comp.getRetainedEntries(True)
        assert tc.estimate(len(h), th) == comp.getEstimate()
        assert empty == comp.isEmpty()
    for na in (10, 6000):  # exact union, estimating union (curCount > k)
        u = jvm.org.apache.datasketches.theta.SetOperation.builder().buildUnion()
        a = jvm.org.apache.datasketches.theta.UpdateSketch.builder().build()
        b = jvm.org.apache.datasketches.theta.UpdateSketch.builder().build()
        for v in range(na):
            a.update(v)
            b.update(v + na // 2)
        u.union(a)
        u.union(b)
        h, th, _ = tc.deserialize_compact(bytes(u.toByteArray()))
        res = u.getResult()
        assert len(h) == res.getRetainedEntries(True)
        assert tc.estimate(len(h), th) == res.getEstimate()


def test_theta_alpha_and_intersection_images_heapify(spark):
    """Family-1 (Alpha) and family-5 (Intersection gadget) images —
    the final two persistable theta forms — heapify into the state
    Java's own compact() / getResult() report, and alpha_estimate is
    bit-equal to HeapAlphaSketch.getEstimate in both regimes (above
    and below split1)."""
    jvm = spark._jvm
    fam_alpha = jvm.org.apache.datasketches.common.Family.ALPHA
    for n in (0, 1000, 100_000):  # empty, exact, deep estimating
        jsk = (jvm.org.apache.datasketches.theta.UpdateSketch.builder()
               .setFamily(fam_alpha).build())
        for v in range(n):
            jsk.update(v)
        h, th, empty = tc.deserialize_compact(bytes(jsk.toByteArray()))
        comp = jsk.compact()
        assert len(h) == comp.getRetainedEntries(True)
        assert np.array_equal(
            h, np.sort(np.array(list(comp.getCache()), dtype=np.int64)))
        assert empty == comp.isEmpty()
        # alpha's own estimator (differs from the compact estimator in
        # the deep-estimation regime) — bit-equal on the raw image state
        lg_nom = bytes(jsk.toByteArray())[3]
        assert tc.alpha_estimate(
            lg_nom, jsk.getRetainedEntries(False), th
        ) == jsk.getEstimate()
    for na, nb in ((0, 50), (200, 300), (20_000, 30_000)):
        inter = (jvm.org.apache.datasketches.theta.SetOperation.builder()
                 .buildIntersection())
        a = jvm.org.apache.datasketches.theta.UpdateSketch.builder().build()
        b = jvm.org.apache.datasketches.theta.UpdateSketch.builder().build()
        for v in range(na):
            a.update(v)
        for v in range(nb):
            b.update(v + na // 2)
        inter.intersect(a)
        inter.intersect(b)
        h, th, empty = tc.deserialize_compact(bytes(inter.toByteArray()))
        res = inter.getResult()
        assert len(h) == res.getRetainedEntries(True)
        assert th == res.getThetaLong()
        assert empty == res.isEmpty()
        assert tc.estimate(len(h), th) == res.getEstimate()
    # virgin gadget image = Universal Set: reader raises like getResult
    virgin = (jvm.org.apache.datasketches.theta.SetOperation.builder()
              .buildIntersection())
    with pytest.raises(ValueError, match="Universal Set"):
        tc.deserialize_compact(bytes(virgin.toByteArray()))


# ----------------------------------------------------------------- CPC

def test_cpc_images_byte_identical_estimates_bit_equal(spark):
    jvm = spark._jvm
    for n in (5, 500, 50_000):  # sparse → hybrid/pinned → sliding flavors
        jc = jvm.org.apache.datasketches.cpc.CpcSketch(11)
        for v in range(n):
            jc.update(v)
        jimg = bytes(jc.toByteArray())
        ours = cc.from_ref_bytes(jimg)
        assert ours.get_estimate() == jc.getEstimate()
        pc = CpcSketch(lg_k=11).update_longs(np.arange(n, dtype=np.int64))
        assert cc.to_ref_bytes(pc) == jimg
        jc2 = jvm.org.apache.datasketches.cpc.CpcSketch.heapify(
            _mem(spark, cc.to_ref_bytes(pc)))
        assert jc2.getEstimate() == pc.get_estimate()


def test_cpc_union_byte_identical(spark):
    """Python-side CPC merge == Java's CpcUnion: the merged sketch's
    compressed image is byte-identical and the (merged-flag ICON)
    estimate bit-equal."""
    jvm = spark._jvm
    a = np.arange(0, 60_000, dtype=np.int64)
    b = np.arange(30_000, 90_000, dtype=np.int64)
    ja = jvm.org.apache.datasketches.cpc.CpcSketch(11)
    jb = jvm.org.apache.datasketches.cpc.CpcSketch(11)
    for v in a:
        ja.update(int(v))
    for v in b:
        jb.update(int(v))
    ju = jvm.org.apache.datasketches.cpc.CpcUnion(11)
    ju.update(ja)
    ju.update(jb)
    jr = ju.getResult()
    pu = CpcSketch(lg_k=11).update_longs(a).merge(
        CpcSketch(lg_k=11).update_longs(b))
    assert pu.get_estimate() == jr.getEstimate()
    assert cc.to_ref_bytes(pu) == bytes(jr.toByteArray())


# ----------------------------------------------------------------- KLL

def test_kll_doubles_both_directions(spark):
    jvm = spark._jvm
    jk = jvm.org.apache.datasketches.kll.KllDoublesSketch.newHeapInstance(200)
    for v in range(30_000):
        jk.update(float(v))
    mine = K.from_ref_bytes(bytes(jk.toByteArray()))
    assert mine.n == 30_000
    # round trip reproduces Java's bytes exactly (level-0 order and
    # the LEVEL_ZERO_SORTED flag are preserved through parse->write)
    assert K.to_ref_bytes(mine) == bytes(jk.toByteArray())
    for r in (0.0, 0.25, 0.5, 0.75, 1.0):
        assert mine.get_quantile(r) == jk.getQuantile(float(r))
    for q in (0.0, 15_000.0, 29_999.0):
        assert mine.get_rank(q) == jk.getRank(q)
    ours = K.KllDoubles(k=200)
    ours.update_many(np.arange(30_000.0))
    jk2 = jvm.org.apache.datasketches.kll.KllDoublesSketch.heapify(
        _mem(spark, K.to_ref_bytes(ours)))
    for r in (0.0, 0.5, 1.0):
        assert jk2.getQuantile(float(r)) == ours.get_quantile(r)


def test_kll_floats_and_longs_readers(spark):
    """KllFloatsSketch / KllLongsSketch images (same preamble,
    different item widths — the type is caller-dispatched, exactly as
    the reference dispatches heapify by sketch class) parse losslessly
    into KllDoubles with identical answers."""
    jvm = spark._jvm
    jf = jvm.org.apache.datasketches.kll.KllFloatsSketch.newHeapInstance(200)
    for v in range(30_000):
        jf.update(float(v))
    mine = K.from_ref_bytes_floats(bytes(jf.toByteArray()))
    assert mine.n == 30_000
    for r in (0.0, 0.5, 1.0):
        assert mine.get_quantile(r) == jf.getQuantile(float(r))
    jl = jvm.org.apache.datasketches.kll.KllLongsSketch.newHeapInstance(200)
    for v in range(20_000):
        jl.update(v)
    mine = K.from_ref_bytes_longs(bytes(jl.toByteArray()))
    assert mine.n == 20_000
    for r in (0.0, 0.5, 1.0):
        assert mine.get_quantile(r) == float(jl.getQuantile(float(r)))


def test_kll_floats_and_longs_writers(spark):
    """Write side of the typed KLL lanes: re-serializing a parsed Java
    image reproduces Java's bytes exactly, and Java heapifies images of
    our own builds with identical quantiles. Non-representable states
    (float64 that isn't float32-exact; non-integral items in the longs
    lane) raise instead of silently losing precision."""
    jvm = spark._jvm
    # round-trip byte identity, floats
    jf = jvm.org.apache.datasketches.kll.KllFloatsSketch.newHeapInstance(200)
    for v in range(30_000):
        jf.update(float(v))
    jimg = bytes(jf.toByteArray())
    assert K.to_ref_bytes_floats(K.from_ref_bytes_floats(jimg)) == jimg
    # round-trip byte identity, longs
    jl = jvm.org.apache.datasketches.kll.KllLongsSketch.newHeapInstance(200)
    for v in range(20_000):
        jl.update(v)
    jimg = bytes(jl.toByteArray())
    assert K.to_ref_bytes_longs(K.from_ref_bytes_longs(jimg)) == jimg
    # Java heapifies our own builds (empty / single / multi-level)
    for n in (0, 1, 30_000):
        ours = K.KllDoubles(k=200)
        ours.update_many(np.arange(float(n)))
        jk = jvm.org.apache.datasketches.kll.KllFloatsSketch.heapify(
            _mem(spark, K.to_ref_bytes_floats(ours)))
        jk2 = jvm.org.apache.datasketches.kll.KllLongsSketch.heapify(
            _mem(spark, K.to_ref_bytes_longs(ours)))
        assert jk.getN() == jk2.getN() == n
        for r in (0.0, 0.5, 1.0) if n else ():
            assert float(jk.getQuantile(float(r))) == ours.get_quantile(r)
            assert float(jk2.getQuantile(float(r))) == ours.get_quantile(r)
    # guard rails
    bad = K.KllDoubles(k=200)
    bad.update_many(np.array([0.1]))  # not float32-exact, not integral
    with pytest.raises(ValueError):
        K.to_ref_bytes_floats(bad)
    with pytest.raises(ValueError):
        K.to_ref_bytes_longs(bad)


def test_kll_items_strings_both_directions(spark):
    jvm = spark._jvm
    cmp_ = jvm.java.util.Comparator.naturalOrder()
    serde = jvm.org.apache.datasketches.common.ArrayOfStringsSerDe()
    jki = jvm.org.apache.datasketches.kll.KllItemsSketch.newHeapInstance(cmp_, serde)
    words = [f"w{i:05d}" for i in range(5000)]
    for w in words:
        jki.update(w)
    mine = KllItems.from_ref_bytes(bytes(jki.toByteArray()))
    assert mine.n == 5000
    for r in (0.0, 0.5, 1.0):
        assert mine.get_quantile(r) == jki.getQuantile(float(r))
    ours = KllItems(k=200)
    ours.update_many(words)
    jk2 = jvm.org.apache.datasketches.kll.KllItemsSketch.heapify(
        _mem(spark, ours.to_ref_bytes()), cmp_, serde)
    for r in (0.0, 0.5, 1.0):
        assert jk2.getQuantile(float(r)) == ours.get_quantile(r)


def test_classic_quantiles_byte_identical_both_ways(spark):
    """Migration lane is now bidirectional: Java DoublesSketch compact
    images parse, and re-serializing the parsed state reproduces
    Java's bytes exactly (empty / partial base buffer / multi-level);
    Java heapifies our images with identical answers. An exact-regime
    KLL state also serializes to the classic format directly; a
    generic KLL-compacted state is rejected (KLL is the forward wire
    format)."""
    jvm = spark._jvm
    Mem = jvm.org.apache.datasketches.memory.Memory
    for n in (0, 7, 100, 10_000):
        jq = jvm.org.apache.datasketches.quantiles.DoublesSketch.builder().build()
        for v in range(n):
            jq.update(float(v))
        jimg = bytes(jq.toByteArray(True))
        mine = CQ.from_ref_bytes(jimg)
        assert mine.n == n
        ours = CQ.to_ref_bytes(mine)
        assert ours == jimg
        jq2 = jvm.org.apache.datasketches.quantiles.DoublesSketch.heapify(
            Mem.wrap(ours))
        assert jq2.getN() == n
        if n:
            assert jq2.getQuantile(0.5) == jq.getQuantile(0.5)
    # non-compact (updatable) serVer-3 images — the padded
    # combined-buffer layout — parse to the same state: rewriting the
    # parsed state reproduces Java's compact-ordered bytes exactly
    for n in (7, 100, 10_000):
        jq = jvm.org.apache.datasketches.quantiles.DoublesSketch.builder().build()
        for v in range(n):
            jq.update(float(v))
        mine = CQ.from_ref_bytes(bytes(jq.toByteArray(False)))
        assert mine.n == n
        assert CQ.to_ref_bytes(mine) == bytes(jq.toByteArray(True))
        assert mine.get_quantile(0.5) == jq.getQuantile(0.5)
    # exact-regime KLL state (no compaction yet) → classic image
    sk = K.KllDoubles(k=128)
    sk.update_many(np.arange(100.0))
    jq3 = jvm.org.apache.datasketches.quantiles.DoublesSketch.heapify(
        Mem.wrap(CQ.to_ref_bytes(sk)))
    assert jq3.getN() == 100 and jq3.getQuantile(1.0) == 99.0
    # generic compacted KLL state must be rejected, not mis-serialized
    big = K.KllDoubles(k=128)
    big.update_many(np.arange(5000.0))
    with pytest.raises(ValueError):
        CQ.to_ref_bytes(big)


def test_classic_items_strings_byte_identical_both_ways(spark):
    """Generic classic quantiles (the jar's ItemsSketch over strings,
    ArrayOfStringsSerDe) gets the same migration treatment the doubles
    variant has: Java's ordered compact images parse into a KllItems
    state with identical quantiles at every probed rank; re-serializing
    reproduces Java's bytes exactly (empty / partial base buffer /
    multi-level); Java heapifies our images; and an exact-regime
    KllItems state serializes to the classic format directly while a
    generic KLL-compacted state is rejected."""
    jvm = spark._jvm
    Mem = jvm.org.apache.datasketches.memory.Memory
    cls = jvm.java.lang.Class.forName("java.lang.String")
    cmp_ = jvm.java.util.Comparator.naturalOrder()
    serde = jvm.org.apache.datasketches.common.ArrayOfStringsSerDe()
    IS = jvm.org.apache.datasketches.quantiles.ItemsSketch
    for n in (0, 7, 300, 10_000):  # empty / partial bb / 1 level / many
        jq = IS.getInstance(cls, 128, cmp_)
        for v in range(n):
            jq.update(f"w{v:05d}")
        jimg = bytes(jq.toByteArray(True, serde))
        mine = CQ.items_from_ref_bytes(jimg)
        assert mine.n == n
        for r in (0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 1.0) if n else ():
            assert mine.get_quantile(r) == jq.getQuantile(float(r)), (n, r)
        ours = CQ.items_to_ref_bytes(mine)
        assert ours == jimg
        jq2 = IS.getInstance(cls, Mem.wrap(ours), cmp_, serde)
        assert jq2.getN() == n
        if n:
            assert jq2.getQuantile(0.5) == jq.getQuantile(0.5)
    # exact-regime KllItems state (no compaction yet) → classic image
    sk = KllItems(k=128)
    sk.update_many([f"w{v:05d}" for v in range(100)])
    jq3 = IS.getInstance(cls, Mem.wrap(CQ.items_to_ref_bytes(sk)), cmp_, serde)
    assert jq3.getN() == 100 and jq3.getQuantile(1.0) == "w00099"
    # generic compacted KLL state must be rejected, not mis-serialized
    big = KllItems(k=128)
    big.update_many([f"w{v:05d}" for v in range(5000)])
    with pytest.raises(ValueError):
        CQ.items_to_ref_bytes(big)


# ------------------------------------------------------------- t-digest

def test_tdigest_query_parity(spark):
    jvm = spark._jvm
    rng = np.random.default_rng(5)
    vals = rng.normal(100, 15, 20_000)
    jt = jvm.org.apache.datasketches.tdigest.TDigestDouble(100)
    for v in vals:
        jt.update(float(v))
    mine = TD.from_ref_bytes(bytes(jt.toByteArray()))
    assert mine.n == jt.getTotalWeight()
    # ranks are BIT-equal across the whole domain (incl. both tails)
    for v in np.linspace(vals.min(), vals.max(), 25):
        assert mine.get_rank(float(v)) == jt.getRank(float(v))
    # quantiles in ref_parity mode: clamps and singleton paths
    # bit-equal; interpolated path within 1e-13 rel (see module
    # docstring: 6.2.0's weightedAverage associates differently than
    # the 9.0.1 reference). Default mode fixes the reference's swapped
    # interior-interpolation orientation (kernels/tdigest.py docstring)
    # so it is deliberately NOT bit-equal.
    for r in (0.0, 0.001, 0.01, 0.25, 0.5, 0.75, 0.99, 0.999, 1.0):
        a, b = mine.get_quantile(r, ref_parity=True), jt.getQuantile(float(r))
        assert a == pytest.approx(b, rel=1e-13), r
    assert mine.get_quantile(0.0) == jt.getQuantile(0.0)
    assert mine.get_quantile(1.0) == jt.getQuantile(1.0)
    # reverse: Java heapifies our image, same totals and extremes
    ours = TD.TDigest(k=100)
    ours.update_many(vals)
    jt2 = jvm.org.apache.datasketches.tdigest.TDigestDouble.heapify(
        _mem(spark, TD.to_ref_bytes(ours)))
    assert jt2.getTotalWeight() == ours.n
    assert jt2.getQuantile(0.0) == ours.get_quantile(0.0)
    assert jt2.getQuantile(1.0) == ours.get_quantile(1.0)
    assert jt2.getQuantile(0.5) == pytest.approx(
        ours.get_quantile(0.5, ref_parity=True), rel=1e-13)


# ------------------------------------------------------ frequent items

def test_frequent_longs_both_directions(spark):
    jvm = spark._jvm
    stream = [1] * 100 + [2] * 50 + list(range(3, 200))
    jf = jvm.org.apache.datasketches.frequencies.LongsSketch(64)
    for v in stream:
        jf.update(v)
    mine = FC.from_ref_bytes(bytes(jf.toByteArray()))
    assert mine.n == jf.getStreamLength()
    for probe in (1, 2, 5, 9999):
        assert mine.counts.get(probe, 0) + (mine.offset if probe in mine.counts else 0) \
            == jf.getEstimate(probe)
    ours = FrequentItems(64)
    for v in stream:
        ours.update(v)
    jf2 = jvm.org.apache.datasketches.frequencies.LongsSketch.getInstance(
        _mem(spark, FC.to_ref_bytes(ours)))
    assert jf2.getStreamLength() == ours.n
    assert jf2.getEstimate(1) == ours.counts.get(1, 0) + ours.offset


def test_frequent_strings_both_directions(spark):
    jvm = spark._jvm
    serde = jvm.org.apache.datasketches.common.ArrayOfStringsSerDe()
    stream = ["a"] * 50 + ["b"] * 20 + [f"x{i}" for i in range(100)]
    jf = jvm.org.apache.datasketches.frequencies.ItemsSketch(64)
    for w in stream:
        jf.update(w)
    mine = FC.from_ref_bytes_items(bytes(jf.toByteArray(serde)))
    assert mine.n == jf.getStreamLength()
    assert mine.counts.get("a", 0) + mine.offset == jf.getEstimate("a")
    jf2 = jvm.org.apache.datasketches.frequencies.ItemsSketch.getInstance(
        _mem(spark, FC.to_ref_bytes_items(mine)), serde)
    assert jf2.getStreamLength() == mine.n
    assert jf2.getEstimate("a") == mine.counts.get("a", 0) + mine.offset


# ------------------------------------------------------------- sampling

def test_reservoir_both_directions(spark):
    jvm = spark._jvm
    jr = jvm.org.apache.datasketches.sampling.ReservoirLongsSketch.newInstance(32)
    for v in range(100):
        jr.update(v)
    mine = SC.reservoir_from_ref_bytes(bytes(jr.toByteArray()))
    assert (mine.n, len(mine.items)) == (100, 32)
    jr2 = jvm.org.apache.datasketches.sampling.ReservoirLongsSketch.heapify(
        _mem(spark, SC.reservoir_to_ref_bytes(mine)))
    assert jr2.getN() == 100 and jr2.getNumSamples() == 32


def test_varopt_both_directions(spark):
    jvm = spark._jvm
    serde = jvm.org.apache.datasketches.common.ArrayOfLongsSerDe()
    jv = jvm.org.apache.datasketches.sampling.VarOptItemsSketch.newInstance(16)
    for v in range(60):
        jv.update(_LONG_BOX + v, float(v + 1))
    mine = SC.varopt_from_ref_bytes(bytes(jv.toByteArray(serde)))
    assert mine.n == 60
    assert len(mine.heavy_items) + len(mine.r_items) == jv.getNumSamples()
    jv2 = jvm.org.apache.datasketches.sampling.VarOptItemsSketch.heapify(
        _mem(spark, SC.varopt_to_ref_bytes(mine)), serde)
    assert jv2.getN() == 60 and jv2.getNumSamples() == jv.getNumSamples()


def test_ebpps_both_directions(spark):
    jvm = spark._jvm
    serde = jvm.org.apache.datasketches.common.ArrayOfLongsSerDe()
    je = jvm.org.apache.datasketches.sampling.EbppsItemsSketch(10)
    for v in range(50):
        je.update(_LONG_BOX + v, float(1 + v % 3))
    mine = SC.ebpps_from_ref_bytes(bytes(je.toByteArray(serde)))
    assert mine.n == 50 and mine.c == je.getC()
    je2 = jvm.org.apache.datasketches.sampling.EbppsItemsSketch.heapify(
        _mem(spark, SC.ebpps_to_ref_bytes(mine)), serde)
    assert je2.getN() == 50 and je2.getC() == je.getC()


# ------------------------------------------------- randomized parity

def _cpc_images_equivalent(ours: bytes, theirs: bytes) -> bool:
    """Byte equality modulo exactly two reference-documented artifacts
    of history the final state cannot carry:

    - byte 4, the fiCol speed hint: Java refreshes it only when the
      CPC window moves (CpcSketch.java:572-584), so between moves it
      is STALE-LOW vs the true count of saturated leading columns;
      our writer derives it fresh from the final bit matrix. Both are
      valid hints (every column below either is saturated); ours must
      be >= Java's.
    - bytes 16-31 in the HIP-carrying formats, the kxp/hipAccum
      float64 registers: running float accumulations whose value
      depends on the refresh schedule (CpcSketch.java:512-535) —
      per-coupon in Java, batched here — so they agree only to float
      association (<= ~1e-12 rel), never structurally.

    Everything else — coupon count, compressed window stream,
    compressed surprise-value stream, all lengths — must be
    byte-identical."""
    if ours == theirs:
        return True
    if len(ours) != len(theirs) or len(ours) < 8 or ours[5] != theirs[5]:
        return False
    fmt = (ours[5] >> 2) & 0x7
    allowed = {4}
    if fmt in (3, 5, 7) and len(ours) >= 32:  # HIP formats carry doubles
        allowed |= set(range(16, 32))
    diffs = {i for i in range(len(ours)) if ours[i] != theirs[i]}
    if not diffs <= allowed:
        return False
    if 4 in diffs and ours[4] < theirs[4]:
        return False
    if diffs & set(range(16, 32)):
        o = np.frombuffer(ours[16:32], dtype="<f8")
        t = np.frombuffer(theirs[16:32], dtype="<f8")
        if not np.allclose(o, t, rtol=1e-11, atol=0):
            return False
    return True


def test_randomized_streams_byte_identity(spark):
    """Identity holds on arbitrary streams, not just ramps: random
    longs (duplicates included), random lgK for CPC — the update
    path, not a lucky dataset, is what matches. CPC images are
    byte-identical modulo the fiCol hint and HIP-register float
    association (see _cpc_images_equivalent); estimates agree to
    1e-12 rel in the deep sliding regime and exactly on the ramp test
    above."""
    jvm = spark._jvm
    rng = np.random.default_rng(17)
    for draw in range(4):
        vals = rng.integers(-(2**62), 2**62, size=int(rng.integers(50, 30000)))
        vals = np.concatenate([vals, vals[: len(vals) // 3]])  # dups
        lg_k = int(rng.integers(4, 13))
        jc = jvm.org.apache.datasketches.cpc.CpcSketch(lg_k)
        for v in vals:
            jc.update(int(v))
        pc = CpcSketch(lg_k=lg_k).update_longs(vals.astype(np.int64))
        assert _cpc_images_equivalent(
            cc.to_ref_bytes(pc), bytes(jc.toByteArray())), (draw, lg_k)
        assert pc.get_estimate() == pytest.approx(jc.getEstimate(), rel=1e-12)
        # theta exact regime on the same stream (distinct < k)
        uniq = np.unique(vals)[:4000]
        jsk = jvm.org.apache.datasketches.theta.UpdateSketch.builder().build()
        for v in uniq:
            jsk.update(int(v))
        h = np.sort(tc.hash_longs(uniq.astype(np.int64)))
        hh, th = tc.build_theta(h, k=4096)
        assert tc.serialize_compact(hh, th) == bytes(jsk.compact().toByteArray())


# ---------------------------------------------------------------- tuple

def test_tuple_aod_byte_identical_both_ways(spark):
    jvm = spark._jvm
    bld = jvm.org.apache.datasketches.tuple.arrayofdoubles.ArrayOfDoublesUpdatableSketchBuilder()
    bld.setNumberOfValues(2)
    jt = bld.build()
    arr2 = spark._sc._gateway.new_array(jvm.double, 2)
    for v in range(5000):
        arr2[0] = float(v)
        arr2[1] = float(v * 2)
        jt.update(v, arr2)
    jimg = bytes(jt.compact().toByteArray())
    mine = TPC.aod_from_ref_bytes(jimg)
    assert mine.estimate() == jt.compact().getEstimate()
    assert TPC.aod_to_ref_bytes(mine) == jimg
    jt2 = jvm.org.apache.datasketches.tuple.arrayofdoubles.ArrayOfDoublesSketches.heapifySketch(
        _mem(spark, TPC.aod_to_ref_bytes(mine)))
    assert jt2.getEstimate() == mine.estimate()


def test_tuple_aod_updatable_images_heapify(spark):
    """The UPDATABLE ArrayOfDoubles working forms — sketchType-2
    QuickSelect images from ArrayOfDoublesUpdatableSketch.toByteArray()
    and sketchType-4 union-gadget images from
    ArrayOfDoublesUnion.toByteArray() — heapify into the same state
    Java's own compact()/getResult() report: retained entries and
    estimate bit-equal, per-column sums equal, empty flag equal.
    Covers empty, exact, estimating (retained > nominal k without
    trim), and the union extraction's theta-drop to the (k+1)-th key
    (ArrayOfDoublesUnion.getResult:142-151)."""
    jvm = spark._jvm

    def build(n, off=0):
        bld = (jvm.org.apache.datasketches.tuple.arrayofdoubles
               .ArrayOfDoublesUpdatableSketchBuilder())
        bld.setNumberOfValues(2)
        sk = bld.build()
        arr = spark._sc._gateway.new_array(jvm.double, 2)
        for v in range(n):
            arr[0] = float(v % 7)
            arr[1] = 1.0
            sk.update(v + off + _LONG_BOX, arr)
        return sk

    for n in (0, 1, 100, 9000):  # empty, single, exact, estimating
        sk = build(n)
        mine = TPC.aod_from_ref_updatable_bytes(bytes(sk.toByteArray()))
        comp = sk.compact()
        assert mine.retained == comp.getRetainedEntries()
        assert mine.estimate() == comp.getEstimate()
        assert mine.empty == comp.isEmpty()
        if mine.retained:
            jsum = sum(row[1] for row in comp.getValues())
            assert abs(jsum - mine.values[:, 1].sum()) < 1e-9

    u = (jvm.org.apache.datasketches.tuple.arrayofdoubles
         .ArrayOfDoublesSetOperationBuilder()
         .setNumberOfValues(2).buildUnion())
    u.union(build(6000).compact())
    u.union(build(6000, off=3000).compact())
    mine = TPC.aod_from_ref_updatable_bytes(bytes(u.toByteArray()))
    res = u.getResult()
    assert mine.retained == res.getRetainedEntries()
    assert mine.estimate() == res.getEstimate()


# ------------------------------------------- ratio bounds (thetacommon)

def test_bounds_on_ratios_bit_equal(spark):
    """The exact bounds transcriptions (kernels/bounds.py ref_*) are
    BIT-EQUAL to the Java library: binomial-proportion bounds over an
    (n,k) grid incl. every special-case branch, and B-over-A ratio
    bounds on real theta AND tuple sketch pairs (B = A ∩ C), matching
    thetacommon/BoundsOnRatiosIn{Theta,Tuple}SketchedSets."""
    from datasketches_java_spark.kernels import bounds as B

    jvm = spark._jvm
    jb = jvm.org.apache.datasketches.common.BoundsOnBinomialProportions
    for n, k in [(0, 0), (1, 0), (1, 1), (5, 1), (5, 4), (5, 5),
                 (100, 37), (10_000, 9_999), (1_000_000, 123_456)]:
        for sd in (1.0, 2.0, 3.0):
            assert B.ref_approx_lower_bound_on_p(n, k, sd) == \
                jb.approximateLowerBoundOnP(n, k, float(sd))
            assert B.ref_approx_upper_bound_on_p(n, k, sd) == \
                jb.approximateUpperBoundOnP(n, k, float(sd))

    def mk_theta(vals):
        sk = jvm.org.apache.datasketches.theta.UpdateSketch.builder().build()
        for v in vals:
            sk.update(v)
        return sk

    jt = jvm.org.apache.datasketches.thetacommon.BoundsOnRatiosInThetaSketchedSets
    for n_a, n_c in [(100, 30), (60_000, 20_000), (60_000, 59_000)]:
        a = mk_theta(range(n_a))
        c = mk_theta(range(0, n_c))  # subset predicate
        inter = jvm.org.apache.datasketches.theta.SetOperation.builder().buildIntersection()
        inter.intersect(a)
        inter.intersect(c)
        bsk = inter.getResult()
        ha, ta, _ = tc.deserialize_compact(bytes(a.compact().toByteArray()))
        hb, tb, _ = tc.deserialize_compact(bytes(bsk.toByteArray()))
        lb, est, ub = B.b_over_a_bounds(ha, ta, hb, tb)
        assert lb == jt.getLowerBoundForBoverA(a, bsk)
        assert est == jt.getEstimateOfBoverA(a, bsk)
        assert ub == jt.getUpperBoundForBoverA(a, bsk)

    # tuple variant: DoubleSummary sketches, same arithmetic over the
    # tuple sketch's hash set (BoundsOnRatiosInTupleSketchedSets)
    tup = jvm.org.apache.datasketches.tuple
    mode = tup.adouble.DoubleSummary.Mode.Sum
    fac = tup.adouble.DoubleSummaryFactory(mode)

    def mk_tuple(n):
        bld = tup.UpdatableSketchBuilder(fac)
        sk = bld.build()
        for v in range(n):
            sk.update(v + _LONG_BOX, 1.0)
        return sk

    jtt = jvm.org.apache.datasketches.thetacommon.BoundsOnRatiosInTupleSketchedSets
    ta_sk = mk_tuple(50_000)
    tc_sk = mk_tuple(15_000)
    tin = tup.Intersection(tup.adouble.DoubleSummarySetOperations(mode, mode))
    tin.intersect(ta_sk)
    tin.intersect(tc_sk)
    tb_sk = tin.getResult()

    def tuple_hashes_theta(sk):
        it = sk.iterator()
        hs = []
        while it.next():
            hs.append(it.getHash())
        return np.sort(np.array(hs, dtype=np.int64)), sk.getThetaLong()

    ha, ta = tuple_hashes_theta(ta_sk)
    hb, tb = tuple_hashes_theta(tb_sk)
    lb, est, ub = B.b_over_a_bounds(ha, ta, hb, tb)
    assert lb == jtt.getLowerBoundForBoverA(ta_sk, tb_sk)
    assert est == jtt.getEstimateOfBoverA(ta_sk, tb_sk)
    assert ub == jtt.getUpperBoundForBoverA(ta_sk, tb_sk)


def test_jaccard_similarity_bit_equal(spark):
    """theta_compat.jaccard reproduces theta/JaccardSimilarity.java
    bit-for-bit: exact and estimating regimes, corner cases, the
    identical-data short-circuit, exactlyEqual, and the similarity /
    dissimilarity threshold tests."""
    jvm = spark._jvm
    JS = jvm.org.apache.datasketches.theta.JaccardSimilarity

    def mk(lo, n):
        sk = jvm.org.apache.datasketches.theta.UpdateSketch.builder().build()
        for v in range(lo, lo + n):
            sk.update(v)
        return sk

    def st(sk):
        return tc.deserialize_compact(bytes(sk.compact().toByteArray()))

    # exact regime, estimating regime, disjoint, identical
    for lo_b, n in [(300, 1000), (30_000, 100_000), (1_000_000, 2000), (0, 5000)]:
        a, b = mk(0, n), mk(lo_b, n)
        ha, ta, ea = st(a)
        hb, tb, eb = st(b)
        ref = JS.jaccard(a, b)
        got = tc.jaccard(ha, ta, hb, tb, ea, eb)
        assert got == (ref[0], ref[1], ref[2])
        assert tc.exactly_equal(ha, ta, hb, tb, ea, eb) == JS.exactlyEqual(a, b)
        for thr in (0.1, 0.5, 0.95):
            assert tc.similarity_test(ha, ta, hb, tb, thr, ea, eb) == \
                JS.similarityTest(a, b, float(thr))
            assert tc.dissimilarity_test(ha, ta, hb, tb, thr, ea, eb) == \
                JS.dissimilarityTest(a, b, float(thr))
    # empty corner cases
    e1, e2 = mk(0, 0), mk(0, 0)
    h1, t1, m1 = st(e1)
    h2, t2, m2 = st(e2)
    ref = JS.jaccard(e1, e2)
    assert tc.jaccard(h1, t1, h2, t2, m1, m2) == (ref[0], ref[1], ref[2])
    a = mk(0, 100)
    ha, ta, ea = st(a)
    ref = JS.jaccard(a, e1)
    assert tc.jaccard(ha, ta, h1, t1, ea, m1) == (ref[0], ref[1], ref[2])
    assert tc.exactly_equal(h1, t1, h2, t2, m1, m2)


# ------------------------------------------- generic tuple (serVer 3)

def test_generic_tuple_double_summary_byte_identical_both_ways(spark):
    """Generic Sketch<DoubleSummary> CURRENT wire format
    (tuple/CompactTupleSketch.java:191-246 serVer 3): every preamble
    form (empty / single-item / exact / estimating) must round-trip
    byte-identically through both libraries."""
    jvm = spark._jvm
    tup = jvm.org.apache.datasketches.tuple
    Mode = jvm.org.apache.datasketches.tuple.adouble.DoubleSummary.Mode
    fac = jvm.org.apache.datasketches.tuple.adouble.DoubleSummaryFactory(Mode.Sum)
    bld = tup.UpdatableSketchBuilder(fac)
    des = jvm.org.apache.datasketches.tuple.adouble.DoubleSummaryDeserializer()

    # Java-written images (empty / single / exact) -> Python -> bytes
    for n in (0, 1, 7):
        jt = bld.build()
        for i in range(n):
            jt.update(i, float(i) + 0.5)
        jimg = bytes(jt.compact().toByteArray())
        mine = TPC.from_ref_bytes(jimg, "double")
        assert mine.retained == n
        assert mine.estimate() == jt.compact().getEstimate()
        assert TPC.to_ref_bytes(mine, "double") == jimg

    # Python-written ESTIMATING image -> Java heapify -> re-serialize
    rng = np.random.default_rng(7)
    h = np.sort(rng.integers(1, 1 << 62, 900).astype(np.int64))
    theta = int(h[800])
    sk = TPC.LegacyTupleSketch(
        h[:800], np.arange(800) * 1.0, np.zeros(800, np.int64), theta, False)
    img = TPC.to_ref_bytes(sk, "double")
    jt = tup.Sketches.heapifySketch(_mem(spark, img), des)
    assert jt.getEstimate() == sk.estimate()
    assert jt.getRetainedEntries() == 800
    assert bytes(jt.compact().toByteArray()) == img


def test_generic_tuple_integer_summary_live(spark):
    """Same exchange with the aninteger.IntegerSummary serde
    (int LE + mode byte, aninteger/IntegerSummary.java:139-149)."""
    jvm = spark._jvm
    tup = jvm.org.apache.datasketches.tuple
    Mode = jvm.org.apache.datasketches.tuple.aninteger.IntegerSummary.Mode
    fac = jvm.org.apache.datasketches.tuple.aninteger.IntegerSummaryFactory(Mode.Sum)
    bld = tup.UpdatableSketchBuilder(fac)
    des = jvm.org.apache.datasketches.tuple.aninteger.IntegerSummaryDeserializer()
    jt = bld.build()
    for i in range(9):
        jt.update(i, 3)
    jimg = bytes(jt.compact().toByteArray())
    mine = TPC.from_ref_bytes(jimg, "integer")
    assert mine.retained == 9 and (mine.values == 3.0).all()
    img = TPC.to_ref_bytes(mine, "integer")
    assert img == jimg
    jt2 = tup.Sketches.heapifySketch(_mem(spark, img), des)
    assert jt2.getEstimate() == mine.estimate()


def test_generic_tuple_updatable_images_heapify(spark):
    """The UPDATABLE generic tuple working form — the sketchType-0
    QuickSelectSketch image UpdatableTupleSketch.toByteArray() writes
    (tuple/QuickSelectSketch.java:400-480) — must heapify into the
    same state the compact image yields, for empty / single / exact /
    rebuilt-estimating streams."""
    jvm = spark._jvm
    tup = jvm.org.apache.datasketches.tuple
    Mode = jvm.org.apache.datasketches.tuple.adouble.DoubleSummary.Mode
    fac = jvm.org.apache.datasketches.tuple.adouble.DoubleSummaryFactory(Mode.Sum)
    for n in (0, 1, 9, 5000):
        sk = tup.UpdatableSketchBuilder(fac).build()
        for i in range(n):
            sk.update(i, float(i) + 0.25)
        mine = TPC.from_ref_updatable_bytes(bytes(sk.toByteArray()), "double")
        comp = sk.compact()
        assert mine.estimate() == comp.getEstimate()
        assert mine.retained == comp.getRetainedEntries()
        assert mine.theta_long == comp.getThetaLong()
        ref = TPC.from_ref_bytes(bytes(comp.toByteArray()), "double")
        assert np.array_equal(np.sort(ref.hashes), mine.hashes)
        assert np.allclose(np.sort(ref.values), np.sort(mine.values))

    # sampling-mode image (p < 1): theta == p·LONG_MAX is ELIDED from
    # the wire image (IS_IN_SAMPLING_MODE set, IS_THETA_INCLUDED not),
    # and must be reconstructed from the stored samplingProbability
    # float exactly as the reference does (round-5 ADVICE finding:
    # thetaLong = (long)(Long.MAX_VALUE * samplingProbability))
    bldp = tup.UpdatableSketchBuilder(fac)
    bldp.setSamplingProbability(float(0.5))
    skp = bldp.build()
    for i in range(200):
        skp.update(i, float(i) + 0.25)
    mine = TPC.from_ref_updatable_bytes(bytes(skp.toByteArray()), "double")
    compp = skp.compact()
    assert mine.theta_long == compp.getThetaLong()
    assert mine.retained == compp.getRetainedEntries()
    assert mine.estimate() == compp.getEstimate()


# ----------------------------------------------------------- FDT

def _jstr_arr(spark, vals):
    arr = spark._sc._gateway.new_array(spark._jvm.java.lang.String, len(vals))
    for i, v in enumerate(vals):
        arr[i] = v
    return arr


def test_fdt_group_list_parity_both_regimes(spark):
    """FdtSketch.getResult parity: parse Java's FDT compact image
    (generic tuple serVer-3 with ArrayOfStringsSummary records) and
    run OUR PostProcessor port on Java's retained sample — every Group
    column (count, est, ub, lb, fraction, rse) must be bit-equal, in
    the exact AND the estimating regime (the latter exercises the
    BinomialBoundsN transcription end-to-end)."""
    import numpy as np

    from datasketches_java_spark.kernels import fdt as FDT

    jvm = spark._jvm
    gw = spark._sc._gateway

    def run_case(n_pri, n_sub, lgk):
        sk = jvm.org.apache.datasketches.fdt.FdtSketch(lgk)
        for p in range(n_pri):
            for s in range(n_sub + p % 3):
                sk.update(_jstr_arr(spark, [f"ip{p}", f"user{s}", f"d{s % 5}"]))
        pri_idx = gw.new_array(jvm.int, 2)
        pri_idx[0], pri_idx[1] = 0, 2
        jrows = {
            g.getPrimaryKey(): (g.getCount(), g.getEstimate(), g.getUpperBound(),
                                g.getLowerBound(), g.getFraction(), g.getRse())
            for g in sk.getResult(pri_idx, 0, 2, ",")
        }
        hashes, tuples, theta, empty = FDT.from_ref_bytes(
            bytes(sk.compact().toByteArray()))
        assert not empty and len(hashes) == sk.getRetainedEntries()
        pri = FDT.extract_pri_keys(np.array(tuples, dtype=object), [0, 2], ",")
        ours = FDT.post_process(pri, theta, 2)
        mine = {r.pri_key: (int(r.grp_count), r.est, r.ub, r.lb, r.fraction, r.rse)
                for r in ours.itertuples()}
        assert mine == jrows
        return sk

    assert not run_case(40, 10, 10).isEstimationMode()
    assert run_case(300, 60, 6).isEstimationMode()


def test_fdt_compute_lgk_matches_java(spark):
    from datasketches_java_spark.kernels import fdt as FDT

    jvm = spark._jvm
    for thr, rse in [(0.01, 0.05), (0.1, 0.1), (0.5, 0.5), (0.003, 0.2)]:
        jsk = jvm.org.apache.datasketches.fdt.FdtSketch(float(thr), float(rse))
        assert (1 << FDT.compute_lgk(thr, rse)) == jsk.getNominalEntries()


def test_binomial_bounds_bit_equal_live(spark):
    """ref_binomial_lower/upper_bound vs the jar's BinomialBoundsN on
    a sweep crossing every branch (theta=1, n=0/1, equiv-table region,
    exact nstar region, gaussian region)."""
    import random

    from datasketches_java_spark.kernels.bounds import (
        ref_binomial_lower_bound,
        ref_binomial_upper_bound,
    )

    B = spark._jvm.org.apache.datasketches.thetacommon.BinomialBoundsN
    random.seed(3)
    cases = [(n, th, sd) for n in (0, 1, 2, 7, 50, 119, 120, 121, 1000, 100000)
             for th in (1.0, 1.0 - 1e-6, 0.9, 0.5, 0.1, 0.01, 1e-4)
             for sd in (1, 2, 3)]
    cases += [(random.randrange(0, 2000), random.random(),
               random.choice((1, 2, 3))) for _ in range(150)]
    for n, th, sd in cases:
        assert ref_binomial_lower_bound(n, th, sd) == B.getLowerBound(n, th, sd, False)
        assert ref_binomial_upper_bound(n, th, sd) == B.getUpperBound(n, th, sd, False)
    # noDataSeen short-circuit
    assert ref_binomial_lower_bound(0, 0.5, 2, True) == 0.0
    assert ref_binomial_upper_bound(0, 0.5, 2, True) == 0.0


def test_tuple_jaccard_matches_theta_port(spark):
    """tuple/JaccardSimilarity.java is the theta algorithm over the
    tuple sketch's hash set (summaries don't enter the J value): our
    theta_compat.jaccard/exactly_equal must reproduce the jar's tuple
    JaccardSimilarity triple bit-equal on real Sketch<DoubleSummary>
    pairs, reading each sketch's (hashes, theta) via the serVer-3
    image parser."""
    jvm = spark._jvm
    tup = jvm.org.apache.datasketches.tuple
    Mode = jvm.org.apache.datasketches.tuple.adouble.DoubleSummary.Mode
    fac = jvm.org.apache.datasketches.tuple.adouble.DoubleSummaryFactory(Mode.Sum)
    ops = jvm.org.apache.datasketches.tuple.adouble.DoubleSummarySetOperations(
        Mode.Sum, Mode.Sum)

    def mk(lo, n):
        sk = tup.UpdatableSketchBuilder(fac).build()
        for i in range(lo, lo + n):
            sk.update(i, 1.0)
        return sk.compact()

    a, b = mk(0, 30_000), mk(12_000, 30_000)  # estimating, overlapping
    ref = jvm.org.apache.datasketches.tuple.JaccardSimilarity.jaccard(a, b, ops)
    pa = TPC.from_ref_bytes(bytes(a.toByteArray()), "double")
    pb = TPC.from_ref_bytes(bytes(b.toByteArray()), "double")
    got = tc.jaccard(
        np.sort(pa.hashes), pa.theta_long, np.sort(pb.hashes), pb.theta_long)
    assert got == (ref[0], ref[1], ref[2])
    JT = jvm.org.apache.datasketches.tuple.JaccardSimilarity
    assert tc.exactly_equal(
        np.sort(pa.hashes), pa.theta_long, np.sort(pa.hashes), pa.theta_long
    ) == bool(JT.exactlyEqual(a, a, ops))
    assert not tc.exactly_equal(
        np.sort(pa.hashes), pa.theta_long, np.sort(pb.hashes), pb.theta_long)


def test_builtin_theta_bounds_match_java(spark):
    """The one theta finisher (theta_compat.estimate_bounds) reads the
    images Spark's theta_sketch_agg builds exactly as datasketches-java
    does: getEstimate, getLowerBound(2), getUpperBound(2) and the
    retained count, in the exact and the estimating regime."""
    import pandas as pd

    from datasketches_java_spark.functions.sketch_udfs import kmv_sketch_bytes_agg

    jvm = spark._jvm
    pdf = pd.DataFrame({
        "g": ["exact"] * 50 + ["est"] * 3000 + ["one"],
        "v": list(range(50)) + list(range(3000)) + [7],
    })
    images = kmv_sketch_bytes_agg(spark.createDataFrame(pdf), "g", "v", k=64).collect()
    assert len(images) == 3
    for r in images:
        img = bytes(r["sketch"])
        js = jvm.org.apache.datasketches.theta.Sketches.heapifySketch(_mem(spark, img))
        est, lb, ub, retained = tc.estimate_bounds(img, 2)
        assert (est, lb, ub, retained) == (
            js.getEstimate(), js.getLowerBound(2), js.getUpperBound(2),
            js.getRetainedEntries(True))
        assert js.isEstimationMode() == (r["g"] == "est")


def test_tuple_partial_unions_with_java_sketch_over_same_keys(spark):
    """A tuple_sketch_agg partial hashes its keys as the reference's
    update(String): unioned in datasketches-java with a Java-built
    ArrayOfDoublesUpdatableSketch over the same 300 keys, the keys
    meet, so the union estimates 300 (not 600) and sums both sides'
    summaries per key."""
    import pandas as pd

    from datasketches_java_spark.functions.sketch_udfs import _tuple_partial

    jvm = spark._jvm
    aod = jvm.org.apache.datasketches.tuple.arrayofdoubles
    keys = [f"key-{i}" for i in range(300)]
    (ours,) = _tuple_partial(
        pd.DataFrame({"__key": keys, "__s_v": 1.0}), ["v"],
        k=4096, combiner="sum", seed=9001)
    bld = aod.ArrayOfDoublesUpdatableSketchBuilder()
    bld.setNumberOfValues(1)
    theirs = bld.build()
    arr = spark._sc._gateway.new_array(jvm.double, 1)
    arr[0] = 2.0
    for key in keys:
        theirs.update(key, arr)
    u = aod.ArrayOfDoublesSetOperationBuilder().setNumberOfValues(1).buildUnion()
    u.union(aod.ArrayOfDoublesSketches.heapifySketch(_mem(spark, ours)))
    u.union(theirs.compact())
    res = u.getResult()
    assert res.getEstimate() == 300.0
    assert sorted(row[0] for row in res.getValues()) == [3.0] * 300
