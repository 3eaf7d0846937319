"""Item serdes (kernels/serde.py) and the one-engine-per-family codecs
built on them: the shared KLL reference reader/writer (the engine's one
serialized form, partials included) and the string consumers' bounds
checks."""

import copy

import numpy as np
import pytest

from datasketches_java_spark.kernels import classic_quantiles as CQ
from datasketches_java_spark.kernels import freq_compat as FC
from datasketches_java_spark.kernels import kll as K
from datasketches_java_spark.kernels import serde
from datasketches_java_spark.kernels.freq import FrequentItems
from datasketches_java_spark.kernels.kll_items import KllItems


def test_fixed_serde_round_trip_and_exactness_guards():
    floats = serde.Fixed("<f4", "<f8")
    longs = serde.Fixed("<i8", "<f8")
    buf = b"pad" + floats.to_bytes([1.5, -2.0])
    items, end = floats.from_bytes(buf, 3, 2)
    assert items.dtype == np.float64 and items.tolist() == [1.5, -2.0]
    assert end == len(buf)
    assert longs.from_bytes(longs.to_bytes([7.0, -3.0]), 0, 2)[0].tolist() == [7.0, -3.0]
    for bad_serde, bad in ((floats, 0.1), (longs, 0.5), (longs, 2.0**60)):
        with pytest.raises(ValueError):
            bad_serde.to_bytes([bad])
    with pytest.raises(ValueError):  # int64 beyond 2^53 is not float64-exact
        longs.from_bytes(serde.LONGS.to_bytes([2**60]), 0, 1)
    # the same wire type without a float64 view keeps full int64 range
    assert serde.LONGS.from_bytes(serde.LONGS.to_bytes([2**62]), 0, 1)[0].tolist() == [2**62]
    with pytest.raises(ValueError):
        serde.DOUBLES.from_bytes(serde.DOUBLES.to_bytes([1.0, 2.0]), 0, 3)


def test_string_serde_round_trip_and_bounds():
    items = ["", "naïve", "z" * 300]
    buf = serde.STRINGS.to_bytes(items)
    out, end = serde.STRINGS.from_bytes(buf, 0, 3)
    assert out.dtype == object and out.tolist() == items and end == len(buf)
    with pytest.raises(ValueError):
        serde.STRINGS.from_bytes(buf[:-1], 0, 3)  # string cut short
    with pytest.raises(ValueError):
        serde.STRINGS.from_bytes(buf, 0, 4)  # length prefix missing
    with pytest.raises(ValueError):
        serde.STRINGS.from_bytes(b"\xff\xff\xff\xff", 0, 1)  # negative length


def _lossy(cls, lo, hi):
    if cls is KllItems:
        return cls(k=16).update_many([f"s{v:06d}" for v in range(lo, hi)])
    return cls(k=16).update_many(np.arange(lo, hi, dtype=np.float64))


def _image(sk) -> bytes:
    return K._to_ref_bytes_typed(sk, sk._SERDE)


def _heapify(cls, buf: bytes, seed: int = 9001):
    return K._from_ref_bytes_typed(buf, seed, cls._SERDE, cls)


@pytest.mark.parametrize("cls", [K.KllDoubles, KllItems])
def test_ref_image_round_trip_then_merge_equals_in_memory(cls):
    """Lossy regime: merging heapified partials must equal merging the
    live sketches, so the image carries everything later work reads:
    k, n, the levels and the extremes (the coin is keyed on n and the
    level sizes)."""
    a, b = _lossy(cls, 0, 3000), _lossy(cls, 2000, 5500)
    assert len(a.levels) > 2
    a2, b2 = (_heapify(cls, _image(s), s.seed) for s in (a, b))
    for src, back in ((a, a2), (b, b2)):
        assert (back.k, back.n) == (src.k, src.n)
        assert (back._ref_min, back._ref_max) == (src._ref_min, src._ref_max)
        assert ([sorted(lv.tolist()) for lv in back.levels]
                == [sorted(lv.tolist()) for lv in src.levels])
    mem = copy.deepcopy(a).merge(b)
    wire = a2.merge(b2)
    assert _image(wire) == _image(mem)
    for r in (0.0, 0.3, 0.5, 0.9, 1.0):
        assert wire.get_quantile(r) == mem.get_quantile(r)
    empty = _heapify(cls, _image(cls(k=16)))
    assert empty.n == 0 and empty._ref_min is None


@pytest.mark.parametrize("cls,item,stream", [
    (K.KllDoubles, -1.0, np.arange(5000, dtype=np.float64)),
    (KllItems, "a", [f"m{v:05d}" for v in range(5000)]),
])
def test_parsed_single_item_image_keeps_its_extremes(cls, item, stream):
    """A COMPACT_SINGLE image's item is the stream min and max; once
    compaction drops it from the retained set, rank 0 must still
    return it, and so must the re-serialized image's min."""
    sk = _heapify(cls, _image(cls(k=8).update(item)))
    assert sk._ref_min == sk._ref_max == item
    sk.update_many(stream)
    assert sk.get_quantile(0.0) == item
    assert _heapify(cls, _image(sk))._ref_min == item


def test_truncated_string_section_raises_in_every_consumer():
    words = [f"w{v:04d}" for v in range(100)]
    kll_img = KllItems(k=200).update_many(words).to_ref_bytes()
    classic_img = CQ.items_to_ref_bytes(KllItems(k=128).update_many(words))
    freq_img = FC.to_ref_bytes_items(FrequentItems(64).update_many(words[:10]))
    for parse, img in ((KllItems.from_ref_bytes, kll_img),
                       (CQ.items_from_ref_bytes, classic_img),
                       (FC.from_ref_bytes_items, freq_img)):
        parse(img)  # the whole image parses
        for cut in (1, 3, 6):
            with pytest.raises(ValueError):
                parse(img[:-cut])


def test_updated_parsed_image_is_written_as_our_build():
    """A parsed image keeps its level-0 order and LEVEL_ZERO_SORTED
    flag only while unchanged: once items land in level 0 the writer
    sorts it again, so the flag never claims an unsorted level."""
    src = K.KllDoubles(k=200).update_many(np.arange(300.0))
    img = K.to_ref_bytes(src)
    sk = K.from_ref_bytes(img)
    assert K.to_ref_bytes(sk) == img
    sk.update_many(np.array([-5.0, 1000.0, 3.5]))
    back = K.from_ref_bytes(K.to_ref_bytes(sk))
    assert back._ref_l0_sorted
    assert np.all(np.diff(back.levels[0]) >= 0)


def test_updated_parsed_image_reads_the_same_in_java(spark):
    jvm = spark._jvm
    sk = K.from_ref_bytes(K.to_ref_bytes(
        K.KllDoubles(k=200).update_many(np.arange(300.0))))
    sk.update_many(np.array([-5.0, 1000.0, 3.5]))
    jk = jvm.org.apache.datasketches.kll.KllDoublesSketch.heapify(
        jvm.org.apache.datasketches.memory.Memory.wrap(K.to_ref_bytes(sk)))
    for r in (0.01, 0.25, 0.5, 0.75, 0.99):
        assert jk.getQuantile(float(r)) == sk.get_quantile(r)
    for v in (3.5, 100.0, 250.0):
        assert jk.getRank(v) == sk.get_rank(v)
