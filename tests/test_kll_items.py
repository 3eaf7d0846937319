"""Item-typed (string) KLL: kernel semantics, merge, rank-error
contract, serde, and the distributed face (kernels/kll_items.py +
functions/kll_agg.kll_items_quantile_agg; reference
kll/KllItemsSketch.java:45, KllItemsSketchTest.java expectations)."""

import numpy as np
import pytest

from datasketches_java_spark.kernels.kll import rank_error
from datasketches_java_spark.kernels.kll_items import KllItems


def _exact_quantile_frac(sorted_items, p, q):
    """min v with q*(#items <= v) >= p*n over the raw data."""
    n = len(sorted_items)
    for i, v in enumerate(sorted_items, start=1):
        if q * i >= p * n:
            return v
    return sorted_items[-1]


def test_exact_regime_matches_raw_order():
    rng = np.random.default_rng(7)
    items = ["w" + "".join(rng.choice(list("abcdef"), 8)) for _ in range(150)]
    sk = KllItems(k=200).update_many(items)
    s = sorted(items)
    assert sk.n == 150
    for p, q in ((1, 2), (99, 100), (1, 4), (1, 1)):
        assert sk.get_quantile_frac(p, q) == _exact_quantile_frac(s, p, q)


def test_merge_exact_regime():
    rng = np.random.default_rng(11)
    items = ["x%04d" % v for v in rng.integers(0, 9999, 180)]
    sks = []
    for i in range(6):
        sks.append(KllItems(k=200).update_many(items[i * 30:(i + 1) * 30]))
    sk = sks[0]
    for o in sks[1:]:
        sk.merge(o)
    s = sorted(items)
    assert sk.n == 180
    assert sk.get_quantile_frac(1, 2) == _exact_quantile_frac(s, 1, 2)
    assert sk.get_quantile_frac(99, 100) == _exact_quantile_frac(s, 99, 100)


def test_lossy_rank_error_contract():
    """Zero-padded decimal strings order lexicographically == numerically,
    so true normalized ranks are computable; the type-agnostic KLL
    contract 2.446/k^0.9433 (kll/KllHelper.java:295-299) must hold with
    margin at n >> k."""
    n, k = 50_000, 200
    rng = np.random.default_rng(3)
    vals = rng.permutation(n)
    items = ["%07d" % v for v in vals]
    sk = KllItems(k=k)
    for i in range(0, n, 1000):
        sk.update_many(items[i:i + 1000])
    assert sk.n == n
    bound = rank_error(k)  # 99% confidence single-quantile bound
    errs = []
    for p in (0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99):
        est = sk.get_quantile(p)
        true_rank = (int(est) + 1) / n  # items are 0..n-1 exactly once
        errs.append(abs(true_rank - p))
    assert max(errs) <= 3 * bound, (errs, bound)
    assert float(np.mean(errs)) <= bound, (errs, bound)


def test_string_serde_roundtrip():
    items = ["αβγ", "", "z" * 500, "a\nb", "naïve", "zebra"] * 40
    sk = KllItems(k=50).update_many(items)
    rt = KllItems.from_ref_bytes(sk.to_ref_bytes())
    assert rt.n == sk.n
    it1, wt1 = sk._sorted_view()
    it2, wt2 = rt._sorted_view()
    assert list(it1) == list(it2)
    assert list(wt1) == list(wt2)
    assert rt.get_quantile_frac(1, 2) == sk.get_quantile_frac(1, 2)


def test_python_order_is_utf8_byte_order():
    """The exactness-vs-oracle argument rests on Python str order ==
    UTF-8 byte order (DuckDB/Spark binary collation). UTF-8 preserves
    code-point order; verify on a mixed-script sample."""
    sample = ["a", "Z", "~", "é", "αβ", "ÿ", "Ā", "zz", "zé", ""]
    assert sorted(sample) == sorted(sample, key=lambda s: s.encode("utf-8"))


def test_items_agg_distributed_face(spark, smoke_sf_dir):
    """Exact-regime distributed face == raw SQL answer per group."""
    from pyspark.sql import functions as F

    from datasketches_java_spark.functions.kll_agg import (
        kll_items_quantile_agg,
    )

    docs = spark.read.parquet(f"{smoke_sf_dir}/documents.parquet")
    out = kll_items_quantile_agg(docs, "source", "text").toPandas()
    raw = docs.select("source", "text").toPandas()
    for _, row in out.iterrows():
        grp = sorted(raw[raw.source == row.source].text)
        assert row.n == len(grp)
        assert row.q_1_2 == _exact_quantile_frac(grp, 1, 2)
        assert row.q_99_100 == _exact_quantile_frac(grp, 99, 100)


def test_null_skipped():
    sk = KllItems(k=50).update_many(["b", None, "a", None])
    assert sk.n == 2
    assert sk.get_quantile_frac(1, 1) == "b"


def test_ref_wire_roundtrip_exact_regime():
    """Reference KllItemsSketch wire format: empty/single/full forms
    round-trip with identical query answers."""
    empty = KllItems.from_ref_bytes(KllItems(k=200).to_ref_bytes())
    assert empty.n == 0

    single = KllItems(k=200).update("only")
    back1 = KllItems.from_ref_bytes(single.to_ref_bytes())
    assert back1.n == 1 and back1.get_quantile_frac(1, 2) == "only"

    rng = np.random.default_rng(11)
    items = ["cap" + "".join(rng.choice(list("abcdef"), 6)) for _ in range(150)]
    sk = KllItems(k=200).update_many(items)
    back = KllItems.from_ref_bytes(sk.to_ref_bytes())
    assert back.n == sk.n
    for p, q in ((1, 2), (99, 100), (1, 4)):
        assert back.get_quantile_frac(p, q) == sk.get_quantile_frac(p, q)
    assert back._ref_min == min(items) and back._ref_max == max(items)


def test_ref_wire_roundtrip_after_compaction():
    """Compacted sketches (multiple levels) keep per-level structure
    and image min/max through the reference layout."""
    rng = np.random.default_rng(13)
    items = ["t" + "".join(rng.choice(list("abcdefgh"), 5)) for _ in range(20000)]
    sk = KllItems(k=64).update_many(items)
    assert len(sk.levels) > 2  # compaction actually fired
    buf = sk.to_ref_bytes()
    back = KllItems.from_ref_bytes(buf)
    assert [len(lv) for lv in back.levels] == [len(lv) for lv in sk.levels]
    assert back.n == sk.n
    for r in (0.1, 0.5, 0.9):
        assert back.get_quantile(r) == sk.get_quantile(r)
    assert back._ref_min == min(items) and back._ref_max == max(items)
    # unicode + empty-string items survive the serde
    sk2 = KllItems(k=200).update_many(["", "émoji", "zz", ""])
    b2 = KllItems.from_ref_bytes(sk2.to_ref_bytes())
    assert b2.get_quantile_frac(1, 100) == "" and b2.n == 4


def test_ref_wire_header_layout():
    import struct
    sk = KllItems(k=160).update_many([f"x{i:03d}" for i in range(100)])
    buf = sk.to_ref_bytes()
    assert buf[0] == 5 and buf[1] == 1 and buf[2] == 15  # preInts/serVer/KLL
    (k,) = struct.unpack_from("<H", buf, 4)
    assert k == 160 and buf[6] == 8  # m
    (n,) = struct.unpack_from("<q", buf, 8)
    assert n == 100
