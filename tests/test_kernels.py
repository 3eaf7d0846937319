"""Kernel unit tests vs brute-force oracles — no Spark needed.

Mirrors the reference's corner/accuracy test style (SURVEY.md §5,
FIXTURES.md F4): empty/single-item corner cases, Jaccard thresholds
from theta/JaccardSimilarityTest.java, distinct-count RSE within
binomial bounds, KLL rank error within 2.446/k^0.9433, merge-order
invariance.
"""

import numpy as np
import pandas as pd
import pytest

from datasketches_java_spark.kernels import kll, kmv, minhash, simhash, suffix
from datasketches_java_spark.kernels.hashing import hash63, hash64, popcount64
from datasketches_java_spark.kernels.shingle import (
    char_shingle_hashes,
    ngram_token_hashes,
    normalize_captions,
    token_hashes,
)


def shingle_set(text: str, k: int = 5) -> set:
    t = " ".join(text.casefold().split())
    if len(t) < k:
        return {t} if t else set()
    return {t[i : i + k] for i in range(len(t) - k + 1)}


# ---------- hashing ----------

def test_hash_determinism_and_range():
    x = np.arange(1000, dtype=np.uint64)
    h1, h2 = hash63(x, 9001), hash63(x, 9001)
    assert np.array_equal(h1, h2)
    assert (h1 >= 0).all()  # 63-bit, int64-order-safe
    assert len(np.unique(h1)) == 1000
    assert not np.array_equal(hash63(x, 9001), hash63(x, 9002))


def test_hash_uniformity():
    h = hash64(np.arange(100_000, dtype=np.uint64))
    frac = h.astype(np.float64) / 2.0**64
    assert abs(frac.mean() - 0.5) < 0.01
    counts, _ = np.histogram(frac, bins=16)
    assert counts.min() > 5500 and counts.max() < 7000


def test_popcount():
    assert popcount64(np.array([0, 1, 3, 0xFFFFFFFFFFFFFFFF], dtype=np.uint64)).tolist() == [
        0, 1, 2, 64,
    ]


# ---------- shingles ----------

def test_char_shingles_match_bruteforce_counts():
    caps = pd.Series(["hello world", "hello world", "abc", ""])
    caps = normalize_captions(caps)
    h, rows = char_shingle_hashes(caps, k=5)
    for i, c in enumerate(caps):
        got = len(np.unique(h[rows == i]))
        assert got == len(shingle_set(c)), (i, c)
    # identical captions → identical shingle hash sets
    assert set(h[rows == 0]) == set(h[rows == 1])


def test_token_hashes():
    caps = pd.Series(["a bb ccc", "bb a", ""])
    h, rows = token_hashes(caps)
    assert (rows == 0).sum() == 3 and (rows == 1).sum() == 2 and (rows == 2).sum() == 0
    assert set(h[rows == 1]) < set(h[rows == 0])


def test_ngram_token_hashes():
    caps = pd.Series(["a b c d", "a b c d", "b c d a"])
    h, rows = ngram_token_hashes(caps, 2)
    assert (rows == 0).sum() == 3
    assert set(h[rows == 0]) == set(h[rows == 1])
    assert set(h[rows == 0]) != set(h[rows == 2])


# ---------- KMV / Theta (T1-T8 semantics) ----------

def test_bottom_k_batch_matches_per_row():
    rng = np.random.default_rng(42)
    rows = np.repeat(np.arange(50), rng.integers(0, 40, 50))
    hashes = hash63(rng.integers(0, 1 << 40, len(rows)).astype(np.uint64))
    sigs = kmv.bottom_k_batch(hashes, rows, 50, 8)
    for i in range(50):
        expect = np.unique(hashes[rows == i])[:8]
        assert np.array_equal(sigs[i], expect)
        assert np.array_equal(sigs[i], np.sort(sigs[i]))


def _sig(hashes: np.ndarray, k: int) -> np.ndarray:
    """Sorted bottom-k of one hash set, through the signature stage's
    kernel (one row)."""
    hashes = np.asarray(hashes, dtype=np.int64)
    vals, _, _ = kmv.bottom_k_flat(hashes, np.zeros(len(hashes), np.int64), 1, k)
    return vals


def _jaccard(a: np.ndarray, b: np.ndarray, k: int, num_std_dev: float = 2.0):
    """(lb, est, ub) of one signature pair, through the verify stage's
    kernel."""
    lo, est, hi = kmv.jaccard_bounds_flat(
        a, np.array([len(a)]), b, np.array([len(b)]), k, num_std_dev)
    return lo[0], est[0], hi[0]


def test_empty_rules():
    """Union / Jaccard corner cases (SetOpsCornerCasesTest analog);
    the intersection and A-not-B cases run on Spark's theta functions
    (tests/test_dist_aggs.py::test_theta_pair_set_ops_empty_group)."""
    e = np.empty(0, np.int64)
    s = _sig(hash63(np.arange(10, dtype=np.uint64)), 8)
    assert len(kmv.union_many([e, e], 8)) == 0
    assert np.array_equal(kmv.union_many([e, s], 8), s)
    assert _jaccard(e, e, 8) == (1.0, 1.0, 1.0)  # two empties exactly equal
    assert _jaccard(e, s, 8) == (0.0, 0.0, 0.0)
    assert kmv.estimate(e, 8) == 0.0


def test_single_item():
    s = _sig(hash63(np.array([7], dtype=np.uint64)), 256)
    assert kmv.estimate(s, 256) == 1.0
    assert _jaccard(s, s, 256)[1] == 1.0


def test_distinct_estimate_within_bounds():
    """RSE within binomial bounds at 2SD (BinomialBoundsN analog)."""
    for n in (1_000, 100_000):
        for k in (256, 4096):
            h = hash63(np.arange(n, dtype=np.uint64))
            sig = _sig(h, k)
            lb, est, ub = kmv.estimate_bounds(sig, k, 2)
            assert lb <= n <= ub, (n, k, lb, est, ub)
            if n > k:
                assert abs(est - n) / n < 3.0 / np.sqrt(k), (n, k, est)


def test_jaccard_identical_sets():
    """est > 0.9999 for identical sets, exact + estimation mode
    (theta/JaccardSimilarityTest.java:80-140)."""
    for n in (10, 1 << 10, 1 << 16):
        h = hash63(np.arange(n, dtype=np.uint64))
        sig = _sig(h, 256)
        assert _jaccard(sig, sig, 256)[1] > 0.9999


def test_jaccard_overlap_thresholds():
    """95% overlap passes 0.943 threshold; 5% overlap below 0.061+slack
    (theta/JaccardSimilarityTest.java:159-193), k=4096."""
    k = 4096
    n = 100_000
    base = np.arange(n, dtype=np.uint64)
    a = _sig(hash63(base), k)
    b95 = _sig(hash63(np.concatenate([base[: int(n * 0.95)],
                                      base[-int(n * 0.05):] + 10_000_000])), k)
    lb, j95, ub = _jaccard(a, b95, k, 2)
    true95 = 0.95 / 1.05
    assert abs(j95 - true95) < 0.03
    assert lb <= true95 <= ub or abs(j95 - true95) < 0.02
    b05 = _sig(hash63(np.concatenate([base[: int(n * 0.05)],
                                      base[-int(n * 0.95):] + 10_000_000])), k)
    j05 = _jaccard(a, b05, k)[1]
    assert j05 < 0.061 + 0.02


def test_union_merge_order_invariance():
    """HllSketchMergeOrderTest analog: any merge tree → same sketch."""
    rng = np.random.default_rng(7)
    parts = [_sig(hash63(rng.integers(0, 1 << 50, 500).astype(np.uint64)), 64)
             for _ in range(8)]
    ref = kmv.union_many(parts, 64)
    for seed in range(5):
        perm = np.random.default_rng(seed).permutation(8)
        acc = np.empty(0, np.int64)
        for i in perm:
            acc = kmv.union_many([acc, parts[i]], 64)
        assert np.array_equal(acc, ref)


# ---------- OPH MinHash + banding ----------

def _oph_sig(text: str, n_bins=256):
    h, rows = char_shingle_hashes(pd.Series([text]), 5)
    mat, ne = minhash.oph_signature_matrix(h, rows, 1, n_bins)
    return mat[0], ne[0]


def test_oph_identical_inputs_identical_sigs():
    s1, _ = _oph_sig("the quick brown fox jumps over the lazy dog")
    s2, _ = _oph_sig("the quick brown fox jumps over the lazy dog")
    assert np.array_equal(s1, s2)


def test_oph_collision_rate_tracks_jaccard():
    rng = np.random.default_rng(1)
    words = ["w%03d" % i for i in range(200)]
    base = " ".join(rng.choice(words, 60))
    variant = base[: int(len(base) * 0.7)] + " " + " ".join(rng.choice(words, 18))
    a = shingle_set(base)
    b = shingle_set(variant)
    true_j = len(a & b) / len(a | b)
    s1, _ = _oph_sig(base)
    s2, _ = _oph_sig(variant)
    est = (s1 == s2).mean()
    assert abs(est - true_j) < 0.12, (true_j, est)


def test_band_hashes_shape_and_determinism():
    s1, _ = _oph_sig("some caption text here for banding")
    bh = minhash.band_hashes(s1[None, :], 32, 8)
    assert bh.shape == (1, 32)
    bh2 = minhash.band_hashes(s1[None, :], 32, 8)
    assert np.array_equal(bh, bh2)
    assert (bh >= 0).all()
    assert len(np.unique(bh)) == 32  # band index mixed in


def test_empty_caption_flagged():
    h, rows = char_shingle_hashes(pd.Series([""]), 5)
    mat, ne = minhash.oph_signature_matrix(h, rows, 1, 256)
    assert not ne[0]


# ---------- SimHash ----------

def test_simhash_identical_and_near():
    caps = pd.Series(
        ["the quick brown fox jumps over the lazy dog and runs far away today",
         "the quick brown fox jumps over the lazy dog and runs far away today",
         "the quick brown fox jumps over the lazy cat and runs far away today",
         "completely different words entirely unrelated caption text right here now"]
    )
    th, rows = token_hashes(caps)
    sh = simhash.simhash_batch(th, rows, 4)
    assert sh[0] == sh[1]
    near = simhash.hamming64(np.array([sh[0]]), np.array([sh[2]]))[0]
    far = simhash.hamming64(np.array([sh[0]]), np.array([sh[3]]))[0]
    assert near < far
    assert near <= 16


# ---------- suffix array ----------

def test_suffix_array_banana():
    s = np.frombuffer(b"banana", dtype=np.uint8)
    sa = suffix.suffix_array(s)
    assert sa.tolist() == [5, 3, 1, 0, 4, 2]


def test_lcs():
    ln, pa, pb = suffix.longest_common_substring("xxhello worldyy", "zzhello worldaa")
    assert ln == len("hello world")
    assert "xxhello worldyy"[pa : pa + ln] == "zzhello worldaa"[pb : pb + ln]
    assert suffix.longest_common_substring("abc", "xyz")[0] == 0
    assert suffix.longest_common_substring("", "xyz")[0] == 0


# ---------- KLL ----------

def test_kll_rank_error_within_bound():
    k = 200
    bound = kll.rank_error(k, pmf=False)
    for name, stream in {
        "uniform": np.random.default_rng(3).uniform(0, 1, 50_000),
        "sorted": np.arange(50_000, dtype=np.float64),
        "reversed": np.arange(50_000, dtype=np.float64)[::-1],
    }.items():
        sk = kll.KllDoubles(k, seed=9001)
        sk.update_many(stream)
        srt = np.sort(stream)
        errs = []
        for q in (0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99):
            v = sk.get_quantile(q)
            true_rank = np.searchsorted(srt, v, side="right") / len(srt)
            errs.append(abs(true_rank - q))
        assert max(errs) <= bound * 1.5, (name, max(errs), bound)


def test_kll_merge_matches_combined():
    a, b = kll.KllDoubles(200), kll.KllDoubles(200)
    rng = np.random.default_rng(5)
    xa, xb = rng.normal(0, 1, 20_000), rng.normal(3, 1, 20_000)
    a.update_many(xa)
    b.update_many(xb)
    a.merge(b)
    combined = np.sort(np.concatenate([xa, xb]))
    for q in (0.1, 0.5, 0.9):
        v = a.get_quantile(q)
        true_rank = np.searchsorted(combined, v, side="right") / len(combined)
        assert abs(true_rank - q) <= kll.rank_error(200, False) * 2.0


@pytest.mark.parametrize("items", [False, True])
def test_kll_compaction_keeps_weight(items):
    """Compacting an odd-length level keeps one item in place
    (KllDoublesHelper), so the retained weight sum(len(level h)·2^h)
    is n after every update and merge, for doubles and items."""
    from datasketches_java_spark.kernels.kll_items import KllItems

    for seed in range(6):
        rng = np.random.default_rng(seed)
        k = int(rng.choice([8, 20, 33, 200]))
        n = int(rng.integers(1_000, 6_000))
        x = rng.normal(size=n)
        if items:
            x = np.array([f"s{v:+.6f}" for v in x], dtype=object)
        parts = np.array_split(x, int(rng.integers(1, 40)))
        sks = [(KllItems if items else kll.KllDoubles)(k, seed=9001) for _ in range(2)]
        for i, part in enumerate(parts):
            sks[i % 2].update_many(part)
            for sk in sks:
                assert sum(len(lv) << h for h, lv in enumerate(sk.levels)) == sk.n
        sks[0].merge(sks[1])
        assert sum(len(lv) << h for h, lv in enumerate(sks[0].levels)) == n


def test_kll_serialization_roundtrip():
    sk = kll.KllDoubles(128)
    sk.update_many(np.random.default_rng(2).uniform(0, 10, 5000))
    sk2 = kll.from_ref_bytes(kll.to_ref_bytes(sk))
    for q in (0.1, 0.5, 0.9):
        assert sk.get_quantile(q) == sk2.get_quantile(q)
    assert sk2.n == sk.n


# ---------- bounds ----------

def test_binomial_bounds_cover_true_n():
    n, k = 1_000_000, 4096
    h = hash63(np.arange(n, dtype=np.uint64))
    sig = _sig(h, k)
    lb, _est, ub = kmv.estimate_bounds(sig, k, 3)
    assert lb <= n <= ub
