"""One-permutation MinHash (OPH) + LSH banding.

Classic b×r LSH banding (Leskovec–Rajaraman–Ullman, MMDS ch.3) needs n
independent minhash coordinates per row. Computing n permutations per
shingle is O(m·n); instead we use one-permutation hashing with
densification — O(m+n) per row — which is the only affordable shape at
10^12 rows:
  * OPH: Li, Owen, Zhang, "One Permutation Hashing" (NIPS 2012) — split
    the hash range into n bins, keep the min per bin.
  * Densification: Shrivastava, "Optimal Densification for Fast and
    Accurate Minwise Hashing" (ICML 2017) — each empty bin borrows via
    its own hashed probe sequence over bins. Run-borrowing schemes
    (rotation / doubling-shift) are NOT used: they copy one hot
    shingle's hash across whole empty runs, so unrelated rows sharing a
    single common shingle collide on entire bands (measured: 2.6M
    candidates on a 20k zipf-caption corpus, ~100x the true pair count).
    Per-bin probe sequences decorrelate adjacent coordinates and keep
    the estimator unbiased.

The per-coordinate collision probability equals the Jaccard similarity,
so banding math carries over: P(candidate) = 1 - (1 - J^r)^b.
"""

from __future__ import annotations

import numpy as np

from .hashing import mix64, seed_mix

_EMPTY = np.uint64(0xFFFFFFFFFFFFFFFF)
_EMPTY32 = np.uint32(0xFFFFFFFF)


def oph_signature_matrix(
    hashes: np.ndarray, rows: np.ndarray, n_rows: int, n_bins: int, seed: int = 9001
) -> tuple[np.ndarray, np.ndarray]:
    """(sig_matrix uint[n_rows, n_bins], nonempty bool[n_rows]).

    hashes: shingle hashes — int64 (63-bit lane) or int32 (the
    pipeline's 31-bit narrow lane; the matrix is then uint32, halving
    the traffic of the hottest allocation in the signature stage).
    rows: batch row per shingle. Bin index = top bits of the hash (the
    "one permutation"); bin value = the hash itself. Empty bins are
    densified per-bin-probe borrowing; fully-empty rows are flagged
    (caller emits null signature).
    """
    assert n_bins & (n_bins - 1) == 0, "n_bins must be a power of two"
    hashes = np.asarray(hashes)
    narrow = hashes.dtype == np.int32
    bits = 31 if narrow else 63
    udt = np.uint32 if narrow else np.uint64
    empty = _EMPTY32 if narrow else _EMPTY
    shift = udt(bits - int(np.log2(n_bins)))
    mat = np.full((n_rows, n_bins), empty, dtype=udt)

    if len(hashes):
        h = hashes.astype(udt)
        bins = (h >> shift).astype(np.int64)
        key = np.asarray(rows, dtype=np.int64) * n_bins + bins
        if narrow and n_rows * n_bins < (1 << 32):
            # composite single-key sort: (cell index << 31) | hash fits
            # in int64 for the 31-bit narrow lane — one direct np.sort
            # instead of lexsort's two indirect argsort passes (the
            # hottest sort of the signature stage)
            comp = (key.astype(np.uint64) << np.uint64(31)) | h.astype(np.uint64)
            comp.sort()
            key_s = (comp >> np.uint64(31)).astype(np.int64)
            h_s = (comp & np.uint64(0x7FFFFFFF)).astype(udt)
        else:
            order = np.lexsort((h, key))
            key_s, h_s = key[order], h[order]
        first = np.ones(len(key_s), dtype=bool)
        first[1:] = key_s[1:] != key_s[:-1]
        mat.reshape(-1)[key_s[first]] = h_s[first]

    nonempty_row = (mat != empty).any(axis=1)
    _densify(mat, n_bins, seed)
    return mat, nonempty_row


def _probe_targets(n_bins: int, seed: int, max_attempts: int) -> np.ndarray:
    """probe[t, i] = bin probed at attempt t for empty bin i (shared by
    all rows — depends only on (seed, i, t), so identical inputs densify
    identically under Spark task retry)."""
    i = np.arange(n_bins, dtype=np.uint64)
    rows = []
    for t in range(max_attempts):
        h = mix64(mix64(i ^ seed_mix(seed + 31 * (t + 1))) + np.uint64(t))
        rows.append((h % np.uint64(n_bins)).astype(np.int64))
    return np.stack(rows)


def _densify(mat: np.ndarray, n_bins: int, seed: int, max_attempts: int = 64) -> None:
    """Optimal densification (Shrivastava 2017), vectorized over rows:
    every empty bin walks its own probe sequence until it hits a filled
    bin. Falls back to circular shift for bins still empty after
    max_attempts (only near-empty rows, where variance is moot)."""
    flat = mat.reshape(-1)
    empty = _EMPTY32 if mat.dtype == np.uint32 else _EMPTY
    filled0_flat = flat != empty
    if filled0_flat.all():
        return
    probes = _probe_targets(n_bins, seed, max_attempts)
    # work only on the flat indices of still-empty cells; the active
    # set shrinks geometrically (expected attempts ≈ 1/fill-fraction).
    # int32 index arrays (cell count < 2^31 per batch by construction)
    # halve the memory traffic of every gather below.
    empty_idx = np.nonzero(~filled0_flat)[0].astype(np.int32)
    row_base = (empty_idx - empty_idx % n_bins).astype(np.int32)
    bins_e = (empty_idx % n_bins).astype(np.int32)
    # reads gather only from originally-filled cells and writes go only
    # to originally-empty cells, so flat can serve as its own source
    src_snapshot = flat
    probes32 = probes.astype(np.int32)
    # attempts in blocks of 4: one boolean compaction per block instead
    # of per attempt (the compactions, not the gathers, dominated the
    # per-attempt loop); within a block the FIRST hit wins, preserving
    # the per-attempt priority exactly
    for t0 in range(0, max_attempts, 4):
        if len(empty_idx) == 0:
            break
        srcs = []
        hits = []
        for t in range(t0, min(t0 + 4, max_attempts)):
            src = row_base + probes32[t][bins_e]
            srcs.append(src)
            hits.append(filled0_flat[src])
        resolved = hits[0].copy()
        sel_src = np.where(hits[0], srcs[0], np.int32(0))
        for j in range(1, len(hits)):
            newly = hits[j] & ~resolved
            if newly.any():
                sel_src = np.where(newly, srcs[j], sel_src)
                resolved |= newly
        if resolved.any():
            flat[empty_idx[resolved]] = src_snapshot[sel_src[resolved]]
            keep = ~resolved
            empty_idx = empty_idx[keep]
            row_base = row_base[keep]
            bins_e = bins_e[keep]
    if len(empty_idx):  # degenerate near-empty rows: circular fallback
        for step in range(1, n_bins):
            if len(empty_idx) == 0:
                break
            tgt = (bins_e + step) % n_bins
            src = row_base + tgt
            hit = filled0_flat[src]
            if hit.any():
                flat[empty_idx[hit]] = src_snapshot[src[hit]]
                keep = ~hit
                empty_idx, row_base, bins_e = (
                    empty_idx[keep], row_base[keep], bins_e[keep],
                )


def band_hashes(
    sig: np.ndarray, b: int, r: int, seed: int = 9001
) -> np.ndarray:
    """int64[n_rows, b] — one 63-bit key per band, band index mixed in
    so identical r-tuples in different bands never collide. Accepts the
    uint32 narrow-lane matrix (values are widened during mixing only)."""
    n_rows, n = sig.shape
    assert n == b * r
    bands = sig.reshape(n_rows, b, r)
    acc = np.broadcast_to(seed_mix(seed), (n_rows, b)).copy()
    with np.errstate(over="ignore"):
        for j in range(r):
            acc = mix64(acc ^ bands[:, :, j].astype(np.uint64))
        band_idx = np.arange(b, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15)
        acc = mix64(acc ^ band_idx[None, :])
    return (acc >> np.uint64(1)).astype(np.int64)
