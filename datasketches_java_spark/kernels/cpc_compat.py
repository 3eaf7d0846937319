"""Reference-compatible CPC compressed wire format (serial version 1).

The reference serializes CPC sketches ONLY in compressed form
(cpc/CompressedState.java, cpc/CpcCompression.java, cpc/PreambleUtil.java):
a small preamble (2-10 ints depending on Format) followed by up to two
bit streams packed into little-endian int32 words —

  * the WINDOW stream: the k sliding-window bytes, Huffman-coded with
    one of 22 published length-limited code tables selected by the
    coupon-density "pseudo-phase" (CpcCompression.java:446-468);
  * the SV stream: sorted surprising-value (row,col) pairs, coded as
    column deltas (12-bit length-limited unary table), row-delta
    Golomb hi (true unary) and row-delta Golomb lo (numBaseBits raw
    bits) (CpcCompression.java:242-413).

This module implements BOTH directions over the repo's full-bit-matrix
``CpcSketch`` (kernels/cpc.py):

  * ``from_ref_bytes``  — heapify path (CpcSketch.heapify ->
    CompressedState.importFromSegment -> CpcCompression.uncompress);
  * ``to_ref_bytes``    — CpcSketch.toByteArray ->
    CompressedState.compress -> exportToSegment.

The five in-memory flavors (EMPTY/SPARSE/HYBRID/PINNED/SLIDING,
CpcUtil.java:40-61) map to the repo's matrix as in
CpcUtil.bitMatrixOfSketch (CpcUtil.java:76-115): rows default to ones
below the window offset, window bytes OR in at the offset, and pair
entries XOR (they flip surprising zeros in the early zone and set
surprising ones in the late zone).

No CPC golden image ships in the reference's test resources (unlike
theta/KLL/t-digest/tuple/quantiles), so the tests validate the derived
decoding tables with the reference's own validateDecodingTable
invariant (CompressionData.java:88-105) and round-trip every flavor at
multiple sizes; the constant tables themselves are byte-identical to
the published ones (kernels/_cpc_tables.py).
"""
from __future__ import annotations

import struct

import numpy as np

from ._cpc_tables import (
    COLUMN_PERMUTATIONS_DEC,
    COLUMN_PERMUTATIONS_ENC,
    DECODING_TABLES,
    ENCODING_TABLES,
    UNARY_DECODING_TABLE_65,
    UNARY_ENCODING_TABLE_65,
)
from .cpc import CpcSketch, DEFAULT_UPDATE_SEED
from .mmh3 import compute_seed_hash

SER_VER = 1
FAMILY_CPC = 16

# Flags byte (PreambleUtil.java:152-156): bit1 compressed; bits 2-4 are
# the format ordinal = hip | sv<<1 | window<<2.
_COMPRESSED_FLAG = 2

# Preamble size in ints per format ordinal (PreambleUtil.java:164).
_PRE_INTS = (2, 2, 4, 8, 4, 8, 6, 10)

# HiField byte offsets per format (PreambleUtil.java hiFieldOffset):
# fields NUM_COUPONS, NUM_SV, KXP, HIP_ACCUM, SV_LENGTH, W_LENGTH.
_HI = {
    2: {"nc": 8, "svlen": 12},
    3: {"nc": 8, "svlen": 12, "kxp": 16, "hip": 24},
    4: {"nc": 8, "wlen": 12},
    5: {"nc": 8, "wlen": 12, "kxp": 16, "hip": 24},
    6: {"nc": 8, "nsv": 12, "svlen": 16, "wlen": 20},
    7: {"nc": 8, "nsv": 12, "kxp": 16, "hip": 24, "svlen": 32, "wlen": 36},
}


# ---------------------------------------------------------------------------
# flavor / offset / phase rules (CpcUtil.java:40-61,124-130;
# CpcCompression.java:446-468)

def determine_flavor(lg_k: int, c: int) -> str:
    k = 1 << lg_k
    if c == 0:
        return "EMPTY"
    if (c << 5) < 3 * k:
        return "SPARSE"
    if (c << 1) < k:
        return "HYBRID"
    if (c << 3) < 27 * k:
        return "PINNED"
    return "SLIDING"


def determine_correct_offset(lg_k: int, c: int) -> int:
    tmp = (c << 3) - 19 * (1 << lg_k)  # 8C - 19K
    if tmp < 0:
        return 0
    return tmp >> (lg_k + 3)


def _pseudo_phase(lg_k: int, c: int) -> int:
    k = 1 << lg_k
    if 1000 * c < 2375 * k:
        if 4 * c < 3 * k:
            return 16 + 0
        if 10 * c < 11 * k:
            return 16 + 1
        if 100 * c < 132 * k:
            return 16 + 2
        if 3 * c < 5 * k:
            return 16 + 3
        if 1000 * c < 1965 * k:
            return 16 + 4
        if 1000 * c < 2275 * k:
            return 16 + 5
        return 6  # steady-state table employed before its actual phase
    return (c >> (lg_k - 4)) & 15


def _golomb_base_bits(k: int, count: int) -> int:
    # golombChooseNumberOfBaseBits (CpcCompression.java:815-821)
    quotient = (k - count) // count
    if quotient == 0:
        return 0
    return quotient.bit_length() - 1  # floorLog2


# ---------------------------------------------------------------------------
# low-level bit streams (CpcCompression.java:151-413): codes packed
# LSB-first into little-endian 32-bit words. Every partial of a CPC
# aggregate is one image, so both directions run in NumPy.

_BLOCK = 1 << 18  # bit positions decoded at once: bounded memory at any lg_k


def _pack(values: np.ndarray, lengths: np.ndarray, padding: int) -> np.ndarray:
    """Codes (value, bit length) at their running offsets, then
    `padding` zero bits so a 12-bit peek can't overrun."""
    lengths = lengths.astype(np.int64)
    starts = np.cumsum(lengths) - lengths
    n_words = -(-(int(lengths.sum()) + padding) // 32)
    v = values.astype(np.uint64) << (starts & 31).astype(np.uint64)
    # a code (<= 26 bits) straddles at most two words; codes' bits never
    # overlap, so summing (exact in float64 below 2^53) is OR-ing
    idx = starts >> 5
    words = np.bincount(idx, (v & np.uint64(0xFFFFFFFF)).astype(np.float64),
                        n_words + 1)
    words += np.bincount(idx + 1, (v >> np.uint64(32)).astype(np.float64), n_words + 1)
    return words[:n_words].astype(np.uint32)


def _bits_at(words: np.ndarray, pos: np.ndarray, nbits: int) -> np.ndarray:
    """The nbits (<= 32) stream bits starting at each bit position."""
    w = np.concatenate([words.astype(np.uint64), np.zeros(2, np.uint64)])
    both = w[pos >> 5] | (w[(pos >> 5) + 1] << np.uint64(32))
    return ((both >> (pos & 31).astype(np.uint64))
            & np.uint64((1 << nbits) - 1)).astype(np.int64)


def _decode(words: np.ndarray, n: int, fields) -> list[np.ndarray]:
    """The first n codes of a stream. `fields(p)` decodes a code at each
    candidate start p into (end, *values); code 0 starts at bit 0 and
    each next one where the last ended. Per block of bit positions the
    starts are found by pointer doubling over end (the starts of codes
    m..2m-1 are end^m of those of codes 0..m-1); the first code that
    ends past the block opens the next one."""
    if n == 0:
        return fields(np.empty(0, np.int64))[1:]
    total, start, parts = 32 * len(words), 0, []
    while n > 0:
        if start >= total:
            raise ValueError("truncated CPC bit stream")
        p = np.arange(start, min(start + _BLOCK, total))
        end, *vals = fields(p)
        m = len(p)  # the sink: a start past this block
        jump = np.append(np.minimum(end - start, m), m)
        s = np.zeros(1, np.int64)
        while len(s) < n and s[-1] < m:
            s = np.concatenate([s, jump[s]])
            jump = jump[jump]
        s = s[:n][s[:n] < m]
        parts.append([v[s] for v in vals])
        start, n = int(end[s[-1]]), n - len(s)
    return [np.concatenate(c) for c in zip(*parts)]


def _compress_bytes(byte_array: np.ndarray, table_idx: int) -> np.ndarray:
    info = ENCODING_TABLES[table_idx].astype(np.int64)[byte_array]
    return _pack(info & 0xFFF, info >> 12, 11)


def _uncompress_bytes(words: np.ndarray, num_bytes: int, table_idx: int) -> np.ndarray:
    def fields(p):
        e = DECODING_TABLES[table_idx][_bits_at(words, p, 12)].astype(np.int64)
        return p + (e >> 8), e & 0xFF

    return _decode(words, num_bytes, fields)[0].astype(np.uint8)


def _compress_pairs(pairs: np.ndarray, base_bits: int) -> np.ndarray:
    """Per sorted rowCol pair: the column delta (length-limited unary
    table), the row delta's Golomb hi in true unary (hi zeros, then a
    one) and its base_bits low bits; a new row restarts the column."""
    row, col = pairs >> 6, pairs & 63
    y = np.diff(row, prepend=0)
    x = col - np.where(y > 0, 0, np.concatenate([[0], col[:-1] + 1]))
    info = UNARY_ENCODING_TABLE_65.astype(np.int64)[x]
    hi, one = y >> base_bits, np.ones_like(y)
    values = np.stack([info & 0xFFF, 0 * y, one, y & ((1 << base_bits) - 1)], 1)
    lengths = np.stack([info >> 12, hi, one, base_bits * one], 1)
    return _pack(values.ravel(), lengths.ravel(), max(0, 10 - base_bits))


def _uncompress_pairs(words: np.ndarray, num_pairs: int, base_bits: int) -> np.ndarray:
    bits = np.unpackbits(words.astype("<u4").view(np.uint8), bitorder="little")
    ones = np.append(np.flatnonzero(bits), len(bits))

    def fields(p):
        e = UNARY_DECODING_TABLE_65[_bits_at(words, p, 12)].astype(np.int64)
        q = p + (e >> 8)  # the Golomb hi's unary code
        z = ones[np.minimum(np.searchsorted(ones, q), len(ones) - 1)]  # its one
        y = ((z - q) << base_bits) | _bits_at(words, z + 1, base_bits)
        return z + 1 + base_bits, e & 0xFF, y

    x, y = _decode(words, num_pairs, fields)
    row = np.cumsum(y)
    # the column restarts at each new row, else follows the last one + 1
    seg = np.maximum.accumulate(np.where(y > 0, np.arange(len(y)), 0))
    c1 = np.cumsum(x + 1)
    col = c1 - np.concatenate([[0], c1])[seg] - 1
    return (row << 6) | col


# ---------------------------------------------------------------------------
# sketch <-> (window bytes, surprising pairs)

def _set_bits_as_pairs(pattern: np.ndarray) -> np.ndarray:
    """All set bits of a uint64 row array as sorted rowCol pairs: the
    non-zero rows' bits unpacked 2^16 rows at a time, so memory stays
    O(k) whatever lg_k."""
    rows = np.flatnonzero(pattern)
    chunks = [np.empty(0, np.int64)]
    for lo in range(0, len(rows), 1 << 16):
        r = rows[lo:lo + (1 << 16)]
        bits = np.unpackbits(pattern[r].astype("<u8").view(np.uint8),
                             bitorder="little").reshape(-1, 64)
        i, col = np.nonzero(bits)  # row-major: rowCol order
        chunks.append((r[i] << 6) | col)
    return np.concatenate(chunks)


def _decompose(sk: CpcSketch) -> tuple[np.ndarray | None, np.ndarray]:
    """Split the full bit matrix into (window bytes, sorted surprise
    rowCols) for the sketch's flavor — the inverse of
    CpcUtil.bitMatrixOfSketch."""
    c = sk.num_coupons
    offset = determine_correct_offset(sk.lg_k, c)
    flavor = determine_flavor(sk.lg_k, c)
    m = sk.matrix
    if flavor in ("EMPTY", "SPARSE", "HYBRID"):
        # offset == 0; every set bit is a pair (compressSparseFlavor /
        # compressHybridFlavor merge window bits back into the array)
        return None, _set_bits_as_pairs(m)
    window = ((m >> np.uint64(offset)) & np.uint64(0xFF)).astype(np.uint8)
    # surprises: clear the window byte, flip the early zone
    # (modifyOffset, CpcSketch.java:561-571)
    clear_mask = np.uint64(((0xFF << offset) ^ 0xFFFFFFFFFFFFFFFF) & 0xFFFFFFFFFFFFFFFF)
    flip_mask = np.uint64((1 << offset) - 1)
    pattern = (m & clear_mask) ^ flip_mask
    return window, _set_bits_as_pairs(pattern)


def _fi_col(pairs: np.ndarray, offset: int) -> int:
    """fiCol = numberOfTrailingZeros of the OR of all surprise
    patterns, CLAMPED to the window offset (CpcSketch.java:572-584 —
    the clamp is the reference's own 'corner case', and since fiCol is
    only ever refreshed when the window moves, it can never exceed the
    offset; before the first move it is 0, which the clamp reproduces
    because offset is 0 in the sparse/hybrid/pinned flavors)."""
    if len(pairs) == 0:
        # Java: numberOfTrailingZeros(0L) == 64, clamped to offset
        return offset
    ored = 0
    for col in np.unique(pairs & 63):
        ored |= 1 << int(col)
    return min((ored & -ored).bit_length() - 1, offset)


def to_ref_bytes(sk: CpcSketch) -> bytes:
    """Serialize to the reference's compressed format
    (CpcSketch.toByteArray -> CompressedState.exportToSegment)."""
    lg_k = sk.lg_k
    k = 1 << lg_k
    c = sk.num_coupons
    seed_hash = compute_seed_hash(sk.seed)
    hip = not sk.merge_flag
    flavor = determine_flavor(lg_k, c)

    if flavor == "EMPTY":
        fmt = 1 if hip else 0
        flags = _COMPRESSED_FLAG | (fmt << 2)
        return struct.pack("<BBBBBBH", _PRE_INTS[fmt], SER_VER, FAMILY_CPC,
                           lg_k, 0, flags, seed_hash)

    window, pairs = _decompose(sk)

    if flavor in ("SPARSE", "HYBRID"):
        fmt = 3 if hip else 2
        base_bits = _golomb_base_bits(k + len(pairs), len(pairs))
        sv_words = _compress_pairs(pairs, base_bits)
        head = struct.pack("<BBBBBBH", _PRE_INTS[fmt], SER_VER, FAMILY_CPC,
                           lg_k, 0, _COMPRESSED_FLAG | (fmt << 2), seed_hash)
        head += struct.pack("<II", c, len(sv_words))
        if hip:
            head += struct.pack("<dd", sk.kxp, sk.hip)
        return head + sv_words.astype("<u4").tobytes()

    # PINNED / SLIDING: window stream always present
    offset = determine_correct_offset(lg_k, c)
    pseudo = _pseudo_phase(lg_k, c)
    cw_words = _compress_bytes(window, pseudo)
    fi_col = _fi_col(pairs, offset)

    enc_pairs = pairs
    if len(pairs) > 0:
        if flavor == "PINNED":
            # column indices are all >= 8; shift down by 8
            # (compressPinnedFlavor, CpcCompression.java:645-655)
            enc_pairs = np.sort(pairs - 8)
        else:
            # SLIDING: rotate columns into canonical form, then permute
            # (compressSlidingFlavor, CpcCompression.java:700-722)
            perm = COLUMN_PERMUTATIONS_ENC[pseudo & 15].astype(np.int64)
            row = pairs >> 6
            col = ((pairs & 63) + 56 - offset) & 63
            enc_pairs = np.sort((row << 6) | perm[col])

    if len(enc_pairs) == 0:
        fmt = 5 if hip else 4
        head = struct.pack("<BBBBBBH", _PRE_INTS[fmt], SER_VER, FAMILY_CPC,
                           lg_k, fi_col, _COMPRESSED_FLAG | (fmt << 2), seed_hash)
        head += struct.pack("<II", c, len(cw_words))
        if hip:
            head += struct.pack("<dd", sk.kxp, sk.hip)
        return head + cw_words.astype("<u4").tobytes()

    base_bits = _golomb_base_bits(k + len(enc_pairs), len(enc_pairs))
    sv_words = _compress_pairs(enc_pairs, base_bits)
    fmt = 7 if hip else 6
    head = struct.pack("<BBBBBBH", _PRE_INTS[fmt], SER_VER, FAMILY_CPC,
                       lg_k, fi_col, _COMPRESSED_FLAG | (fmt << 2), seed_hash)
    if fmt == 6:
        head += struct.pack("<IIII", c, len(enc_pairs), len(sv_words), len(cw_words))
    else:
        head += struct.pack("<II", c, len(enc_pairs))
        head += struct.pack("<dd", sk.kxp, sk.hip)
        head += struct.pack("<II", len(sv_words), len(cw_words))
    # window stream first, then SV stream (PreambleUtil.java:364-381)
    return head + cw_words.astype("<u4").tobytes() + sv_words.astype("<u4").tobytes()


def from_ref_bytes(buf: bytes, seed: int = DEFAULT_UPDATE_SEED,
                   check_seed: bool = True) -> CpcSketch:
    """Heapify a reference compressed CPC image
    (CpcSketch.heapify -> CompressedState.importFromSegment ->
    CpcCompression.uncompress)."""
    if len(buf) < 8:
        raise ValueError("CPC image too short")
    pre_ints, ser_ver, family, lg_k, fi_col, flags, seed_hash = struct.unpack_from(
        "<BBBBBBH", buf, 0
    )
    if ser_ver != SER_VER:
        raise ValueError(f"unsupported CPC serial version {ser_ver}")
    if family != FAMILY_CPC:
        raise ValueError(f"not a CPC image (family {family})")
    if not flags & _COMPRESSED_FLAG:
        raise ValueError("CPC image without compressed flag")
    if check_seed and seed_hash != compute_seed_hash(seed):
        raise ValueError("seed hash mismatch")
    fmt = (flags >> 2) & 7
    if pre_ints != _PRE_INTS[fmt]:
        raise ValueError(f"preInts {pre_ints} != defined {_PRE_INTS[fmt]} for format {fmt}")
    hip = bool(fmt & 1)

    sk = CpcSketch(lg_k=lg_k, seed=seed)
    if fmt <= 1:  # EMPTY
        sk.merge_flag = not hip
        return sk

    hi = _HI[fmt]
    c = struct.unpack_from("<I", buf, hi["nc"])[0]
    kxp = hip_accum = None
    if "kxp" in hi:
        kxp = struct.unpack_from("<d", buf, hi["kxp"])[0]
        hip_accum = struct.unpack_from("<d", buf, hi["hip"])[0]

    def stream(offset_bytes: int, length_ints: int) -> np.ndarray:
        return np.frombuffer(
            buf, dtype="<u4", count=length_ints, offset=offset_bytes
        )

    k = 1 << lg_k
    flavor = determine_flavor(lg_k, c)
    offset = determine_correct_offset(lg_k, c)
    matrix = np.zeros(k, dtype=np.uint64)

    if fmt in (2, 3):  # SPARSE_HYBRID: all coupons in the SV stream
        sv_len = struct.unpack_from("<I", buf, hi["svlen"])[0]
        base_bits = _golomb_base_bits(k + c, c)
        pairs = _uncompress_pairs(stream(pre_ints * 4, sv_len), c, base_bits)
        # hybrid == sparse here: every pair is a true matrix bit
        # (uncompressHybridFlavor routes col<8 into a window at offset
        # 0 — identical bits in the full matrix)
        np.bitwise_or.at(
            matrix, pairs >> 6, np.uint64(1) << (pairs & 63).astype(np.uint64)
        )
    else:
        w_len = struct.unpack_from("<I", buf, hi["wlen"])[0]
        pseudo = _pseudo_phase(lg_k, c)
        window = _uncompress_bytes(stream(pre_ints * 4, w_len), k, pseudo)
        # default early zone of ones + window at offset
        # (bitMatrixOfSketch, CpcUtil.java:87-96)
        matrix[:] = np.uint64((1 << offset) - 1)
        matrix |= window.astype(np.uint64) << np.uint64(offset)
        if fmt in (6, 7):
            n_sv = struct.unpack_from("<I", buf, hi["nsv"])[0]
            sv_len = struct.unpack_from("<I", buf, hi["svlen"])[0]
            base_bits = _golomb_base_bits(k + n_sv, n_sv)
            raw = _uncompress_pairs(
                stream(pre_ints * 4 + w_len * 4, sv_len), n_sv, base_bits
            )
            if flavor == "PINNED":
                pairs = raw + 8  # undo the compressor's 8-column shift
            else:  # SLIDING
                perm = COLUMN_PERMUTATIONS_DEC[pseudo & 15].astype(np.int64)
                row = raw >> 6
                col = (perm[raw & 63] + offset + 8) & 63
                pairs = (row << 6) | col
            # XOR-flip: early-zone entries are surprising ZEROS
            np.bitwise_xor.at(
                matrix, pairs >> 6, np.uint64(1) << (pairs & 63).astype(np.uint64)
            )

    n_bits = int(np.unpackbits(matrix.view(np.uint8)).sum())
    if n_bits != c:
        raise ValueError(f"decoded matrix popcount {n_bits} != numCoupons {c}")

    sk.matrix = matrix
    sk.num_coupons = c
    sk.merge_flag = not hip
    if hip:
        sk.kxp = kxp
        sk.hip = hip_accum
    else:
        sk._refresh_kxp()
        sk.hip = 0.0
    return sk
