#!/usr/bin/env python
"""One-time extractor: reads the published CPC Huffman/permutation
constants out of the reference's CompressionData.java (Apache-2.0;
tables generated by the library authors' generateHuffmanCodes.ml) and
emits datasketches_java_spark/kernels/_cpc_tables.py with the three
constant blocks base85-packed:

  - encodingTablesForHighEntropyByte: 22 tables x 256 uint16
  - lengthLimitedUnaryEncodingTable65: 65 uint16
  - columnPermutationsForEncoding: 16 x 56 uint8

Only ENCODING tables are stored (as in the reference); decoding tables
are derived at import by the documented makeDecodingTable inversion.
Run: python tools/extract_cpc_tables.py
"""
from __future__ import annotations

import base64
import re

import numpy as np

SRC = "/root/reference/src/main/java/org/apache/datasketches/cpc/CompressionData.java"
OUT = "datasketches_java_spark/kernels/_cpc_tables.py"


def main() -> None:
    text = open(SRC).read()
    shorts = [int(m, 16) for m in re.findall(r"\(short\)\s*0[xX]([0-9a-fA-F]+)", text)]
    # Layout in file order: 22*256 encoding shorts, then the 65-entry
    # length-limited unary table.
    assert len(shorts) == 22 * 256 + 65, len(shorts)
    enc = np.array(shorts[: 22 * 256], dtype="<u2").reshape(22, 256)
    unary = np.array(shorts[22 * 256:], dtype="<u2")

    # columnPermutationsForEncoding: 16 brace-blocks of 56 small ints
    perm_src = text[text.index("columnPermutationsForEncoding"):]
    blocks = re.findall(r"\{([^{}]+)\}", perm_src)
    perms = []
    for b in blocks:
        vals = [int(v) for v in re.findall(r"\d+", b)]
        if len(vals) == 56:
            perms.append(vals)
    assert len(perms) == 16, len(perms)
    perm = np.array(perms, dtype=np.uint8)

    def pack(a: np.ndarray) -> str:
        return base64.b85encode(a.tobytes()).decode()

    body = f'''"""CPC compressed-wire-format constant tables (READ-ONLY DATA).

The 22 length-limited Huffman encoding tables (one per coupon-density
pseudo-phase), the 65-entry length-limited unary table, and the 16
sliding-phase column permutations, byte-for-byte the published
Apache-2.0 constants of the reference's cpc/CompressionData.java
(authors' generator: generateHuffmanCodes.ml; see that file's header).
Packed as base85 to keep the repo readable; extracted mechanically by
tools/extract_cpc_tables.py. Decoding tables are DERIVED here at
import time by the same makeDecodingTable inversion the reference runs
at library startup (CompressionData.java:64-86), and validated by its
validateDecodingTable invariant in tests/test_cpc_compat.py.
"""

import base64

import numpy as np

_ENC = "{pack(enc)}"
_UNARY = "{pack(unary)}"
_PERM = "{pack(perm)}"


def _unpack(s: str, dtype, shape):
    return np.frombuffer(base64.b85decode(s), dtype=dtype).reshape(shape).copy()


ENCODING_TABLES = _unpack(_ENC, "<u2", (22, 256))          # uint16 (len<<12 | code)
UNARY_ENCODING_TABLE_65 = _unpack(_UNARY, "<u2", (65,))    # uint16
COLUMN_PERMUTATIONS_ENC = _unpack(_PERM, np.uint8, (16, 56))


def make_decoding_table(encoding_table: np.ndarray, num_byte_values: int) -> np.ndarray:
    """CompressionData.makeDecodingTable(:64-86): 4096-entry 12-bit-peek
    inverse; entry = (codeLength << 8) | byteValue. A peek decodes to
    the byte whose code is its low codeLength bits (the codes are
    prefix-free), found one code length at a time."""
    enc = encoding_table[:num_byte_values].astype(np.int64)
    length = enc >> 12
    peek = np.arange(4096)
    dec = np.zeros(4096, dtype=np.uint16)
    for cl in np.unique(length):
        b = np.flatnonzero(length == cl)
        lut = np.full(1 << cl, -1)
        lut[enc[b] & 0xFFF] = (cl << 8) | b
        hit = lut[peek & ((1 << cl) - 1)]
        dec[hit >= 0] = hit[hit >= 0]
    return dec


DECODING_TABLES = np.stack(
    [make_decoding_table(ENCODING_TABLES[i], 256) for i in range(22)]
)
UNARY_DECODING_TABLE_65 = make_decoding_table(UNARY_ENCODING_TABLE_65, 65)

# makeInversePermutation (CompressionData.java:42-53)
COLUMN_PERMUTATIONS_DEC = np.zeros_like(COLUMN_PERMUTATIONS_ENC)
for _i in range(16):
    COLUMN_PERMUTATIONS_DEC[_i][COLUMN_PERMUTATIONS_ENC[_i]] = np.arange(56, dtype=np.uint8)
'''
    open(OUT, "w").write(body)
    print(f"wrote {OUT}: enc{enc.shape} unary{unary.shape} perm{perm.shape}")


if __name__ == "__main__":
    main()
