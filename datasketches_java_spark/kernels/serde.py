"""Item serdes: how a typed sketch's items become bytes and back.

The reference builds every typed sketch from one generic sketch plus an
item serde (common/ArrayOfItemsSerDe.java and its Doubles, Longs and
Strings forms); the KLL, classic-quantiles and frequent-items codecs
here take one of these instead of carrying a copy per item type.

 - `Fixed(wire, items)`: fixed-width little-endian numbers
   (ArrayOfDoublesSerDe / ArrayOfLongsSerDe, and the float32 items of
   KllFloatsSketch). `items` is the dtype the sketch holds; when it
   differs from the wire dtype, every cast is checked and raises rather
   than silently losing precision.
 - `STRINGS`: ArrayOfStringsSerDe (common/ArrayOfStringsSerDe.java:
   62-107) — per item an int32 LE UTF-8 byte length, then the bytes.

`to_bytes(items) -> bytes`; `from_bytes(buf, off, n) -> (items, end)`
decodes n items starting at byte `off` and returns them as an ndarray
(object dtype for strings) with the offset just past them.
"""

from __future__ import annotations

import struct

import numpy as np

_EXACT_INT = float(1 << 53)  # float64 represents every integer up to here


def object_array(items) -> np.ndarray:
    a = np.empty(len(items), dtype=object)
    a[:] = list(items)
    return a


class Fixed:
    def __init__(self, wire: str, items: str | None = None):
        self.wire = np.dtype(wire)
        self.items = np.dtype(items or wire)

    def _cast(self, a: np.ndarray, dtype: np.dtype) -> np.ndarray:
        """a as dtype, raising unless every value survives the cast."""
        if a.dtype == dtype:
            return a
        if "i" in (a.dtype.kind, dtype.kind) and len(a) and not (
                np.abs(a.astype(np.float64)).max() <= _EXACT_INT):
            raise ValueError(
                f"item exceeds 2^53 in magnitude; not exact as {dtype}")
        with np.errstate(invalid="ignore"):
            out = a.astype(dtype)
        if not np.array_equal(out.astype(a.dtype), a):
            raise ValueError(f"item not exactly representable as {dtype}")
        return out

    def to_bytes(self, items) -> bytes:
        return self._cast(np.asarray(items, dtype=self.items), self.wire).tobytes()

    def from_bytes(self, buf: bytes, off: int, n: int) -> tuple[np.ndarray, int]:
        end = off + self.wire.itemsize * n
        if n < 0 or end > len(buf):
            raise ValueError("truncated items section")
        a = np.frombuffer(buf, dtype=self.wire, count=n, offset=off).copy()
        return self._cast(a, self.items), end


class Strings:
    def to_bytes(self, items) -> bytes:
        parts = []
        for s in items:
            b = s.encode("utf-8")
            parts.append(struct.pack("<i", len(b)))
            parts.append(b)
        return b"".join(parts)

    def from_bytes(self, buf: bytes, off: int, n: int) -> tuple[np.ndarray, int]:
        out = []
        for _ in range(n):
            if off + 4 > len(buf):
                raise ValueError("truncated string-items section")
            (ln,) = struct.unpack_from("<i", buf, off)
            off += 4
            if ln < 0 or off + ln > len(buf):
                raise ValueError("corrupt string length in items section")
            out.append(buf[off:off + ln].decode("utf-8"))
            off += ln
        return object_array(out), off


DOUBLES = Fixed("<f8")
LONGS = Fixed("<i8")
STRINGS = Strings()
