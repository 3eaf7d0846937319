"""Deterministic toy image codec + DCT perceptual hash.

The container has no image libraries (BASELINE.md execution notes), so
the `bytes` column holds a self-describing in-repo format ("TIMG"):
a 12-byte header + zlib-compressed RGB payload. The *lossy* variant
quantizes channels with step <= 5, which bounds quantization noise to
uniform(±step/2) and guarantees the PSNR >= 40 dB per-row invariant
(BASELINE.json:16) by construction while still exercising a real
encode → decode → allclose check. A production deployment swaps
`encode`/`decode` for PIL/turbojpeg behind the same signatures — the
Spark-side plumbing (binary column, mapInPandas batch shape) is
identical.

pHash: classic DCT-based perceptual hash (Zauner 2010, "Implementation
and Benchmarking of Perceptual Image Hash Functions"): 32x32 grayscale
→ 2D DCT-II → top-left 8x8 low-frequency block → bits = coeff > median.
"""

from __future__ import annotations

import zlib

import numpy as np

MAGIC = b"TIMG"
FMT_PNG = 0   # lossless
FMT_JPEG = 1  # lossy (quantized)

_FMT_NAME = {FMT_PNG: "png", FMT_JPEG: "jpeg"}
_FMT_CODE = {"png": FMT_PNG, "jpeg": FMT_JPEG}


def quality_to_step(quality: int) -> int:
    """JPEG-ish quality (60..95) → quant step 1..5 (PSNR >= 44 dB at 5)."""
    return max(1, min(5, 1 + (100 - int(quality)) // 10))


def encode(img: np.ndarray, fmt: str = "png", quality: int = 90) -> bytes:
    """img: uint8 (h, w, 3) → TIMG bytes."""
    h, w, c = img.shape
    assert c == 3 and img.dtype == np.uint8
    code = _FMT_CODE[fmt]
    step = quality_to_step(quality) if code == FMT_JPEG else 1
    payload = img
    if step > 1:
        payload = ((img.astype(np.int32) // step) * step + step // 2).clip(0, 255).astype(np.uint8)
    header = MAGIC + bytes([1, code, step, 0]) + np.array([w, h], dtype="<u2").tobytes()
    return header + zlib.compress(payload.tobytes(), 6)


def decode(buf: bytes) -> tuple[np.ndarray, dict]:
    """TIMG bytes → (uint8 (h, w, 3) pixels, meta). Raises on foreign formats.

    Real JPEG/PNG/WebP decode would live here; without image libs in the
    container it is stubbed per the driver instructions — the TIMG path
    is fully real and tested.
    """
    if buf[:4] != MAGIC:
        raise NotImplementedError(
            "non-TIMG image format: real decoders (PIL/libjpeg) are not "
            "available in this container; plug them in here"
        )
    version, code, step, _ = buf[4:8]
    w, h = np.frombuffer(buf[8:12], dtype="<u2")
    raw = zlib.decompress(buf[12:])
    img = np.frombuffer(raw, dtype=np.uint8).reshape(int(h), int(w), 3)
    return img, {"fmt": _FMT_NAME[code], "step": int(step), "w": int(w), "h": int(h),
                 "version": int(version)}


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB (inf for identical images)."""
    diff = a.astype(np.float64) - b.astype(np.float64)
    mse = float(np.mean(diff * diff))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(255.0 * 255.0 / mse)


_DCT32 = None


def _dct_matrix(n: int = 32) -> np.ndarray:
    global _DCT32
    if _DCT32 is None:
        k = np.arange(n)[:, None]
        i = np.arange(n)[None, :]
        m = np.sqrt(2.0 / n) * np.cos(np.pi * (2 * i + 1) * k / (2.0 * n))
        m[0, :] = 1.0 / np.sqrt(n)
        _DCT32 = m
    return _DCT32


def _resize32(gray: np.ndarray) -> np.ndarray:
    h, w = gray.shape
    yi = (np.arange(32) * h // 32).clip(0, h - 1)
    xi = (np.arange(32) * w // 32).clip(0, w - 1)
    return gray[np.ix_(yi, xi)]


def phash64(img: np.ndarray) -> np.int64:
    """64-bit DCT perceptual hash of uint8 (h, w, 3) pixels."""
    gray = img.astype(np.float64).mean(axis=2)
    g = _resize32(gray)
    d = _dct_matrix(32)
    coeffs = d @ g @ d.T
    block = coeffs[:8, :8].copy()
    vals = block.reshape(-1)
    med = np.median(vals[1:])  # exclude DC from the median
    bits = (vals > med).astype(np.uint8)
    bits[0] = 1 if vals[0] > vals[1:].mean() else 0
    packed = np.packbits(bits)
    return np.int64(packed.view(">u8")[0].astype(np.uint64).astype(np.int64))


def phash64_batch_pixels(stack: np.ndarray) -> np.ndarray:
    """Batched phash64 over a SAME-DIMENSION image stack (g, h, w, 3):
    one broadcasted resize + one batched (d @ G) @ d.T BLAS pass for
    the whole group instead of per-image 2D matmuls. Uses the same
    association order as phash64, so results are bit-identical
    (asserted in tests/test_corpus.py)."""
    g, h, w, _ = stack.shape
    gray = stack.astype(np.float64).mean(axis=3)
    yi = (np.arange(32) * h // 32).clip(0, h - 1)
    xi = (np.arange(32) * w // 32).clip(0, w - 1)
    gs = gray[:, yi[:, None], xi[None, :]]
    d = _dct_matrix(32)
    coeffs = np.matmul(np.matmul(d, gs), d.T)
    block = coeffs[:, :8, :8].reshape(g, 64)
    med = np.median(block[:, 1:], axis=1)
    bits = (block > med[:, None]).astype(np.uint8)
    bits[:, 0] = (block[:, 0] > block[:, 1:].mean(axis=1)).astype(np.uint8)
    packed = np.packbits(bits, axis=1)
    return packed.view(">u8")[:, 0].astype(np.uint64).astype(np.int64)


# ---------------------------------------------------------------------------
# TVID: seekable toy video container (frame-sample plumbing)
# ---------------------------------------------------------------------------
# Layout: b"TVID" | u8 version | u8 pad | <u2 fps | <u4 n_frames |
#         <u4 index[n_frames] (byte length of each encoded TIMG frame) |
#         concatenated TIMG frame payloads.
# The up-front length index is the whole point: `decode_video_frame`
# seeks straight to frame i and decodes ONLY it, so sampling k frames
# from an n-frame video costs O(k) decode + O(1) header read, never
# O(n) — the same contract a real container (MP4 stbl/stsz) gives a
# production frame sampler. Foreign containers raise
# NotImplementedError exactly like foreign image formats (driver
# instruction: stub the codec, make the Spark plumbing real).

VMAGIC = b"TVID"


def encode_video(frames: list[np.ndarray], fps: int = 24,
                 fmt: str = "png", quality: int = 90) -> bytes:
    """frames: list of uint8 (h, w, 3) arrays → TVID bytes."""
    payloads = [encode(f, fmt=fmt, quality=quality) for f in frames]
    head = (VMAGIC + bytes([1, 0]) + np.array([fps], "<u2").tobytes()
            + np.array([len(payloads)], "<u4").tobytes()
            + np.array([len(p) for p in payloads], "<u4").tobytes())
    return head + b"".join(payloads)


def video_meta(buf: bytes) -> dict:
    """Header-only parse: (n_frames, fps, per-frame offsets). O(index),
    no frame decode."""
    if buf[:4] != VMAGIC:
        raise NotImplementedError(
            "non-TVID video container: real demuxers (ffmpeg/pyav) are "
            "not available in this container; plug them in here"
        )
    fps = int(np.frombuffer(buf[6:8], "<u2")[0])
    n = int(np.frombuffer(buf[8:12], "<u4")[0])
    lens = np.frombuffer(buf[12:12 + 4 * n], "<u4").astype(np.int64)
    offsets = 12 + 4 * n + np.concatenate([[0], np.cumsum(lens)[:-1]])
    return {"n_frames": n, "fps": fps, "offsets": offsets, "lengths": lens,
            "version": int(buf[4])}


def decode_video_frame(buf: bytes, idx: int,
                       meta: dict | None = None) -> tuple[np.ndarray, dict]:
    """Seek-decode frame `idx` only (see layout note above)."""
    m = meta if meta is not None else video_meta(buf)
    if not 0 <= idx < m["n_frames"]:
        raise IndexError(f"frame {idx} of {m['n_frames']}")
    o, ln = int(m["offsets"][idx]), int(m["lengths"][idx])
    return decode(buf[o:o + ln])


# ---------------------------------------------------------------------------
# TAUD: toy PCM audio container
# ---------------------------------------------------------------------------
# Layout: b"TAUD" | u8 version | u8 pad | <u2 unused | <u4 sample_rate |
#         <u4 n_samples | int16 PCM mono samples.

AMAGIC = b"TAUD"


def encode_audio(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    """samples: int16 mono PCM → TAUD bytes."""
    s = np.asarray(samples, dtype="<i2")
    return (AMAGIC + bytes([1, 0]) + np.array([0], "<u2").tobytes()
            + np.array([sample_rate, s.size], "<u4").tobytes()
            + s.tobytes())


def decode_audio(buf: bytes) -> tuple[np.ndarray, dict]:
    """TAUD bytes → (int16 samples, meta). Raises on foreign formats."""
    if buf[:4] != AMAGIC:
        raise NotImplementedError(
            "non-TAUD audio format: real decoders (libsndfile/ffmpeg) "
            "are not available in this container; plug them in here"
        )
    rate = int(np.frombuffer(buf[8:12], "<u4")[0])
    n = int(np.frombuffer(buf[12:16], "<u4")[0])
    samples = np.frombuffer(buf[16:16 + 2 * n], "<i2")
    return samples, {"sample_rate": rate, "n_samples": n,
                     "version": int(buf[4])}
