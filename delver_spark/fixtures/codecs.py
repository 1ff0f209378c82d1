"""Numpy-only image codecs for the synthetic crawl corpus (FIXTURES.md §A.3).

The container/env has no PIL, so the corpus uses two toy formats whose
decoders are pure numpy — making the BASELINE.json per-row payload
invariant (decoded-pixel allclose / PSNR >= 40 dB lossy) checkable offline:

  - ``ppm``  : binary P6 (public Netpbm format) — lossless.
  - ``qjpg`` : 6-bit/channel quantization in a P6-like container — lossy
               with PSNR ~= 43-46 dB on noise images (>= 40 dB contract).
"""

from __future__ import annotations

import hashlib

import numpy as np


def encode_ppm(pixels: np.ndarray) -> bytes:
    h, w, c = pixels.shape
    assert c == 3 and pixels.dtype == np.uint8
    return b"P6\n%d %d\n255\n" % (w, h) + pixels.tobytes()


def _header(data) -> bytes:
    """First bytes as real bytes (input may be a zero-copy numpy view)."""
    if isinstance(data, np.ndarray):
        return data[:64].tobytes()
    return bytes(data[:64])


def _body(data, start: int, n: int) -> np.ndarray:
    """Pixel payload as uint8 array — zero-copy when input is numpy."""
    if isinstance(data, np.ndarray):
        return data[start:start + n]
    return np.frombuffer(data, dtype=np.uint8, count=n, offset=start)


def decode_ppm(data) -> np.ndarray:
    head = _header(data)
    assert head[:3] == b"P6\n", "not a P6 ppm"
    i1 = head.index(b"\n", 3)
    w, h = (int(x) for x in head[3:i1].split())
    i2 = head.index(b"\n", i1 + 1)  # maxval line
    return _body(data, i2 + 1, w * h * 3).reshape(h, w, 3)


def encode_qjpg(pixels: np.ndarray) -> bytes:
    """Quantize to 6 bits/channel (lossy)."""
    h, w, c = pixels.shape
    assert c == 3 and pixels.dtype == np.uint8
    q = (pixels >> 2).astype(np.uint8)
    return b"Q6\n%d %d\n" % (w, h) + q.tobytes()


def decode_qjpg(data) -> np.ndarray:
    head = _header(data)
    assert head[:3] == b"Q6\n", "not a qjpg"
    i1 = head.index(b"\n", 3)
    w, h = (int(x) for x in head[3:i1].split())
    q = _body(data, i1 + 1, w * h * 3).reshape(h, w, 3)
    # spread 6-bit values back over 0..255
    return ((q << 2) | (q >> 4)).astype(np.uint8)


_DECODERS = {"ppm": decode_ppm, "qjpg": decode_qjpg}
_ENCODERS = {"ppm": encode_ppm, "qjpg": encode_qjpg}


def encode(pixels: np.ndarray, fmt: str) -> bytes:
    return _ENCODERS[fmt](pixels)


def decode(data: bytes, fmt: str) -> np.ndarray:
    return _DECODERS[fmt](data)


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0 * 255.0 / mse)


def phash64(pixels: np.ndarray) -> int:
    """64-bit average-hash of the grayscale image (SIGNED int64 range).

    gray → 8x8 block means → bit = block mean > global mean of the 8x8,
    packed row-major MSB-first.
    """
    gray = pixels.astype(np.float64).mean(axis=2)
    h, w = gray.shape
    if h % 8 == 0 and w % 8 == 0:
        # uniform blocks: one vectorized reshape-mean
        blocks = gray.reshape(8, h // 8, 8, w // 8).mean(axis=(1, 3))
    else:
        # ragged blocks: index-based block averaging (any h,w >= 8)
        ys = (np.arange(9) * h // 8).astype(int)
        xs = (np.arange(9) * w // 8).astype(int)
        blocks = np.empty((8, 8))
        for i in range(8):
            for j in range(8):
                blocks[i, j] = gray[ys[i]:ys[i + 1], xs[j]:xs[j + 1]].mean()
    bits = (blocks > blocks.mean()).astype(np.uint64).reshape(-1)
    val = np.uint64(0)
    for b in bits:
        val = (val << np.uint64(1)) | b
    iv = int(val)
    return iv - (1 << 64) if iv >= (1 << 63) else iv


def pixel_md5(pixels: np.ndarray) -> str:
    return hashlib.md5(pixels.tobytes()).hexdigest()
