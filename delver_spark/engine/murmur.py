"""MurmurHash3 x64_128 — pure-Python scalar + numpy-vectorized batch form.

Semantics match the canonical MurmurHash3_x64_128 (Austin Appleby) as used
by the reference's bloom filter (twmb/murmur3 via
/root/reference/resource/bloom/bloom.go:212-226).  ``hash128(data)`` returns
``(h1, h2)`` as unsigned 64-bit ints; the reference names them
``(upper, lower) = hasher.Sum128()``, i.e. upper == h1, lower == h2.

The vectorized form processes a whole batch of byte strings with numpy
uint64 arithmetic only (no per-row Python in the hot path) so it can run
inside Arrow-batched pandas UDFs.
"""

from __future__ import annotations

import numpy as np

_M = (1 << 64) - 1
_C1 = 0x87C37B91114253D5
_C2 = 0x4CF5AD432745937F


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _fmix(k: int) -> int:
    k ^= k >> 33
    k = (k * 0xFF51AFD7ED558CCD) & _M
    k ^= k >> 33
    k = (k * 0xC4CEB9FE1A85EC53) & _M
    k ^= k >> 33
    return k


def hash128(data: bytes, seed: int = 0) -> tuple[int, int]:
    """Scalar MurmurHash3_x64_128. Returns (h1, h2) unsigned."""
    if isinstance(data, str):
        data = data.encode("utf-8")
    length = len(data)
    h1 = h2 = seed & _M
    nblocks = length // 16

    for i in range(nblocks):
        k1 = int.from_bytes(data[i * 16 : i * 16 + 8], "little")
        k2 = int.from_bytes(data[i * 16 + 8 : i * 16 + 16], "little")
        k1 = (k1 * _C1) & _M
        k1 = _rotl(k1, 31)
        k1 = (k1 * _C2) & _M
        h1 ^= k1
        h1 = _rotl(h1, 27)
        h1 = (h1 + h2) & _M
        h1 = (h1 * 5 + 0x52DCE729) & _M
        k2 = (k2 * _C2) & _M
        k2 = _rotl(k2, 33)
        k2 = (k2 * _C1) & _M
        h2 ^= k2
        h2 = _rotl(h2, 31)
        h2 = (h2 + h1) & _M
        h2 = (h2 * 5 + 0x38495AB5) & _M

    tail = data[nblocks * 16 :]
    k1 = k2 = 0
    tl = len(tail)
    # zero-padded little-endian words reproduce the canonical tail switch
    if tl > 8:
        k2 = int.from_bytes(tail[8:].ljust(8, b"\0"), "little")
        k2 = (k2 * _C2) & _M
        k2 = _rotl(k2, 33)
        k2 = (k2 * _C1) & _M
        h2 ^= k2
    if tl > 0:
        k1 = int.from_bytes(tail[:8].ljust(8, b"\0"), "little")
        k1 = (k1 * _C1) & _M
        k1 = _rotl(k1, 31)
        k1 = (k1 * _C2) & _M
        h1 ^= k1

    h1 ^= length
    h2 ^= length
    h1 = (h1 + h2) & _M
    h2 = (h2 + h1) & _M
    h1 = _fmix(h1)
    h2 = _fmix(h2)
    h1 = (h1 + h2) & _M
    h2 = (h2 + h1) & _M
    return h1, h2


# ---------------------------------------------------------------------------
# numpy-vectorized batch form
# ---------------------------------------------------------------------------

_U = np.uint64
_C1A = _U(_C1)
_C2A = _U(_C2)


def _rotl_v(x: np.ndarray, r: int) -> np.ndarray:
    return (x << _U(r)) | (x >> _U(64 - r))


def _fmix_v(k: np.ndarray) -> np.ndarray:
    k = k ^ (k >> _U(33))
    k = k * _U(0xFF51AFD7ED558CCD)
    k = k ^ (k >> _U(33))
    k = k * _U(0xC4CEB9FE1A85EC53)
    k = k ^ (k >> _U(33))
    return k


def hash128_batch(items: list[bytes] | np.ndarray, seed: int = 0):
    """Vectorized MurmurHash3_x64_128 over a batch of byte strings.

    Returns ``(h1, h2)`` as two uint64 ndarrays of shape ``(n,)``.
    All arithmetic is numpy uint64 with natural wraparound.
    """
    n = len(items)
    if n == 0:
        e = np.zeros(0, dtype=np.uint64)
        return e, e.copy()
    enc = [s.encode("utf-8") if isinstance(s, str) else bytes(s) for s in items]
    lens = np.fromiter((len(s) for s in enc), count=n, dtype=np.int64)
    buf = np.frombuffer(b"".join(enc), dtype=np.uint8)
    return hash128_batch_buf(buf, lens, seed)


def string_buf_views(arr):
    """Zero-copy ``(data, lens)`` views of a pyarrow String ``Array``'s
    backing buffers — the input shape :func:`hash128_batch_buf` takes.
    Handles sliced arrays (non-zero ``arr.offset``). One shared helper so
    the hashing sites (crawl admission, the sharded-probe shard key, and
    frontier's url-hashing tasks behind seen_round_pass and
    bloom_bits_for_urls) can never drift on the offsets/arr.offset
    arithmetic. int32-offset ``string`` arrays only —
    Spark's Arrow exchange produces exactly those."""
    bufs = arr.buffers()
    offsets = np.frombuffer(bufs[1], dtype=np.int32,
                            count=len(arr) + 1 + arr.offset)[arr.offset:]
    data = np.frombuffer(bufs[2], dtype=np.uint8)[offsets[0]:offsets[-1]]
    return data, np.diff(offsets).astype(np.int64)


def hash128_batch_buf(buf: np.ndarray, lens: np.ndarray, seed: int = 0):
    """Core of :func:`hash128_batch` over a CONCATENATED byte buffer plus
    per-item lengths — the zero-copy entry point for Arrow string arrays
    (``buf`` = the data buffer, ``lens`` = ``np.diff(offsets)``), so a
    million urls hash without a single per-string Python object."""
    n = len(lens)
    if n == 0:
        e = np.zeros(0, dtype=np.uint64)
        return e, e.copy()
    maxlen = int(lens.max()) if n else 0
    # pad so every row has a (possibly zero) tail block beyond its full blocks
    padded = (maxlen // 16 + 1) * 16
    mat = np.zeros((n, padded), dtype=np.uint8)
    mask = np.arange(padded)[None, :] < lens[:, None]
    mat[mask] = buf[:int(lens.sum())]
    words = mat.view("<u8")  # shape (n, padded // 8)

    h1 = np.full(n, seed, dtype=np.uint64)
    h2 = np.full(n, seed, dtype=np.uint64)
    nblocks = (lens // 16).astype(np.uint64)
    max_blocks = padded // 16 - 1

    for b in range(max_blocks):
        active = nblocks > _U(b)
        if not active.any():
            break
        k1 = words[:, 2 * b].copy()
        k2 = words[:, 2 * b + 1].copy()
        k1 = _rotl_v(k1 * _C1A, 31) * _C2A
        nh1 = h1 ^ k1
        nh1 = _rotl_v(nh1, 27) + h2
        nh1 = nh1 * _U(5) + _U(0x52DCE729)
        k2 = _rotl_v(k2 * _C2A, 33) * _C1A
        nh2 = h2 ^ k2
        nh2 = _rotl_v(nh2, 31) + nh1
        nh2 = nh2 * _U(5) + _U(0x38495AB5)
        h1 = np.where(active, nh1, h1)
        h2 = np.where(active, nh2, h2)

    # tail: gather the word-pair at each row's own tail block; rows whose
    # tail is empty read zero words, and mixing zero is the identity.
    rows = np.arange(n)
    tb = (nblocks * _U(2)).astype(np.int64)
    tk1 = words[rows, tb]
    tk2 = words[rows, tb + 1]
    taillen = lens % 16
    k2m = _rotl_v(tk2 * _C2A, 33) * _C1A
    h2 = np.where(taillen > 8, h2 ^ k2m, h2)
    k1m = _rotl_v(tk1 * _C1A, 31) * _C2A
    h1 = np.where(taillen > 0, h1 ^ k1m, h1)

    ulens = lens.astype(np.uint64)
    h1 = h1 ^ ulens
    h2 = h2 ^ ulens
    h1 = h1 + h2
    h2 = h2 + h1
    h1 = _fmix_v(h1)
    h2 = _fmix_v(h2)
    h1 = h1 + h2
    h2 = h2 + h1
    return h1, h2
