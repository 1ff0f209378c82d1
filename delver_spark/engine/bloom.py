"""Bloom filter with the reference's exact parameters and probe sequence.

Replicates /root/reference/resource/bloom/bloom.go:
  - p == 1 coerced to 0.999                         (bloom.go:114-116)
  - m_float = -maxN*ln(p)/ln(2)^2 ; m = trunc       (bloom.go:118-119,248-250)
  - k_float = m/maxN*ln2 (with truncated m); k=ceil (bloom.go:120-121,252-254)
  - probes_i = (lower + i*upper + i^2) mod 2^64 mod m, i in 0..k-1, where
    (upper, lower) = murmur3_x64_128(data)          (bloom.go:212-226)
  - add: bounds-check then set bits, n += 1         (bloom.go:141-150)
  - add_many: bounds-check ONCE then set all, n += len (may overshoot maxN —
    deliberate reference quirk)                      (bloom.go:152-168)
  - bounds: error when n >= maxN or current
    p̂ = (1-e^{-kF(n+0.5)/(mF-1)})^kF >= p           (bloom.go:228-246)

The bitmap is a numpy uint64 bitset instead of roaring64 — same logical
content (set of set-bit positions); equality is compared on positions.
"""

from __future__ import annotations

import math
from typing import NamedTuple

import numpy as np

from .murmur import hash128, hash128_batch

_U = np.uint64
# set bits per byte value: a bitset's popcount without a python loop
_POPCOUNT8 = np.array([bin(b).count("1") for b in range(256)],
                      dtype=np.int64)


class BloomOverflow(Exception):
    pass


class BloomExceedsErrorRate(Exception):
    pass


class BloomFilter:
    def __init__(self, max_n: int, p: float, words: np.ndarray | None = None, n: int = 0):
        if p == 1:
            p = 0.999
        self.max_n = int(max_n)
        self.p = float(p)
        self.m_float = -(float(max_n) * math.log(p)) / (math.log(2) ** 2)
        self.m = int(self.m_float)  # truncation, as Go uint64(mFloat)
        self.k_float = float(self.m) / float(max_n) * math.log(2)
        self.k = int(math.ceil(self.k_float))
        self.n = int(n)
        nwords = (self.m + 63) // 64
        if words is None:
            self.words = np.zeros(nwords, dtype=np.uint64)
        else:
            assert len(words) == nwords
            self.words = words.astype(np.uint64, copy=True)

    # -- probe positions -----------------------------------------------------
    def _probes(self, data: bytes | str) -> list[int]:
        upper, lower = hash128(data)
        m = self.m
        return [((lower + i * upper + i * i) & 0xFFFFFFFFFFFFFFFF) % m for i in range(self.k)]

    def probes_batch(self, items) -> np.ndarray:
        """(n, k) uint64 probe positions for a batch — vectorized."""
        upper, lower = hash128_batch(items)
        return self._probes_from_hash(upper, lower)

    def _probes_from_hash(self, upper: np.ndarray, lower: np.ndarray) -> np.ndarray:
        i = np.arange(self.k, dtype=np.uint64)[None, :]
        pos = lower[:, None] + i * upper[:, None] + i * i
        return pos % _U(self.m)

    # -- mutation -------------------------------------------------------------
    def _check_bounds(self):
        if self.n >= self.max_n:
            raise BloomOverflow("bloom filter size overflow")
        if self.current_p() >= self.p:
            raise BloomExceedsErrorRate("bloom filter exceeds error rate")

    def current_p(self) -> float:
        kf, nn, mf = self.k_float, float(self.n), self.m_float
        return (1 - math.exp(-kf * (nn + 0.5) / (mf - 1))) ** kf

    def _set_positions(self, pos: np.ndarray):
        pos = pos.reshape(-1).astype(np.uint64)
        np.bitwise_or.at(self.words, (pos >> _U(6)).astype(np.int64), _U(1) << (pos & _U(63)))

    def add(self, data: bytes | str):
        self._check_bounds()
        self._set_positions(np.asarray(self._probes(data), dtype=np.uint64))
        self.n += 1

    def add_many(self, items):
        """Reference SetMany: single bounds check, then add all (may overshoot)."""
        self._check_bounds()
        if len(items):
            self._set_positions(self.probes_batch(list(items)))
        self.n += len(items)

    # -- membership -----------------------------------------------------------
    def contains(self, data: bytes | str) -> bool:
        for pos in self._probes(data):
            if not (int(self.words[pos >> 6]) >> (pos & 63)) & 1:
                return False
        return True

    def contains_batch(self, items) -> np.ndarray:
        """Vectorized membership for a batch → bool ndarray."""
        if len(items) == 0:
            return np.zeros(0, dtype=bool)
        return self.contains_batch_hashed(*hash128_batch(list(items)))

    def contains_batch_hashed(self, upper: np.ndarray,
                              lower: np.ndarray) -> np.ndarray:
        """Membership from murmur halves — the probe the crawl admission
        runs, with no url string materialized."""
        return self._has_positions(self._probes_from_hash(upper, lower))

    def _has_positions(self, pos: np.ndarray) -> np.ndarray:
        """Rows of ``pos`` (n, k) whose k bits are all set."""
        bits = (self.words[(pos >> _U(6)).astype(np.int64)] >> (pos & _U(63))) & _U(1)
        return bits.all(axis=1)

    # -- merge / persistence ----------------------------------------------------
    def merge_words(self, words: np.ndarray, added_n: int = 0):
        self.words |= words
        self.n += added_n

    def copy(self) -> "BloomFilter":
        return BloomFilter(self.max_n, self.p, words=self.words, n=self.n)

    def bit_count(self) -> int:
        """Number of set bits (``len(bit_positions())``, vectorized)."""
        return int(_POPCOUNT8[self.words.view(np.uint8)].sum())

    def bit_positions(self) -> np.ndarray:
        """Sorted positions of set bits — the logical bitmap content."""
        idx = np.nonzero(self.words)[0]
        out = []
        for w in idx:
            v = int(self.words[w])
            base = int(w) << 6
            while v:
                b = v & -v
                out.append(base + b.bit_length() - 1)
                v ^= b
        return np.asarray(sorted(out), dtype=np.int64)

    def to_bytes(self) -> bytes:
        header = f"{self.max_n}\n{self.p!r}\n{self.n}\n".encode()
        return header + self.words.tobytes()

    @classmethod
    def from_bytes(cls, blob: bytes) -> "BloomFilter":
        i1 = blob.index(b"\n")
        i2 = blob.index(b"\n", i1 + 1)
        i3 = blob.index(b"\n", i2 + 1)
        max_n = int(blob[:i1])
        p = float(blob[i1 + 1 : i2])
        n = int(blob[i2 + 1 : i3])
        words = np.frombuffer(blob[i3 + 1 :], dtype=np.uint64)
        return cls(max_n, p, words=words, n=n)


class BloomDelta(NamedTuple):
    """The bloom family's round kernel. It holds only the filter's
    parameters, so a Spark task closure that captures it ships two
    numbers, never a live filter. A delta is the bitset words of a fresh
    ``BloomFilter(max_n, p)`` holding a batch of urls; deltas merge by
    OR and commit through ``merge_words``, which equals the per-op adds
    while no bounds check can trip."""

    max_n: int
    p: float

    def __call__(self, upper: np.ndarray, lower: np.ndarray) -> np.ndarray:
        """The delta of the urls whose murmur halves are (upper, lower),
        set a chunk at a time: the (n, k) probe positions of a whole
        task would take ~0.5 KB a url at k=20."""
        local, step = BloomFilter(self.max_n, self.p), 1 << 16
        for i in range(0, len(upper), step):
            local._set_positions(local._probes_from_hash(
                upper[i:i + step], lower[i:i + step]))
        return local.words

    def merge(self, blobs) -> np.ndarray:
        """OR of the deltas' ``tobytes()`` blobs (no blob: all zero)."""
        words = BloomFilter(self.max_n, self.p).words
        for b in blobs:
            words |= np.frombuffer(b, dtype=np.uint64)
        return words
