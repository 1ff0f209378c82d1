"""Rolling bloom filter — 1:1 port of the reference's generation-rotating
seen-set (/root/reference/resource/bloom/rolling_bloom.go).

Semantics replicated exactly:
  - generations list, index 0 = NEWEST; reads check every generation
    newest-first and return on the first hit       (rolling_bloom.go:203-213)
  - writes go to generation 0 only                 (rolling_bloom.go:189-201)
  - a write that fails the bounds check rotates: a fresh bloom is
    prepended and, when the list is already at ``bloom_count``, the
    OLDEST generation is dropped                   (rolling_bloom.go:161-177)
  - REFERENCE QUIRK (kept deliberately, SURVEY §1.4): the post-rotation
    retry still targets the OLD generation — ``currentBloom`` is captured
    before ``rotate()`` (rolling_bloom.go:190,199) — so it fails the same
    bounds check again and the triggering insert is LOST; the error is
    returned to the caller (which logs and continues in dfs_basic.go).
    Only the NEXT write lands in the fresh generation.
    (In the Go source the nested ``rwLock.Lock()`` inside ``rotate()``
    would additionally deadlock a non-reentrant sync.RWMutex; this port
    models the lock-free logical semantics the code expresses.)
  - persistence QUIRK: ``Save``/``Close`` persist generation 0 ONLY
    (rolling_bloom.go:148-155,158-168) — older generations are dropped on
    restart. ``save``/``load`` mirror that for reference parity; the
    crawl engine's snapshots use ``to_bytes``/``from_bytes`` instead,
    which keep every generation so resume == uninterrupted stays exact.

Unlike the single BloomFilter, writes here RETURN the bloom error (or
None) instead of raising — mirroring Go's error-value convention, which
is what makes the lost-insert quirk observable to callers.
"""

from __future__ import annotations

import os

import numpy as np

from .bloom import (BloomDelta, BloomExceedsErrorRate, BloomFilter,
                    BloomOverflow)
from .murmur import hash128_batch

_BLOOM_ERRORS = (BloomOverflow, BloomExceedsErrorRate)
_MAGIC = b"RBF1\n"


class RollingBloomFilter:
    def __init__(self, bloom_count: int, max_n: int, p: float,
                 blooms: list[BloomFilter] | None = None):
        self.bloom_count = int(bloom_count)
        self.max_n = int(max_n)
        self.p = float(p)
        self.blooms = blooms if blooms is not None \
            else [BloomFilter(max_n, p)]

    # -- compatibility accessors (newest generation) -------------------------
    @property
    def gen0(self) -> BloomFilter:
        return self.blooms[0]

    @property
    def n(self) -> int:
        return self.gen0.n

    @property
    def words(self):
        return self.gen0.words

    def bit_positions(self):
        """Newest generation's bitmap content (single-generation engines
        compare on this; use generation_bit_positions for the full state)."""
        return self.gen0.bit_positions()

    @property
    def delta_kernel(self) -> BloomDelta:
        return BloomDelta(self.max_n, self.p)

    def generation_bit_positions(self) -> list:
        return [b.bit_positions() for b in self.blooms]

    # -- rotation ------------------------------------------------------------
    def rotate(self):
        """rolling_bloom.go:161-177: prepend a fresh generation; at
        capacity the oldest is dropped."""
        new = BloomFilter(self.max_n, self.p)
        if len(self.blooms) == self.bloom_count:
            self.blooms = [new] + self.blooms[:-1]
        else:
            self.blooms = [new] + self.blooms

    def _write_transaction(self, fn):
        """rolling_bloom.go:184-201 writeTransaction: try gen 0; on a
        bloom error rotate, then retry against the OLD generation (the
        lost-insert quirk) and return its error."""
        current = self.blooms[0]
        try:
            fn(current)
            return None
        except _BLOOM_ERRORS:
            pass
        self.rotate()
        try:
            fn(current)  # still the pre-rotation bloom — fails again
            return None
        except _BLOOM_ERRORS as err:
            return err

    # -- writes (error-returning, Go convention) -----------------------------
    def add(self, data) -> Exception | None:
        return self._write_transaction(lambda bf: bf.add(data))

    def add_many(self, items) -> Exception | None:
        return self._write_transaction(lambda bf: bf.add_many(items))

    def merge_words(self, words, added_n: int = 0):
        """Engine fast path: OR a precomputed bitset into generation 0.
        Callers must have checked bounds for the whole round first (the
        crawl engine falls back to exact per-op replay otherwise)."""
        self.gen0.merge_words(words, added_n=added_n)

    # -- reads ---------------------------------------------------------------
    def contains(self, data) -> bool:
        return any(b.contains(data) for b in self.blooms)

    def contains_batch(self, items) -> np.ndarray:
        if len(items) == 0:
            return np.zeros(0, dtype=bool)
        return self.contains_batch_hashed(*hash128_batch(list(items)))

    def contains_batch_hashed(self, upper: np.ndarray,
                              lower: np.ndarray) -> np.ndarray:
        """Any-generation membership from murmur halves
        (rolling_bloom.go:203-213). Every generation shares (max_n, p),
        hence m, k and the probe positions, so this is an OR of the
        per-generation bit tests over ONE position array."""
        pos = self.gen0._probes_from_hash(upper, lower)
        out = np.zeros(len(upper), dtype=bool)
        for b in self.blooms:
            out |= b._has_positions(pos)
        return out

    # -- reference-parity persistence (generation 0 only) --------------------
    def save(self, path: str):
        """Reference Save: generation 0 only (older generations lost)."""
        with open(path, "wb") as f:
            f.write(self.gen0.to_bytes())

    def close(self, path: str | None = None):
        """Reference Close: save (when persistent) and stop."""
        if path:
            self.save(path)

    @classmethod
    def load(cls, bloom_count: int, max_n: int, p: float,
             path: str) -> "RollingBloomFilter":
        """newPersistentRollingBloomFilter (rolling_bloom.go:52-94): a
        readable bloom file becomes the single loaded generation and its
        maxN/p OVERRIDE the requested params; a missing or unreadable
        file yields a fresh filter with the requested params."""
        if not os.path.exists(path):
            return cls(bloom_count, max_n, p)
        try:
            with open(path, "rb") as f:
                loaded = BloomFilter.from_bytes(f.read())
        except Exception:
            return cls(bloom_count, max_n, p)
        return cls(bloom_count, loaded.max_n, loaded.p, blooms=[loaded])

    # -- full-state persistence (engine snapshots) ---------------------------
    def to_bytes(self) -> bytes:
        parts = [_MAGIC,
                 f"{self.bloom_count}\n{len(self.blooms)}\n".encode()]
        for b in self.blooms:
            blob = b.to_bytes()
            parts.append(f"{len(blob)}\n".encode())
            parts.append(blob)
        return b"".join(parts)

    @classmethod
    def from_bytes(cls, blob: bytes) -> "RollingBloomFilter":
        assert blob.startswith(_MAGIC), "not a rolling-bloom blob"
        rest = blob[len(_MAGIC):]
        i1 = rest.index(b"\n")
        i2 = rest.index(b"\n", i1 + 1)
        bloom_count = int(rest[:i1])
        n_gens = int(rest[i1 + 1:i2])
        off = i2 + 1
        blooms = []
        for _ in range(n_gens):
            j = rest.index(b"\n", off)
            ln = int(rest[off:j])
            off = j + 1
            blooms.append(BloomFilter.from_bytes(rest[off:off + ln]))
            off += ln
        rbf = cls(bloom_count, blooms[0].max_n, blooms[0].p, blooms=blooms)
        return rbf
