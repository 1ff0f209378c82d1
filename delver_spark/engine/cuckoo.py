"""Partial-key cuckoo filter — the deletion-capable URL-seen structure
named alongside the bloom in the north star ("sharded Bloom/cuckoo
URL-seen filter"). Public algorithm: Fan, Andersen, Kaminsky,
Mitzenmacher, "Cuckoo Filter: Practically Better Than Bloom"
(CoNEXT 2014). The reference engine itself only ships blooms
(/root/reference/resource/bloom/*.go), so unlike ``bloom.py`` /
``rolling_bloom.py`` this is NOT a quirk-parity port — it is the
engine's own recrawl/expiry story: the generation-rotating bloom can
only forget URLs a whole generation at a time, while a cuckoo filter
deletes individual keys, so "re-admit this URL for recrawl" becomes a
single ``delete`` instead of a rotation.

Layout: ``m`` buckets (power of two) × 4 slots of 16-bit fingerprints.
Slot value 0 means empty; real fingerprints are forced into
[1, 0xFFFF]. Keys hash with the SAME murmur3-128 the blooms use
(engine/murmur.py): ``i1 = h1 & (m-1)``, ``fp = (h2 >> 16) & 0xFFFF``,
and the partner bucket is ``i2 = i1 ^ scramble(fp)`` — recoverable
from EITHER bucket without the key, which is what makes delete
possible. Expected false-positive rate ≈ 2·4/2¹⁶ ≈ 1.2e-4
per probe at full load; no false negatives for inserted keys.

Deletion contract (standard cuckoo caveat, Fan §3.3): only delete keys
that were actually inserted — deleting a never-inserted key that
fingerprint-collides with a present one would strip the present key's
slot and create a false negative.

Determinism: inserts are order-dependent (eviction paths), so the
one canonical insert (:meth:`ShardedCuckoo.add_pairs_canonical`)
applies each shard's sorted-unique (i1, fp) pairs — the same key set
produces bit-identical bytes whatever its order or partitioning.

Scale shape (the 10^10-frontier story): the executors hash the URL
column zero-copy and derive the (shard, i1, fp) rows with
:class:`CuckooDelta` (operators/frontier.py ``seen_round_pass``); only
those 24-byte rows reach the driver-resident filter, and a filter too
big to broadcast is probed shard by shard from files
(:class:`ShardFileProbe`).
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

from .murmur import hash128, hash128_batch

_U64 = np.uint64
_FP_MASK = _U64(0xFFFF)
# odd 64-bit multiplier (murmur2 constant) scrambles the fingerprint
# into the partner-bucket offset; any fixed odd constant works, it only
# has to be identical across build/probe/merge
_SCRAMBLE = _U64(0xC6A4A7935BD1E995)

SLOTS = 4
MAX_KICKS = 500


class CuckooFull(Exception):
    """Insert failed after MAX_KICKS evictions — the filter is at its
    practical load limit (≈0.95 for 4-slot buckets)."""


def _derive(h1, h2, m: int):
    """(i1, fp) from murmur3-128 halves; works on uint64 scalars or
    ndarrays. fp==0 is remapped to 1 so 0 stays the empty marker."""
    i1 = h1 & _U64(m - 1)
    fp = (h2 >> _U64(16)) & _FP_MASK
    fp = np.where(fp == 0, _U64(1), fp) if isinstance(fp, np.ndarray) \
        else (fp if fp != 0 else _U64(1))
    return i1, fp


def _alt(i, fp, m: int):
    """Partner bucket — xor with the scrambled fingerprint, involutive:
    _alt(_alt(i, fp), fp) == i. uint64 wraparound is the point; numpy
    warns on scalar (not array) overflow, so silence it."""
    with np.errstate(over="ignore"):
        return (i ^ (fp * _SCRAMBLE)) & _U64(m - 1)


class CuckooFilter:
    def __init__(self, capacity: int, buckets: np.ndarray | None = None,
                 n: int = 0):
        m = 1
        while m * SLOTS * 0.95 < capacity:
            m <<= 1
        self.capacity = int(capacity)
        self.m = m
        self.n = int(n)
        self.buckets = buckets if buckets is not None \
            else np.zeros((m, SLOTS), dtype=np.uint16)
        assert self.buckets.shape == (m, SLOTS)

    # -- membership -----------------------------------------------------
    def _pair_present(self, i1: int, fp: int) -> bool:
        i2 = int(_alt(_U64(i1), _U64(fp), self.m))
        return bool((self.buckets[i1] == fp).any()
                    or (self.buckets[i2] == fp).any())

    def contains(self, data) -> bool:
        h1, h2 = hash128(data)
        i1, fp = _derive(_U64(h1), _U64(h2), self.m)
        return self._pair_present(int(i1), int(fp))

    def contains_batch(self, items) -> np.ndarray:
        """Vectorized membership for a batch of str/bytes — one hash
        pass, two bucket gathers, no per-item Python."""
        h1, h2 = hash128_batch(items)
        return self.contains_batch_hashed(h1, h2)

    def contains_batch_hashed(self, h1: np.ndarray,
                              h2: np.ndarray) -> np.ndarray:
        i1, fp = _derive(h1, h2, self.m)
        i2 = _alt(i1, fp, self.m)
        fpc = fp[:, None].astype(np.uint16)
        return ((self.buckets[i1.astype(np.int64)] == fpc).any(axis=1)
                | (self.buckets[i2.astype(np.int64)] == fpc).any(axis=1))

    # -- insert -----------------------------------------------------------
    def _insert_pair(self, i1: int, fp: int) -> bool:
        """Seen-set add of a derived (bucket, fingerprint) pair —
        idempotent (present pair is not inserted twice). ``i1`` may be
        EITHER candidate bucket (the pair is unordered). Returns True if
        the pair was newly added."""
        if self._pair_present(i1, fp):
            return False
        i2 = int(_alt(_U64(i1), _U64(fp), self.m))
        for i in (i1, i2):
            row = self.buckets[i]
            empty = np.nonzero(row == 0)[0]
            if empty.size:
                row[empty[0]] = fp
                self.n += 1
                return True
        # evict: deterministic slot choice so identical insert order
        # gives identical bytes
        i, cur = i1, fp
        path = []
        for kick in range(MAX_KICKS):
            slot = (cur + kick) % SLOTS
            path.append((i, slot))
            cur, self.buckets[i, slot] = int(self.buckets[i, slot]), cur
            i = int(_alt(_U64(i), _U64(cur), self.m))
            row = self.buckets[i]
            empty = np.nonzero(row == 0)[0]
            if empty.size:
                row[empty[0]] = cur
                self.n += 1
                return True
        # ROLL BACK the eviction chain before raising: without this the
        # last victim (a previously-INSERTED key's fingerprint) is
        # dropped and the no-false-negatives contract breaks for any
        # caller that catches CuckooFull to grow/rebuild. Replaying the
        # same swaps in reverse order restores the exact pre-insert
        # bytes (each step is a swap; `cur` walks back to `fp`).
        for ri, rs in reversed(path):
            cur, self.buckets[ri, rs] = int(self.buckets[ri, rs]), cur
        raise CuckooFull(
            f"insert failed after {MAX_KICKS} kicks at n={self.n} "
            f"(m={self.m}, load={self.n / (self.m * SLOTS):.3f}); "
            "filter state rolled back — all previously-inserted keys "
            "remain present, the failed key is not inserted")

    def add(self, data) -> bool:
        h1, h2 = hash128(data)
        i1, fp = _derive(_U64(h1), _U64(h2), self.m)
        return self._insert_pair(int(i1), int(fp))

    def add_many(self, items) -> int:
        """Batch add: one vectorized hash pass, sequential placement
        (evictions are inherently order-dependent). Returns the number
        of newly-added distinct pairs."""
        h1, h2 = hash128_batch(items)
        return self.add_many_hashed(h1, h2)

    def add_many_hashed(self, h1: np.ndarray, h2: np.ndarray) -> int:
        i1, fp = _derive(h1, h2, self.m)
        added = 0
        for a, b in zip(i1.tolist(), fp.tolist()):
            added += self._insert_pair(a, b)
        return added

    def _bulk_insert(self, pairs: np.ndarray) -> int:
        """Sequential-semantics bulk insert over python ints and a flat
        list — placement rules IDENTICAL to :meth:`_insert_pair`
        (present-check, first-empty i1 then i2, (cur+kick)%SLOTS
        eviction), but ~10× faster: the per-insert cost of the numpy
        path is tiny-array call overhead, not arithmetic. Byte-equality
        of the two paths is pinned in t:test_cuckoo."""
        m, mask64 = self.m, (1 << 64) - 1
        mm = m - 1
        scr = int(_SCRAMBLE)
        flat = self.buckets.ravel().tolist()
        added = 0
        for a, b in pairs.tolist():
            i1, fp = int(a), int(b)
            i2 = (i1 ^ ((fp * scr) & mask64)) & mm
            r1, r2 = i1 * SLOTS, i2 * SLOTS
            row1 = flat[r1:r1 + SLOTS]
            row2 = flat[r2:r2 + SLOTS]
            if fp in row1 or fp in row2:
                continue
            if 0 in row1:
                flat[r1 + row1.index(0)] = fp
                added += 1
                continue
            if 0 in row2:
                flat[r2 + row2.index(0)] = fp
                added += 1
                continue
            i, cur = i1, fp
            path = []
            for kick in range(MAX_KICKS):
                slot = i * SLOTS + (cur + kick) % SLOTS
                path.append(slot)
                cur, flat[slot] = flat[slot], cur
                i = (i ^ ((cur * scr) & mask64)) & mm
                r = i * SLOTS
                row = flat[r:r + SLOTS]
                if 0 in row:
                    flat[r + row.index(0)] = cur
                    added += 1
                    break
            else:
                # roll back this pair's eviction chain (same contract
                # and same reverse-swap proof as _insert_pair) — the
                # batch's EARLIER pairs stay inserted, this one is not
                for slot in reversed(path):
                    cur, flat[slot] = flat[slot], cur
                self.buckets = np.asarray(
                    flat, dtype=np.uint16).reshape(m, SLOTS)
                self.n += added
                raise CuckooFull(
                    f"insert failed after {MAX_KICKS} kicks at "
                    f"n={self.n} (m={m}, "
                    f"load={self.n / (m * SLOTS):.3f}); filter state "
                    "rolled back — prior inserts (incl. this batch's "
                    "earlier pairs) remain present")
        self.buckets = np.asarray(flat, dtype=np.uint16).reshape(m, SLOTS)
        self.n += added
        return added

    # -- delete -----------------------------------------------------------
    def delete(self, data) -> bool:
        """Remove ONE stored occurrence of the key's fingerprint.
        Returns False (filter unchanged) if the pair is absent. Only
        call for keys that were inserted — see the module docstring."""
        h1, h2 = hash128(data)
        i1, fp = _derive(_U64(h1), _U64(h2), self.m)
        return self.delete_pair(int(i1), int(fp))

    def delete_pair(self, i1: int, fp: int) -> bool:
        """:meth:`delete` from a pre-derived (bucket, fingerprint) pair —
        the distributed-readmit form (executors derive, only 24-byte
        rows reach the driver). Same one-occurrence semantics."""
        i2 = int(_alt(_U64(i1), _U64(fp), self.m))
        for i in (i1, i2):
            hit = np.nonzero(self.buckets[i] == fp)[0]
            if hit.size:
                self.buckets[i, hit[0]] = 0
                self.n -= 1
                return True
        return False

    def copy(self) -> "CuckooFilter":
        return CuckooFilter(self.capacity, buckets=self.buckets.copy(),
                            n=self.n)

    # -- io ---------------------------------------------------------------
    def to_bytes(self) -> bytes:
        head = (b"CKF1\n"
                + self.capacity.to_bytes(8, "little")
                + self.m.to_bytes(8, "little")
                + self.n.to_bytes(8, "little"))
        return head + self.buckets.tobytes()

    @classmethod
    def from_bytes(cls, blob: bytes) -> "CuckooFilter":
        assert blob[:5] == b"CKF1\n"
        capacity = int.from_bytes(blob[5:13], "little")
        m = int.from_bytes(blob[13:21], "little")
        n = int.from_bytes(blob[21:29], "little")
        buckets = np.frombuffer(blob[29:], dtype=np.uint16) \
            .reshape(m, SLOTS).copy()
        f = cls.__new__(cls)
        f.capacity, f.m, f.n, f.buckets = capacity, m, n, buckets
        return f


def shard_of(h2: np.ndarray | int, shards: int):
    """Shard routing from the murmur h2 half. Uses the LOW 16 bits
    (the fingerprint reads bits 16-31, i1 reads h1), so routing and
    in-shard placement stay decorrelated."""
    return (h2 & _FP_MASK) % (_U64(shards) if isinstance(h2, np.ndarray)
                              else shards)


class CuckooDelta(NamedTuple):
    """The cuckoo family's round kernel. It holds only the sharded
    filter's geometry, so a Spark task closure that captures it ships
    two numbers, never the filter (~20 GB at 10^10 urls). A delta is the
    derived ``(shard, i1, fp)`` rows of a batch of urls as an (n, 3)
    int64 array (i1 < m and fp <= 0xFFFF make the view lossless);
    deltas merge by concatenation and commit through
    :meth:`ShardedCuckoo.add_pairs_canonical`, whose per-shard sort
    makes their order irrelevant."""

    shards: int
    m: int

    def __call__(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        """The delta of the urls whose murmur halves are (h1, h2)."""
        i1, fp = _derive(h1, h2, self.m)
        return np.stack([shard_of(h2, self.shards).view(np.int64),
                         i1.view(np.int64), fp.view(np.int64)], axis=1)

    def merge(self, blobs) -> np.ndarray:
        """Concatenation of the deltas' ``tobytes()`` blobs."""
        return np.concatenate(
            [np.zeros((0, 3), dtype=np.int64)]
            + [np.frombuffer(b, dtype=np.int64).reshape(-1, 3)
               for b in blobs])


def _routed_contains(shards: int, shard_filter, h1: np.ndarray,
                     h2: np.ndarray) -> np.ndarray:
    """Shard-routed membership from murmur halves: each shard's rows
    probe the :class:`CuckooFilter` that ``shard_filter(s)`` returns."""
    sh = shard_of(h2, shards).astype(np.int64)
    out = np.zeros(len(h1), dtype=bool)
    for s in np.unique(sh):
        ix = np.nonzero(sh == s)[0]
        out[ix] = shard_filter(int(s)).contains_batch_hashed(h1[ix], h2[ix])
    return out


class ShardedCuckoo:
    """A list of cuckoo shards routed on ``shard_of(h2)`` — the
    sharded URL-seen form from the north star. The executors derive a
    round's rows (:class:`CuckooDelta`); the filter itself stays on the
    driver, where rows commit, delete and probe (a plan probes it as one
    broadcast blob, or by shard files when it outgrows the shard-cache
    budget)."""

    def __init__(self, filters: list[CuckooFilter]):
        self.filters = filters
        self.shards = len(filters)
        # shards mutated since the last consumer clear() — drives the
        # incremental shard-file sync of the crawl engine's
        # shard probe plan (only changed blobs rewrite)
        self.dirty: set[int] = set()

    @classmethod
    def empty(cls, shards: int, capacity: int) -> "ShardedCuckoo":
        """Fresh filter sized for ``capacity`` TOTAL keys across
        ``shards`` shards — the crawl engine's seen-set constructor.
        Each shard holds its expected uniform share + 25% headroom
        (routing is hash-uniform; the slack absorbs binomial skew)."""
        cap_shard = max(1024, int(np.ceil(capacity / shards * 1.25)))
        return cls([CuckooFilter(cap_shard) for _ in range(shards)])

    @property
    def n(self) -> int:
        return sum(f.n for f in self.filters)

    @property
    def delta_kernel(self) -> CuckooDelta:
        return CuckooDelta(self.shards, self.filters[0].m)

    def copy(self) -> "ShardedCuckoo":
        return ShardedCuckoo([f.copy() for f in self.filters])

    # -- driver-side ops -------------------------------------------------
    def contains_batch_hashed(self, h1: np.ndarray,
                              h2: np.ndarray) -> np.ndarray:
        """Vectorized membership from murmur halves, shard-routed — the
        probe shape the crawl admission mask uses (same signature as
        :meth:`CuckooFilter.contains_batch_hashed`)."""
        return _routed_contains(self.shards, self.filters.__getitem__,
                                h1, h2)

    def contains_batch(self, items) -> np.ndarray:
        h1, h2 = hash128_batch(items)
        return self.contains_batch_hashed(h1, h2)

    def add_many_canonical(self, items) -> int:
        """Round-commit add: hash the batch, route to shards, and insert
        each shard's pairs in CANONICAL (sorted-unique (i1, fp)) order —
        the crawl engine's cuckoo seen-set update contract. Canonical
        order makes the result partition-invariant AND independent of
        the caller's item order, so the sequential oracle and the
        distributed engine produce bit-identical filters from the same
        per-round insert SET."""
        rows = self.delta_kernel(*hash128_batch(items))
        return self.add_pairs_canonical(rows[:, 0], rows[:, 1], rows[:, 2])

    def add_pairs_canonical(self, shard: np.ndarray, i1: np.ndarray,
                            fp: np.ndarray) -> int:
        """The one canonical insert: PRE-DERIVED (shard, i1, fp) rows (a
        :class:`CuckooDelta`), each shard's sorted-unique pairs through
        the fast bulk loop (same placement rules as :meth:`_insert_pair`,
        pinned byte-equal in t:test_cuckoo). The crawl engine's tasks
        derive the rows, so only 24-byte rows reach the driver."""
        if len(shard) == 0:
            return 0
        i1 = np.asarray(i1, dtype=np.uint64)
        fp = np.asarray(fp, dtype=np.uint64)
        shard = np.asarray(shard, dtype=np.int64)
        added = 0
        for s in np.unique(shard):
            ix = np.nonzero(shard == s)[0]
            pairs = np.unique(np.stack([i1[ix], fp[ix]], axis=1), axis=0)
            added += self.filters[int(s)]._bulk_insert(pairs)
            self.dirty.add(int(s))
        return added

    def contains(self, data) -> bool:
        return bool(self.contains_batch([data])[0])

    def add(self, data) -> bool:
        h1, h2 = hash128(data)
        s = int(shard_of(_U64(h2), self.shards))
        i1, fp = _derive(_U64(h1), _U64(h2), self.filters[s].m)
        self.dirty.add(s)
        return self.filters[s]._insert_pair(int(i1), int(fp))

    def delete(self, data) -> bool:
        h1, h2 = hash128(data)
        s = int(shard_of(_U64(h2), self.shards))
        self.dirty.add(s)
        return self.filters[s].delete(data)

    def delete_pairs(self, shard: np.ndarray, i1: np.ndarray,
                     fp: np.ndarray) -> int:
        """Batch delete from pre-derived (shard, i1, fp) rows — the
        distributed-readmit twin of :meth:`add_pairs_canonical`.
        Driver-side O(k) bucket edits (the filter is driver-resident by
        contract, like the bloom bitmap); order-free because deletes
        of distinct pairs commute and duplicate rows just no-op after
        the first. Returns the number of stored pairs removed."""
        deleted = 0
        for s, a, b in zip(np.asarray(shard, dtype=np.int64),
                           np.asarray(i1, dtype=np.uint64),
                           np.asarray(fp, dtype=np.uint64)):
            deleted += self.filters[int(s)].delete_pair(int(a), int(b))
            self.dirty.add(int(s))
        return deleted

    def to_bytes(self) -> bytes:
        """Single-blob form for broadcast/snapshot (magic-prefixed so the
        snapshot store can tell it from a bloom bitmap)."""
        parts = [b"SCK1\n", len(self.filters).to_bytes(4, "little")]
        for f in self.filters:
            b = f.to_bytes()
            parts.append(len(b).to_bytes(8, "little"))
            parts.append(b)
        return b"".join(parts)

    @classmethod
    def from_bytes(cls, blob: bytes) -> "ShardedCuckoo":
        assert blob[:5] == b"SCK1\n"
        count = int.from_bytes(blob[5:9], "little")
        off, filters = 9, []
        for _ in range(count):
            ln = int.from_bytes(blob[off:off + 8], "little")
            off += 8
            filters.append(CuckooFilter.from_bytes(blob[off:off + ln]))
            off += ln
        return cls(filters)


# -- file-backed shard probe (the seen-set's shard plan) ----------------------
# Worker-side cache of shard filters keyed by file path. Shard files are
# IMMUTABLE (the engine writes each sync to a NEW versioned name), so a
# cached entry can never go stale; python workers are reused across tasks
# and rounds, so unchanged shards load once per worker, not once per task.
# LRU capped by BYTES, not entry count: a count cap silently thrashes
# when one admission partition spans more shards than the cap (every
# probe then re-reads every blob from shared storage each round — the
# exact cost the cache exists to avoid). Default 1 GiB per worker,
# tunable via DELVER_SHARD_CACHE_BYTES. A cuckoo seen-set larger than
# this budget takes the shard plan (operators/seen.py CuckooSeen.probe).
_SHARD_FILE_CACHE: dict[str, CuckooFilter] = {}  # insertion order = LRU
_SHARD_FILE_CACHE_BYTES = 0


def _shard_cache_max_bytes() -> int:
    import os
    return int(os.environ.get("DELVER_SHARD_CACHE_BYTES", 1 << 30))


def _load_shard_file(path: str) -> CuckooFilter:
    global _SHARD_FILE_CACHE_BYTES
    f = _SHARD_FILE_CACHE.get(path)
    if f is not None:
        # refresh recency (dict preserves insertion order)
        del _SHARD_FILE_CACHE[path]
        _SHARD_FILE_CACHE[path] = f
        return f
    with open(path, "rb") as fh:
        f = CuckooFilter.from_bytes(fh.read())
    size = f.buckets.nbytes
    cap = _shard_cache_max_bytes()
    while _SHARD_FILE_CACHE and _SHARD_FILE_CACHE_BYTES + size > cap:
        ev = _SHARD_FILE_CACHE.pop(next(iter(_SHARD_FILE_CACHE)))
        _SHARD_FILE_CACHE_BYTES -= ev.buckets.nbytes
    _SHARD_FILE_CACHE[path] = f
    _SHARD_FILE_CACHE_BYTES += size
    return f


class ShardFileProbe:
    """Read-only ``contains_batch_hashed`` over FILE-BACKED shards — the
    10^10-scale probe plan for the crawl admission pass.

    The broadcast probe ships the whole filter to every executor each
    round: O(executors x filter bytes) network, and a 10^10-URL cuckoo
    (~20 GB of buckets) exceeds any broadcast bound. This probe instead
    routes candidate urls BY SHARD (``shard_of(h2)``) in the admission
    shuffle, so each task touches only the shards present in its
    partition and lazily loads exactly those blobs from shared storage
    (the crawl workdir: local disk here, HDFS/S3/NFS on a cluster) —
    total read volume is O(filter bytes) across the cluster, independent
    of executor count, and per-task memory is O(filter/shards). The
    engine rewrites only DIRTY shards each round (``ShardedCuckoo.dirty``)
    to immutable versioned files, so worker caches stay valid and a
    Spark stage retry re-reads the exact blobs the round started with.

    ``manifest`` maps shard id -> absolute blob path. Probing a shard
    absent from the manifest is a contract violation (the engine always
    writes all shards on the first sync), so it raises rather than
    returning false negatives.
    """

    def __init__(self, shards: int, manifest: dict[int, str]):
        self.shards = shards
        self.manifest = manifest

    def contains_batch_hashed(self, h1: np.ndarray,
                              h2: np.ndarray) -> np.ndarray:
        return _routed_contains(
            self.shards, lambda s: _load_shard_file(self.manifest[s]),
            h1, h2)
