"""The crawl engine's URL-seen set: one class per filter family, each
owning its filter, probe plan and snapshot format, and binding its
family's kernels (next to the filter: engine/bloom.py and
engine/rolling_bloom.py for the bloom, engine/cuckoo.py for the cuckoo)
to the crawl. ``BloomSeen`` is the reference's rolling murmur3 bloom,
``CuckooSeen`` the deletion-capable sharded cuckoo; :func:`seen_family`
maps a ``seen_filter`` name to its class (a third family is one more
class). Both serve ``CrawlEngine``'s operations. A small round probes
``filter`` on the driver (``frontier.admission_keep_mask`` calls its
``contains_batch_hashed``) and takes its delta from ``delta``, the
family's delta kernel over the hashes it holds. A big round opens
``open_probe`` (a handle whose ``colocate`` puts every proposal of a
url into one task and whose ``load()`` gives the tasks that filter)
and takes its delta from ``round_pass`` (``frontier.seen_round_pass``
with the same kernel). Both ``commit`` the delta through the family's
canonical insert; the ``to_bytes``/``n``/``stats`` snapshot and
:func:`from_blob` restore complete the interface. ``probe`` reports the
set's own big-round plan."""

from __future__ import annotations

import math
import os
import uuid

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..engine.bloom import BloomFilter
from ..engine.cuckoo import (ShardedCuckoo, ShardFileProbe,
                             _shard_cache_max_bytes)
from ..engine.rolling_bloom import RollingBloomFilter
from ..engine.urlnorm import canonicalize, host_of
from ..sources.snapshot import write_atomic
from .frontier import seen_round_pass


def _colocate(df: DataFrame, n: int, key: str) -> DataFrame:
    # all proposals of a url must reach one task; a one-task round gets
    # there by coalesce, without a shuffle job
    return df.coalesce(1) if n == 1 else df.repartition(n, F.col(key))


class _BroadcastProbe:
    """The whole filter as one broadcast blob; candidates colocate by
    url. ``decode`` turns the blob into the task-side probe."""

    def __init__(self, sc, blob: bytes, decode):
        self._bc = sc.broadcast(blob)
        self._decode = decode

    def colocate(self, df: DataFrame, n: int) -> DataFrame:
        return _colocate(df, n, "url")

    def load(self):
        return self._decode(self._bc.value)

    def release(self):
        # on every exit path: leaking one filter per failed round would
        # accumulate executor memory for the session's lifetime
        self._bc.destroy()


class _ShardFilesProbe(ShardFileProbe):
    """No filter broadcast: candidates route by ``shard_of(h2)`` and each
    task file-loads only its shards (``ShardFileProbe``)."""

    def colocate(self, df: DataFrame, n: int) -> DataFrame:
        # shard_of(h2) is a pure function of the url, so all proposals of
        # a url (and its marker row) share a shard. A SCALAR arrow_udf
        # ships ONLY the url column to the python worker (a full-frame
        # mapInArrow pre-pass measured 1.35x on the 400k round from
        # round-tripping every column through Arrow IPC).
        from pyspark.sql.functions import arrow_udf

        shards = self.shards

        @arrow_udf("long")
        def shard_udf(urls):
            from ..engine.cuckoo import shard_of
            from ..engine.murmur import hash128_batch_buf, string_buf_views
            if len(urls) == 0:
                return pa.array([], pa.int64())
            _, h2 = hash128_batch_buf(*string_buf_views(urls))
            return pa.array(shard_of(h2, shards).astype(np.int64),
                            pa.int64())

        return _colocate(df.withColumn("shard", shard_udf(F.col("url"))),
                         min(n, shards), "shard")

    def load(self):
        return self

    def release(self):
        pass  # the shard files outlive the round; the next sync GCs them


class BloomSeen:
    """The reference's rolling bloom (rolling_bloom.go), including the
    lost-insert quirk at a rotation."""

    kind = "bloom"
    probe = "broadcast"
    cuckoo = None

    def __init__(self, bloom: RollingBloomFilter):
        self.bloom = bloom

    @classmethod
    def empty(cls, params: dict, workdir: str) -> "BloomSeen":
        return cls(RollingBloomFilter(params.get("bloom_count", 1),
                                      params["bloom_max_n"],
                                      params["bloom_p"]))

    @property
    def n(self) -> int:
        return self.bloom.n

    filter = property(lambda self: self.bloom)

    def delta(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        """The bitset words of a round's inserts (``BloomDelta``)."""
        return self.bloom.delta_kernel(h1, h2)

    def round_pass(self, rows: DataFrame, partitions: int):
        return seen_round_pass(rows, self.bloom.delta_kernel, partitions)

    def open_probe(self, sc) -> _BroadcastProbe:
        return _BroadcastProbe(sc, self.bloom.to_bytes(),
                               RollingBloomFilter.from_bytes)

    def _round_fits(self, total_added: int) -> bool:
        """True iff NO bloom op of this round can fail the reference's
        bounds check (bloom.go:228-246: n >= maxN or p̂(n) >= p, checked
        BEFORE each op). Both bounds are monotone in n and the largest
        pre-op n is ``gen0.n + total_added - 1``, so checking there covers
        every op — when it passes, the distributed bitset merge equals
        the sequential per-op inserts bit-for-bit."""
        if total_added == 0:
            return True  # no ops this round → no bound can trip (and a
            # negative base ** fractional k would be complex)
        g = self.bloom.gen0
        worst = g.n + total_added - 1
        if worst >= g.max_n:
            return False
        kf, mf = g.k_float, g.m_float
        p_hat = (1 - math.exp(-kf * (worst + 0.5) / (mf - 1))) ** kf
        return p_hat < g.p

    def commit(self, delta: np.ndarray, total_added: int, replay_ops):
        """OR in one round's bitset words: with no bound crossed no
        rotation can occur, so the OR equals the oracle's per-op adds. At
        a rotation boundary ``replay_ops()`` (one url list per write
        transaction) replays in order instead, so the rotation fires at
        the same op and loses the same insert as the oracle/reference;
        errors drop like the reference's log-and-continue."""
        if self._round_fits(total_added):
            self.bloom.merge_words(delta, added_n=total_added)
            return
        for urls in replay_ops():
            self.bloom.add_many(urls)

    def to_bytes(self) -> bytes:
        # every generation (NOT the reference's save-gen0-only Save
        # quirk — resume == uninterrupted requires all of them)
        return self.bloom.to_bytes()

    def stats(self) -> dict:
        # set bits of the newest generation, the one the round writes
        return {"bloom_bits": self.bloom.gen0.bit_count(),
                "seen_n": self.bloom.n}

    def _cannot_delete(self, *args, **kwargs):
        raise ValueError("readmit/forget delete urls from the seen-set, "
                         "which the rolling bloom cannot do: construct the "
                         "engine with seen_filter='cuckoo'")

    # CuckooSeen's recrawl/expiry operations
    delete_urls = derive_df = delete_rows = _cannot_delete


class CuckooSeen:
    """The deletion-capable sharded cuckoo, its semantics DEFINED in
    oracle/crawler.py: the round's insert set commits at round END in
    canonical per-shard order, so the filter is bit-identical to the
    oracle's without any per-op replay. A big round's broadcast probe
    holds the whole filter in every Python worker, the shard plan
    (per-shard files in the workdir) at most the worker's shard-cache
    budget, so a filter whose bucket bytes exceed that budget takes the
    shard plan; a small round probes ``filter`` on the driver and opens
    neither. Probe results, hence crawls, are identical under all
    three."""

    kind = "cuckoo"
    bloom = None
    # bucket bytes above which the shard plan runs; None = the shard-cache
    # budget. Tests and bench_cuckoo_probe.py set 0 to force the shard plan
    _sharded_floor: int | None = None

    def __init__(self, cuckoo: ShardedCuckoo, workdir: str):
        self.cuckoo = cuckoo
        self._shard_dir = os.path.join(workdir, "seen_shards")
        self._manifest: dict[int, str] | None = None  # None = unsynced
        self._sync_n = 0
        # per-INSTANCE tag in every shard filename: python workers cache
        # blobs BY PATH, so a resumed (or second) engine on the same
        # workdir reusing a name would serve a stale filter (pinned by
        # test_sharded_probe_survives_resume)
        self._run_tag = uuid.uuid4().hex[:8]
        # paths superseded by the PREVIOUS sync, deleted at the next one
        # (keep-last-2: no round in flight can read two generations back)
        self._gc_paths: list[str] = []

    @classmethod
    def empty(cls, params: dict, workdir: str) -> "CuckooSeen":
        return cls(ShardedCuckoo.empty(
            params.get("cuckoo_shards", 4),
            params.get("cuckoo_capacity") or params["bloom_max_n"]),
            workdir)

    @property
    def n(self) -> int:
        return self.cuckoo.n

    @property
    def probe(self) -> str:
        floor = _shard_cache_max_bytes() if self._sharded_floor is None \
            else self._sharded_floor
        nbytes = sum(f.buckets.nbytes for f in self.cuckoo.filters)
        return "sharded" if nbytes > floor else "broadcast"

    filter = property(lambda self: self.cuckoo)

    def delta(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        """The (shard, i1, fp) rows of a round's inserts
        (``CuckooDelta``)."""
        return self.cuckoo.delta_kernel(h1, h2)

    def round_pass(self, rows: DataFrame, partitions: int):
        return seen_round_pass(rows, self.cuckoo.delta_kernel, partitions)

    def open_probe(self, sc):
        if self.probe == "sharded":
            return _ShardFilesProbe(self.cuckoo.shards,
                                    self._sync_shard_files())
        return _BroadcastProbe(sc, self.cuckoo.to_bytes(),
                               ShardedCuckoo.from_bytes)

    def _sync_shard_files(self) -> dict[int, str]:
        """Write the cuckoo's DIRTY shard blobs (all of them on the first
        sync) to the workdir as immutable versioned files and return the
        full shard->path manifest. Immutable names keep worker-side caches
        valid and make stage retries re-read exactly the blobs the round
        started with; tmp+rename makes each file appear atomically. On a
        cluster this is the shared store, written O(changed shards).

        The first sync also deletes every file already in the dir, none
        of which carries this instance's run tag: a resumed engine's
        predecessor's shards and any crashed write's ``.tmp``. That
        assumes one engine owns a workdir, and is safe because an engine
        opens no probe before its first sync."""
        os.makedirs(self._shard_dir, exist_ok=True)
        if self._manifest is None:
            for name in os.listdir(self._shard_dir):
                os.unlink(os.path.join(self._shard_dir, name))
            to_write = range(self.cuckoo.shards)
            manifest: dict[int, str] = {}
        else:
            to_write = sorted(self.cuckoo.dirty)
            manifest = dict(self._manifest)
        superseded = []
        for s in to_write:
            path = os.path.join(
                self._shard_dir,
                f"shard{s:05d}_v{self._sync_n:06d}_{self._run_tag}.bin")
            write_atomic(path, self.cuckoo.filters[s].to_bytes())
            if s in manifest:
                superseded.append(manifest[s])
            manifest[s] = path
        # GC superseded blobs with a one-generation lag (keep-last-2):
        # without this a long sharded crawl accretes O(dirty bytes)/round
        # of dead immutable files on the shared store forever
        for old in self._gc_paths:
            try:
                os.unlink(old)
            except FileNotFoundError:
                pass
        self._gc_paths = superseded
        self._sync_n += 1
        self.cuckoo.dirty.clear()
        self._manifest = manifest
        return manifest

    def commit(self, delta: np.ndarray, total_added: int, replay_ops):
        """Round-END canonical commit (oracle/crawler.py __init__):
        per-shard sorted-unique insert, bit-identical to the oracle's
        ``add_many_canonical`` on the same url set; nothing to replay."""
        self.cuckoo.add_pairs_canonical(delta[:, 0], delta[:, 1],
                                        delta[:, 2])

    def to_bytes(self) -> bytes:
        return self.cuckoo.to_bytes()

    def stats(self) -> dict:
        return {"cuckoo_n": self.cuckoo.n, "seen_n": self.cuckoo.n}

    def delete_urls(self, urls: list[str]):
        for c in urls:
            self.cuckoo.delete(c)

    def derive_df(self, urls_df: DataFrame, with_keys: bool = False):
        """``(shard, i1, fp)`` rows of a one-column frame of RAW urls,
        derived on the executors (uncanonicalizable urls drop), so only
        24-byte rows reach the driver. ``with_keys`` adds the canonical
        ``url`` and ``host`` in front and the sign-flipped hash halves
        ``h1s``/``h2s``, whose int64 order is the unsigned (h1, h2) order,
        at the end. The rows come from the cuckoo's delta kernel
        (``CuckooDelta``), the one a crawl round's inserts take."""
        kernel = self.cuckoo.delta_kernel
        flip = np.uint64(1 << 63)

        def derive_pass(it):
            from ..engine.murmur import hash128_batch
            for rb in it:
                keep = [c for c in map(canonicalize, rb.column(0).to_pylist())
                        if c is not None]
                if not keep:
                    continue
                h1, h2 = hash128_batch(np.array(keep, dtype=object))
                cols = [pa.array(c) for c in kernel(h1, h2).T.copy()]
                names = ["shard", "i1", "fp"]
                if with_keys:
                    cols = [pa.array(keep, pa.string()),
                            pa.array([host_of(c) for c in keep], pa.string()),
                            *cols,
                            pa.array((h1 ^ flip).view(np.int64)),
                            pa.array((h2 ^ flip).view(np.int64))]
                    names = ["url", "host", *names, "h1s", "h2s"]
                yield pa.RecordBatch.from_arrays(cols, names=names)

        schema = "shard long, i1 long, fp long"
        if with_keys:
            schema = f"url string, host string, {schema}, h1s long, h2s long"
        return urls_df.mapInArrow(derive_pass, schema)

    def delete_rows(self, rows: pa.Table) -> int:
        """Driver-side delete of collected :meth:`derive_df` rows."""
        return self.cuckoo.delete_pairs(
            rows.column("shard").to_numpy(zero_copy_only=False),
            rows.column("i1").to_numpy(zero_copy_only=False).view(np.uint64),
            rows.column("fp").to_numpy(zero_copy_only=False).view(np.uint64))


_FAMILIES = {cls.kind: cls for cls in (BloomSeen, CuckooSeen)}


def seen_family(seen_filter: str):
    """The seen-set class of a ``seen_filter`` name: the one check of
    that option."""
    if seen_filter not in _FAMILIES:
        raise ValueError("seen_filter must be "
                         + " or ".join(map(repr, _FAMILIES))
                         + f", got {seen_filter!r}")
    return _FAMILIES[seen_filter]


def new_seen(seen_filter: str, params: dict, workdir: str):
    """An empty seen-set sized from the corpus ``params``."""
    return seen_family(seen_filter).empty(params, workdir)


def from_blob(blob: bytes, params: dict, workdir: str):
    """The seen-set of a snapshot blob by its magic: ``SCK1`` (cuckoo),
    ``RBF1`` (all rolling-bloom generations), or neither — a pre-rolling
    single ``BloomFilter``, generation 0 of a rolling bloom of
    ``params``' generation count. Its own header's ``max_n`` and ``p``
    size the rolling bloom, as ``RollingBloomFilter.load`` lets the
    file's values win: every generation shares one geometry."""
    if blob.startswith(b"SCK1\n"):
        return CuckooSeen(ShardedCuckoo.from_bytes(blob), workdir)
    if blob.startswith(b"RBF1\n"):
        return BloomSeen(RollingBloomFilter.from_bytes(blob))
    gen0 = BloomFilter.from_bytes(blob)
    return BloomSeen(RollingBloomFilter(
        params.get("bloom_count", 1), gen0.max_n, gen0.p, blooms=[gen0]))
