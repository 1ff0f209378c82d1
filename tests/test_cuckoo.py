"""Cuckoo URL-seen filter pins (engine/cuckoo.py): membership,
deletion, determinism, load limit, and the distributed build's
bit-equality vs a local canonical build."""

import numpy as np
import pytest

from delver_spark.engine.cuckoo import (
    SLOTS, CuckooFilter, CuckooFull, ShardedCuckoo, _derive, shard_of,
)
from delver_spark.engine.murmur import hash128_batch


def _urls(lo, hi, tag="a"):
    return [f"http://host{i % 97}.test/{tag}/p{i}" for i in range(lo, hi)]


def test_no_false_negatives_and_fp_bound():
    keys = _urls(0, 20000)
    f = CuckooFilter(20000)
    f.add_many(keys)
    assert f.contains_batch(keys).all()
    # disjoint probe set: expected fp rate 2*SLOTS/2^16 ~ 1.2e-4
    probes = _urls(0, 20000, tag="b")
    fp_rate = f.contains_batch(probes).mean()
    assert fp_rate < 2e-3, fp_rate


def test_delete_readmits():
    keys = _urls(0, 1000)
    f = CuckooFilter(1000)
    f.add_many(keys)
    n0 = f.n
    for k in keys[:200]:
        assert f.delete(k)
    assert f.n == n0 - 200
    # deterministic data: at this density no surviving key shares a
    # (bucket, fp) pair with a deleted one
    assert not f.contains_batch(keys[:200]).any()
    assert f.contains_batch(keys[200:]).all()
    # deleting an absent key is a no-op, not corruption
    assert not f.delete("http://never.test/x")
    assert f.contains_batch(keys[200:]).all()


def test_add_idempotent_and_counts():
    f = CuckooFilter(100)
    assert f.add("http://a.test/1")
    assert not f.add("http://a.test/1")
    assert f.n == 1


def test_determinism_and_serialization():
    keys = _urls(0, 5000)
    a = CuckooFilter(5000)
    a.add_many(keys)
    b = CuckooFilter(5000)
    b.add_many(keys)
    assert a.to_bytes() == b.to_bytes()
    c = CuckooFilter.from_bytes(a.to_bytes())
    assert c.m == a.m and c.n == a.n
    assert c.contains_batch(keys).all()


@pytest.mark.parametrize("canonical", [False, True])
def test_full_raises(canonical):
    """Both inserts raise at the load limit: the sequential
    ``add_many`` and the one canonical insert (a one-shard filter)."""
    f = CuckooFilter(100)
    urls = _urls(0, f.m * SLOTS + 1)
    with pytest.raises(CuckooFull):
        if canonical:
            ShardedCuckoo([f]).add_many_canonical(urls)
        else:
            f.add_many(urls)


def test_bulk_insert_byte_equal_to_insert_pair_loop():
    """The fast python-int bulk loop must mirror _insert_pair's
    placement rules exactly — same present-check, slot choice and
    eviction sequence — so both produce identical bytes on the same
    canonical pair order, including at high load where evictions are
    common."""
    keys = _urls(0, 7000)
    h1, h2 = hash128_batch(keys)
    fast = CuckooFilter(7000)
    ShardedCuckoo([fast]).add_many_canonical(keys)
    slow = CuckooFilter(7000)
    i1, fp = _derive(h1, h2, slow.m)
    pairs = np.unique(np.stack([i1, fp], axis=1), axis=0)
    n_slow = 0
    for a, b in pairs:
        n_slow += slow._insert_pair(int(a), int(b))
    assert fast.to_bytes() == slow.to_bytes()
    assert fast.n == n_slow


def test_canonical_order_is_partition_invariant():
    keys = _urls(0, 4000)
    a = ShardedCuckoo.empty(4, 4000)
    rows = a.delta_kernel(*hash128_batch(keys))
    a.add_pairs_canonical(rows[:, 0], rows[:, 1], rows[:, 2])
    rng = np.random.RandomState(7)
    perm = rng.permutation(len(keys))
    b = ShardedCuckoo.empty(4, 4000)
    b.add_pairs_canonical(rows[perm, 0], rows[perm, 1], rows[perm, 2])
    assert a.to_bytes() == b.to_bytes()


def test_sharded_build_bit_equal_and_probes(spark):
    """The distributed build (executors derive the rows, the driver
    applies them canonically) equals a local per-shard build that
    inserts each shard's sorted-unique pairs one by one."""
    from delver_spark.operators.frontier import cuckoo_pairs_for_urls

    keys = _urls(0, 30000)
    df = spark.createDataFrame([(k,) for k in keys], "url string")
    shards = 4
    sc = ShardedCuckoo.empty(shards, len(keys))
    pairs = cuckoo_pairs_for_urls(df.repartition(8), shards,
                                  sc.filters[0].m)
    sc.add_pairs_canonical(pairs[:, 0], pairs[:, 1], pairs[:, 2])

    # local canonical reference build per shard
    h1, h2 = hash128_batch(keys)
    sh = shard_of(h2, shards).astype(np.int64)
    cap_shard = max(1024, int(np.ceil(len(keys) / shards * 1.25)))
    for s in range(shards):
        ref = CuckooFilter(cap_shard)
        ix = np.nonzero(sh == s)[0]
        i1, fp = _derive(h1[ix], h2[ix], ref.m)
        for a, b in np.unique(np.stack([i1, fp], axis=1), axis=0):
            ref._insert_pair(int(a), int(b))
        assert sc.filters[s].to_bytes() == ref.to_bytes(), s

    assert sc.contains_batch(keys).all()
    probes = _urls(0, 30000, tag="b")
    assert sc.contains_batch(probes).mean() < 2e-3

    # the recrawl story: delete re-admits exactly the deleted URL
    assert sc.delete(keys[7])
    got = sc.contains_batch(keys[:10])
    assert not got[7] and got[[i for i in range(10) if i != 7]].all()
    assert sc.add(keys[7])
    assert sc.contains(keys[7])

    # the filter round-trips through its broadcast/snapshot blob
    rt = ShardedCuckoo.from_bytes(sc.to_bytes())
    assert rt.contains_batch(keys).all()


def test_derive_fp_never_zero():
    # fp==0 must remap to 1 (0 is the empty-slot marker)
    i1, fp = _derive(np.uint64(123), np.uint64(0), 1 << 10)
    assert int(fp) == 1
    h2 = np.zeros(4, dtype=np.uint64)
    _, fpv = _derive(np.arange(4, dtype=np.uint64), h2, 1 << 10)
    assert (fpv == 1).all()


def test_shard_file_cache_byte_capped_lru(tmp_path, monkeypatch):
    """The worker-side shard-blob cache evicts by BYTES with LRU
    recency — a recently-touched blob survives, the stalest one goes.
    (A count-capped FIFO thrashes when one admission partition spans
    more shards than the cap.)"""
    from delver_spark.engine import cuckoo as C

    C._SHARD_FILE_CACHE.clear()
    C._SHARD_FILE_CACHE_BYTES = 0
    paths, size = [], None
    for i in range(3):
        f = C.CuckooFilter(1024)
        f.add(f"url-{i}")
        p = str(tmp_path / f"s{i}.bin")
        with open(p, "wb") as fh:
            fh.write(f.to_bytes())
        paths.append(p)
        size = f.buckets.nbytes
    monkeypatch.setenv("DELVER_SHARD_CACHE_BYTES", str(2 * size))

    C._load_shard_file(paths[0])
    C._load_shard_file(paths[1])
    C._load_shard_file(paths[0])  # refresh recency of 0
    C._load_shard_file(paths[2])  # must evict 1 (stalest), keep 0
    assert set(C._SHARD_FILE_CACHE) == {paths[0], paths[2]}
    assert C._SHARD_FILE_CACHE_BYTES == 2 * size
    # cached entries answer correctly after eviction churn
    assert C._load_shard_file(paths[0]).contains("url-0")
    C._SHARD_FILE_CACHE.clear()
    C._SHARD_FILE_CACHE_BYTES = 0


def test_cuckoo_full_rolls_back_no_false_negatives():
    """CuckooFull must leave the filter VALID: every previously-inserted
    key still present (the eviction chain is rolled back, not abandoned
    mid-swap), the failed key absent, and the sequential and bulk paths
    byte-identical after the failure — so a caller can catch, grow or
    rebuild, and retry without a corrupted seen-set."""

    # sequential path: insert one at a time until the filter fails
    f_seq = CuckooFilter(100)
    ok = []
    i = 0
    failed_key = None
    while failed_key is None:
        k = f"http://h.test/p/{i}"
        try:
            if f_seq.add(k):
                ok.append(k)
        except CuckooFull:
            failed_key = k
        i += 1
    assert len(ok) > 100  # reached real load before failing
    for k in ok:
        assert f_seq.contains(k), "rolled-back filter lost an inserted key"
    # the failed key was not counted (contains() may still fp-collide
    # with a stored pair, so membership of the failed key is not checked)
    assert f_seq.n == len(ok)

    # bulk path on the same key sequence fails at the same pair with
    # byte-identical state (placement parity extends to the failure)
    f_blk = CuckooFilter(100)
    hh1, hh2 = hash128_batch(np.array(ok + [failed_key], dtype=object))
    with pytest.raises(CuckooFull):
        f_blk.add_many_hashed(hh1, hh2)
    assert f_blk.to_bytes() == f_seq.to_bytes()
    assert f_blk.n == f_seq.n
