"""The seen-set interface (operators/seen.py), once per filter family and
probe plan: committing a round's ``round_pass`` delta equals the
driver-side adds on the same urls, the probe plan reports those urls
inside a Spark task, and the snapshot blob restores byte-identically.
A small cuckoo derives the broadcast plan; the sharded case forces the
shard plan with the private floor."""

import numpy as np
import pytest

PARAMS = {"bloom_max_n": 5000, "bloom_p": 0.001, "bloom_count": 2,
          "cuckoo_shards": 4}
URLS = [f"http://h{i % 13}.test/p/{i}" for i in range(600)]


@pytest.mark.parametrize("kind,probe", [("bloom", "broadcast"),
                                        ("cuckoo", "broadcast"),
                                        ("cuckoo", "sharded")])
def test_seen_set_contract(spark, tmp_path, kind, probe):
    from delver_spark.engine.cuckoo import ShardedCuckoo
    from delver_spark.engine.rolling_bloom import RollingBloomFilter
    from delver_spark.operators.seen import from_blob, new_seen

    wd = str(tmp_path)
    seen = new_seen(kind, PARAMS, wd)
    assert (seen.kind, seen.probe) == (kind, "broadcast")
    if probe == "sharded":
        seen._sharded_floor = 0
    assert seen.probe == probe

    # round commit == driver-side adds
    rows = spark.createDataFrame([(u, None) for u in URLS],
                                 "url string, partition_id int")
    _, delta = seen.round_pass(rows, 2)
    seen.commit(delta, len(URLS),
                lambda: pytest.fail("no rotation boundary in this round"))
    if kind == "bloom":
        ref = RollingBloomFilter(2, 5000, 0.001)
        for u in URLS:
            ref.add(u)
    else:
        ref = ShardedCuckoo.empty(4, 5000)
        ref.add_many_canonical(np.array(URLS, dtype=object))
    assert seen.to_bytes() == ref.to_bytes()
    assert seen.n == len(URLS)

    # the probe plan, colocated and loaded in the tasks, reports them
    def hits(it):
        import pyarrow as pa

        from delver_spark.engine.murmur import (hash128_batch_buf,
                                                string_buf_views)
        loaded = probe_plan.load()
        for rb in it:
            if rb.num_rows:
                h1, h2 = hash128_batch_buf(*string_buf_views(rb.column(0)))
                yield pa.RecordBatch.from_arrays(
                    [pa.array(loaded.contains_batch_hashed(h1, h2))], names=["hit"])

    probe_plan = seen.open_probe(spark.sparkContext)
    try:
        urls_df = spark.createDataFrame([(u,) for u in URLS], "url string")
        got = probe_plan.colocate(urls_df, 2) \
            .mapInArrow(hits, "hit boolean").toArrow()
    finally:
        probe_plan.release()
    assert got.num_rows == len(URLS)
    assert all(got.column("hit").to_pylist())

    # snapshot → restore is byte-identical and derives the plan anew
    blob = seen.to_bytes()
    back = from_blob(blob, PARAMS, wd)
    assert (back.kind, back.probe) == (kind, "broadcast")
    assert back.to_bytes() == blob


def test_single_generation_blob_keeps_its_geometry(tmp_path):
    """A pre-rolling snapshot blob (one plain ``BloomFilter``, no RBF1
    magic) restored under other sizing params keeps its own header's
    ``max_n`` and ``p``: the next round's delta commits into it and the
    probe then reports every url, equal to the plain filter's own
    adds."""
    from delver_spark.engine.bloom import BloomFilter
    from delver_spark.engine.murmur import hash128_batch
    from delver_spark.operators.seen import from_blob

    gen0 = BloomFilter(1000, 0.01)
    gen0.add_many(URLS[:100])
    seen = from_blob(gen0.to_bytes(), PARAMS, str(tmp_path))
    fresh = URLS[100:200]
    seen.commit(seen.delta(*hash128_batch(np.array(fresh, dtype=object))),
                len(fresh), lambda: [fresh])
    assert (seen.bloom.max_n, seen.bloom.p) == (1000, 0.01)
    assert seen.bloom.contains_batch_hashed(
        *hash128_batch(np.array(URLS[:200], dtype=object))).all()
    gen0.add_many(fresh)
    assert seen.bloom.gen0.to_bytes() == gen0.to_bytes()
    assert seen.bloom.bloom_count == PARAMS["bloom_count"]


def test_probe_plan_follows_shard_cache_budget(tmp_path, monkeypatch):
    """The cuckoo takes the shard plan exactly when its bucket bytes
    exceed the per-worker shard-cache budget."""
    from delver_spark.operators.seen import new_seen

    seen = new_seen("cuckoo", PARAMS, str(tmp_path))
    nbytes = sum(f.buckets.nbytes for f in seen.cuckoo.filters)
    monkeypatch.setenv("DELVER_SHARD_CACHE_BYTES", str(nbytes))
    assert seen.probe == "broadcast"
    monkeypatch.setenv("DELVER_SHARD_CACHE_BYTES", str(nbytes - 1))
    assert seen.probe == "sharded"


def test_first_shard_sync_deletes_dead_runs_files(tmp_path):
    """A second cuckoo seen-set on one workdir (a resumed engine) deletes
    the first one's shard files and a crashed write's ``.tmp`` at its
    first sync; keep-last-2 then leaves only its own two generations."""
    import os

    from delver_spark.operators.seen import new_seen

    def sync_three_times(seen):
        for i in range(3):
            # 100 new urls dirty all 4 shards, so every sync supersedes
            seen.cuckoo.add_many_canonical(
                np.array(URLS[i * 100:(i + 1) * 100], dtype=object))
            seen._sync_shard_files()

    first = new_seen("cuckoo", PARAMS, str(tmp_path))
    sync_three_times(first)
    shard_dir = first._shard_dir
    open(os.path.join(shard_dir, "shard00000_v000003_deadbeef.bin.tmp"),
         "wb").close()
    second = new_seen("cuckoo", PARAMS, str(tmp_path))
    sync_three_times(second)

    names = os.listdir(shard_dir)
    assert all(second._run_tag in n for n in names), names
    assert {n.split("_")[1] for n in names} == {"v000001", "v000002"}
    assert len(names) == 2 * second.cuckoo.shards
