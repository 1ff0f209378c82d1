"""Cuckoo seen-set crawl mode ≡ oracle: crawl order, filter bytes,
lineage — plus the recrawl story (readmit → refetch) the rolling bloom
cannot express, and checkpoint/resume of the cuckoo snapshot.

The cuckoo-mode semantics are DEFINED in oracle/crawler.py (round-
snapshot probe, round-END canonical commit); these tests pin the
distributed engine to that spec the same way test_crawl_spark.py pins
the bloom mode. Equality here is bit-for-bit BY CONSTRUCTION (canonical
per-shard insert order), not fp-luck."""

import numpy as np
import pytest

from delver_spark.oracle.crawler import run_oracle


@pytest.fixture(scope="module")
def cuckoo_oracle(unit_corpus):
    return run_oracle(unit_corpus, seen_filter="cuckoo")


@pytest.fixture(scope="module")
def cuckoo_engine(spark, unit_corpus, tmp_path_factory):
    from delver_spark.operators.crawl import CrawlEngine

    wd = str(tmp_path_factory.mktemp("crawl_ckw"))
    eng = CrawlEngine(spark, unit_corpus, wd, seen_filter="cuckoo")
    eng.run()
    return eng


def _order_tuples_oracle(res):
    return [(r["seq"], r["url_canon"], r["depth"], r["round"], r["host"],
             r["success"]) for r in res.crawl_order]


def _order_tuples_engine(eng):
    df = eng.crawl_order_df()
    return list(df[["seq", "url_canon", "depth", "round", "host", "success"]]
                .itertuples(index=False, name=None))


def test_crawl_order_exact_match(cuckoo_oracle, cuckoo_engine):
    assert _order_tuples_engine(cuckoo_engine) == \
        _order_tuples_oracle(cuckoo_oracle)


def test_cuckoo_filter_bit_for_bit(cuckoo_oracle, cuckoo_engine):
    assert cuckoo_engine.cuckoo.to_bytes() == cuckoo_oracle.cuckoo.to_bytes()
    assert cuckoo_engine.cuckoo.n == cuckoo_oracle.cuckoo.n > 0


def test_lineage_counters_match(cuckoo_oracle, cuckoo_engine):
    ol = [(r["round"], r["partition"], r["fetched"], r["deduped"],
           r["enqueued"], r["stashed"]) for r in cuckoo_oracle.lineage]
    df = cuckoo_engine.lineage_df()
    sl = list(df[["round", "partition", "fetched", "deduped", "enqueued",
                  "stashed"]].itertuples(index=False, name=None))
    assert ol == sl


def test_cuckoo_mode_matches_bloom_mode_order(unit_corpus, cuckoo_oracle):
    """On this fixture neither filter fires a false positive, so the two
    seen-set modes must produce the SAME crawl order (both are exact
    sets plus fp noise; deterministic fixture ⇒ deterministic check)."""
    bloom_res = run_oracle(unit_corpus)
    assert _order_tuples_oracle(cuckoo_oracle) == \
        _order_tuples_oracle(bloom_res)


def test_readmit_recrawl_matches_oracle(spark, tmp_path_factory):
    """The deletion story end to end: crawl to exhaustion, readmit a few
    fetched urls, run again — both sides refetch exactly those urls (the
    snapshot probe now misses them) and the filters stay bit-equal."""
    from delver_spark.fixtures.gen import generate_corpus
    from delver_spark.oracle.crawler import OracleCrawler, load_corpus
    from delver_spark.operators.crawl import CrawlEngine

    # a SMALL SINGLE-HOST corpus with a high round cap ⇒ the first run
    # ends on true frontier EXHAUSTION (multi-host corpora ping-pong
    # forever: refill republishes stashed cross-domain urls with no
    # seen-check — faithful dfs_basic quirk — and the refetched pages
    # re-stash each other), so the readmitted rows are the whole queue
    # of the second run (with a leftover backlog they'd merely be
    # fetched behind it — readmit rows carry the current enqueue_round,
    # they don't jump the FIFO)
    corp = str(tmp_path_factory.mktemp("corpus_ck_readmit"))
    generate_corpus(corp, n_pages=60, n_hosts=1, seed=23, max_rounds=40)
    pages, robots, seeds, params = load_corpus(corp)
    oc = OracleCrawler(
        pages, robots, seeds, max_depth=params["max_depth"],
        per_host_budget=params["per_host_budget"],
        global_budget=params["global_budget"],
        max_rounds=40, bloom_max_n=params["bloom_max_n"],
        bloom_p=params["bloom_p"], seen_filter="cuckoo")
    first = oc.run()
    n_first = len(first.crawl_order)
    assert n_first > 6
    assert first.rounds < 40, "fixture must end on exhaustion"

    wd = str(tmp_path_factory.mktemp("crawl_ck_readmit"))
    eng = CrawlEngine(spark, corp, wd, seen_filter="cuckoo")
    eng.run()

    # readmit 3 fetched urls (same order on both sides)
    victims = [r["url_canon"] for r in first.crawl_order[:6:2]]
    assert oc.readmit(victims) == 3
    assert eng.readmit(victims) == 3
    for v in victims:
        assert not oc.cuckoo.contains(v)
        assert not eng.cuckoo.contains(v)

    res2 = oc.run()
    eng.run()

    new_oracle = _order_tuples_oracle(res2)[n_first:]
    new_engine = _order_tuples_engine(eng)[n_first:]
    assert new_oracle == new_engine
    refetched = {t[1] for t in new_oracle}
    assert set(victims) <= refetched
    assert eng.cuckoo.to_bytes() == oc.cuckoo.to_bytes()


def test_checkpoint_resume_restores_cuckoo(spark, unit_corpus,
                                           tmp_path_factory):
    from delver_spark.operators.crawl import CrawlEngine

    wd = str(tmp_path_factory.mktemp("crawl_ck_resume"))
    eng = CrawlEngine(spark, unit_corpus, wd, seen_filter="cuckoo")
    eng.run()
    blob = eng.cuckoo.to_bytes()

    eng2 = CrawlEngine.resume(spark, unit_corpus, wd)
    assert eng2.seen_filter == "cuckoo"
    assert eng2.cuckoo.to_bytes() == blob


def test_news_mode_cuckoo_matches_oracle(spark, tmp_path_factory):
    """News admission marks ONLY admitted urls — the cuckoo insert set
    must honor that too."""
    from delver_spark.fixtures.gen import generate_corpus
    from delver_spark.operators.crawl import CrawlEngine

    d = str(tmp_path_factory.mktemp("corpus_news_ck"))
    generate_corpus(d, n_pages=200, n_hosts=10, seed=13, max_rounds=8,
                    path_style="news")
    oracle = run_oracle(d, mode="news", seen_filter="cuckoo")
    wd = str(tmp_path_factory.mktemp("crawl_news_ck"))
    eng = CrawlEngine(spark, d, wd, mode="news", seen_filter="cuckoo")
    eng.run()
    assert _order_tuples_engine(eng) == _order_tuples_oracle(oracle)
    assert eng.cuckoo.to_bytes() == oracle.cuckoo.to_bytes()
    assert eng.cuckoo.n == oracle.cuckoo.n > 0


def test_big_g_path_cuckoo_matches_oracle(spark, tmp_path_factory):
    """The big-round plan, forced at unit scale by the engine's private
    floor — the cuckoo pairs job and canonical commit must stay
    bit-exact there too."""
    from delver_spark.fixtures.gen import generate_corpus
    from delver_spark.operators.crawl import CrawlEngine

    d = str(tmp_path_factory.mktemp("corpus_bigg_ck"))
    generate_corpus(d, n_pages=150, n_hosts=8, seed=11, max_rounds=5,
                    global_budget=20000, per_host_budget=50)
    oracle = run_oracle(d, seen_filter="cuckoo")
    wd = str(tmp_path_factory.mktemp("crawl_bigg_ck"))
    eng = CrawlEngine(spark, d, wd, seen_filter="cuckoo")
    eng._big_round_floor = 0
    eng.run()
    assert _order_tuples_engine(eng) == _order_tuples_oracle(oracle)
    assert eng.cuckoo.to_bytes() == oracle.cuckoo.to_bytes()


def test_canonical_commit_equals_pairs_commit():
    """ShardedCuckoo.add_many_canonical (oracle, strings) and
    add_pairs_canonical (engine, derived rows) must be bit-identical on
    the same url set — the cross-form determinism the crawl equality
    rides on."""
    from delver_spark.engine.cuckoo import ShardedCuckoo, _derive, shard_of
    from delver_spark.engine.murmur import hash128_batch

    urls = np.array([f"http://h{i % 7}.test/p/{i}" for i in range(5000)],
                    dtype=object)
    a = ShardedCuckoo.empty(4, 6000)
    a.add_many_canonical(urls)
    b = ShardedCuckoo.empty(4, 6000)
    h1, h2 = hash128_batch(urls)
    i1, fp = _derive(h1, h2, b.filters[0].m)
    # int64 round-trip like the spark job's long columns
    b.add_pairs_canonical(shard_of(h2, 4).view(np.int64),
                          i1.view(np.int64), fp.view(np.int64))
    assert a.to_bytes() == b.to_bytes()


def test_readmit_df_equals_list(spark, tmp_path_factory):
    """Distributed readmit_df (urls as a DataFrame; strings never
    collected) ≡ list readmit in its defined order (ascending unsigned
    (h1, h2)): filter bytes, frontier delta, and the subsequent run's
    crawl order all match. Garbage urls drop; duplicate urls enqueue
    twice but delete once (idempotent-insert filter)."""
    from delver_spark.engine.murmur import hash128_batch
    from delver_spark.fixtures.gen import generate_corpus
    from delver_spark.operators.crawl import CrawlEngine

    corp = str(tmp_path_factory.mktemp("corpus_ck_rdf"))
    generate_corpus(corp, n_pages=60, n_hosts=1, seed=23, max_rounds=40)
    engines = []
    for tag in ("a", "b"):
        wd = str(tmp_path_factory.mktemp(f"crawl_ck_rdf_{tag}"))
        e = CrawlEngine(spark, corp, wd, seen_filter="cuckoo")
        e.run()
        engines.append(e)
    e1, e2 = engines
    assert e1.cuckoo.to_bytes() == e2.cuckoo.to_bytes()

    victims = [t[1] for t in _order_tuples_engine(e1)[:8:2]]
    victims.append(victims[0])  # duplicate: enqueues twice, deletes once

    h1, h2 = hash128_batch(np.array(victims, dtype=object))
    order = np.lexsort((h2, h1))  # unsigned (h1, h2) — the defined order
    assert e1.readmit([victims[i] for i in order]) == len(victims)

    df = spark.createDataFrame(
        [(u,) for u in reversed(victims)] + [("not a url",), ("",)],
        "url string").repartition(5)
    assert e2.readmit_df(df) == len(victims)

    assert e1.cuckoo.to_bytes() == e2.cuckoo.to_bytes()
    assert e1.cuckoo.n == e2.cuckoo.n

    e1.run()
    e2.run()
    o1, o2 = _order_tuples_engine(e1), _order_tuples_engine(e2)
    assert o1 == o2
    assert {t[1] for t in o1} >= set(victims)


def test_forget_df_expiry(spark, cuckoo_engine, cuckoo_oracle):
    """forget_df deletes without re-enqueue: the filter drops exactly
    the forgotten urls' entries (bit-equal to sequential deletes on the
    oracle's filter), membership flips to False, never-inserted urls
    no-op, and the frontier gains no rows."""
    eng = cuckoo_engine
    victims = [t[1] for t in _order_tuples_engine(eng)[:6:2]]
    expect = eng.cuckoo.copy()
    for v in victims:
        assert expect.delete(v)

    fc_before = eng.frontier_count
    df = spark.createDataFrame(
        [(u,) for u in victims] + [("http://never.test/x",), ("",)],
        "url string")
    n = eng.forget_df(df)
    assert n == len(victims)
    assert eng.cuckoo.to_bytes() == expect.to_bytes()
    assert not any(eng.cuckoo.contains(v) for v in victims)
    assert eng.frontier_count == fc_before

    # restore MEMBERSHIP for the module-scoped fixture. Slot layout may
    # differ from the original, so tests BELOW this one (pytest runs file
    # order) must not read cuckoo_engine.cuckoo bytes — build their own
    # engines instead (all current ones do; keep it that way)
    eng.cuckoo.add_many_canonical(victims)


def test_readmit_before_first_run_seeds_first(spark, tmp_path_factory):
    """readmit/readmit_df before the first run() must not be orphaned
    by seed(): both sides seed first (seeds keep the first seqs), then
    enqueue the readmits, and the crawls stay equal."""
    from delver_spark.fixtures.gen import generate_corpus
    from delver_spark.oracle.crawler import OracleCrawler, load_corpus
    from delver_spark.operators.crawl import CrawlEngine

    corp = str(tmp_path_factory.mktemp("corpus_ck_pre"))
    generate_corpus(corp, n_pages=60, n_hosts=1, seed=23, max_rounds=40)
    pages, robots, seeds, params = load_corpus(corp)
    oc = OracleCrawler(
        pages, robots, seeds, max_depth=params["max_depth"],
        per_host_budget=params["per_host_budget"],
        global_budget=params["global_budget"],
        max_rounds=40, bloom_max_n=params["bloom_max_n"],
        bloom_p=params["bloom_p"], seen_filter="cuckoo")
    extra = ["http://d000.test/p/000041", "http://d000.test/p/000007"]
    assert oc.readmit(extra) == 2
    res = oc.run()

    wd = str(tmp_path_factory.mktemp("crawl_ck_pre"))
    eng = CrawlEngine(spark, corp, wd, seen_filter="cuckoo")
    assert eng.readmit(extra) == 2
    eng.run()
    assert _order_tuples_engine(eng) == _order_tuples_oracle(res)
    assert eng.cuckoo.to_bytes() == oc.cuckoo.to_bytes()
    # the pre-run readmits must actually be in the crawl
    fetched = {t[1] for t in _order_tuples_oracle(res)}
    assert set(extra) <= fetched


def test_shard_file_probe_equals_in_memory(tmp_path):
    """ShardFileProbe (the shard plan's worker-side loader) must
    answer exactly like the in-memory ShardedCuckoo it was written from —
    present keys all hit, probe results identical on a mixed batch."""
    from delver_spark.engine.cuckoo import (ShardedCuckoo, ShardFileProbe,
                                            _SHARD_FILE_CACHE)
    from delver_spark.engine.murmur import hash128_batch

    ck = ShardedCuckoo.empty(shards=8, capacity=50_000)
    present = np.array([f"http://h{i % 97}.test/p/{i}" for i in range(20_000)],
                       dtype=object)
    ck.add_many_canonical(present)
    assert ck.dirty == set(range(8))  # every shard touched at this volume

    manifest = {}
    for s, f in enumerate(ck.filters):
        p = tmp_path / f"shard{s}.bin"
        p.write_bytes(f.to_bytes())
        manifest[s] = str(p)
    probe = ShardFileProbe(8, manifest)

    absent = np.array([f"http://h{i % 97}.test/q/{i}" for i in range(20_000)],
                      dtype=object)
    mixed = np.concatenate([present, absent])
    h1, h2 = hash128_batch(mixed)
    got = probe.contains_batch_hashed(h1, h2)
    want = ck.contains_batch_hashed(h1, h2)
    assert (got == want).all()
    assert got[:len(present)].all()  # no false negatives, per contract
    assert _SHARD_FILE_CACHE  # blobs were cached for task reuse


def test_sharded_probe_crawl_equals_oracle(spark, unit_corpus,
                                           tmp_path_factory, cuckoo_oracle):
    """The shard plan is performance-only: the file-backed shard
    probe must reproduce the broadcast-probe crawl bit-for-bit (order,
    lineage, filter bytes), and the per-round sync must be INCREMENTAL —
    only dirty shards get new blob files after round 0."""
    import os

    from delver_spark.operators.crawl import CrawlEngine

    wd = str(tmp_path_factory.mktemp("crawl_ck_sharded"))
    eng = CrawlEngine(spark, unit_corpus, wd, seen_filter="cuckoo")
    eng.seen._sharded_floor = 0
    eng._big_round_floor = 0  # the shard probe is a big-round plan
    eng.run()

    assert _order_tuples_engine(eng) == _order_tuples_oracle(cuckoo_oracle)
    assert eng.cuckoo.to_bytes() == cuckoo_oracle.cuckoo.to_bytes()
    ol = [(r["round"], r["partition"], r["fetched"], r["deduped"],
           r["enqueued"], r["stashed"]) for r in cuckoo_oracle.lineage]
    df = eng.lineage_df()
    assert ol == list(df[["round", "partition", "fetched", "deduped",
                          "enqueued", "stashed"]]
                      .itertuples(index=False, name=None))

    # the manifest covers every shard with existing immutable files, and
    # round 0's sync wrote all of them
    assert eng.seen._sync_n >= 1
    assert set(eng.seen._manifest) == set(range(eng.cuckoo.shards))
    for p in eng.seen._manifest.values():
        assert os.path.exists(p)
    assert len(os.listdir(eng.seen._shard_dir)) >= eng.cuckoo.shards

    # incremental-sync pin: the final round's commit left a dirty set;
    # a sync must rewrite EXACTLY those shards (new versioned paths) and
    # leave every clean shard's manifest entry untouched
    dirty = set(eng.cuckoo.dirty)
    assert dirty  # the last commit inserted something
    m0 = dict(eng.seen._manifest)
    eng.seen._sync_shard_files()
    changed = {s for s in m0 if eng.seen._manifest[s] != m0[s]}
    assert changed == dirty
    assert not eng.cuckoo.dirty


def test_sharded_probe_survives_resume(spark, tmp_path_factory):
    """A resumed shard-plan crawl starts from an unsynced shard
    manifest, writes every shard file from the restored filter under
    fresh names, and still matches the oracle end to end."""
    import os

    from delver_spark.fixtures.gen import generate_corpus
    from delver_spark.operators.crawl import CrawlEngine

    corp = str(tmp_path_factory.mktemp("corpus_ck_shres"))
    generate_corpus(corp, n_pages=150, n_hosts=6, seed=42, max_rounds=6)
    oracle = run_oracle(corp, seen_filter="cuckoo")

    wd = str(tmp_path_factory.mktemp("crawl_ck_shres"))
    e1 = CrawlEngine(spark, corp, wd, seen_filter="cuckoo")
    e1.seen._sharded_floor = 0
    e1._big_round_floor = 0  # the shard probe is a big-round plan
    e1.run(max_rounds=2)  # commits, then "dies"
    e2 = CrawlEngine.resume(spark, corp, wd)
    # a few-KB filter is far below the shard-cache budget
    assert e2.seen_probe == "broadcast"
    e2.seen._sharded_floor = 0
    e2._big_round_floor = 0
    assert e2.seen_probe == "sharded"
    assert e2.seen._manifest is None  # fresh engine: first round re-syncs
    e2.run()
    assert e2.seen._sync_n >= 1  # the sharded path actually ran
    # the first sync deleted the dead run's shard files
    assert all(e2.seen._run_tag in n for n in os.listdir(e2.seen._shard_dir))
    assert _order_tuples_engine(e2) == _order_tuples_oracle(oracle)
    assert e2.cuckoo.to_bytes() == oracle.cuckoo.to_bytes()


def test_sharded_probe_news_mode_equals_oracle(spark, tmp_path_factory):
    """News-mode admission (no marker rows, single-winner rule) through
    the shard-routed probe must stay bit-exact too."""
    from delver_spark.fixtures.gen import generate_corpus
    from delver_spark.operators.crawl import CrawlEngine

    d = str(tmp_path_factory.mktemp("corpus_news_ck_sh"))
    generate_corpus(d, n_pages=200, n_hosts=10, seed=13, max_rounds=8,
                    path_style="news")
    oracle = run_oracle(d, mode="news", seen_filter="cuckoo")
    wd = str(tmp_path_factory.mktemp("crawl_news_ck_sh"))
    eng = CrawlEngine(spark, d, wd, mode="news", seen_filter="cuckoo")
    eng.seen._sharded_floor = 0
    eng._big_round_floor = 0  # the shard probe is a big-round plan
    eng.run()
    assert _order_tuples_engine(eng) == _order_tuples_oracle(oracle)
    assert eng.cuckoo.to_bytes() == oracle.cuckoo.to_bytes()
    assert eng.cuckoo.n == oracle.cuckoo.n > 0


@pytest.mark.parametrize("plan", ["broadcast", "sharded"])
def test_small_round_opens_no_probe(spark, unit_corpus, tmp_path,
                                    monkeypatch, plan):
    """A small round probes the driver's filter: it broadcasts no filter
    and, under the shard plan, writes no shard files."""
    from pyspark import SparkContext

    from delver_spark.operators.crawl import CrawlEngine

    eng = CrawlEngine(spark, unit_corpus, str(tmp_path),
                      seen_filter="cuckoo")
    if plan == "sharded":
        eng.seen._sharded_floor = 0
    assert eng.seen_probe == plan
    eng.seed()
    assert eng.run_round()
    blobs = []
    real = SparkContext.broadcast

    def spy(self, value):
        if isinstance(value, bytes):
            blobs.append(value[:5])
        return real(self, value)

    monkeypatch.setattr(SparkContext, "broadcast", spy)
    sync_n = eng.seen._sync_n
    assert eng.run_round()
    assert blobs == []
    assert eng.seen._sync_n == sync_n == 0


def test_sharded_probe_big_g_equals_oracle(spark, tmp_path_factory):
    """The big-round plan, forced at unit scale by the engine's private
    floor — the sharded probe must stay bit-exact on that leg as well."""
    from delver_spark.fixtures.gen import generate_corpus
    from delver_spark.operators.crawl import CrawlEngine

    d = str(tmp_path_factory.mktemp("corpus_bigg_ck_sh"))
    generate_corpus(d, n_pages=150, n_hosts=8, seed=11, max_rounds=5,
                    global_budget=20000, per_host_budget=50)
    oracle = run_oracle(d, seen_filter="cuckoo")
    wd = str(tmp_path_factory.mktemp("crawl_bigg_ck_sh"))
    eng = CrawlEngine(spark, d, wd, seen_filter="cuckoo")
    eng.seen._sharded_floor = 0
    eng._big_round_floor = 0
    eng.run()
    assert _order_tuples_engine(eng) == _order_tuples_oracle(oracle)
    assert eng.cuckoo.to_bytes() == oracle.cuckoo.to_bytes()


@pytest.mark.parametrize("call", ["readmit", "readmit_df", "forget_df"])
def test_caller_errors_raise_value_error(spark, unit_corpus, tmp_path,
                                         call):
    """Caller errors are ValueErrors, not asserts (``python -O`` strips
    those): the recrawl/expiry calls need a seen-set that can delete, so
    a bloom engine refuses them before seeding anything."""
    from delver_spark.operators.crawl import CrawlEngine

    eng = CrawlEngine(spark, unit_corpus, str(tmp_path))
    urls = ["http://d000.test/p/000001"]
    arg = urls if call == "readmit" \
        else spark.createDataFrame([(u,) for u in urls], "url string")
    with pytest.raises(ValueError):
        getattr(eng, call)(arg)
    assert eng.frontier is None  # refused before seed()
