"""Spark engine ≡ Python oracle: crawl order, bloom bitmap, lineage
(the BASELINE.json north_rule correctness contract), plus resume."""

import os

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from delver_spark.oracle.crawler import run_oracle


@pytest.fixture(scope="module")
def oracle_result(unit_corpus):
    return run_oracle(unit_corpus)


@pytest.fixture(scope="module")
def engine_run(spark, unit_corpus, tmp_path_factory):
    """The engine after a full crawl of the unit corpus, and what
    ``run()`` returned."""
    from delver_spark.operators.crawl import CrawlEngine

    wd = str(tmp_path_factory.mktemp("crawl_wd"))
    eng = CrawlEngine(spark, unit_corpus, wd)
    return eng, eng.run()


@pytest.fixture(scope="module")
def engine_result(engine_run):
    return engine_run[0]


def _order_tuples_oracle(res):
    return [(r["seq"], r["url_canon"], r["depth"], r["round"], r["host"],
             r["success"]) for r in res.crawl_order]


def _order_tuples_engine(eng):
    df = eng.crawl_order_df()
    return list(df[["seq", "url_canon", "depth", "round", "host", "success"]]
                .itertuples(index=False, name=None))


def _lineage_tuples(rows):
    return [tuple(r[k] for k in ("round", "partition", "fetched", "deduped",
                                 "enqueued", "stashed")) for r in rows]


def _spy_dequeue_plans(monkeypatch, crawl):
    """Record, per engine dequeue, whether it took the distributed rank
    (the big-round plan passes seq_hint); a driver-state dequeue, the
    Arrow kernel, is always a small round."""
    hints = []
    real, real_arrow = crawl.dequeue, crawl.dequeue_arrow

    def spy(*args, **kwargs):
        hints.append(kwargs.get("seq_hint") is not None)
        return real(*args, **kwargs)

    def spy_arrow(*args, **kwargs):
        hints.append(False)
        return real_arrow(*args, **kwargs)

    monkeypatch.setattr(crawl, "dequeue", spy)
    monkeypatch.setattr(crawl, "dequeue_arrow", spy_arrow)
    return hints


def _on_driver(eng):
    """True while the engine's frontier is the driver Arrow table."""
    return isinstance(eng.frontier, pa.Table)


def _frontier_rows(eng):
    """The live frontier's real row count, in either representation."""
    return eng.frontier.num_rows if _on_driver(eng) \
        else eng._frontier_view().count()


def _spark_written(part_dir):
    """A part dir written by Spark (the big-round plan), not flushed
    from the driver buffer."""
    names = os.listdir(part_dir)
    return "_SUCCESS" in names and "part.parquet" not in names


def test_crawl_order_exact_match(oracle_result, engine_result):
    assert _order_tuples_engine(engine_result) == _order_tuples_oracle(oracle_result)


def test_seen_set_bit_for_bit(oracle_result, engine_result):
    assert np.array_equal(oracle_result.bloom.bit_positions(),
                          engine_result.bloom.bit_positions())
    assert oracle_result.bloom.n == engine_result.bloom.n


def test_run_stats_count_set_bloom_bits(engine_run):
    eng, stats = engine_run
    assert stats["bloom_bits"] == len(eng.bloom.bit_positions())
    assert stats["seen_n"] == eng.bloom.n


def test_lineage_counters_match(oracle_result, engine_result):
    ol = [(r["round"], r["partition"], r["fetched"], r["deduped"],
           r["enqueued"], r["stashed"]) for r in oracle_result.lineage]
    df = engine_result.lineage_df()
    sl = list(df[["round", "partition", "fetched", "deduped", "enqueued",
                  "stashed"]].itertuples(index=False, name=None))
    assert ol == sl


def test_payload_invariant_all_rows(engine_result):
    """BASELINE.json input_hint per-row invariant: decoded-pixel allclose
    (ppm), PSNR >= 40 dB (qjpg, vs golden pixels), phash equality."""
    docs = engine_result.documents_df()
    assert len(docs) > 0
    assert docs["payload_ok"].all()
    assert docs["phash_ok"].all()
    qjpg_psnr = docs["psnr"].dropna()
    assert len(qjpg_psnr) > 0 and (qjpg_psnr >= 40.0).all()


def test_big_g_path_matches_oracle(spark, tmp_path_factory, monkeypatch):
    """The big-round plan (distributed dequeue rank, broadcast-keys
    fetch, per-round Spark-written artifacts), forced at unit scale by
    the engine's private floor — must stay bit-exact."""
    from delver_spark.fixtures.gen import generate_corpus
    from delver_spark.operators import crawl
    from delver_spark.operators.crawl import CrawlEngine

    d = str(tmp_path_factory.mktemp("corpus_bigg"))
    generate_corpus(d, n_pages=150, n_hosts=8, seed=11, max_rounds=5,
                    global_budget=20000, per_host_budget=50)
    oracle = run_oracle(d)
    wd = str(tmp_path_factory.mktemp("crawl_bigg"))
    eng = CrawlEngine(spark, d, wd)
    eng._big_round_floor = 0
    hints = _spy_dequeue_plans(monkeypatch, crawl)
    eng.run()
    # the big plan ran every round: the distributed rank, and the
    # order artifact written by Spark (no driver-buffer part)
    assert len(hints) >= eng.round > 0 and all(hints)
    parts = eng.store.part_dirs("crawl_order", eng.round)
    assert parts and all(_spark_written(p) for p in parts)
    assert _order_tuples_engine(eng) == _order_tuples_oracle(oracle)
    assert np.array_equal(oracle.bloom.bit_positions(),
                          eng.bloom.bit_positions())


def test_big_g_admission_url_groups_span_arrow_batches(spark, tmp_path_factory):
    """Regression: the fused admission pass must see each shuffle
    partition as ONE frame. With the default 10k-row Arrow batch a
    partition arrives in one piece at test scale, hiding a bug where
    per-batch min-page selection admits the same url from two different
    pages (a double-fetch at real scale). Force 16-row batches so url
    groups straddle batch boundaries."""
    from delver_spark.fixtures.gen import generate_corpus
    from delver_spark.operators.crawl import CrawlEngine

    d = str(tmp_path_factory.mktemp("corpus_bigg_small_arrow"))
    generate_corpus(d, n_pages=150, n_hosts=8, seed=11, max_rounds=5,
                    global_budget=20000, per_host_budget=50)
    oracle = run_oracle(d)
    wd = str(tmp_path_factory.mktemp("crawl_bigg_small_arrow"))
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "16")
    try:
        eng = CrawlEngine(spark, d, wd)
        eng._big_round_floor = 0  # the big-round plan every round
        eng.run()
    finally:
        spark.conf.set(key, old)
    assert _order_tuples_engine(eng) == _order_tuples_oracle(oracle)
    assert np.array_equal(oracle.bloom.bit_positions(),
                          eng.bloom.bit_positions())


def test_mor_compaction_every_round_stays_exact(spark, tmp_path_factory):
    """The frontier's merge-on-read state (tombstones + deltas) compacts
    into a new base when tombstones exceed the floor. Force compaction
    EVERY round (floor=1) on a big-G corpus whose per-host budget
    actually binds, under the big-round plan — results must stay
    bit-identical to the oracle."""
    from delver_spark.fixtures.gen import generate_corpus
    from delver_spark.operators.crawl import CrawlEngine

    d = str(tmp_path_factory.mktemp("corpus_compact"))
    generate_corpus(d, n_pages=150, n_hosts=8, seed=29, max_rounds=6,
                    global_budget=20000, per_host_budget=3)
    oracle = run_oracle(d)
    wd = str(tmp_path_factory.mktemp("crawl_compact"))
    eng = CrawlEngine(spark, d, wd)
    eng._compact_floor = 1
    eng._big_round_floor = 0
    eng.run()
    assert _order_tuples_engine(eng) == _order_tuples_oracle(oracle)
    assert np.array_equal(oracle.bloom.bit_positions(),
                          eng.bloom.bit_positions())


def test_tombstone_literal_cap_falls_back_to_anti_join(
        spark, unit_corpus, oracle_result, tmp_path, monkeypatch):
    """A small round over a Spark-resident frontier filters the
    tombstones as one NOT IN literal while they number at most
    BIG_ROUND_FLOOR; past it the frontier view falls back to the
    broadcast anti-join. Lowered to 60 rows here. The round floor is G,
    so every round is small and the frontier is Spark-resident from the
    round that takes it past G rows: both forms filter its tombstones,
    ``frontier_count`` equals the live row count after each round, and
    the crawl equals the oracle."""
    from delver_spark.operators import crawl
    from delver_spark.operators.crawl import CrawlEngine

    monkeypatch.setattr(crawl, "BIG_ROUND_FLOOR", 60)
    eng = CrawlEngine(spark, unit_corpus, str(tmp_path))
    eng._big_round_floor = eng.G
    hints = _spy_dequeue_plans(monkeypatch, crawl)
    eng.seed()
    literal = []
    while eng.round < eng.max_rounds and eng.run_round():
        if not _on_driver(eng) and eng._tomb_count:
            literal.append(eng._tomb_seqs is not None)
        assert eng.frontier_count == _frontier_rows(eng)
    eng.checkpoint()
    assert not any(hints)
    assert True in literal and False in literal, literal
    assert _order_tuples_engine(eng) == _order_tuples_oracle(oracle_result)
    assert np.array_equal(oracle_result.bloom.bit_positions(),
                          eng.bloom.bit_positions())


def test_resume_equals_uninterrupted(spark, unit_corpus, tmp_path_factory,
                                     oracle_result, monkeypatch):
    """Kill after round k, resume from snapshot → identical final state
    (SURVEY §5.2-3; BASELINE.json 'resume exactly from checkpoints').
    Both runs checkpoint every round — ``run`` commits each round once —
    and each commit keeps only its own and the previous commit's
    frontier, url_store and seen-set state. Resume builds no empty
    seen-set: the snapshot's is the only one."""
    from delver_spark.operators import crawl
    from delver_spark.operators.crawl import CrawlEngine
    from delver_spark.sources.snapshot import SnapshotStore

    wd = str(tmp_path_factory.mktemp("crawl_resume"))
    eng1 = CrawlEngine(spark, unit_corpus, wd)
    commits = []
    real_commit = SnapshotStore.commit

    def commit(self, manifest):
        commits.append(manifest["round"])
        real_commit(self, manifest)

    monkeypatch.setattr(SnapshotStore, "commit", commit)
    # commits snapshots at rounds 1-3, then "dies"
    eng1.run(max_rounds=3, checkpoint_every=1)
    assert commits == [1, 2, 3]

    new_seen_calls = []
    real_new_seen = crawl.new_seen

    def counting_new_seen(*args):
        new_seen_calls.append(args)
        return real_new_seen(*args)

    monkeypatch.setattr(crawl, "new_seen", counting_new_seen)
    eng2 = CrawlEngine.resume(spark, unit_corpus, wd)
    assert eng2.round == 3
    eng2.run(checkpoint_every=1)
    assert new_seen_calls == []
    assert eng2.round >= 5

    want = _order_tuples_oracle(oracle_result)
    got = _order_tuples_engine(eng2)
    assert got == want
    assert np.array_equal(oracle_result.bloom.bit_positions(),
                          eng2.bloom.bit_positions())
    for name in ("frontier", "url_store", "bloom"):
        assert len(os.listdir(os.path.join(wd, name))) <= 2, name


class _Killed(Exception):
    """A checkpoint killed before its manifest rename."""


def _halve(path):
    """Truncate the file at ``path``, or every file under it, to half its
    bytes: a write that stopped halfway."""
    files = [os.path.join(r, f) for r, _, fs in os.walk(path) for f in fs] \
        if os.path.isdir(path) else [path]
    for f in files:
        os.truncate(f, os.path.getsize(f) // 2)


def _inject_kill(monkeypatch, wd, target):
    """Make the checkpoint's write of ``target`` under workdir ``wd``
    stop halfway and raise: the frontier or url_store dir (Spark's
    write, then every file halved; a driver frontier table's pyarrow
    file, halved), the seen-set blob (half its bytes written) or a part
    flush (the driver buffer's file, halved). Returns the list the
    fault appends its path to when it fires."""
    import pyarrow.parquet as pq
    from pyspark.sql.readwriter import DataFrameWriter

    from delver_spark.sources import snapshot

    fired = []
    under = os.path.join(wd, "bloom" if target == "seen_blob" else target) \
        + os.sep

    def kill(path):
        _halve(path)
        fired.append(path)
        raise _Killed(path)

    if target in ("frontier", "url_store"):
        real = DataFrameWriter.parquet

        def parquet(self, path, *args, **kwargs):
            real(self, path, *args, **kwargs)
            if path.startswith(under):
                kill(path)

        monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    if target in ("frontier", "part"):
        real_write = pq.write_table

        def write_table(table, where, *args, **kwargs):
            real_write(table, where, *args, **kwargs)
            part = os.path.basename(os.path.dirname(where)) \
                .startswith("round_")
            if part if target == "part" else where.startswith(under):
                kill(where)

        monkeypatch.setattr(pq, "write_table", write_table)
    if target == "seen_blob":
        class HalfWriter:
            def __init__(self, f, path):
                self.f, self.path = f, path

            def __enter__(self):
                return self

            def __exit__(self, *exc):
                self.f.close()

            def write(self, data):
                self.f.write(data[:len(data) // 2])
                self.f.close()
                fired.append(self.path)
                raise _Killed(self.path)

        def half_open(path, mode="r", *args, **kwargs):
            f = open(path, mode, *args, **kwargs)
            if "w" in mode and path.startswith(under):
                return HalfWriter(f, path)
            return f

        monkeypatch.setattr(snapshot, "open", half_open, raising=False)
    return fired


@pytest.fixture(scope="module")
def committed_crawl(spark, unit_corpus, tmp_path_factory):
    """A crawl of 6 rounds, each committed by ``run(checkpoint_every=1)``,
    then committed once more (a second commit of round 6). Returns the
    workdir, each commit's manifest, the number ``run`` made, and the
    state paths each commit wrote: a Spark write's dir, a pyarrow
    write's file and its dir (a driver frontier table is written by
    pyarrow), a blob's file."""
    import pyarrow.parquet as pq
    from pyspark.sql.readwriter import DataFrameWriter

    from delver_spark.operators.crawl import CrawlEngine
    from delver_spark.sources import snapshot

    wd = str(tmp_path_factory.mktemp("crawl_committed"))
    manifests, written = [], [[]]
    mp = pytest.MonkeyPatch()
    real_parquet, real_write = DataFrameWriter.parquet, snapshot.write_atomic
    real_commit = snapshot.SnapshotStore.commit
    real_table = pq.write_table

    def parquet(self, path, *args, **kwargs):
        written[-1].append(path)
        return real_parquet(self, path, *args, **kwargs)

    def write_table(table, where, *args, **kwargs):
        written[-1] += [where, os.path.dirname(where)]
        return real_table(table, where, *args, **kwargs)

    def write_atomic(path, data):
        written[-1].append(path)
        return real_write(path, data)

    def commit(self, manifest):
        manifests.append(manifest)
        written.append([])
        return real_commit(self, manifest)

    mp.setattr(DataFrameWriter, "parquet", parquet)
    mp.setattr(pq, "write_table", write_table)
    mp.setattr(snapshot, "write_atomic", write_atomic)
    mp.setattr(snapshot.SnapshotStore, "commit", commit)
    try:
        eng = CrawlEngine(spark, unit_corpus, wd)
        eng.run(max_rounds=6, checkpoint_every=1)
        n_run = len(manifests)
        eng.checkpoint()
    finally:
        mp.undo()
    return wd, manifests, n_run, written[:-1]


def test_commits_write_fresh_state_paths(committed_crawl):
    """``run`` commits each round once, and no commit writes a path an
    earlier manifest references — a second commit of round 6 included:
    each commit's frontier, url_store and seen-set blob go to paths
    named by its own commit number."""
    wd, manifests, n_run, written = committed_crawl
    assert n_run == 6
    assert [m["round"] for m in manifests] == [1, 2, 3, 4, 5, 6, 6]
    assert [m["commit"] for m in manifests] == list(range(7))
    for i, m in enumerate(manifests):
        refs = {p for e in manifests[:i]
                for p in (e["frontier_dir"], e["url_store_dir"])}
        assert {m["frontier_dir"], m["url_store_dir"]} <= set(written[i])
        assert not refs & set(written[i]), i
    blobs = [p for w in written for p in w
             if p.startswith(os.path.join(wd, "bloom", ""))]
    assert len(blobs) == len(set(blobs)) == 7


@pytest.mark.parametrize("when,target", [
    ("fresh", "frontier"), ("fresh", "url_store"), ("fresh", "seen_blob"),
    ("fresh", "part"), ("recommit", "frontier"), ("recommit", "url_store"),
    ("recommit", "seen_blob")])
def test_checkpoint_killed_at_each_write_resumes_exactly(
        spark, unit_corpus, oracle_result, engine_result, committed_crawl,
        tmp_path, monkeypatch, when, target):
    """A checkpoint that dies at any of its writes before the manifest
    rename — the frontier dir, the url_store dir, the seen-set blob, a
    part flush — leaves the last commit intact: resume continues from
    it and the crawl ends equal to the uninterrupted one and the oracle.
    ``fresh`` kills the commit of round 7; ``recommit`` kills a second
    commit of the committed round 6 (it flushes no part)."""
    import shutil

    from delver_spark.operators.crawl import CrawlEngine

    wd = str(tmp_path / "wd")
    shutil.copytree(committed_crawl[0], wd)
    eng = CrawlEngine.resume(spark, unit_corpus, wd)
    if when == "fresh":
        assert eng.run_round()
    fired = _inject_kill(monkeypatch, wd, target)
    with pytest.raises(_Killed):
        eng.checkpoint()
    assert fired
    monkeypatch.undo()

    eng2 = CrawlEngine.resume(spark, unit_corpus, wd)
    assert eng2.round == 6
    eng2.run()
    assert _order_tuples_engine(eng2) == _order_tuples_oracle(oracle_result)
    assert _order_tuples_engine(eng2) == _order_tuples_engine(engine_result)
    assert eng2.bloom.to_bytes() == engine_result.bloom.to_bytes()
    assert np.array_equal(oracle_result.bloom.bit_positions(),
                          eng2.bloom.bit_positions())
    got = _lineage_tuples(eng2.lineage_df().to_dict("records"))
    assert got == _lineage_tuples(oracle_result.lineage)


def test_resume_replays_engine_options(spark, unit_corpus,
                                       tmp_path_factory):
    """Resume constructs the engine from the snapshot's ``engine`` record:
    an ``n_partitions=4`` crawl resumed without options equals the
    uninterrupted ``n_partitions=4`` crawl in order, lineage and seen-set
    bytes, and a resume option that contradicts the snapshot raises."""
    from delver_spark.operators.crawl import CrawlEngine

    ref = CrawlEngine(spark, unit_corpus,
                      str(tmp_path_factory.mktemp("crawl_np4")),
                      n_partitions=4)
    ref.run(max_rounds=3)

    wd = str(tmp_path_factory.mktemp("crawl_np4_resume"))
    CrawlEngine(spark, unit_corpus, wd, n_partitions=4).run(max_rounds=1)
    with pytest.raises(ValueError, match="n_partitions"):
        CrawlEngine.resume(spark, unit_corpus, wd, n_partitions=8)
    eng = CrawlEngine.resume(spark, unit_corpus, wd)
    eng.run(max_rounds=3)

    assert _order_tuples_engine(eng) == _order_tuples_engine(ref)
    got = _lineage_tuples(eng.lineage_df().to_dict("records"))
    assert got == _lineage_tuples(ref.lineage_df().to_dict("records"))
    assert {r[0] for r in got} == {0, 1, 2}
    assert {r[1] for r in got} <= set(range(4))
    assert eng.bloom.to_bytes() == ref.bloom.to_bytes()


def test_resume_from_single_generation_blob(spark, unit_corpus,
                                            tmp_path_factory, oracle_result):
    """A pre-rolling snapshot holds one plain BloomFilter blob (no RBF1
    magic): resume makes it generation 0 of a rolling bloom sized from
    the corpus params, and the crawl still ends equal to the oracle."""
    from delver_spark.operators.crawl import CrawlEngine

    wd = str(tmp_path_factory.mktemp("crawl_resume_legacy"))
    eng1 = CrawlEngine(spark, unit_corpus, wd)
    eng1.run(max_rounds=3)
    assert len(eng1.bloom.blooms) == 1  # so the legacy blob is lossless
    gen0 = eng1.bloom.gen0.to_bytes()
    eng1.store.save_bloom(eng1.store.last_manifest()["commit"], gen0)

    eng2 = CrawlEngine.resume(spark, unit_corpus, wd)
    assert eng2.seen_filter == "bloom"
    assert [b.to_bytes() for b in eng2.bloom.blooms] == [gen0]
    assert eng2.bloom.bloom_count == eng2.params.get("bloom_count", 1)
    eng2.run()
    assert _order_tuples_engine(eng2) == _order_tuples_oracle(oracle_result)
    assert np.array_equal(oracle_result.bloom.bit_positions(),
                          eng2.bloom.bit_positions())


def test_host_budget_overrides_match_oracle(spark, tmp_path_factory):
    """Crawl-delay politeness in the round loop: per-host dequeue-budget
    overrides (incl. a 0 = fully blocked host) are SEMANTIC, so both
    engine and oracle take the same map and the full order/bloom/lineage
    equality must hold — and the blocked host must never be fetched."""
    from delver_spark.fixtures.gen import generate_corpus
    from delver_spark.operators.crawl import CrawlEngine

    d = str(tmp_path_factory.mktemp("corpus_hb"))
    generate_corpus(d, n_pages=200, n_hosts=8, seed=17, max_rounds=6)
    budgets = {"d001.test": 1, "d002.test": 0, "www.d000.test": 2}
    oracle = run_oracle(d, host_budgets=budgets)
    base = run_oracle(d)
    # non-vacuity: the overrides must actually change the crawl
    assert _order_tuples_oracle(oracle) != _order_tuples_oracle(base)
    assert not any(r["host"] == "d002.test" for r in oracle.crawl_order)

    wd = str(tmp_path_factory.mktemp("crawl_hb"))
    eng = CrawlEngine(spark, d, wd, host_budgets=budgets)
    eng.run()
    assert _order_tuples_engine(eng) == _order_tuples_oracle(oracle)
    assert np.array_equal(oracle.bloom.bit_positions(),
                          eng.bloom.bit_positions())
    ol = [(r["round"], r["partition"], r["fetched"], r["deduped"],
           r["enqueued"], r["stashed"]) for r in oracle.lineage]
    df = eng.lineage_df()
    assert ol == list(df[["round", "partition", "fetched", "deduped",
                          "enqueued", "stashed"]]
                      .itertuples(index=False, name=None))


def test_host_budgets_survive_resume(spark, tmp_path_factory):
    """host_budgets is SEMANTIC, so resume must restore it from the
    manifest — a resumed crawl with forgotten budgets would silently
    revert to the uniform B and diverge from the oracle."""
    from delver_spark.fixtures.gen import generate_corpus
    from delver_spark.operators.crawl import CrawlEngine

    d = str(tmp_path_factory.mktemp("corpus_hbr"))
    generate_corpus(d, n_pages=200, n_hosts=8, seed=17, max_rounds=6)
    budgets = {"d001.test": 1, "d002.test": 0}
    oracle = run_oracle(d, host_budgets=budgets)

    wd = str(tmp_path_factory.mktemp("crawl_hbr"))
    eng1 = CrawlEngine(spark, d, wd, host_budgets=budgets)
    eng1.run(max_rounds=3)  # commits, then "dies"
    eng2 = CrawlEngine.resume(spark, d, wd)
    assert eng2.host_budgets == budgets
    eng2.run()
    assert _order_tuples_engine(eng2) == _order_tuples_oracle(oracle)


def test_small_g_round_job_budget(spark, unit_corpus, tmp_path_factory):
    """The frontier of the unit crawl stays a driver Arrow table, so
    the seed launches no Spark job and neither does a steady small-G dfs
    round, rounds 1-4: the dequeue is the driver kernel, the fetch one
    pyarrow read, the extract runs in the driver process and the round
    finishes there; the url_store's stash unions are local relations.
    The corpus has golden pixels: they ride the dequeued keys, read with
    pyarrow too. A checkpoint launches at most one, the url_store's
    write (pyarrow writes the frontier). A resume launches none: the
    engine construction reads no table, the committed url_store is a
    lazy read and the frontier is read with pyarrow. Jobs are counted
    from the status tracker, ungrouped — a thread pool's threads do not
    inherit a job group, so a group tag would miss their jobs."""
    from delver_spark.operators.crawl import CrawlEngine

    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()

    def jobs_of(call):
        before = set(st.getJobIdsForGroup(None))
        out = call()
        return out, len(set(st.getJobIdsForGroup(None)) - before)

    wd = str(tmp_path_factory.mktemp("crawl_jobs"))
    eng = CrawlEngine(spark, unit_corpus, wd)
    _, n = jobs_of(eng.seed)
    assert n == 0
    assert eng.run_round()  # round 0 compiles the round's code paths
    jobs = []
    for _ in range(4):
        ok, n = jobs_of(eng.run_round)
        assert ok and _on_driver(eng)
        jobs.append(n)
    assert jobs == [0, 0, 0, 0], jobs
    _, n = jobs_of(eng.checkpoint)
    assert _on_driver(eng) and n <= 1
    resumed, n = jobs_of(lambda: CrawlEngine.resume(spark, unit_corpus, wd))
    assert resumed.round == 5 and _on_driver(resumed)
    assert n == 0


def test_big_g_small_round_job_budget(spark, tmp_path_factory,
                                      monkeypatch):
    """A G=20000 engine whose frontier holds a few dozen urls plans each
    round by that bound, not by G: a steady round takes the small-round
    plan over the driver frontier table and launches no Spark job, the
    budget of test_small_g_round_job_budget (the big-round plan launches
    ~16)."""
    from delver_spark.fixtures.gen import generate_corpus
    from delver_spark.operators import crawl
    from delver_spark.operators.crawl import CrawlEngine

    d = str(tmp_path_factory.mktemp("corpus_bigg_jobs"))
    generate_corpus(d, n_pages=150, n_hosts=8, seed=11, max_rounds=5,
                    global_budget=20000, per_host_budget=50)
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    eng = CrawlEngine(spark, d, str(tmp_path_factory.mktemp("crawl_bj")))
    hints = _spy_dequeue_plans(monkeypatch, crawl)
    eng.seed()
    assert eng.run_round()  # round 0 compiles the round's code paths
    before = set(st.getJobIdsForGroup(None))
    assert eng.run_round()
    jobs = set(st.getJobIdsForGroup(None)) - before
    assert hints == [False, False] and _on_driver(eng)
    assert len(jobs) == 0, sorted(jobs)


@pytest.fixture(scope="module")
def mixed_plan_corpus(tmp_path_factory):
    """G=20000; the bloom crawl's round bounds over its 8 rounds are 10,
    48, 67, 58, 32 (a refill), 5, 20 (a refill) and 1. No golden pixels,
    so a big round fetches through the direct payload scan."""
    from delver_spark.fixtures.gen import generate_corpus

    d = str(tmp_path_factory.mktemp("corpus_mixed_plan"))
    generate_corpus(d, n_pages=200, n_hosts=12, seed=7, max_rounds=8,
                    global_budget=20000, per_host_budget=50,
                    golden_pixel_cap=0)
    return d


@pytest.mark.parametrize("seen_filter", ["bloom", "cuckoo"])
def test_mixed_plan_crawl_matches_oracle(spark, mixed_plan_corpus,
                                         tmp_path, monkeypatch,
                                         seen_filter):
    """A floor of 40 rows makes the crawl switch plans as its frontier
    grows and drains: small, big, big, big, then small rounds. It also
    switches the frontier's representation (``states``: D a driver
    table, S Spark, after the seed, then after each round and after its
    checkpoint): the seeds are a driver table, the append that takes it
    past 40 rows folds it into Spark, and a checkpoint at or below 40
    rows brings it back to the driver. Crawl order, lineage and
    seen-set bytes equal the oracle's, and the driver's
    ``frontier_count`` (which picks the plan) equals the frontier's
    real row count after every round. Round 5 is killed once: it runs
    on a driver table, the crawl dies before its checkpoint, and the
    resumed engine reads the committed frontier back as a driver table
    and runs it again. bloom: dfs with documents, checkpointed every
    round, so every artifact table holds parts of both layouts and
    reads in one ``spark.read.parquet``; cuckoo: ``readmit_df`` after
    round 3 (on a Spark frontier), checkpoints after round 1 (the first
    big round: its Spark parts and round 0's buffered rows share the
    part dir of snapshot round 2), round 4 and at the end."""
    from delver_spark.engine.murmur import hash128_batch
    from delver_spark.oracle.crawler import OracleCrawler, load_corpus
    from delver_spark.operators import crawl
    from delver_spark.operators.crawl import CrawlEngine
    from delver_spark.sources import payload_scan

    d = mixed_plan_corpus
    rounds, readmit_after, killed = 8, 3, 5
    states_want = {"bloom": "D SS SS SS SD DD DD DD DD",
                   "cuckoo": "D S SS S S SD D D D"}[seen_filter]
    pages, robots, seeds, p = load_corpus(d)
    oc = OracleCrawler(
        pages, robots, seeds, max_depth=p["max_depth"],
        per_host_budget=p["per_host_budget"],
        global_budget=p["global_budget"], max_rounds=rounds,
        bloom_max_n=p["bloom_max_n"], bloom_p=p["bloom_p"],
        seen_filter=seen_filter)
    victims = []
    if seen_filter == "cuckoo":
        oc.max_rounds = readmit_after
        first = oc.run()
        victims = [r["url_canon"] for r in first.crawl_order[1:12:3]]
        h1, h2 = hash128_batch(np.array(victims, dtype=object))
        oc.readmit([victims[i] for i in np.lexsort((h2, h1))])
        oc.max_rounds = rounds
    oracle = oc.run()

    hints = _spy_dequeue_plans(monkeypatch, crawl)
    direct = []
    real_direct = payload_scan.fetch_extract_direct

    def spy_direct(*args, **kwargs):
        direct.append(1)
        return real_direct(*args, **kwargs)

    monkeypatch.setattr(payload_scan, "fetch_extract_direct", spy_direct)
    eng = CrawlEngine(spark, d, str(tmp_path), seen_filter=seen_filter)
    eng._big_round_floor = 40
    eng.seed()

    def state():
        return "D" if _on_driver(eng) else "S"

    states = [state()]
    for r in range(rounds):
        if r == readmit_after and victims:
            df = spark.createDataFrame([(u,) for u in victims], "url string")
            assert not _on_driver(eng)
            assert eng.readmit_df(df) == len(victims)
            assert eng.frontier_count == _frontier_rows(eng)
        if r == killed:
            assert _on_driver(eng) and eng.run_round()
            eng = CrawlEngine.resume(spark, d, str(tmp_path))
            eng._big_round_floor = 40
            assert eng.round == r and _on_driver(eng)
        if not eng.run_round():
            break
        states.append(state())
        assert eng.frontier_count == _frontier_rows(eng), r
        if seen_filter == "bloom" or r in (1, 4):
            eng.checkpoint()
            states[-1] += state()
    eng.checkpoint()

    assert " ".join(states) == states_want
    assert True in hints and False in hints[hints.index(True):], hints
    assert len(direct) == sum(hints) > 0
    assert _order_tuples_engine(eng) == _order_tuples_oracle(oracle)
    assert _lineage_tuples(eng.lineage_df().to_dict("records")) == \
        _lineage_tuples(oracle.lineage)
    if seen_filter == "cuckoo":
        assert eng.cuckoo.to_bytes() == oracle.cuckoo.to_bytes()
        mixed = eng.store.state_dir("crawl_order", 2)
        assert {"_SUCCESS", "part.parquet"} <= set(os.listdir(mixed))
        return
    assert np.array_equal(oracle.bloom.bit_positions(),
                          eng.bloom.bit_positions())
    assert eng.bloom.n == oracle.bloom.n
    n_docs = sum(r["success"] for r in oracle.crawl_order)
    for name, n in (("crawl_order", len(oracle.crawl_order)),
                    ("documents", n_docs)):
        parts = eng.store.part_dirs(name, eng.round)
        assert {_spark_written(p) for p in parts} == {True, False}, name
        assert spark.read.parquet(*parts).count() == n, name


def _jvm_outlink_domain(host_col):
    """GetSLDAndTLD (util/util.go:92-101) as a JVM column expression:
    last two dot-tokens, single token as-is — the JVM form of
    ``urlnorm.sld_tld`` the admission gates ran before
    ``extract.link_gates``, kept as the kernel's reference."""
    from pyspark.sql import functions as F

    toks = F.split(host_col, "\\.")
    return F.when(F.size(toks) <= 1, host_col) \
        .otherwise(F.array_join(F.slice(toks, -2, 2), "."))


def _jvm_page_links(news: bool, max_depth: int) -> dict:
    """The admission gates as JVM higher-order filters over
    ``outlinks`` of an extract frame, the reference for
    ``extract.link_gates``: ``{name: Column}``. Failed pages and NULL
    outlinks give NULL; a NULL domain on either side fails both gates.
    News takes the path with ``parse_url``, NULL read as ''."""
    from pyspark.sql import functions as F

    from delver_spark.functions.news import NEWS_MAX_DEPTH, news_url_allowed

    ok = F.col("success")
    if news:
        def allowed(link):
            path = F.coalesce(F.parse_url(link["url"], F.lit("PATH")),
                              F.lit(""))
            return news_url_allowed(path, link["host"], F.col("host"))

        return {"same_links": F.when(
            ok & (F.col("depth") < NEWS_MAX_DEPTH),
            F.filter("outlinks", allowed))}
    linked = F.transform("outlinks", lambda link: link.withField(
        "domain", _jvm_outlink_domain(link["host"])))
    return {
        "same_links": F.when(
            ok & (F.col("depth") < max_depth),
            F.filter("outlinks", lambda link:
                     _jvm_outlink_domain(link["host"]) == F.col("domain"))),
        "stash_links": F.when(ok, F.filter(
            linked, lambda link: link["domain"] != F.col("domain")))}


def _extract_rows(pages):
    """Extract-frame rows (EXTRACT_SCHEMA dicts) of ``pages``: (pos,
    depth, host, partition_id, success, outlinks, quarantined), the
    domain derived from the host as the extractor does."""
    from delver_spark.engine.urlnorm import sld_tld
    from delver_spark.operators.extract import EXTRACT_SCHEMA

    full = {f.name: None for f in EXTRACT_SCHEMA.fields}
    names = ["pos", "depth", "host", "partition_id", "success", "outlinks",
             "quarantined"]
    return [dict(full, **dict(zip(names, p)), url_canon=f"http://p{p[0]}/",
                 domain=sld_tld(p[2])) for p in pages]


def _kernel_links(rows, news: bool, max_depth: int) -> list:
    """``(same_links, stash_links)`` of each row as ``_extract`` emits
    them: the gate kernel on successful, unquarantined pages, else
    NULL."""
    from delver_spark.operators.extract import link_gates

    gate = link_gates(news, max_depth)
    return [gate([dict(zip(("link_pos", "url", "host"), link))
                  for link in r["outlinks"]] if r["outlinks"] is not None
                 else None, r["host"], r["domain"], r["depth"])
            if r["success"] and r["quarantined"] is None else (None, None)
            for r in rows]


def _as_tuples(links):
    if links is None:
        return None
    return [tuple(link.values()) if isinstance(link, dict) else tuple(link)
            for link in links]


def _jvm_links(spark, rows, news: bool, max_depth: int) -> list:
    """``(same_links, stash_links)`` of each row by the JVM reference."""
    from pyspark.sql import functions as F

    from delver_spark.operators.extract import EXTRACT_SCHEMA

    cols = _jvm_page_links(news, max_depth)
    got = {r["pos"]: r for r in spark.createDataFrame(rows, EXTRACT_SCHEMA)
           .select("pos", *[c.alias(n) for n, c in cols.items()]).collect()}
    return [tuple(_as_tuples(got[r["pos"]][n]) if n in cols else None
                  for n in ("same_links", "stash_links")) for r in rows]


def test_page_candidate_counts_equal_explode_groupby(spark):
    """The sizes of the extractor's gated link arrays
    (``extract.link_gates``), which the big round sums per partition
    for its lineage, equal the explode + groupBy counts of the gates
    applied after the explode, and the arrays equal the JVM gates'
    (``_jvm_page_links``), on pages that hit every branch: failed
    fetches (NULL and empty outlinks, and a failed page that still
    carries outlinks), quarantined rows (their outlinks NULL, as the
    extractor emits them), single-token hosts (the no-dot domain
    branch), NULL link hosts and pages at max_depth."""
    from pyspark.sql import functions as F

    from delver_spark.operators.extract import EXTRACT_SCHEMA

    max_depth = 2

    def links(*hosts):
        return [(i, f"http://{h}/p{i}" if h else "http://x/", h)
                for i, h in enumerate(hosts)]

    # (pos, depth, host, partition_id, success, outlinks, quarantined)
    rows = _extract_rows([
        (0, 0, "a.test", 0, True, links("a.test", "www.a.test", "b.test",
                                        "localhost"), None),
        (1, 1, "a.test", 0, True, links("sub.a.test", "c.test"), None),
        (2, 2, "a.test", 1, True, links("a.test", "b.test"), None),  # at max
        (3, 3, "b.test", 1, True, links("b.test"), None),  # past max
        (4, 0, "a.test", 1, False, None, None),  # failed, NULL outlinks
        (5, 0, "a.test", 4, False, [], None),  # failed, empty outlinks
        (6, 0, "a.test", 4, False, links("a.test", "b.test"), None),
        (7, 0, "a.test", 4, False, None, "ValueError: bad payload"),
        (8, 0, "a.test", 2, True, None, "ValueError: late"),
        (9, 0, "localhost", 3, True, links("localhost", "intranet",
                                           "a.test"), None),  # no dot
        (10, 1, "intranet", 3, True, links(None, "intranet"), None),
        (11, 0, "a.test", 3, True, [], None),  # success, no links
        (12, 0, "www.a.test", 2, True, links("a.test", "b.a.test"), None),
    ])
    got = _kernel_links(rows, False, max_depth)
    assert [tuple(map(_as_tuples, g)) for g in got] == \
        _jvm_links(spark, rows, False, max_depth)

    # the reference counts: one row per successful page's outlink, gated
    # after the explode
    extracted = spark.createDataFrame(rows, EXTRACT_SCHEMA)
    cands = (extracted.filter("success")
             .select("partition_id", F.col("depth").alias("page_depth"),
                     F.col("domain").alias("page_domain"),
                     F.explode("outlinks").alias("l"))
             .withColumn("domain", _jvm_outlink_domain(F.col("l.host"))))
    is_same = (F.col("domain") == F.col("page_domain")) \
        & (F.col("page_depth") < max_depth)
    is_stash = F.col("domain") != F.col("page_domain")
    want = {r["partition_id"]: (r["same_n"], r["stash_n"]) for r in
            cands.groupBy("partition_id").agg(
                F.sum(F.when(is_same, 1).otherwise(0)).alias("same_n"),
                F.sum(F.when(is_stash, 1).otherwise(0)).alias("stash_n"))
            .collect()}
    sizes: dict = {}
    for r, (same, stash) in zip(rows, got):
        n = sizes.setdefault(r["partition_id"], [0, 0])
        n[0] += len(same or [])
        n[1] += len(stash or [])
    # partition 4 holds only failed pages: no candidates, so no group
    assert sizes.pop(4) == [0, 0]
    assert {p: tuple(n) for p, n in sizes.items()} == want
    assert want == {0: (3, 3), 1: (0, 1), 2: (2, 0), 3: (2, 2)}


# hosts: 1-3 labels, so no-dot, empty-label and trailing-dot hosts occur
_HOSTS = st.lists(st.sampled_from(["a", "b", "www", "sub", "test", "x", ""]),
                  min_size=1, max_size=3).map(".".join)
# path segments that hit every news gate: article, blacklisted first
# tokens (as substrings too), long slugs, blacklisted extensions, ':'
# and '='
_SEGMENTS = st.sampled_from([
    "article", "article", "articles", "news", "tag", "stags", "img",
    "2024", "a-very-long-story-slug-here", "a-very-long-story-slug-here",
    "photo.jpg", "x.JPG", "doc.pdf", "a:b=c", "a:b", "q=1", ""])


@st.composite
def _outlink(draw, link_pos, page_host):
    """One outlink: a canonical-form url (a port and a query string
    sometimes; an empty path sometimes) or an opaque 'http:' url, whose
    ``parse_url`` PATH is NULL; on the page's host, a subdomain of it or
    another host; its ``host`` field the url's, the page's, another one
    or NULL."""
    from delver_spark.engine.urlnorm import host_of

    host = draw(st.sampled_from([page_host, "www." + page_host,
                                 draw(_HOSTS)]))
    path = "/".join(draw(st.lists(_SEGMENTS, max_size=4)))
    if draw(st.booleans()):
        url = f"http://{host or 'h'}{draw(st.sampled_from(['', ':8080']))}" \
            f"/{path}{draw(st.sampled_from(['', '?a=1:b', '?id=7']))}"
    else:
        url = f"http:{path or 'x'}"
    link_host = draw(st.sampled_from([host_of(url), page_host, None,
                                      draw(_HOSTS)]))
    return link_pos, url, link_host


@st.composite
def _pages(draw):
    """Extract-frame rows: successful, failed (NULL or some outlinks)
    and quarantined pages (NULL outlinks) at depths 0-3."""
    rows = []
    for pos in range(draw(st.integers(20, 60))):
        kind = draw(st.sampled_from(["ok", "ok", "ok", "failed",
                                     "quarantined"]))
        host = draw(_HOSTS)
        links = [draw(_outlink(i, host))
                 for i in range(draw(st.integers(0, 5)))]
        if kind == "quarantined" or draw(st.integers(0, 9)) == 0:
            links = None
        rows.append((pos, draw(st.sampled_from([0, 0, 1, 2, 3])), host,
                     pos % 3,
                     kind != "failed", links,
                     "ValueError: x" if kind == "quarantined" else None))
    return _extract_rows(rows)


@settings(max_examples=8, deadline=None)
@given(pages=_pages())
def test_dfs_link_gates_equal_jvm_gates(spark, pages):
    """dfs: the extractor's gate kernel equals the JVM gates per page,
    NULL arrays included."""
    got = _kernel_links(pages, False, 2)
    assert [tuple(map(_as_tuples, g)) for g in got] == \
        _jvm_links(spark, pages, False, 2)


@settings(max_examples=8, deadline=None)
@given(pages=_pages())
def test_news_link_gates_equal_jvm_gates(spark, pages):
    """news: the extractor's gate kernel equals the JVM gates per page,
    but for a link whose ``parse_url`` PATH is NULL (an opaque url): the
    JVM gates read its path as '' and reject it, the kernel reads it
    with ``urlnorm.path_of`` as the oracle does. Hosts compare without
    the port, as the oracle's ``host_of`` (``url_allowed_py`` compares
    ``netloc``: test_news_gate_differences_pinned)."""
    from delver_spark.engine.urlnorm import path_of
    from delver_spark.functions.news import path_allowed_py

    got = _kernel_links(pages, True, 0)
    jvm = _jvm_links(spark, pages, True, 0)
    for r, (same, stash), (ref, ref_stash) in zip(pages, got, jvm):
        assert stash is None and ref_stash is None
        if ref is not None:
            kept = {link[0] for link in ref}
            ref = [link for link in _as_tuples(r["outlinks"])
                   if link[0] in kept or link[1].startswith("http:")
                   and not link[1].startswith("http://")
                   and link[2] is not None and link[2] == r["host"]
                   and path_allowed_py(path_of(link[1]))]
        assert _as_tuples(same) == ref


def test_news_gate_differences_pinned(spark):
    """Where the news gate kernel and its neighbours differ, on purpose:
    a link with a port passes the kernel's host gate, as the JVM gates'
    and the oracle's (``host_of`` drops the port), while
    ``url_allowed_py`` compares ``netloc`` and rejects it; and a
    canonical url that ``java.net.URI`` rejects (a space in the path)
    passes the kernel, as the oracle's ``path_of`` gate, while the JVM
    gates' ``parse_url`` fails the job under ANSI mode (or, without it,
    reads a NULL path and rejects the link)."""
    from delver_spark.engine.urlnorm import canonicalize, host_of
    from delver_spark.functions.news import url_allowed_py

    story = "/article/" + "a-long-story-slug-for-the-test"
    ported = canonicalize("http://a.test:8080" + story)
    spaced = canonicalize("http://a.test" + story + " x")
    assert ported.endswith(story) and spaced.endswith(" x")
    rows = _extract_rows([
        (0, 0, "a.test", 0, True, [(0, ported, host_of(ported))], None),
        (1, 0, "a.test", 0, True, [(0, spaced, host_of(spaced))], None)])
    got = _kernel_links(rows, True, 0)
    assert [_as_tuples(same) for same, _ in got] == \
        [[(0, ported, "a.test")], [(0, spaced, "a.test")]]
    assert not url_allowed_py(ported, "http://a.test/")
    assert url_allowed_py(spaced, "http://a.test/")
    assert _jvm_links(spark, rows[:1], True, 0)[0][0] == \
        [(0, ported, "a.test")]
    if spark.conf.get("spark.sql.ansi.enabled") == "true":
        with pytest.raises(Exception, match="INVALID_URL"):
            _jvm_links(spark, rows[1:], True, 0)
    else:
        assert _jvm_links(spark, rows[1:], True, 0)[0][0] == []
