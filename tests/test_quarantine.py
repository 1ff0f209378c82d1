"""DLQ / poison-row quarantine (VERDICT r1 #7, queue/file.go:167-204):
one corrupted payload must not kill the round — the row is quarantined
(url + error + round recorded) and the rest of the crawl matches the
oracle exactly, with no markVisited for the poisoned page."""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from delver_spark.oracle.crawler import run_oracle


@pytest.fixture(scope="module")
def poison_corpus(tmp_path_factory):
    from delver_spark.fixtures.gen import generate_corpus

    d = str(tmp_path_factory.mktemp("corpus_poison"))
    generate_corpus(d, n_pages=150, n_hosts=8, seed=11, max_rounds=5)
    clean = run_oracle(d)
    # poison a page that is actually fetched successfully after round 0
    victim = next(r["url_canon"] for r in clean.crawl_order
                  if r["round"] >= 1 and r["success"])
    pages_path = os.path.join(d, "pages.parquet")
    tbl = pq.read_table(pages_path)
    urls = tbl.column("url_canon").to_pylist()
    blobs = tbl.column("bytes").to_pylist()
    idx = urls.index(victim)
    blobs[idx] = b"\x00\x01garbage"  # undecodable payload
    cols = {name: tbl.column(name) for name in tbl.column_names}
    cols["bytes"] = pa.array(blobs, type=pa.binary())
    import shutil
    shutil.rmtree(pages_path) if os.path.isdir(pages_path) \
        else os.remove(pages_path)
    pq.write_table(pa.table(cols), pages_path, row_group_size=2048)
    return d, victim


def test_poison_row_is_quarantined_and_rest_matches_oracle(
        spark, poison_corpus, tmp_path_factory):
    from delver_spark.operators.crawl import CrawlEngine

    d, victim = poison_corpus
    oracle = run_oracle(d, poison_urls={victim})
    assert [q["url_canon"] for q in oracle.quarantine] == [victim]

    wd = str(tmp_path_factory.mktemp("crawl_poison"))
    eng = CrawlEngine(spark, d, wd)
    eng.run()

    q = eng.quarantine_df()
    assert list(q["url_canon"]) == [victim]
    assert len(q) == 1 and q["error"].iloc[0]  # error message recorded
    assert int(q["round"].iloc[0]) == oracle.quarantine[0]["round"]

    oo = [(r["seq"], r["url_canon"], r["round"], r["success"])
          for r in oracle.crawl_order]
    df = eng.crawl_order_df()
    so = list(df[["seq", "url_canon", "round", "success"]]
              .itertuples(index=False, name=None))
    assert so == oo
    # no markVisited for the poisoned page: bloom must equal the oracle's
    assert np.array_equal(oracle.bloom.bit_positions(),
                          eng.bloom.bit_positions())
    assert oracle.bloom.n == eng.bloom.n


def test_poison_changes_crawl_vs_clean(poison_corpus):
    """Non-vacuous: quarantining the page removes its outlinks from the
    frontier, so the crawl genuinely differs from the clean run."""
    d, victim = poison_corpus
    clean = run_oracle(d)  # no poison declared: oracle would extract it
    poisoned = run_oracle(d, poison_urls={victim})
    co = [(r["seq"], r["url_canon"]) for r in clean.crawl_order]
    po = [(r["seq"], r["url_canon"]) for r in poisoned.crawl_order]
    assert co != po


def test_poison_row_quarantined_on_big_g_distributed_path(
        spark, tmp_path_factory):
    """The big-round plan (forced at unit scale by the engine's private
    floor) writes the quarantine parquet per round with Spark instead of
    buffering — same oracle equality, artifact read back through
    quarantine_df."""
    import shutil

    from delver_spark.fixtures.gen import generate_corpus
    from delver_spark.operators.crawl import CrawlEngine

    d = str(tmp_path_factory.mktemp("corpus_poison_bigg"))
    generate_corpus(d, n_pages=150, n_hosts=8, seed=11, max_rounds=4,
                    global_budget=20000, per_host_budget=50)
    clean = run_oracle(d)
    victim = next(r["url_canon"] for r in clean.crawl_order
                  if r["round"] >= 1 and r["success"])
    pages_path = os.path.join(d, "pages.parquet")
    tbl = pq.read_table(pages_path)
    urls = tbl.column("url_canon").to_pylist()
    blobs = tbl.column("bytes").to_pylist()
    blobs[urls.index(victim)] = b"\xff\xfe"
    cols = {name: tbl.column(name) for name in tbl.column_names}
    cols["bytes"] = pa.array(blobs, type=pa.binary())
    shutil.rmtree(pages_path) if os.path.isdir(pages_path) \
        else os.remove(pages_path)
    pq.write_table(pa.table(cols), pages_path, row_group_size=2048)

    oracle = run_oracle(d, poison_urls={victim})
    wd = str(tmp_path_factory.mktemp("crawl_poison_bigg"))
    eng = CrawlEngine(spark, d, wd)
    eng._big_round_floor = 0
    eng.run()
    # the round wrote Spark parts: no driver-buffer part.parquet
    parts = eng.store.part_dirs("quarantine", eng.round)
    assert len(parts) == 1
    assert "_SUCCESS" in os.listdir(parts[0])
    assert "part.parquet" not in os.listdir(parts[0])
    q = eng.quarantine_df()
    assert list(q["url_canon"]) == [victim]
    oo = [(r["seq"], r["url_canon"]) for r in oracle.crawl_order]
    df = eng.crawl_order_df()
    so = list(zip(df["seq"], df["url_canon"]))
    assert so == oo
    assert np.array_equal(oracle.bloom.bit_positions(),
                          eng.bloom.bit_positions())


def _parquet_schemas(eng, name):
    """{Arrow schema} over every parquet file of a table's committed
    parts, key-value metadata dropped (pandas and Spark each add their
    own)."""
    out = set()
    for d in eng.store.part_dirs(name, eng.round):
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                out.add(pq.read_schema(os.path.join(d, f)).remove_metadata())
    return out


def test_artifact_schema_same_in_both_layouts(spark, poison_corpus,
                                              tmp_path):
    """The driver-buffer flush writes the Spark-written parts' schema
    (int32 depth/round, int32 sentiment, string quarantined) and the
    same rows, so a table whose rounds were written by both layouts
    reads in one ``spark.read.parquet``. The Spark-written layout is
    forced by the big-round plan (the engine's private floor at 0)."""
    import pandas as pd

    from delver_spark.operators.crawl import CrawlEngine

    d, victim = poison_corpus
    engines = {}
    for buffered in (True, False):
        eng = CrawlEngine(spark, d, str(tmp_path / str(buffered)))
        if not buffered:
            eng._big_round_floor = 0
        eng.run()
        engines[buffered] = eng
    for name, key in (("crawl_order", ["seq"]),
                      ("documents", ["round", "pos"]),
                      ("quarantine", ["round", "url_canon"])):
        got = {b: _parquet_schemas(e, name) for b, e in engines.items()}
        assert len(got[True]) == 1 and got[True] == got[False], (name, got)
        parts = {b: e.store.part_dirs(name, e.round)
                 for b, e in engines.items()}
        assert all(parts.values()), name
        rows = spark.read.parquet(*parts[True], *parts[False]).collect()
        assert len(rows) == sum(
            pq.read_metadata(os.path.join(p, f)).num_rows
            for ps in parts.values() for p in ps
            for f in os.listdir(p) if f.endswith(".parquet"))
        if name == "quarantine":
            assert [r["url_canon"] for r in rows] == [victim, victim]
        tables = {b: spark.read.parquet(*ps).toPandas().sort_values(key)
                  .reset_index(drop=True) for b, ps in parts.items()}
        assert len(tables[True]) > 0, name
        pd.testing.assert_frame_equal(tables[True], tables[False],
                                      obj=name)


def test_uncommitted_spark_parts_invisible_after_resume(spark, poison_corpus,
                                                        tmp_path):
    """Spark-written parts of a round that never committed stay
    invisible: checkpoint after round 0, run round 1 (the poisoned
    page's round) without a checkpoint, resume. Only round 0 shows in
    crawl_order_df, quarantine_df and the documents parts. The resumed
    crawl (default layout: the driver buffer) then re-runs round 1 and
    ends equal to the oracle, with nothing of the dead attempt left. The
    first engine writes Spark parts: the big-round plan, forced by the
    engine's private floor at 0."""
    from delver_spark.operators.crawl import CrawlEngine

    d, victim = poison_corpus
    oracle = run_oracle(d, poison_urls={victim})
    wd = str(tmp_path)
    eng = CrawlEngine(spark, d, wd)
    eng._big_round_floor = 0
    eng.seed()
    assert eng.run_round()
    eng.checkpoint()
    assert eng.run_round()  # dies before its checkpoint

    eng2 = CrawlEngine.resume(spark, d, wd)
    assert eng2.round == 1
    assert set(eng2.crawl_order_df()["round"]) == {0}
    assert eng2.quarantine_df().empty
    docs = [pq.read_table(p) for p in eng2.store.part_dirs("documents",
                                                           eng2.round)]
    assert docs and {r for t in docs
                     for r in t.column("round").to_pylist()} == {0}

    eng2.run()
    oo = [(r["seq"], r["url_canon"], r["round"], r["success"])
          for r in oracle.crawl_order]
    df = eng2.crawl_order_df()
    assert list(df[["seq", "url_canon", "round", "success"]]
                .itertuples(index=False, name=None)) == oo
    assert list(eng2.quarantine_df()["url_canon"]) == [victim]
    n_docs = sum(pq.read_metadata(os.path.join(p, f)).num_rows
                 for p in eng2.store.part_dirs("documents", eng2.round)
                 for f in os.listdir(p) if f.endswith(".parquet"))
    assert n_docs == sum(r["success"] and r["url_canon"] != victim
                         for r in oracle.crawl_order)
