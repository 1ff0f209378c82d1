"""News-mode crawl engine ≡ oracle: the reference's second accumulator
type (news.go) run END-TO-END — admission with per-outlink robots,
bloom marking of admitted urls only, no stash/refill, maxDepth=1,
articles = depth>0 fetched pages."""

import numpy as np
import pyarrow as pa
import pytest

from delver_spark.oracle.crawler import run_oracle


@pytest.fixture(scope="module")
def news_corpus(tmp_path_factory):
    from delver_spark.fixtures.gen import generate_corpus

    d = str(tmp_path_factory.mktemp("corpus_news"))
    generate_corpus(d, n_pages=200, n_hosts=10, seed=13, max_rounds=8,
                    path_style="news")
    return d


@pytest.fixture(scope="module")
def news_oracle(news_corpus):
    return run_oracle(news_corpus, mode="news")


@pytest.fixture(scope="module")
def news_engine(spark, news_corpus, news_oracle, tmp_path_factory):
    from delver_spark.operators.crawl import CrawlEngine

    wd = str(tmp_path_factory.mktemp("crawl_news"))
    eng = CrawlEngine(spark, news_corpus, wd, mode="news")
    eng.run()
    return eng


def test_news_mode_is_nonvacuous(news_oracle):
    # admissions happened (depth-1 fetches in later rounds) and articles
    # were emitted; some candidates were seen-blocked too
    assert news_oracle.rounds >= 2
    assert any(r["depth"] == 1 for r in news_oracle.crawl_order)
    assert len(news_oracle.documents) > 0
    assert all(doc["depth"] > 0 for doc in news_oracle.documents)


def test_news_crawl_order_matches_oracle(news_oracle, news_engine):
    oo = [(r["seq"], r["url_canon"], r["depth"], r["round"], r["success"])
          for r in news_oracle.crawl_order]
    df = news_engine.crawl_order_df()
    so = list(df[["seq", "url_canon", "depth", "round", "success"]]
              .itertuples(index=False, name=None))
    assert so == oo


def test_news_bloom_matches_oracle(news_oracle, news_engine):
    assert np.array_equal(news_oracle.bloom.bit_positions(),
                          news_engine.bloom.bit_positions())
    assert news_oracle.bloom.n == news_engine.bloom.n


def test_news_lineage_matches_oracle(news_oracle, news_engine):
    ol = [(r["round"], r["partition"], r["fetched"], r["deduped"],
           r["enqueued"], r["stashed"]) for r in news_oracle.lineage]
    df = news_engine.lineage_df()
    sl = list(df[["round", "partition", "fetched", "deduped", "enqueued",
                  "stashed"]].itertuples(index=False, name=None))
    assert ol == sl


def test_news_articles_match_oracle(news_oracle, news_engine):
    docs = news_engine.documents_df()
    got = sorted(zip(docs["url_canon"], docs["round"]))
    want = sorted((d["url_canon"], d["round"]) for d in news_oracle.documents)
    assert got == want
    assert (docs["depth"] > 0).all()


def test_news_small_round_job_budget(spark, news_corpus, tmp_path):
    """The news twin of test_crawl_spark::test_small_g_round_job_budget:
    a steady small news round over the driver frontier table launches
    no Spark job. Its robots gate runs on the driver over the
    extractor's candidates, so no count job rides along either."""
    from delver_spark.operators.crawl import CrawlEngine

    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    eng = CrawlEngine(spark, news_corpus, str(tmp_path), mode="news")
    eng.seed()
    assert eng.run_round()  # round 0 compiles the round's code paths
    before = set(st.getJobIdsForGroup(None))
    assert eng.run_round()
    jobs = set(st.getJobIdsForGroup(None)) - before
    assert isinstance(eng.frontier, pa.Table)
    assert len(jobs) == 0, sorted(jobs)


def test_rss_feeds_news_pipeline(spark, news_corpus, tmp_path_factory):
    """S2 -> news integration: the RSS publisher's FetcherRequests
    (depth 1) seed the news engine's frontier; one round fetches them
    all as articles (processArticle) and proposes nothing (depth >=
    maxDepth), leaving the frontier empty — the reference news pipeline's
    steady state."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from delver_spark.operators.crawl import CrawlEngine
    from delver_spark.operators.frontier import FRONTIER_SCHEMA
    from delver_spark.sources.rss import rss_requests

    pages = pq.read_table(os.path.join(news_corpus, "pages.parquet"),
                          columns=["url_canon"]).to_pylist()
    items = [r["url_canon"] for r in pages[:12]]
    feed = ("<?xml version='1.0'?><rss><channel>"
            + "".join(f"<item><link>{u}</link></item>" for u in items)
            + "</channel></rss>")
    feeds = spark.createDataFrame([("http://feed.test/rss", feed)],
                                  "feed_url string, body string")
    reqs = rss_requests(feeds)
    assert reqs.count() == len(set(items))

    wd = str(tmp_path_factory.mktemp("crawl_rss_news"))
    eng = CrawlEngine(spark, news_corpus, wd, mode="news")
    # publish the RSS requests as the frontier (depth 1, request order)
    req_rows = reqs.collect()
    rows = [(0, 0, i, r["url"], r["host"], int(r["depth"]), r["origin"])
            for i, r in enumerate(req_rows)]
    eng.frontier = spark.createDataFrame(rows, FRONTIER_SCHEMA) \
        .localCheckpoint(eager=True)
    eng.frontier_count = len(rows)
    eng._base_count = len(rows)
    eng.seq = len(rows)
    eng.run()

    order = eng.crawl_order_df()
    assert sorted(order["url_canon"]) == sorted(set(items))
    assert eng.frontier_count == 0  # depth-1 pages propose nothing

    # full oracle equality with the same RSS-seeded frontier
    from delver_spark.oracle.crawler import OracleCrawler, load_corpus
    pages_o, robots_o, _, params = load_corpus(news_corpus)
    seeds = [(r["url"], 0, int(r["depth"]), r["origin"]) for r in req_rows]
    oc = OracleCrawler(
        pages_o, robots_o, seeds,
        max_depth=params["max_depth"],
        per_host_budget=params["per_host_budget"],
        global_budget=params["global_budget"],
        max_rounds=params["max_rounds"],
        bloom_max_n=params["bloom_max_n"], bloom_p=params["bloom_p"],
        bloom_count=params.get("bloom_count", 1), mode="news")
    res = oc.run()
    oo = [(r["seq"], r["url_canon"]) for r in res.crawl_order]
    so = list(zip(order["seq"], order["url_canon"]))
    assert so == oo
    assert np.array_equal(res.bloom.bit_positions(),
                          eng.bloom.bit_positions())
    # every successfully fetched request became an article
    docs = eng.documents_df()
    fetched_ok = set(order[order["success"]]["url_canon"])
    assert set(docs["url_canon"]) == fetched_ok


def test_news_big_g_path_matches_oracle(spark, tmp_path_factory):
    """News admission through the big-round plan (distributed dequeue
    rank, broadcast-keys fetch, per-round Spark-written order and
    document artifacts), forced at unit scale by the engine's private
    floor, must stay bit-exact too. A 150-page crawl never reaches the
    n_parts > 1 admission shuffle (2000 rows per partition)."""
    from delver_spark.fixtures.gen import generate_corpus
    from delver_spark.operators.crawl import CrawlEngine

    d = str(tmp_path_factory.mktemp("corpus_news_bigg"))
    generate_corpus(d, n_pages=150, n_hosts=8, seed=17, max_rounds=5,
                    global_budget=20000, per_host_budget=50,
                    path_style="news")
    oracle = run_oracle(d, mode="news")
    assert any(r["depth"] == 1 for r in oracle.crawl_order)
    wd = str(tmp_path_factory.mktemp("crawl_news_bigg"))
    eng = CrawlEngine(spark, d, wd, mode="news")
    eng._big_round_floor = 0
    eng.run()
    df = eng.crawl_order_df()
    so = list(zip(df["seq"], df["url_canon"]))
    oo = [(r["seq"], r["url_canon"]) for r in oracle.crawl_order]
    assert so == oo
    assert np.array_equal(oracle.bloom.bit_positions(),
                          eng.bloom.bit_positions())


def test_news_resume_equals_uninterrupted(spark, news_corpus, news_oracle,
                                          news_engine, tmp_path_factory):
    import pyarrow.parquet as pq

    from delver_spark.operators.crawl import CrawlEngine

    wd = str(tmp_path_factory.mktemp("crawl_news_resume"))
    eng1 = CrawlEngine(spark, news_corpus, wd, mode="news")
    eng1.run(max_rounds=1)
    eng2 = CrawlEngine.resume(spark, news_corpus, wd)
    assert eng2.mode == "news"  # restored from the snapshot manifest
    eng2.run()
    df = eng2.crawl_order_df()
    so = list(zip(df["seq"], df["url_canon"]))
    oo = [(r["seq"], r["url_canon"]) for r in news_oracle.crawl_order]
    assert so == oo
    # the resumed engine is a news engine throughout: its document parts
    # carry the uninterrupted run's columns (no dfs lineage columns)

    def doc_columns(eng):
        return {tuple(pq.read_table(p).column_names)
                for p in eng.store.part_dirs("documents", eng.round)}
    assert len(doc_columns(news_engine)) == 1
    assert doc_columns(eng2) == doc_columns(news_engine)


def test_news_rotation_and_poison_combined(spark, tmp_path_factory):
    """Stress pin: news mode + rolling-bloom rotation mid-crawl + one
    poison payload, all at once — engine must still match the oracle on
    order, quarantine, and every bloom generation."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from delver_spark.fixtures.gen import generate_corpus
    from delver_spark.operators.crawl import CrawlEngine

    d = str(tmp_path_factory.mktemp("corpus_news_stress"))
    # news mode inserts ONLY admitted urls, so the bloom must be tiny
    # for a rotation to fire within the crawl
    generate_corpus(d, n_pages=200, n_hosts=10, seed=13, max_rounds=8,
                    path_style="news", bloom_max_n=3, bloom_count=2)
    clean = run_oracle(d, mode="news")
    assert len(clean.bloom.blooms) > 1  # rotation actually fired
    victim = next((r["url_canon"] for r in clean.crawl_order
                   if r["round"] >= 1 and r["success"]), None)
    if victim is None:
        victim = next(r["url_canon"] for r in clean.crawl_order
                      if r["success"])
    pp = os.path.join(d, "pages.parquet")
    t = pq.read_table(pp)
    urls = t.column("url_canon").to_pylist()
    blobs = t.column("bytes").to_pylist()
    blobs[urls.index(victim)] = b"junk"
    cols = {n: t.column(n) for n in t.column_names}
    cols["bytes"] = pa.array(blobs, type=pa.binary())
    shutil.rmtree(pp) if os.path.isdir(pp) else os.remove(pp)
    pq.write_table(pa.table(cols), pp, row_group_size=2048)

    oracle = run_oracle(d, mode="news", poison_urls={victim})
    wd = str(tmp_path_factory.mktemp("crawl_news_stress"))
    eng = CrawlEngine(spark, d, wd, mode="news")
    eng.run()

    df = eng.crawl_order_df()
    so = list(zip(df["seq"], df["url_canon"]))
    oo = [(r["seq"], r["url_canon"]) for r in oracle.crawl_order]
    assert so == oo
    assert list(eng.quarantine_df()["url_canon"]) == \
        [q["url_canon"] for q in oracle.quarantine]
    assert len(eng.bloom.blooms) == len(oracle.bloom.blooms)
    for a, b in zip(eng.bloom.blooms, oracle.bloom.blooms):
        assert np.array_equal(a.bit_positions(), b.bit_positions())
        assert a.n == b.n
