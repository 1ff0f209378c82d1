"""Query compiler (§3.3) + Structured Streaming filter bank (§3.2/T2/T5):
batch-vs-stream equivalence on the same documents."""

import os

import pytest
from pyspark.sql import functions as F

from delver_spark.plans.query import (
    Aggregator,
    CompositeFilterQuery,
    FilterParams,
    MetricFilterQuery,
    search_composite,
    search_metric,
)
from delver_spark.streaming.stream import (
    DOC_STREAM_SCHEMA,
    document_stream,
    run_to_memory,
    stream_composite_filter,
    stream_windowed_agg,
)

NOW = 1_000_000


def _docs(spark):
    rows = [
        ("http://a.test/1", "a.test", "a.test", 200, NOW - 10, "hello world",
         "the text mentions Germany", "en", ["DEU"], []),
        ("http://a.test/2", "a.test", "a.test", 404, NOW - 20, None,
         None, None, None, None),
        ("http://b.test/1", "b.test", "b.test", 200, NOW - 30, "bonjour",
         "le texte", "fr", [], []),
        ("http://b.test/2", "b.test", "b.test", 200, NOW - 86400 * 200,
         "old hello", "stale", "en", [], []),  # beyond 90d lookback
    ]
    return spark.createDataFrame(rows, DOC_STREAM_SCHEMA)


def test_composite_search_conjunction(spark):
    docs = _docs(spark)
    params = FilterParams(query=CompositeFilterQuery(
        keyword=["hello"], language=["en"], http_code=[200]))
    out = search_composite(docs, params, NOW).collect()
    assert [r["url_canon"] for r in out] == ["http://a.test/1"]


def test_composite_default_lookback_drops_old(spark):
    docs = _docs(spark)
    out = search_composite(docs, FilterParams(), NOW).collect()
    urls = [r["url_canon"] for r in out]
    assert "http://b.test/2" not in urls and len(urls) == 3


def test_composite_country_membership(spark):
    docs = _docs(spark)
    params = FilterParams(query=CompositeFilterQuery(country=["DEU"]))
    out = search_composite(docs, params, NOW).collect()
    assert [r["url_canon"] for r in out] == ["http://a.test/1"]


def test_metric_search_and_rollup(spark):
    t0 = 16667 * 60  # bucket-aligned
    rows = [("fetcher/success", t0 + i * 30, 1) for i in range(10)]
    metrics = spark.createDataFrame(rows, "key string, `when` long, value long")
    params = FilterParams(query=MetricFilterQuery("fetcher/success", t0, t0 + 600),
                          agg=Aggregator(name="sum", time_window_seconds=60))
    out = search_metric(metrics, params).collect()
    assert [int(r["value"]) for r in out] == [2, 2, 2, 2, 2]


def test_metric_lookback_cap_errors(spark):
    metrics = spark.createDataFrame([], "key string, `when` long, value long")
    params = FilterParams(query=MetricFilterQuery("k", 0, 200 * 86400))
    with pytest.raises(ValueError, match="90-day"):
        search_metric(metrics, params)


def test_stream_filter_matches_batch(spark, tmp_path):
    docs = _docs(spark)
    d = str(tmp_path / "docs_stream")
    docs.write.parquet(d)
    params = FilterParams(query=CompositeFilterQuery(keyword=["hello"]))
    got = run_to_memory(
        stream_composite_filter(document_stream(spark, d), params, NOW),
        "t2_sink", spark)
    want = docs.filter(
        F.col("url_canon").isin("http://a.test/1"))  # only in-lookback hello
    assert sorted(r["url_canon"] for r in got.collect()) == \
        sorted(r["url_canon"] for r in want.collect())


def test_stream_windowed_agg(spark, tmp_path):
    docs = _docs(spark)
    d = str(tmp_path / "docs_agg")
    docs.write.parquet(d)
    out = run_to_memory(
        stream_windowed_agg(document_stream(spark, d), 3600, "sum"),
        "t5_sink", spark, output_mode="complete")
    rows = out.collect()
    assert sum(int(r["n"]) for r in rows) == 4
    assert all(r["bucket_start"] % 3600 == 0 for r in rows)


def test_stream_dedup_first_occurrence(spark, tmp_path):
    from delver_spark.streaming.stream import stream_dedup

    rows = [
        ("http://a.test/1", "a.test", "a.test", 200, NOW - 10, "t1",
         "x", "en", [], []),
        ("http://a.test/1", "a.test", "a.test", 200, NOW - 5, "t1-dup",
         "x", "en", [], []),
        ("http://a.test/2", "a.test", "a.test", 200, NOW - 8, "t2",
         "x", "en", [], []),
        ("http://a.test/2", "a.test", "a.test", 200, NOW - 2, "t2-dup",
         "x", "en", [], []),
        ("http://b.test/1", "b.test", "b.test", 200, NOW - 1, "t3",
         "x", "en", [], []),
    ]
    docs = spark.createDataFrame(rows, DOC_STREAM_SCHEMA)
    d = str(tmp_path / "docs_dedup")
    docs.write.parquet(d)
    out = run_to_memory(stream_dedup(document_stream(spark, d)),
                        "dedup_stream", spark)
    urls = sorted(r["url_canon"] for r in out.collect())
    assert urls == ["http://a.test/1", "http://a.test/2", "http://b.test/1"]


def test_news_stream_equals_batch(spark, tmp_path_factory):
    """VERDICT r3 #7: the RSS → news admission → documents pipeline as a
    Structured Streaming query (file-source micro-batches) produces the
    SAME articles as the batch news engine on the same feeds."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from delver_spark.fixtures.gen import generate_corpus
    from delver_spark.operators.crawl import CrawlEngine
    from delver_spark.operators.frontier import FRONTIER_SCHEMA
    from delver_spark.sources.rss import rss_requests
    from delver_spark.streaming.stream import news_article_stream

    corpus = str(tmp_path_factory.mktemp("corpus_news_stream"))
    generate_corpus(corpus, n_pages=80, n_hosts=6, seed=17, max_rounds=4,
                    path_style="news")
    pages = pq.read_table(os.path.join(corpus, "pages.parquet"),
                          columns=["url_canon"]).to_pylist()
    urls = [r["url_canon"] for r in pages]
    # two feeds → two file-source micro-batches; one bogus item exercises
    # the fetch-miss path (left join null → success=false → dropped)
    feed_items = [urls[:10], urls[10:18] + ["http://nowhere.test/x"]]
    feeds_dir = str(tmp_path_factory.mktemp("feeds"))
    for i, items in enumerate(feed_items):
        body = ("<?xml version='1.0'?><rss><channel>"
                + "".join(f"<item><link>{u}</link></item>" for u in items)
                + "</channel></rss>")
        pq.write_table(pa.table({"feed_url": [f"http://feed{i}.test/rss"],
                                 "body": [body]}),
                       os.path.join(feeds_dir, f"feed-{i}.parquet"))

    out = run_to_memory(news_article_stream(spark, feeds_dir, corpus),
                        "news_articles_stream", spark)
    got = (out.select("url_canon", "title", "text_len", "lang").toPandas()
           .sort_values("url_canon").reset_index(drop=True))

    # batch reference: the news engine seeded with the same RSS requests
    feeds_df = spark.createDataFrame(
        [(f"http://feed{i}.test/rss",
          "<?xml version='1.0'?><rss><channel>"
          + "".join(f"<item><link>{u}</link></item>" for u in items)
          + "</channel></rss>") for i, items in enumerate(feed_items)],
        "feed_url string, body string")
    req_rows = rss_requests(feeds_df).collect()
    wd = str(tmp_path_factory.mktemp("crawl_news_stream"))
    eng = CrawlEngine(spark, corpus, wd, mode="news")
    rows = [(0, 0, i, r["url"], r["host"], int(r["depth"]), r["origin"])
            for i, r in enumerate(req_rows)]
    eng.frontier = spark.createDataFrame(rows, FRONTIER_SCHEMA) \
        .localCheckpoint(eager=True)
    eng.frontier_count = len(rows)
    eng._base_count = len(rows)
    eng.seq = len(rows)
    eng.run()
    want = (eng.documents_df()[["url_canon", "title", "text_len", "lang"]]
            .sort_values("url_canon").reset_index(drop=True))
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_filter_params_from_json_composite(spark):
    """The reference's wire format (types/rpc/filter.go json tags) parses
    into the same FilterParams the dataclass path builds — query-surface-
    as-data, like the application config."""
    from delver_spark.plans.query import filter_params_from_json

    doc = {"data_type": "composite", "fields": ["url_canon", "title"],
           "range": 30,
           "query": {"keyword": ["hello"], "language": ["en"],
                     "http_code": [200]}}
    params = filter_params_from_json(doc)
    docs = _docs(spark)
    out = search_composite(docs, params, NOW).collect()
    assert [r["url_canon"] for r in out] == ["http://a.test/1"]
    assert list(out[0].asDict()) == ["url_canon", "title"]


def test_filter_params_from_json_metric(spark):
    from delver_spark.plans.query import filter_params_from_json

    t0 = 1_700_000_000
    doc = {"data_type": "metric",
           "query": {"key": "fetcher/success", "start": t0, "end": t0 + 600},
           "agg": {"agg_name": "sum", "time_window_seconds": 300}}
    params = filter_params_from_json(doc)
    assert isinstance(params.query, MetricFilterQuery)
    assert params.agg.name == "sum"
    assert params.agg.time_window_seconds == 300


def test_filter_params_from_json_null_values():
    """Explicit JSON nulls unmarshal to zero values like the Go
    reference, not TypeErrors (review fix)."""
    from delver_spark.plans.query import filter_params_from_json

    p = filter_params_from_json(
        {"data_type": "metric", "range": None,
         "query": {"key": "k", "start": None, "end": None},
         "agg": {"agg_name": "sum", "time_window_seconds": None,
                 "time_field": None}})
    assert (p.query.start, p.query.end, p.range_days) == (0, 0, 0)
    # explicit null → the Go zero value (encoding/json leaves the field
    # zeroed), NOT the absent-key default (ADVICE r3)
    assert p.agg.time_window_seconds == 0
    assert p.agg.time_field == ""
    # absent keys keep the convenience defaults
    p2 = filter_params_from_json(
        {"data_type": "metric", "query": {"key": "k"},
         "agg": {"agg_name": "sum"}})
    assert p2.agg.time_window_seconds == 60
    assert (p2.agg.time_field, p2.agg.agg_field) == ("timestamp", "value")


def test_filter_params_from_json_rejects_unknown_type():
    import pytest as _pytest

    from delver_spark.plans.query import filter_params_from_json

    with _pytest.raises(ValueError, match="unknown filter data_type"):
        filter_params_from_json({"data_type": "graphql"})


def test_stream_image_curation(spark, tmp_path):
    """Streaming curation: identical gates to the batch operator (shared
    Column), first-seen-within-watermark phash keeper. Pins batch ==
    stream when the first arrival is the max-pixels keeper, and the
    documented first-seen divergence when it is not."""
    from delver_spark.operators.multimodal import curate_image_caption
    from delver_spark.streaming.stream import (run_to_memory,
                                               stream_image_curation)

    cap = "a perfectly fine caption"
    rows = [
        # (image_id, w, h, caption, phash, ingest_time) — single file, so
        # arrival order = row order within the one micro-batch... but
        # dropDuplicates keeps an arbitrary row per batch; use event
        # times + separate files for deterministic cross-batch order
        ("first_big", 200, 200, cap, 111, NOW - 100),
        ("tiny", 8, 8, cap, 111, NOW - 90),        # gate-fail, same phash
        ("later_small", 50, 50, cap, 111, NOW - 80),
        ("solo", 90, 90, cap, 222, NOW - 70),
        ("badcap", 300, 300, "x", 333, NOW - 60),  # caption gate fail
    ]
    schema = ("image_id string, w int, h int, caption string, "
              "phash long, ingest_time long")
    d = tmp_path / "imgs_stream"
    d.mkdir()
    # one file per row -> one micro-batch per row (maxFilesPerTrigger=1)
    for i, r in enumerate(rows):
        spark.createDataFrame([r], schema).write.parquet(
            str(d / f"f{i:02d}"))
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(str(d) + "/f*"))
    out = run_to_memory(
        stream_image_curation(stream, min_side=16), "img_curation", spark)
    got = sorted(r["image_id"] for r in out.collect())
    # first_big is both first-seen AND max-pixels -> batch and stream
    # agree on phash 111; badcap/tiny gated out; solo kept
    assert got == ["first_big", "solo"]
    batch_keep = sorted(
        r["image_id"] for r in curate_image_caption(
            spark.createDataFrame(rows, schema), min_side=16)
        .filter("keep").collect())
    assert got == batch_keep
    # divergence case: a SMALL image arrives first -> stream keeps it
    # (first-seen), batch keeps the later bigger one (max-pixels)
    rows2 = [("small_first", 50, 50, cap, 444, NOW - 50),
             ("big_later", 400, 400, cap, 444, NOW - 40)]
    d2 = tmp_path / "imgs_stream2"
    d2.mkdir()
    for i, r in enumerate(rows2):
        spark.createDataFrame([r], schema).write.parquet(
            str(d2 / f"f{i:02d}"))
    stream2 = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", 1)
               .parquet(str(d2) + "/f*"))
    out2 = run_to_memory(
        stream_image_curation(stream2, min_side=16), "img_curation2",
        spark)
    assert [r["image_id"] for r in out2.collect()] == ["small_first"]
    batch2 = {r["image_id"] for r in curate_image_caption(
        spark.createDataFrame(rows2, schema), min_side=16)
        .filter("keep").collect()}
    assert batch2 == {"big_later"}
